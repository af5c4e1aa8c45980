package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator

/** Input row: weight + value. */
case class WeightedIn(w: Double, x: Double)

/** Exact-decimal partial state — addition is order-independent, so the
  * partial/final merge tree Spark chooses cannot change the result. */
case class WeightedBuf(sumwx: JBigDecimal, sumw: JBigDecimal)

/** Typed UDAF (SURVEY §2.6: UDAF → `Aggregator[IN, BUF, OUT]` + `udaf`):
  * weighted mean with DECIMAL-exact accumulation.
  *
  * Cross-engine contract: inputs are quantized to 4 decimal places before
  * summation (the fixture's products have exactly 2, so quantization is
  * lossless), sums are exact decimals in both engines, and the final
  * division happens in DOUBLE on both sides with floor-scaling — see the
  * rounding notes in operators.Events.
  */
object WeightedMeanAgg extends Aggregator[WeightedIn, WeightedBuf, Double] {

  private def dec4(v: Double): JBigDecimal =
    JBigDecimal.valueOf(v).setScale(4, RoundingMode.HALF_UP)

  override def zero: WeightedBuf = WeightedBuf(JBigDecimal.ZERO, JBigDecimal.ZERO)

  override def reduce(b: WeightedBuf, in: WeightedIn): WeightedBuf =
    WeightedBuf(b.sumwx.add(dec4(in.w * in.x)), b.sumw.add(dec4(in.w)))

  override def merge(a: WeightedBuf, b: WeightedBuf): WeightedBuf =
    WeightedBuf(a.sumwx.add(b.sumwx), a.sumw.add(b.sumw))

  override def finish(b: WeightedBuf): Double =
    if (b.sumw.signum() == 0) Double.NaN
    else math.floor(b.sumwx.doubleValue() / b.sumw.doubleValue() * 10000.0) / 10000.0

  override def bufferEncoder: Encoder[WeightedBuf] = Encoders.product[WeightedBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** The Catalyst node `udaf(this)` registers as `weighted_mean(w, x)`,
    * built directly so [[GraftFunctions.builders]] can carry it. */
  private[functions] def expression(children: Seq[Expression]): Expression =
    ScalaAggregator(children, this, ExpressionEncoder[WeightedIn](),
      ExpressionEncoder[WeightedBuf](), aggregatorName = Some("weighted_mean"))
}
