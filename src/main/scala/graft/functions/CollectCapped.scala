package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded posting-list collector: `collect_capped(id, cap)` returns the
  * SORTED array of collected bigints when the group holds ≤ cap of them,
  * and NULL the moment it holds more — without ever buffering more than
  * cap + 1 elements per group on either the map or the reduce side.
  *
  * This is the df-cap of the dd02/dd12 inverted index folded INTO the
  * posting aggregation: the old shape needed a separate full-corpus
  * `groupBy(g).count` pass to find hot shingles, an anti-join to drop
  * their occurrences, and then a `collect_list` posting aggregation over
  * what survived — three executions of the docs-scan + n-gram Generate
  * subtree, because the consumers hang off different exchanges. With the
  * cap enforced inside the aggregation buffer, one `groupBy(g)` pass
  * yields exactly the capped posting lists (a hot key contributes at most
  * cap + 1 ids per partition to the shuffle — the same order of bytes the
  * old (g, partial-count) rows cost — and can never OOM a reduce buffer
  * the way an uncapped collect_list of a boilerplate shingle would at
  * 100 TB scale).
  *
  * Determinism: for groups ≤ cap nothing is ever dropped, so the sorted
  * output is independent of encounter order; for groups > cap the output
  * is NULL regardless of which cap + 1 ids happened to be retained.
  * NULL inputs are skipped (collect_list semantics) and do not count
  * toward the cap: with cap 2 the group {1, 2, NULL, NULL, NULL} yields
  * [1, 2], not NULL. Runs under
  * ObjectHashAggregateExec exactly like collect_list. */
case class CollectCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[Long]]
  with UnaryLike[Expression] {

  require(cap > 0, s"collect_capped: cap must be positive, got $cap")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"collect_capped expects a BIGINT column, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "collect_capped"

  override def createAggregationBuffer(): mutable.ArrayBuffer[Long] =
    mutable.ArrayBuffer.empty[Long]

  override def update(
      buf: mutable.ArrayBuffer[Long], input: InternalRow): mutable.ArrayBuffer[Long] = {
    // once the buffer holds cap + 1 ids the group is known-hot: its eval
    // is NULL whatever else arrives, so stop accumulating
    if (buf.length <= cap) {
      val v = child.eval(input)
      if (v != null) buf += v.asInstanceOf[Long]
    }
    buf
  }

  override def merge(
      a: mutable.ArrayBuffer[Long], b: mutable.ArrayBuffer[Long]): mutable.ArrayBuffer[Long] = {
    val room = (cap + 1) - a.length
    if (room > 0) a ++= b.take(room)
    a
  }

  override def eval(buf: mutable.ArrayBuffer[Long]): Any =
    if (buf.length > cap) null
    else new GenericArrayData(buf.sorted.toArray)

  override def serialize(buf: mutable.ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectCapped =
    copy(child = newChild)
}
