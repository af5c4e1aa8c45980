package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `ARRAY<FLOAT>` (or
  * `ARRAY<DOUBLE>` — each side independently; k-means centroids are exact
  * double ratios) embeddings, computed in DOUBLE with a single strict
  * left-to-right pass.
  *
  * Why an Expression and not a higher-order-function pipeline or a UDF
  * (preference order per the rebuild brief — compose > Expression > UDF):
  * the HOF form (`aggregate(zip_with(…))`) is CodegenFallback — every
  * element bounces through interpreted lambda dispatch — and a Scala UDF
  * adds serialization at the boundary. This expression participates in
  * whole-stage codegen: the generated Java is a tight primitive loop, which
  * is what you want when the ANN path scans millions of candidate pairs.
  *
  * Numerics contract (oracle parity): dot, |a|² and |b|² each accumulate in
  * element order with `+=` — the exact IEEE sequence of the SQL fold
  * `list_reduce(list_prepend(0.0, …))` / `aggregate(…, 0D, +)` the DuckDB
  * oracles use — so results are bit-identical to the declarative form.
  * Lengths may differ; the common prefix is used (fixture vectors are all
  * 64-d). Null elements are not expected (embeddings are dense).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isDouble(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> on both sides, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xd = isDouble(left.dataType)
    val yd = isDouble(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getX =
        if (isDouble(left.dataType)) s"$a.getDouble($i)"
        else s"(double) $a.getFloat($i)"
      val getY =
        if (isDouble(right.dataType)) s"$b.getDouble($i)"
        else s"(double) $b.getFloat($i)"
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = $getX;
         |  final double $y = $getY;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration surface for graft's native expressions. */
object GraftFunctions {

  /** Every graft SQL function: name → Catalyst builder. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> { exprs =>
      require(exprs.length == 2, s"cosine_sim expects 2 arguments, got ${exprs.length}")
      CosineSimilarity(exprs.head, exprs(1))
    },
    "simhash16" -> { exprs =>
      require(exprs.length == 1, s"simhash16 expects 1 argument, got ${exprs.length}")
      SimHash16(exprs.head)
    },
    "simhash32" -> { exprs =>
      require(exprs.length == 1, s"simhash32 expects 1 argument, got ${exprs.length}")
      SimHash32(exprs.head)
    },
    "minhash16" -> { exprs =>
      require(exprs.length == 1, s"minhash16 expects 1 argument, got ${exprs.length}")
      MinHash16(exprs.head)
    },
    "word_ngrams" -> { exprs =>
      require(exprs.length == 2, s"word_ngrams expects 2 arguments, got ${exprs.length}")
      val n = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"word_ngrams: n must be an integer literal, got $other")
      }
      WordNGrams(exprs.head, n)
    },
    "gcd" -> { exprs =>
      require(exprs.length == 2, s"gcd expects 2 arguments, got ${exprs.length}")
      Gcd(exprs.head, exprs(1))
    },
    "lcm" -> { exprs =>
      require(exprs.length == 2, s"lcm expects 2 arguments, got ${exprs.length}")
      Lcm(exprs.head, exprs(1))
    },
    "interleave_bits" -> { exprs => InterleaveBits(exprs) },
    "top_count" -> { exprs =>
      require(exprs.length == 1, s"top_count expects 1 argument, got ${exprs.length}")
      TopCount(exprs.head)
    },
    "word_ngrams_arr" -> { exprs =>
      require(exprs.length == 2, s"word_ngrams_arr expects 2 arguments, got ${exprs.length}")
      val n = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"word_ngrams_arr: n must be an integer literal, got $other")
      }
      WordNGramsArray(exprs.head, n)
    },
    "scaled_dot" -> { exprs =>
      require(exprs.length == 3, s"scaled_dot expects 3 arguments, got ${exprs.length}")
      ScaledDot(exprs.head, exprs(1), exprs(2))
    },
    "hp_bucket8" -> { exprs =>
      require(exprs.length == 1, s"hp_bucket8 expects 1 argument, got ${exprs.length}")
      HyperplaneBucket(exprs.head)
    },
    "pq_encode" -> { exprs =>
      require(exprs.length == 2, s"pq_encode expects 2 arguments, got ${exprs.length}")
      PqEncode(exprs.head, exprs(1))
    },
    "pq_adc_sim" -> { exprs =>
      require(exprs.length == 5, s"pq_adc_sim expects 5 arguments, got ${exprs.length}")
      // the codebook/norm literals are consumed at BUILD time into the
      // opaque flattened holder — they must never live on as plan-tree
      // literal nodes (every AQE plan print would stringify them; see
      // PqPlanLiterals)
      def litArray(e: Expression, what: String): org.apache.spark.sql.catalyst.util.ArrayData = {
        require(e.resolved && e.foldable, s"pq_adc_sim: $what must be a foldable literal")
        e.eval(null) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a
          case other => throw new IllegalArgumentException(
            s"pq_adc_sim: $what must be an array literal, got $other")
        }
      }
      val cbRoot = litArray(exprs(3), "codebook")
      val cb: Seq[Seq[Seq[Double]]] = (0 until cbRoot.numElements()).map { c =>
        val subs = cbRoot.getArray(c)
        (0 until subs.numElements()).map { s =>
          val dims = subs.getArray(s)
          (0 until dims.numElements()).map(dims.getDouble)
        }
      }
      val nRoot = litArray(exprs(4), "norms")
      val norms: Seq[Seq[Double]] = (0 until nRoot.numElements()).map { c =>
        val subs = nRoot.getArray(c)
        (0 until subs.numElements()).map(subs.getDouble)
      }
      PqAdcSim(exprs.head, exprs(1), exprs(2), PqPlanLiterals(cb, norms))
    },
    "collect_capped" -> { exprs =>
      require(exprs.length == 2, s"collect_capped expects 2 arguments, got ${exprs.length}")
      val cap = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"collect_capped: cap must be an integer literal, got $other")
      }
      CollectCapped(exprs.head, cap)
    },
    "byte_ngram_hashes" -> { exprs =>
      require(exprs.length == 2 || exprs.length == 3,
        s"byte_ngram_hashes expects 2 or 3 arguments, got ${exprs.length}")
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"byte_ngram_hashes: $what must be an integer literal, got $other")
      }
      val n = intLit(exprs(1), "width")
      val w = if (exprs.length == 3) intLit(exprs(2), "md5 word") else 0
      ByteNGramHashes(exprs.head, n, w)
    },
    "weighted_mean" -> { exprs =>
      require(exprs.length == 2, s"weighted_mean expects 2 arguments, got ${exprs.length}")
      WeightedMeanAgg.expression(exprs)
    })

  /** Fallback registration for a session built WITHOUT
    * [[GraftSparkExtensions]] (a vanilla session reaching the Delta source
    * through META-INF, or one that existed before `GraftSession` ran).
    * Names the session already resolves are skipped, so on an
    * extension-built session this is a no-op and never replaces a
    * function. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `SparkSessionExtensions` hook: the ONE place graft functions are
  * registered for sessions built with
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions` — which
  * [[graft.GraftSession.getOrCreate]] always sets. Injected functions land
  * in every session the context builds, `newSession()` (what Spark Connect
  * clients get) included. The Spark-native equivalent of the reference's
  * per-role session builders (`examples/custom_scheduler.rs:34-35`). */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftSparkExtensions].getName, name), builder))
    }
    // Delta SQL: path reads, DML, MERGE, ALTER and maintenance statements
    // — the delta-spark DeltaSqlParser pattern — and the CDF table function
    ext.injectParser((session, delegate) =>
      new graft.sources.delta.GraftSqlParser(session, delegate))
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftSparkExtensions].getName, "table_changes"),
      graft.sources.delta.GraftSqlCommands.tableChanges))
    // partition pruning through generated partition columns (filter on the
    // SOURCE column prunes the derived date/year partition)
    ext.injectOptimizerRule(_ => graft.sources.delta.GeneratedPartitionPruning)
  }
}
