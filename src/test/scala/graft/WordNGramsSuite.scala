package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** word_ngrams custom Generator: set/order parity with the declarative
  * shingling composition, plus edge cases. */
class WordNGramsSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val declarative =
    """array_distinct(
         IF(size(toks) >= 3,
            transform(sequence(1, size(toks) - 2),
                      i -> concat_ws(' ', element_at(toks, i),
                                          element_at(toks, i + 1),
                                          element_at(toks, i + 2))),
            CAST(array() AS ARRAY<STRING>)))"""

  test("identical shingle sets vs the HOF composition on real docs") {
    // sets, not sequences: collect_list order after an aggregation is not a
    // contract (ObjectHashAggregate may fall back to sort-based); the
    // generator's own emission order is pinned by the direct-eval test below
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
    val viaGenerator = base
      .select(col("doc_id"), expr("word_ngrams(toks, 3)").as("gram"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("gram"))).as("grams"))
    val viaHof = base.select(col("doc_id"), array_sort(expr(declarative)).as("grams"))
    val joined = viaGenerator.as("g").join(viaHof.as("h"), "doc_id")
      .select(col("doc_id"), col("g.grams").as("a"), col("h.grams").as("b"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }

  test("word_ngrams_arr matches the declarative array composition exactly") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(expr("word_ngrams_arr(toks, 3)").as("a"), expr(declarative).as("b"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("direct eval emits distinct grams in first-occurrence order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.WordNGrams
    val toks = "a b c b a b c".split(" ").map(UTF8String.fromString)
    val gen = WordNGrams(BoundReference(0, ArrayType(StringType), nullable = true), 3)
    val out = gen.eval(InternalRow(new GenericArrayData(toks)))
      .iterator.map(_.getUTF8String(0).toString).toSeq
    assert(out === Seq("a b c", "b c b", "c b a", "b a b"))
  }

  test("short and null inputs produce no rows") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq("a", "b"))),       // < n tokens
      (2L, Option.empty[Seq[String]]), // null array
      (3L, Some(Seq("a", "b", "c", "b", "a", "b", "c")))).toDF("id", "toks")
    val out = df.select(col("id"), expr("word_ngrams(toks, 3)").as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.forall(_._1 === 3L))
    // duplicates collapse, first occurrence order
    assert(out.map(_._2).toSeq === Seq("a b c", "b c b", "c b a", "b a b"))
  }
}
