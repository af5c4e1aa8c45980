package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CollectCapped

/** collect_capped is the df-cap of the dd02/dd12 inverted index folded
  * into the posting aggregation (one corpus pass instead of three). Its
  * contract: groups ≤ cap yield the full SORTED id list, groups > cap
  * yield NULL, and no buffer ever holds more than cap + 1 elements on
  * either side of the shuffle. */
class CollectCappedSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("equivalent to the old hot-set anti-join + collect_list derivation") {
    import spark.implicits._
    // synthetic occurrence stream with a hot key (df 50), a boundary key
    // (df exactly 21 — hot), a full key (df exactly 20 — kept whole), and
    // a tail of small groups; many partitions so MERGE paths execute
    val rows = (
      (1 to 50).map(i => ("hot", i.toLong)) ++
      (1 to 21).map(i => ("just_over", i.toLong)) ++
      (1 to 20).map(i => ("full", 100L + i)) ++
      (1 to 7).map(i => (s"small_$i", i.toLong * 3)) ++
      Seq(("pair", 5L), ("pair", 2L))
    )
    val ex = rows.toDF("g", "doc_id").repartition(16)
    val viaCapped = ex.groupBy($"g")
      .agg(expr("collect_capped(doc_id, 20)").as("ids"))
      .filter($"ids".isNotNull)
    val hot = ex.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" > 20).select($"g")
    val viaAntiJoin = ex.join(hot, Seq("g"), "left_anti")
      .groupBy($"g").agg(sort_array(collect_list($"doc_id")).as("ids"))
    val a = viaCapped.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = viaAntiJoin.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
    assert(!a.contains("hot") && !a.contains("just_over"))
    assert(a("full") === (101L to 120L))
    assert(a("pair") === Seq(2L, 5L))
  }

  test("buffers are bounded at cap + 1 through update, merge and serialization") {
    val agg = CollectCapped(org.apache.spark.sql.catalyst.expressions.Literal(0L), cap = 3)
    val buf = agg.createAggregationBuffer()
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    (1 to 100).foreach(_ => agg.update(buf, row))
    assert(buf.length === 4, "update must stop accumulating at cap + 1")
    val other = mutable.ArrayBuffer[Long](1L, 2L, 3L, 4L)
    assert(agg.merge(buf.clone(), other).length === 4)
    assert(agg.merge(mutable.ArrayBuffer[Long](7L), other).length === 4)
    assert(agg.eval(buf) === null, "an over-cap group evaluates to NULL")
    val small = mutable.ArrayBuffer[Long](9L, 1L, 4L)
    val rt = agg.deserialize(agg.serialize(small))
    assert(rt === small, "serialize/deserialize round-trips the buffer")
    val out = agg.eval(small)
    assert(out.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq === Seq(1L, 4L, 9L), "eval sorts ascending")
  }

  test("null inputs are skipped, empty groups yield an empty array") {
    import spark.implicits._
    val df = Seq(("a", Some(3L)), ("a", None), ("a", Some(1L)), ("b", None))
      .toDF("g", "doc_id")
    val got = df.groupBy($"g")
      .agg(expr("collect_capped(doc_id, 20)").as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") === Seq(1L, 3L))
    assert(got("b") === Seq.empty)
  }
}
