package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** dd06's connected-components loop must FAIL LOUDLY (not return
  * iteration-N labels) when a component's diameter exceeds the iteration
  * cap — a silent cap at corpus scale silently mislabels clusters. */
class DedupConvergenceSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Symmetric adjacency of a simple chain 0-1-2-…-(n-1): diameter n-1. */
  private def chain(n: Int) = {
    import spark.implicits._
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    edges.select(col("doc_a").as("doc"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("doc"), col("doc_a").as("nbr")))
  }

  test("a component with diameter > maxIters throws instead of mislabeling") {
    // 12-node chain (diameter 11) with a cap of 5: propagation cannot
    // reach the fixpoint, so partial labels would be WRONG — assert throw.
    val ex = intercept[IllegalStateException] {
      Dedup.propagateMinLabels(chain(12), maxIters = 5)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("the same chain converges and labels every node 0 when the cap is raised") {
    val labels = Dedup.propagateMinLabels(chain(12), maxIters = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 12)
    assert(labels.values.forall(_ == 0L), s"all chain members must label to min id 0: $labels")
  }

  test("dd10's Lloyd update tightens cluster balance vs the seed-only assignment") {
    // Cluster balance is what bounds SemDeDup's Σ|cluster|² candidate
    // count, so the k-means update must not be cosmetic: compare the
    // candidate-pair mass of the FINAL assignment against assigning to
    // the raw hash-sampled seeds (what a quantizer without the update
    // step would use).
    val v = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("e"))
    def pairMass(assign: org.apache.spark.sql.DataFrame): Long =
      assign.groupBy("cid").count()
        .agg(sum(expr("count * (count - 1) DIV 2"))).head().getLong(0)
    val seedOnly = pairMass(Dedup.assignToCentroids(v, Dedup.dd10Seeds(v)))
    val afterLloyd = pairMass(Dedup.dd10Assignments(v))
    assert(afterLloyd <= seedOnly,
      s"Lloyd update worsened candidate-pair mass: seeds=$seedOnly lloyd=$afterLloyd")
    // and the quantizer must actually spread the corpus (no collapse)
    val sizes = Dedup.dd10Assignments(v).groupBy("cid").count()
      .select("count").collect().map(_.getLong(0))
    assert(sizes.length >= 8, s"k-means collapsed to ${sizes.length} clusters")
  }
}
