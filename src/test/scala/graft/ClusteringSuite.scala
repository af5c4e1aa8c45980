package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withPlane
import graft.sources.delta.{Clustering, DeltaLog, DeltaMaintenance, DeltaSchema,
  DeltaTable, DeltaWriter, RowTracking}

/** Clustered tables (`clustering` writer feature + `delta.clustering`
  * domain): the table declares its clustering keys once; plain OPTIMIZE
  * clusters on them; the declaration is redefinable without a rewrite.
  * Spec: the published Delta protocol's clustered-table section (domain
  * with physical-name clusteringColumns paths). */
class ClusteringSuite extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dir(tag: String): String =
    TestSpark.tempDir(s"graft-cluster-$tag")

  /** Interleaved multi-file seed: every file spans the whole key range, so
    * pre-clustering stats cannot prune anything. */
  private def seed(d: String, n: Int = 64): Unit =
    (0 until 4).foreach { i =>
      DeltaWriter.write(
        (0 until n).filter(_ % 4 == i).map(j => (j, j % 8, s"name-$j"))
          .toDF("k", "grp", "name"),
        d, SaveMode.Append, Nil)
    }

  test("CLUSTER BY commits the domain + writer features; no data moves") {
    val d = dir("declare")
    seed(d)
    val v0files = DeltaLog.snapshot(spark, d).files.map(_.path).toSet
    val v = Clustering.clusterBy(spark, d, Seq("k", "grp"))
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.version === v)
    assert(snap.protocol.writerFeatures.contains("clustering"))
    assert(snap.protocol.writerFeatures.contains("domainMetadata"))
    assert(snap.protocol.minReaderVersion === 1, "writer-only")
    assert(Clustering.clusteringColumnsOf(snap) === Seq("k", "grp"))
    assert(snap.files.map(_.path).toSet === v0files, "metadata-only commit")
  }

  test("plain OPTIMIZE clusters on the declaration; stats become prunable") {
    val d = dir("optimize")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    val before = DeltaTable.read(spark, d).orderBy("k").collect().toSeq
    // small target + single-col key → a range-sorted multi-file layout
    val m = DeltaMaintenance.zorder(spark, d, Seq("k"), outputFiles = Some(4))
    assert(m.filesAdded >= 2)
    // single-key clustering range-sorts: per-file [min,max] of k are
    // pairwise DISJOINT — the stats-skipping property clustering buys
    val ranges = DeltaLog.snapshot(spark, d).files.map { f =>
      val n = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(f.stats.get)
      (n.get("minValues").get("k").asLong(), n.get("maxValues").get("k").asLong())
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) => assert(max1 < min2,
        s"file ranges overlap: $ranges")
      case _ =>
    }
    assert(DeltaTable.read(spark, d).orderBy("k").collect().toSeq === before)
    // and the ROUTING: plain OPTIMIZE re-clusters rather than compacting
    DeltaWriter.write(Seq((1000, 0, "x")).toDF("k", "grp", "name"),
      d, SaveMode.Append, Nil)
    val m2 = DeltaMaintenance.optimize(spark, d)
    assert(m2.filesRemoved >= 2,
      "clustered OPTIMIZE rewrites the candidate set, not just small-file groups")
    val hist = DeltaMaintenance.history(spark, d)
      .select("operation").collect().map(_.getString(0))
    assert(hist.head === "OPTIMIZE")
  }

  test("SQL surface: ALTER TABLE CLUSTER BY, auto-clustering OPTIMIZE, NONE, DESCRIBE DETAIL") {
    val d = dir("sql")
    seed(d)
    spark.sql(s"ALTER TABLE delta.`$d` CLUSTER BY (grp, k)")
    val snap1 = DeltaLog.snapshot(spark, d)
    assert(Clustering.clusteringColumnsOf(snap1) === Seq("grp", "k"))
    val det = spark.sql(s"DESCRIBE DETAIL delta.`$d`").collect().head
    assert(det.getAs[String]("clusteringColumns") === "grp,k")
    val m = spark.sql(s"OPTIMIZE delta.`$d`").collect().head
    assert(m.getLong(0) === 16 && m.getLong(1) >= 1)
    assert(DeltaMaintenance.history(spark, d)
      .select("operation").collect().head.getString(0) === "OPTIMIZE")
    spark.sql(s"ALTER TABLE delta.`$d` CLUSTER BY NONE")
    val snap2 = DeltaLog.snapshot(spark, d)
    assert(Clustering.clusteringColumnsOf(snap2) === Nil)
    assert(snap2.protocol.writerFeatures.contains("clustering"),
      "protocol upgrades are one-way")
    // un-clustered again: OPTIMIZE bin-packs. The clustered OPTIMIZE above
    // left one ≥target file, so compaction needs fresh fragmentation to
    // act on — append two small files, then expect small-file bin-packing
    // (the appends + any prior small output fold into one), NOT a
    // clustering rewrite of the whole table.
    val preFiles = DeltaLog.snapshot(spark, d).files.size
    Seq((100, 9, "a"), (101, 9, "b")).toDF("k", "grp", "name").coalesce(1)
      .write.format("delta").mode("append").save(d)
    Seq((102, 9, "c")).toDF("k", "grp", "name").coalesce(1)
      .write.format("delta").mode("append").save(d)
    val m2 = spark.sql(s"OPTIMIZE delta.`$d`").collect().head
    assert(m2.getLong(0) >= 2 && m2.getLong(1) === 1,
      s"bin-packing should fold the small files into one: $m2")
    assert(DeltaLog.snapshot(spark, d).files.size <= preFiles + 1)
  }

  test("declaration survives RENAME COLUMN (physical-name paths)") {
    val d = dir("rename")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    DeltaSchema.renameColumn(spark, d, "k", "key")
    val snap = DeltaLog.snapshot(spark, d)
    assert(Clustering.clusteringColumnsOf(snap) === Seq("key"),
      "domain stores physical paths; the rename re-maps the logical view")
    // OPTIMIZE still clusters on the renamed column
    val m = DeltaMaintenance.optimize(spark, d)
    assert(m.filesRemoved === 16)
  }

  test("refusals: partitioned table, too many / unknown / unsupported columns") {
    val d = dir("refuse")
    (0 until 8).map(i => (i, i % 2, s"n$i")).toDF("k", "p", "name")
      .write.format("delta").partitionBy("p").save(d)
    val e = intercept[IllegalArgumentException] {
      Clustering.clusterBy(spark, d, Seq("k"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
    val d2 = dir("refuse2")
    seed(d2, 8)
    intercept[IllegalArgumentException] {
      Clustering.clusterBy(spark, d2, Seq("k", "grp", "name", "k", "grp"))
    }
    intercept[IllegalArgumentException] {
      Clustering.clusterBy(spark, d2, Seq("nope"))
    }
  }

  test("CLUSTER BY / ZORDER BY on a VARIANT column refuse loudly") {
    // variant stats are NON-indexed (writer skips min/max for variant —
    // the protocol's variantType contract), so clustering on one buys
    // zero file skipping while paying the full rewrite: the declaration
    // must refuse like the other unsupported-type refusals, not silently
    // produce an unskippable layout (r17 verdict #5)
    val d = dir("variant")
    DeltaWriter.write(
      (0 until 8).map(i => (i, s"n$i")).toDF("k", "name")
        .withColumn("meta", expr("""parse_json(concat('{"k":', k, '}'))""")),
      d, SaveMode.Append, Nil)
    val e = intercept[IllegalArgumentException] {
      Clustering.clusterBy(spark, d, Seq("meta"))
    }
    assert(e.getMessage.contains("meta"),
      s"refusal must name the variant column: ${e.getMessage}")
    // the explicit ZORDER surface refuses the same way
    val ez = intercept[IllegalArgumentException] {
      DeltaMaintenance.zorder(spark, d, Seq("meta"))
    }
    assert(ez.getMessage.contains("meta"))
    // a valid declaration on the same table still works (the variant
    // column rides along unclustered)
    Clustering.clusterBy(spark, d, Seq("k"))
    assert(Clustering.clusteringColumnsOf(DeltaLog.snapshot(spark, d)) === Seq("k"))
  }

  test("clustered OPTIMIZE on the DEFERRED plane matches the eager incrementality decisions") {
    // the executor-side candidate filter (Clustering.deferredCandidateFilter)
    // must reproduce incrementalCandidates' decisions exactly: stable cubes
    // skipped, new files rewritten, steady state a structural no-op,
    // re-declaration invalidating provenance — the whole lifecycle under
    // the frame plane, asserting the same file-level outcomes the
    // eager test above pins
    val d = dir("incr-deferred")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    withPlane("frame") {
      val m1 = DeltaMaintenance.optimize(spark, d)
      assert(m1.filesRemoved === 16, "first OPTIMIZE clusters the whole seed")
      val cube = DeltaLog.snapshot(spark, d).files
      assert(cube.forall(_.tags.contains(Clustering.TagZcubeId)))
      DeltaWriter.write(Seq((200, 1, "a"), (201, 2, "b")).toDF("k", "grp", "name")
        .coalesce(1), d, SaveMode.Append, Nil)
      DeltaWriter.write(Seq((202, 3, "c")).toDF("k", "grp", "name")
        .coalesce(1), d, SaveMode.Append, Nil)
      val m2 = DeltaMaintenance.optimize(spark, d)
      assert(m2.filesRemoved === 2, s"only the 2 new files rewrite: $m2")
      val after = DeltaLog.snapshot(spark, d).files
      assert(cube.map(_.path).toSet.subsetOf(after.map(_.path).toSet),
        "the stable cube's files are untouched on the deferred plane")
      val v = DeltaLog.snapshot(spark, d).version
      val m3 = DeltaMaintenance.optimize(spark, d)
      assert(m3.filesRemoved === 0 && m3.filesAdded === 0 && m3.committedVersion === v,
        "steady state must stay a structural no-op on the deferred plane")
      Clustering.clusterBy(spark, d, Seq("grp"))
      val m4 = DeltaMaintenance.optimize(spark, d)
      assert(m4.filesRemoved === after.size,
        "superseded-declaration cubes rejoin the candidate set")
      assert(DeltaTable.read(spark, d).count() === 67)
    }
  }

  test("clustering + row tracking compose: ids survive the auto-cluster") {
    val d = dir("rt")
    DeltaWriter.write(
      (0 until 24).map(j => (j, j % 5, s"n$j")).toDF("k", "grp", "name")
        .repartition(1).sortWithinPartitions("k"),
      d, SaveMode.Append, Nil)
    RowTracking.enable(spark, d)
    Clustering.clusterBy(spark, d, Seq("grp", "name"))
    DeltaMaintenance.optimize(spark, d) // clusters, physically reordering
    val ids = RowTracking.readWithRowIds(spark, d)
      .select("k", RowTracking.RowIdCol).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(ids === (0 until 24).map(k => k -> k.toLong).toMap)
  }

  test("clustered OPTIMIZE is incremental: stable ZCubes are never rewritten") {
    val d = dir("incr")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    // toy-scale stability bound: any cube that committed counts as done
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    val m1 = DeltaMaintenance.optimize(spark, d)
    assert(m1.filesRemoved === 16, "first OPTIMIZE clusters the whole seed")
    val cube = DeltaLog.snapshot(spark, d).files
    assert(cube.forall(_.tags.contains(Clustering.TagZcubeId)),
      "clustering outputs carry ZCube provenance")
    assert(cube.map(_.tags(Clustering.TagZcubeId)).distinct.size === 1)
    assert(cube.forall(_.tags.get(Clustering.TagZorderBy).contains("k")))
    // appends arrive; the next OPTIMIZE touches ONLY them
    DeltaWriter.write(Seq((200, 1, "a"), (201, 2, "b")).toDF("k", "grp", "name")
      .coalesce(1), d, SaveMode.Append, Nil)
    DeltaWriter.write(Seq((202, 3, "c")).toDF("k", "grp", "name")
      .coalesce(1), d, SaveMode.Append, Nil)
    val m2 = DeltaMaintenance.optimize(spark, d)
    assert(m2.filesRemoved === 2, s"only the 2 new files rewrite: $m2")
    val after = DeltaLog.snapshot(spark, d).files
    assert(cube.map(_.path).toSet.subsetOf(after.map(_.path).toSet),
      "the stable cube's files are untouched")
    // idempotence: everything stable → structural no-op, no empty commit
    val v = DeltaLog.snapshot(spark, d).version
    val m3 = DeltaMaintenance.optimize(spark, d)
    assert(m3.filesRemoved === 0 && m3.filesAdded === 0 && m3.committedVersion === v)
    // re-declaration invalidates provenance: the next run re-clusters all
    Clustering.clusterBy(spark, d, Seq("grp"))
    val m4 = DeltaMaintenance.optimize(spark, d)
    assert(m4.filesRemoved === after.size,
      "superseded-declaration cubes rejoin the candidate set")
    assert(DeltaTable.read(spark, d).count() === 67)
  }

  test("a lone fragmented unstable cube CONSOLIDATES instead of no-opping forever") {
    val d = dir("lone-cube")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    // default minCubeSize (100 GB): every toy cube stays UNSTABLE, which
    // is exactly the regime where the old lone-cube skip starved a small
    // clustered table of compaction (r16 advice)
    val m1 = DeltaMaintenance.optimize(spark, d, targetFileBytes = 2048)
    val fragmented = DeltaLog.snapshot(spark, d).files
    assert(m1.filesAdded >= 2, s"tiny target must fragment the cube: $m1")
    // a later OPTIMIZE at the real target must MERGE the lone unstable
    // cube (strictly fewer files), not skip it as already-clustered
    val m2 = DeltaMaintenance.optimize(spark, d, targetFileBytes = 8L << 20)
    assert(m2.filesRemoved === fragmented.size,
      s"lone fragmented cube must consolidate: $m2")
    assert(m2.filesAdded < fragmented.size)
    // convergence: once consolidated, the same OPTIMIZE is a no-op again
    val v = DeltaLog.snapshot(spark, d).version
    val m3 = DeltaMaintenance.optimize(spark, d, targetFileBytes = 8L << 20)
    assert(m3.filesRemoved === 0 && m3.filesAdded === 0 &&
      m3.committedVersion === v,
      s"consolidation must converge, not churn: $m3")
    // data intact, provenance intact
    assert(DeltaTable.read(spark, d).count() === 64)
    assert(DeltaLog.snapshot(spark, d).files
      .forall(_.tags.contains(Clustering.TagZcubeId)))
  }

  test("ZCube provenance survives checkpoints on both replay planes") {
    Seq(
      // classic single-file AND the v2 + sidecar layout: the add structs
      // live in different parquet files per policy, so both serializers
      // must carry `tags`
      "classic" -> "",
      "v2_sidecar" ->
        ", 'delta.checkpointPolicy'='v2', 'delta.checkpoint.partSize'='2'"
    ).foreach { case (tag, extraProps) =>
      val d = dir(s"cp-$tag")
      seed(d)
      Clustering.clusterBy(spark, d, Seq("k"))
      spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
        s"('delta.clustering.minCubeSize'='1'$extraProps)")
      DeltaMaintenance.optimize(spark, d)
      val v = DeltaLog.snapshot(spark, d).version
      DeltaWriter.writeCheckpoint(spark, d, v)
      def tagsVisible(): Unit = {
        val snap = DeltaLog.snapshot(spark, d)
        assert(snap.files.forall(_.tags.contains(Clustering.TagZcubeId)),
          s"[$tag] tags must replay out of the checkpoint, not just the JSON log")
        // and the behavior they gate: post-checkpoint OPTIMIZE stays a no-op
        val m = DeltaMaintenance.optimize(spark, d)
        assert(m.filesRemoved === 0 && m.filesAdded === 0, s"[$tag]")
      }
      tagsVisible() // driver-map replay
      withPlane("frame")(tagsVisible())
    }
  }

  test("OPTIMIZE FULL merges stable cubes back into one global order") {
    val d = dir("full")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    DeltaMaintenance.optimize(spark, d) // cube A
    DeltaWriter.write(Seq((500, 0, "x")).toDF("k", "grp", "name")
      .coalesce(1), d, SaveMode.Append, Nil)
    DeltaMaintenance.optimize(spark, d) // cube B (incremental, overlaps A)
    val files = DeltaLog.snapshot(spark, d).files
    assert(files.flatMap(_.tags.get(Clustering.TagZcubeId)).distinct.size === 2)
    // FULL bypasses the stable-cube skip: one rewrite, one cube, global order
    val m = spark.sql(s"OPTIMIZE delta.`$d` FULL").collect().head
    assert(m.getLong(0) === files.size)
    val after = DeltaLog.snapshot(spark, d).files
    assert(after.flatMap(_.tags.get(Clustering.TagZcubeId)).distinct.size === 1)
    assert(DeltaTable.read(spark, d).count() === 65)
    // FULL names no columns — it runs the declaration
    intercept[Exception] {
      spark.sql(s"OPTIMIZE delta.`$d` FULL ZORDER BY (k)")
    }
  }

  test("ZCube provenance survives DV attach, CLONE and RESTORE") {
    val d = dir("carry")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    DeltaMaintenance.optimize(spark, d)
    val vClustered = DeltaLog.snapshot(spark, d).version
    def allTagged(path: String): Boolean =
      DeltaLog.snapshot(spark, path).files.forall(_.tags.contains(Clustering.TagZcubeId))
    // DV attach re-adds the same physical file: provenance must ride along
    // (1/64 deleted = below the 5% debt bound, so stability holds too)
    graft.sources.delta.DeltaDml.deleteWithDv(spark, d, "k % 64 = 3")
    assert(allTagged(d), "DV attach dropped the ZCube tags")
    val mDv = DeltaMaintenance.optimize(spark, d)
    assert(mDv.filesRemoved === 0, "a lightly-DV'd clustered file stays stable")
    // clone shares the files: the target starts with provenance intact
    val tgt = dir("carry-tgt") + "/t"
    DeltaMaintenance.shallowClone(spark, d, tgt)
    assert(allTagged(tgt), "CLONE dropped the ZCube tags")
    assert(DeltaMaintenance.optimize(spark, tgt).filesRemoved === 0)
    // copy-on-write rewrite detags its outputs; RESTORE resurrects the
    // clustered originals WITH their provenance
    graft.sources.delta.DeltaDml.update(spark, d, "k % 16 = 1",
      Map("name" -> "'x'"))
    DeltaMaintenance.restore(spark, d, vClustered)
    assert(allTagged(d), "RESTORE dropped the ZCube tags")
    assert(DeltaMaintenance.optimize(spark, d).filesRemoved === 0,
      "a restored clustered table must not pay a full re-cluster")
  }

  test("a concurrent re-declaration aborts an in-flight clustered OPTIMIZE") {
    val d = dir("race")
    seed(d)
    Clustering.clusterBy(spark, d, Seq("k"))
    // the rewrite stages clustered-on-k output, then loses the race to a
    // CLUSTER BY (grp): its layout answers a declaration that no longer
    // holds, so the conservative domain rule must abort it (scaladoc
    // contract on [[Clustering]]) rather than commit a stale-keyed cube
    intercept[java.util.ConcurrentModificationException] {
      DeltaMaintenance.optimize(spark, d, 128L << 20, None,
        () => { Clustering.clusterBy(spark, d, Seq("grp")); () }, full = false)
    }
    val snap = DeltaLog.snapshot(spark, d)
    assert(Clustering.clusteringColumnsOf(snap) === Seq("grp"),
      "the winning re-declaration stands")
    assert(snap.files.forall(f => !f.tags.contains(Clustering.TagZcubeId)),
      "the aborted rewrite's adds never landed")
    // the next OPTIMIZE clusters on the NEW declaration
    val m = DeltaMaintenance.optimize(spark, d)
    assert(m.filesRemoved === 16)
    assert(DeltaLog.snapshot(spark, d).files
      .forall(_.tags.get(Clustering.TagZorderBy).contains("grp")))
  }

  test("DV debt destabilizes a stable cube: OPTIMIZE physically purges hidden rows") {
    val d = dir("dvdebt")
    seed(d) // 64 rows
    Clustering.clusterBy(spark, d, Seq("k"))
    spark.sql(s"ALTER TABLE delta.`$d` SET TBLPROPERTIES " +
      "('delta.clustering.minCubeSize'='1')")
    DeltaMaintenance.optimize(spark, d) // stable cube
    assert(DeltaMaintenance.optimize(spark, d).filesRemoved === 0)
    // 16/64 = 25% hidden — far past the 5% maxDeletedRowsRatio bound: the
    // file must rejoin the candidate set despite its stable cube, and the
    // rewrite reads through the DV (physical purge, no DV on the output)
    graft.sources.delta.DeltaDml.deleteWithDv(spark, d, "k % 4 = 0")
    val m = DeltaMaintenance.optimize(spark, d)
    assert(m.filesRemoved === 1 && m.filesAdded >= 1,
      "a DV-indebted stable file must be rewritten")
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.files.forall(_.deletionVector.isEmpty), "rows purged physically")
    assert(DeltaTable.read(spark, d).count() === 48)
    assert(DeltaMaintenance.optimize(spark, d).filesRemoved === 0, "stable again")
  }

  test("RESTORE to a pre-DV version resurrects the hidden rows") {
    val d = dir("dvrestore")
    seed(d, 32)
    val v0 = DeltaLog.snapshot(spark, d).version
    graft.sources.delta.DeltaDml.deleteWithDv(spark, d, "k % 4 = 1")
    assert(DeltaTable.read(spark, d).count() === 24)
    // the DV attach kept the PATH — a path-only restore diff would keep
    // the DV'd add and silently serve the post-delete row set forever
    graft.sources.delta.DeltaMaintenance.restore(spark, d, v0)
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.files.forall(_.deletionVector.isEmpty),
      "restore must swap the DV'd add back to the target's DV-free form")
    assert(DeltaTable.read(spark, d).count() === 32)
  }

  test("CLONE carries the clustering declaration") {
    val d = dir("clone-src")
    seed(d, 16)
    Clustering.clusterBy(spark, d, Seq("k"))
    val tgt = dir("clone-tgt") + "/t"
    DeltaMaintenance.shallowClone(spark, d, tgt)
    assert(Clustering.clusteringColumnsOf(DeltaLog.snapshot(spark, tgt)) === Seq("k"))
  }
}
