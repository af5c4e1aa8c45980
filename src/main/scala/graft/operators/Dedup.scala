package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the core of a
  * training-data pipeline at 100 TB (north-star extras; the reference's SQL
  * engine has none of these as built-ins).
  *
  * Design for scale (every variant avoids the O(n²) all-pairs trap):
  *  - dd02: exact n-gram Jaccard via an INVERTED-INDEX self-join — pairs are
  *    generated only for docs sharing a shingle, intersection sizes fall out
  *    of the join group-count (no array intersects on the hot path), and a
  *    document-frequency cap (≤ 20) bounds bucket fan-out against hot
  *    shingles, exactly like prefix-filtering set-similarity joins;
  *  - dd03: MinHash signatures (16 perms) + LSH banding (8 bands × 2 rows):
  *    candidates come from an equi-join on band keys — shuffle-friendly,
  *    linear in data size; candidates are then verified with exact Jaccard;
  *  - dd04: SimHash (16-bit, frequency-weighted) + 4-nibble banding; the
  *    pigeonhole principle makes nibble-band candidates EXACT for
  *    hamming ≤ 3 (a pair differing in ≤3 bits must agree on ≥1 nibble);
  *  - dd05: embedding cosine near-dup within label blocks (the global ANN
  *    path is Similarity.ss02's hyperplane LSH).
  *
  * Engine parity: token/shingle hashes are the first 8 hex chars of md5
  * (Spark conv(…,16,10) == DuckDB 0x-cast), permutations are (a·h+b) mod p
  * with literal constants (p = 4294967311 > 2^32; a < 2^31 so a·h < 2^63),
  * and every floating output is a ratio of exact integers or a
  * floor-scaled bit-identical double (see Events for why round() can't be
  * trusted at .5 boundaries).
  */
object Dedup {

  /** Word 3-gram shingle sets (deduplicated per doc) via the native
    * word_ngrams_arr expression — one Scala pass per document instead of
    * interpreted per-element lambda dispatch. */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), expr("word_ngrams_arr(toks, 3)").as("shingles"))
  }

  private val duckShingled =
    """SELECT doc_id,
              list_distinct(CASE WHEN len(l) >= 3
                THEN list_transform(generate_series(1, len(l) - 2),
                                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                ELSE [] END) AS shingles
       FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
             FROM documents)"""

  /** Exact dedup: hash-groupBy summary (keeper = min id per group is the
    * removal policy; here we report the group stats). */
  private def dd01Exact(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        expr("count_if(c > 1)").as("n_dup_groups"),
        (sum(col("c")) - count(lit(1))).as("n_dropped"))

  /** The df-capped (≤ 20) inverted index (g, sorted ids) — dd02's
    * exact-Jaccard machinery, shared VERBATIM by the dd12 quality gate so
    * the gate's truth can never desync from the operator it validates.
    * word_ngrams is a custom Generator (one evaluation per document by
    * Generate's contract). The document-frequency cap exists because hot
    * shingles produce quadratic bucket fan-out and carry no near-dup
    * signal; Jaccard downstream is exact over the capped universe (sizes
    * and intersections in the same universe, both derived from this frame
    * in [[cappedPairStats]]).
    *
    * ONE pass over the corpus (r22; guide §1.2/§2.4): the old shape ran
    * a full `groupBy(g).count` to find hot shingles, anti-joined them off
    * the occurrence stream, and collected posting lists over the survivor
    * stream — with sizes as a third consumer, the docs scan + word_ngrams
    * Generate subtree executed THREE times (the consumers hang off
    * different exchanges; ReuseExchange cannot help, and persisting the
    * wider-than-input shingle stream measured 2× WORSE at 10× data).
    * [[graft.functions.CollectCapped]] folds the cap into the posting
    * aggregation itself — a group that exceeds 20 ids evaluates to NULL
    * while buffering at most 21 — so hot-set detection, the cap, and the
    * posting build are one aggregation over one scan, and the one
    * hash-exchange on g is shared by both [[cappedPairStats]] consumers
    * (ReuseExchange: identical subplan). Capped lists are exactly the old
    * anti-join survivors: df > 20 ⇔ collect_capped = NULL. */
  private def cappedPostings(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), expr("word_ngrams(toks, 3)").as("g"))
      .groupBy(col("g"))
      .agg(expr("collect_capped(doc_id, 20)").as("ids"))
      .filter(col("ids").isNotNull)
  }

  /** Capped-universe pair statistics: (doc_a, doc_b, sz_a, sz_b, n_inter)
    * by ENUMERATING pairs from per-shingle posting lists — sorted ≤20-doc
    * list → bounded explode of its ≤190 ordered pairs → pair group-count.
    * Replaces the earlier sort-merge SELF-JOIN on g: same pair set and
    * counts (word_ngrams emits distinct shingles per doc, so per-pair
    * occurrence count IS the intersection size), and the df cap bounds
    * every posting list so the explode can never skew. Sizes come from
    * exploding the SAME posting frame (a doc's capped-universe size is
    * its occurrence count across capped lists), so both consumers share
    * the one exchange on g instead of re-deriving the occurrence stream.
    * The two size joins run on the DISTINCT-pair frame (post-aggregation,
    * output-sized). */
  private def cappedPairStats(postings: DataFrame): DataFrame = {
    val sizes = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairs = postings
      .filter(size(col("ids")) > 1)
      .select(col("ids"))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1),
                       y -> named_struct('doc_a', x, 'doc_b', y))))""")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    pairs.groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"), col("n_inter"))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join-count. */
  private def dd02NgramJaccard(s: SparkSession, dir: String): DataFrame =
    cappedPairStats(cappedPostings(s, dir))
      .select(
        col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 4).as("jac"))
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  // Permutation constants live in MinHashConstants (single source of truth
  // for the native expression AND these oracle-SQL literals).
  private val P = graft.functions.MinHashConstants.P.toString
  private val aLst = graft.functions.MinHashConstants.A.mkString("[", ", ", "]")
  private val bLst = graft.functions.MinHashConstants.B.mkString("[", ", ", "]")

  /** MinHash + LSH banding: signature → band-key equi-join → candidate
    * pairs → exact-Jaccard verification (≥ 0.5). */
  private def dd03MinhashLsh(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
      .limit(50)

  /** Stage 1 of the MinHash-LSH pipeline: persisted non-empty shingle
    * sets + the exploded band-key frame — split out so the SCALECHECK
    * dd03_stages decomposition can time the band build apart from the
    * pair enumeration and the Jaccard verify. */
  private def dd03Bands(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // persisted: read once, reused by the band self-join (both sides) and
    // the two candidate-verification joins.
    val sh = QueryCaches.persist(shingled(s, dir).filter(size(col("shingles")) > 0))
    // native minhash16 expression: the md5-hash HOF argument evaluates once
    // per row (projection contract) and the 16-permutation min loop is
    // codegen'd — no 16× re-hashing, no interpreted lambda dispatch.
    val sigs = QueryCaches.persist(sh
      .select(col("doc_id"), expr(
        "minhash16(transform(shingles, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)))").as("sig")))
      // materialize sig before the band explode (see dd02 note): the
      // posexplode child must read an attribute, not the minhash pipeline
    val bands = sigs.select(
      col("doc_id"),
      posexplode(expr(
        """transform(sequence(0, 7), b ->
             concat(CAST(element_at(sig, 2 * b + 1) AS STRING), '_',
                    CAST(element_at(sig, 2 * b + 2) AS STRING)))"""))
        .as(Seq("band", "key")))
    (sh, bands)
  }

  /** Stage 2: distinct candidate pairs from the band-key equi-join. */
  private def dd03CandidatePairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The MinHash-LSH verified near-dup edge list (doc_a < doc_b, jac ≥ 0.5)
    * — dd03's output (unlimited) and dd06's input graph. Stage 3 (the
    * exact-Jaccard verify joins) on top of [[dd03Bands]] +
    * [[dd03CandidatePairs]]. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val (sh, bands) = dd03Bands(s, dir)
    dd03CandidatePairs(bands)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jac",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Cluster-level dedup: connected components over the verified near-dup
    * graph via iterative min-label propagation (the keeper of each cluster
    * is its minimum doc_id — the standard removal policy). Iterations are
    * bounded by the component diameter; each round is one hash join +
    * partial-min aggregate, and localCheckpoint truncates the growing plan
    * lineage — the same shape GraphX/Pregel uses, expressed DataFrame-first.
    * Oracle: a recursive CTE computing the same min-reachable-id fixpoint. */
  private def dd06ClusterDedup(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .groupBy(col("lab").as("keeper"))
      .agg(
        count(lit(1)).as("n_members"),
        // sort numerically BEFORE stringifying ("10" < "9" lexicographically)
        expr("array_join(transform(array_sort(collect_list(doc)), x -> CAST(x AS STRING)), ',')")
          .as("members"))
      .orderBy(col("keeper"))

  /** Connected-component labels (doc → min reachable doc_id) over the
    * verified near-dup graph; docs not in any near-dup pair are absent. */
  private[operators] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val edges = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val sym = edges.select(col("doc_a").as("doc"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("doc"), col("doc_a").as("nbr")))
      .persist()
    try propagateMinLabels(sym)
    finally sym.unpersist()
  }

  /** Min-label propagation to fixpoint over a symmetric adjacency list
    * (`doc`, `nbr`). Throws rather than returning wrong labels when the
    * iteration cap is hit: a silent cap would hand back iteration-N
    * labels for any component whose diameter exceeds `maxIters`, which at
    * corpus scale is a correctness bug, not a tuning knob. The cap exists
    * only as a runaway guard — diameters past it mean the near-dup graph
    * is pathological (one giant chain) and the caller must raise the cap
    * deliberately. */
  private[operators] def propagateMinLabels(sym: DataFrame, maxIters: Int = 25): DataFrame =
    propagateMinLabelsCounted(sym, maxIters)._1

  /** [[propagateMinLabels]] plus the iteration count it needed — the
    * ScaleCheck seam for the pp01 growth question: the loop's TOTAL cost is
    * iterations × per-round join, and only the measurement can say whether
    * a 10× corpus grows the diameter (more rounds) or just the rounds. */
  private[operators] def propagateMinLabelsCounted(
      sym: DataFrame, maxIters: Int = 25): (DataFrame, Int) = {
    var labels = sym.select(col("doc")).distinct()
      .withColumn("lab", col("doc"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    var labelSum = Long.MinValue
    while (!converged && iter < maxIters) {
      val msgs = sym
        .join(labels.select(col("doc").as("nbr"), col("lab").as("nlab")), "nbr")
        .groupBy(col("doc")).agg(min(col("nlab")).as("nmin"))
      val next = labels.join(msgs, Seq("doc"), "left")
        .select(col("doc"), least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"))
        .localCheckpoint()
      // labels only ever decrease, so an unchanged sum ⇔ fixpoint — one
      // cheap aggregate instead of a join-based diff per round
      val sumNow = next.agg(coalesce(sum(col("lab")), lit(0L))).first().getLong(0)
      converged = labelSum == sumNow
      labelSum = sumNow
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected-components min-label propagation did not converge within " +
          s"$maxIters iterations — a component's diameter exceeds the cap; " +
          s"returning partial labels would silently mislabel clusters. " +
          s"Raise maxIters for pathologically chained near-dup graphs.")
    (labels, iter)
  }

  /** ScaleCheck seams decomposing pp01's dedup stages (callers time them):
    * the verified-pair edge build (LSH + Jaccard verify) vs the min-label
    * loop it feeds, with the loop's iteration count — the number that says
    * whether corpus growth is buying more ROUNDS (diameter growth, the
    * scale risk) or only costlier rounds (linear, fine). */
  private[graft] def verifiedPairsProbe(s: SparkSession, dir: String): Long =
    verifiedPairs(s, dir).count()

  /** ScaleCheck seams decomposing dd03 itself (SCALECHECK dd03_stages —
    * r17 verdict #4: dd03's 1.82 isolated ratio was the highest surviving
    * one, unexplained). Nested prefixes of the verifiedPairs pipeline, so
    * each stage's cost is a subtraction: band build (shingle → minhash →
    * explode), + candidate enumeration (band self-join, distinct), + the
    * exact-Jaccard verify (the full dd03 query is probed separately). The
    * returned row counts name the growth source: band rows grow linearly
    * with the corpus by construction; candidate pairs growing faster than
    * the corpus = bucket-collision growth, the quadratic risk. */
  private[graft] def dd03BandsProbe(s: SparkSession, dir: String): Long = {
    val (_, bands) = dd03Bands(s, dir)
    bands.count()
  }

  private[graft] def dd03PairsProbe(s: SparkSession, dir: String): Long = {
    val (_, bands) = dd03Bands(s, dir)
    dd03CandidatePairs(bands).count()
  }

  private[graft] def minLabelProbe(s: SparkSession, dir: String): (Long, Int) = {
    val edges = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val sym = edges.select(col("doc_a").as("doc"), col("doc_b").as("nbr"))
      .union(edges.select(col("doc_b").as("doc"), col("doc_a").as("nbr")))
      .persist()
    try {
      val (labels, iters) = propagateMinLabelsCounted(sym)
      (labels.count(), iters)
    } finally sym.unpersist()
  }

  /** SimHash (16-bit, token-frequency weighted) + nibble-band candidates;
    * hamming ≤ 3 pairs (candidates are exhaustive by pigeonhole). */
  private def dd04Simhash(s: SparkSession, dir: String): DataFrame = {
    // persisted (registered): reused by the sig-level join and both doc expansions
    val sigs = QueryCaches.persist(Tables.read(s, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) > 0)
      // native codegen'd simhash16 over the token hashes — same ±1 vote
      // semantics as the oracle's declarative fold (integer sums are
      // order-independent, so parity is exact)
      .select(col("doc_id"), expr(
        "simhash16(transform(toks, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)))").as("sig")))
    // Band-join at the DISTINCT-signature level, not the document level: a
    // low-diversity corpus collapses to few signatures (5000 docs → ~1.4k
    // sigs at sf0.1), while document-level nibble buckets are quadratically
    // skewed (measured 13.8M candidate pairs). Pigeonhole recall is
    // unchanged — every doc pair with ham ≤ 3 is either intra-sig (ham 0)
    // or expands from a close sig pair.
    val sigSet = QueryCaches.persist(sigs.select(col("sig")).distinct())
    val bands = sigSet.select(
      col("sig"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (sig >> (4 * b)) & 15)"))
        .as(Seq("band", "nib")))
    val sigPairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.nib") === col("b.nib")
          && col("a.sig") < col("b.sig"))
      .select(col("a.sig").as("s1"), col("b.sig").as("s2"),
        expr("bit_count(a.sig ^ b.sig)").cast("long").as("ham"))
      .filter(col("ham") <= 3)
      .distinct()
    val inter = sigPairs
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), "s1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), "s2")
      .select(least(col("id1"), col("id2")).as("doc_a"),
        greatest(col("id1"), col("id2")).as("doc_b"), col("ham"))
    val intra = sigs.as("x")
      .join(sigs.as("y"),
        col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("ham"))
    // top-50 via TakeOrdered (map-side heaps) — the expansions never shuffle
    inter.union(intra)
      .orderBy(col("ham"), col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** Embedding-cosine near-dup within label blocks (exact left-fold dot
    * product — bit-identical across engines; floor-scaled output). */
  private def dd05EmbedDup(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
    v.as("a")
      .join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      // native codegen'd expression, bit-identical to the oracle's fold
      // (CosineSimilaritySuite proves exact equality)
      .withColumn("sim",
        floor(expr("cosine_sim(a.e, b.e)") * lit(1000000.0)) / lit(1000000.0))
      .filter(col("sim") >= 0.45)
      .select(
        col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(100)
  }

  /** GLOBAL embedding near-dup — the 100 TB path dd05 deliberately is not
    * (dd05 all-pairs within label blocks; this bucketizes the WHOLE corpus
    * by [[Similarity.bucketCol]]'s 8 hyperplane signs and only compares
    * within a bucket: an equi-self-join with expected N²/256 candidate
    * pairs instead of N², then exact cosine verification ≥ 0.3). Nearly
    * identical vectors agree on every hyperplane sign with high
    * probability, so true near-dups stay in-bucket; production tightens
    * recall with multiple band tables, same plan shape. The bucketed frame
    * is persisted: the interpreted 8×64 projection fold must not re-run on
    * both sides of the self-join (repo HOF-reuse rule). */
  private def dd07EmbedLshDup(s: SparkSession, dir: String): DataFrame = {
    val v = QueryCaches.persist(Similarity.vecs(s, dir)
      .withColumn("bucket", Similarity.bucketCol))
    v.as("a")
      .join(v.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        floor(expr("cosine_sim(a.e, b.e)") * lit(1000000.0)) / lit(1000000.0))
      .filter(col("sim") >= 0.3)
      .select(
        col("a.bucket").cast("long").as("bucket"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(100)
  }

  /** INCREMENTAL dedup — the steady-state shape of a production corpus:
    * a NEW batch (here: doc_id % 4 == 0) must be deduped against the
    * EXISTING corpus (the rest) without ever re-pairing the corpus with
    * itself. The corpus keeps a precomputed MinHash band index (at 100 TB
    * that index is a bucketed table maintained by ingestion; here both
    * sides derive from the same fixture); the only corpus-scale work is
    * ONE equi-join of the batch's band keys against it — candidates are
    * O(batch × collisions), never O(corpus²) — followed by exact-Jaccard
    * verification of the candidates alone. A small batch broadcasts, so
    * the corpus side never even shuffles. */
  private def dd08IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val sh = QueryCaches.persist(shingled(s, dir).filter(size(col("shingles")) > 0))
    // same native minhash16 signature + 8×2 banding as dd03 (one index
    // definition serves batch and corpus — the invariant that makes the
    // incremental join sound)
    val sigs = QueryCaches.persist(sh
      .select(col("doc_id"), expr(
        "minhash16(transform(shingles, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)))").as("sig")))
    val bands = sigs.select(
      col("doc_id"),
      posexplode(expr(
        """transform(sequence(0, 7), b ->
             concat(CAST(element_at(sig, 2 * b + 1) AS STRING), '_',
                    CAST(element_at(sig, 2 * b + 2) AS STRING)))"""))
        .as(Seq("band", "key")))
    val batchBands = bands.filter(col("doc_id") % 4 === 0)
    val corpusBands = bands.filter(col("doc_id") % 4 =!= 0)
    val cands = batchBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("new_doc"), col("b.doc_id").as("corpus_doc"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("new_doc"), col("shingles").as("sh_a")), "new_doc")
      .join(sh.select(col("doc_id").as("corpus_doc"), col("shingles").as("sh_b")), "corpus_doc")
      .withColumn("jac",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jac") >= 0.5)
      .select(col("new_doc"), col("corpus_doc"), col("jac"))
      .orderBy(col("jac").desc, col("new_doc"), col("corpus_doc"))
      .limit(50)
  }

  /** Segment-level exact dedup — the RefinedWeb/CCNet paragraph-dedup
    * shape: dedup UNITS SMALLER than a document across the whole corpus,
    * keeping each distinct segment's first occurrence in (doc_id, chunk)
    * order. The fixture's text carries no paragraph breaks, so the segment
    * unit is a non-overlapping 10-word chunk (same split convention as
    * tx01).
    *
    * Scale posture — keeper selection is a PARTIAL-COMBINED AGGREGATE,
    * never a window: on web-scale corpora the duplicated segments are
    * exactly the hot keys (a boilerplate 10-word chunk recurs millions of
    * times), and `row_number().over(Window.partitionBy(h))` would shuffle
    * EVERY occurrence of the hottest segment into one task with no
    * map-side combine (the same anti-pattern the dd02 df count removed —
    * see [[cappedPostings]]). `groupBy(h).agg(min(struct(doc_id, chunk)))`
    * is skew-proof by construction: the hottest segment ships ONE partial
    * min row per input partition, never its occurrence stream. The
    * affected-docs count works at DOC granularity (a doc is affected iff
    * its total occurrences exceed the keeper occurrences it owns), so
    * the only join runs between two doc-keyed aggregates — post-combine,
    * output-sized. No global sort, no all-pairs anything. */
  private def dd09SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    // persisted: the exploded chunk stream feeds the two corpus-wide
    // aggregates (keeper-per-h, per-doc totals); the rows are compact
    // scalars, unlike dd02's wider-than-input shingle stream whose
    // recompute measured cheaper than its cache
    val segs = QueryCaches.persist(Tables.read(s, dir, "documents")
      .withColumn("words", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("words")) > 0)
      .withColumn("chunk",
        explode(expr("sequence(0, CAST(ceil(size(words) / 10.0) AS INT) - 1)")))
      .withColumn("seg", expr("slice(words, chunk * 10 + 1, 10)"))
      .select(col("doc_id"), col("lang"), col("chunk"),
        md5(concat_ws(" ", col("seg"))).as("h"),
        size(col("seg")).cast("long").as("seg_words")))
    // global keeper occurrence per segment: min (doc_id, chunk), one
    // partial-combined exchange on the (uniform) segment hash; everything
    // downstream of it is DOC-level (output-sized), so perH has exactly
    // one consumer and the tiny per-doc keeper stats get the cache
    val perH = segs.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk"),
        col("lang"), col("seg_words"))).as("keeper"))
    val perDoc = QueryCaches.persist(perH
      .groupBy(col("keeper.doc_id").as("doc_id"), col("keeper.lang").as("lang"))
      .agg(count(lit(1)).as("own"), sum(col("keeper.seg_words")).as("w")))
    val keptByLang = perDoc.groupBy(col("lang"))
      .agg(sum(col("own")).as("n_kept"), sum(col("w")).as("kept_words"))
    // a doc is affected iff it holds at least one NON-keeper occurrence,
    // i.e. its occurrence total exceeds the keepers it owns — two
    // doc-keyed aggregates joined, each partial-combined; per-lang totals
    // also derive from the doc-level frame, not another pass over segs
    val docTot = QueryCaches.persist(segs.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("tot")))
    val byLang = docTot.groupBy(col("lang")).agg(sum(col("tot")).as("n_segs"))
    val affectedByLang = docTot
      .join(perDoc.select(col("doc_id"), col("own")), Seq("doc_id"), "left")
      .filter(col("tot") > coalesce(col("own"), lit(0L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_affected"))
    byLang
      .join(keptByLang, Seq("lang"), "left")
      .join(affectedByLang, Seq("lang"), "left")
      .select(col("lang"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_words"), lit(0L)).as("kept_words"),
        coalesce(col("docs_affected"), lit(0L)).as("docs_affected"))
      .orderBy(col("lang"))
  }

  /** SemDeDup (the published semantic-dedup recipe): cluster embeddings
    * with a coarse quantizer, then pairwise-cosine ONLY within each
    * cluster, dropping every vector that has a more-canonical (lower-id)
    * near-duplicate in its cluster. Candidates are Σ|cluster|² ≈ N²/K
    * instead of N² — the paper's exact scale mechanism. The quantizer is
    * a DATA-ADAPTIVE one-pass k-means (the paper uses k-means too):
    * seeds are a deterministic hash-sample (the K vectors ranked first
    * by md5(vec_id) — unbiased, unlike first-K insertion order), one
    * Lloyd update recomputes each centroid as the mean of its members,
    * and the final assignment uses the updated centroids. Cluster
    * balance is what bounds Σ|cluster|², so the update step directly
    * serves the scale mechanism (DedupConvergenceSuite pins the spread
    * tightening vs the seed-only assignment). Centroid means are EXACT:
    * dim value = Σ floor(e_d·4096) / (4096·n) — integer sums are
    * order-independent, so the single double division is bit-identical
    * across engines (a float avg() would be summation-order-dependent
    * and break the oracle hash). The mean aggregation is 64 per-dim
    * sums in ONE hash aggregate (map-side partial, K×65 output rows) —
    * no explode, no N×64 shuffle. K = [[Similarity.coarseK]](N) ≈ √N
    * grows with the corpus (see [[dd10Seeds]]); the within-cluster
    * self-join is an equi-join on cid, the blocked-join shape every
    * near-dup operator in this module uses. */
  private def dd10Semdedup(s: SparkSession, dir: String): DataFrame = {
    val v = Similarity.vecs(s, dir)
    val assigned = QueryCaches.persist(dd10Assignments(v))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        floor(expr("cosine_sim(a.e, b.e)") * lit(1000000.0)) / lit(1000000.0))
      .filter(col("sim") >= 0.45)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
      .orderBy(col("cid"))
  }

  /** dd10's final (vec_id, e, cid) assignment after the one-pass k-means:
    * hash-sampled seeds → pass-1 argmax → exact-integer mean update →
    * pass-2 argmax. Exposed for the cluster-balance spec. */
  private[operators] def dd10Assignments(v: DataFrame): DataFrame = {
    val cents2 = dd10Centroids(v)
    assignToCentroids(v, cents2)
  }

  /** Nearest-centroid argmax (broadcast K centroids, map-side partial-min
    * struct — the ss03/ss04 assignment shape; never an N×K window). */
  private[operators] def assignToCentroids(v: DataFrame, cents: DataFrame): DataFrame =
    v.join(broadcast(cents))
      .withColumn("csim",
        floor(expr("cosine_sim(e, ce)") * lit(1000000.0)) / lit(1000000.0))
      .groupBy(col("vec_id"))
      .agg(
        min(struct((-col("csim")).as("ns"), col("cid"))).as("m"),
        first(col("e")).as("e"))
      .select(col("vec_id"), col("e"), col("m.cid").as("cid"))

  /** Deterministic hash-sampled seeds (the K = [[Similarity.coarseK]](N)
    * ≈ √N vectors ranked first by md5(vec_id)) — TakeOrdered over the
    * corpus (map-side heaps, no global sort). K derived from the corpus
    * size keeps Σ|cluster|² ≈ N·√N — a FIXED K decays to quadratic
    * N²/K at scale; the one count() pre-pass is the pp09 idiom. */
  private[operators] def dd10Seeds(v: DataFrame): DataFrame =
    v.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(Similarity.coarseK(v.count()).toInt)
      .select(col("vec_id").as("cid"), col("e").as("ce"))

  /** One Lloyd update: assign to seeds, recompute each centroid as the
    * EXACT-integer member mean (Σ floor(e_d·4096) / (4096·n) per dim —
    * bit-identical across engines; see dd10 scaladoc). */
  private[operators] def dd10Centroids(v: DataFrame): DataFrame = {
    val assigned1 = assignToCentroids(v, dd10Seeds(v))
    val sumCols = (1 to 64).map(d =>
      sum(floor(element_at(col("e"), d).cast("double") * lit(4096.0)).cast("long"))
        .as(s"s$d"))
    val aggd = assigned1.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sumCols: _*)
    aggd.select(
      col("cid"),
      array((1 to 64).map(d =>
        col(s"s$d").cast("double") / (lit(4096.0) * col("n").cast("double"))): _*)
        .as("ce"))
  }

  /** MinHash-LSH index-quality gate (dd12) — the dedup analog of ss05/
    * ss08's ANN recall gates, the measurement a production dedup
    * deployment runs before trusting banding parameters: exact near-dup
    * TRUTH over the df-capped shingle universe (pairs sharing ≥1 capped
    * shingle, Jaccard from inverted-index GROUP COUNTS — dd02's exact
    * mechanism: sizes and intersections in the same universe, no array
    * ops on the hot path; the df ≤ 20 cap prunes only ubiquitous
    * shingles, which generate quadratic candidates and no near-dup
    * signal) versus the dd03 pipeline's banding+verify OUTPUT. Reports
    * both directions: recall (truth pairs the bands caught) and
    * precision (band pairs inside the capped truth set — < 1 exposes
    * pairs whose similarity rides on hot shingles). All counts
    * deterministic, so the gate itself is oracle-hash-exact. */
  private def dd12LshQuality(s: SparkSession, dir: String): DataFrame = {
    val truth = cappedPairStats(cappedPostings(s, dir))
      .filter(
        round(col("n_inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 4) >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val lsh = verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
    // all three counts from ONE pass over each side: a FULL OUTER join of
    // the two (unique-keyed) pair sets with presence markers, then one
    // aggregate — n_true = rows with a truth marker, n_lsh = rows with an
    // lsh marker, n_hit = rows with both. The earlier form ran
    // truth.agg × lsh.agg × hit-join.agg as three cross-joined subplans,
    // and ReuseExchange could NOT dedupe them (column pruning under each
    // count() canonicalizes the subtrees differently), so the whole
    // capped-pair machinery — including the million-row pair-count
    // exchange — executed TWICE per side (measured in the r21 AQE-final
    // plan; guide §2.4: remove shuffles outright). Counts are identical
    // by construction: both sides are distinct on (doc_a, doc_b).
    val marked = truth.withColumn("t", lit(1))
      .join(lsh.withColumn("l", lit(1)), Seq("doc_a", "doc_b"), "full")
    marked
      .agg(
        count(col("t")).as("n_true"),
        count(col("l")).as("n_lsh"),
        count(when(col("t").isNotNull && col("l").isNotNull, lit(1))).as("n_hit"))
      .select(
        col("n_true"), col("n_lsh"), col("n_hit"),
        (floor(col("n_hit").cast("double")
          / nullif(col("n_true").cast("double"), lit(0.0)) * lit(10000.0))
          / lit(10000.0)).as("recall"),
        (floor(col("n_hit").cast("double")
          / nullif(col("n_lsh").cast("double"), lit(0.0)) * lit(10000.0))
          / lit(10000.0)).as("precision"))
  }

  /** Exact-substring (span) dedup (dd11) — the remaining published dedup
    * modality (no reference-engine counterpart; the technique is the
    * suffix-array exact-substring pass of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a token
    * position is DUPLICATED when its k-word window (k = 4) recurs
    * anywhere in the corpus (same or another document), covered tokens
    * are the union of `[pos, pos + 3]` over duplicated starts, and
    * maximal duplicated SPANS are gaps-and-islands over the covered
    * positions — the distributed equivalent of the paper's repeated-
    * substring extraction, with the suffix array replaced by a shingle
    * hash join (the Spark-native shape: no global suffix sort).
    *
    * Scale posture: shingling is per-row (array transform, no window, no
    * shuffle); the only corpus-wide exchanges are the groupBy on the
    * shingle text and the join back on it (uniform-ish hash keys; hot
    * boilerplate shingles are exactly the signal here so no df-cap);
    * islands use per-document windows (doc-sized groups). Nothing
    * all-pairs, nothing driver-side. */
  private def dd11SubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = QueryCaches.persist(Tables.read(s, dir, "documents")
      .withColumn("words", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("words")) >= 4)
      .select(
        col("doc_id"), size(col("words")).cast("long").as("n_toks"),
        posexplode(expr(
          "transform(sequence(0, size(words) - 4), i -> concat_ws(' ', slice(words, i + 1, 4)))"))
          .as(Seq("pos", "g"))))
    val dupG = sh.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val cov = sh.join(dupG, Seq("g"))
      .withColumn("cp", explode(expr("sequence(pos, pos + 3)")))
      .select(col("doc_id"), col("n_toks"), col("cp")).distinct()
    val spans = cov
      .withColumn("grp", col("cp") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("cp"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("n_toks")).as("n_toks"), count(lit(1)).as("span_len"))
    spans.groupBy(col("doc_id"))
      .agg(
        min(col("n_toks")).as("n_toks"),
        sum(col("span_len")).as("dup_tokens"),
        count(lit(1)).as("n_spans"),
        max(col("span_len")).as("max_span"))
      .withColumn("dup_ratio",
        floor(col("dup_tokens").cast("double") / col("n_toks").cast("double")
          * lit(10000.0)) / lit(10000.0))
      .orderBy(col("dup_tokens").desc, col("doc_id"))
      .limit(30)
  }

  /** Shared oracle CTE chain for the df-capped pair statistics (mirrors
    * [[cappedPostings]]+[[cappedPairStats]]; `src` is a CTE of
    * (doc_id, shingles)): cap_ex → capped → cap_sizes → cap_inter. */
  private def duckCappedPairCtes(src: String): String = s"""
      cap_ex AS (SELECT doc_id, unnest(shingles) AS g FROM $src),
      capped AS (SELECT cap_ex.doc_id, cap_ex.g FROM cap_ex
                 JOIN (SELECT g FROM cap_ex GROUP BY g HAVING count(*) <= 20) ok
                 ON cap_ex.g = ok.g),
      cap_sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
      cap_inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                    FROM capped a JOIN capped b
                    ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)"""

  /** Shared oracle CTE chain ending in `verified` = the MinHash-LSH
    * verified near-dup edge list (mirrors [[verifiedPairs]]). */
  private[operators] lazy val duckVerifiedCtes: String = s"""
      sh AS ($duckShingled),
      sh1 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
      sigs AS (
        SELECT doc_id, shingles,
               list_transform(generate_series(0, 15), k ->
                 list_min(list_transform(
                   list_transform(shingles, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT),
                   h -> (($aLst)[k + 1] * h + ($bLst)[k + 1]) % $P))) AS sig
        FROM sh1),
      bands AS (
        SELECT doc_id,
               unnest(generate_series(0, 7)) AS band,
               unnest(list_transform(generate_series(0, 7), b ->
                 sig[2 * b + 1]::VARCHAR || '_' || sig[2 * b + 2]::VARCHAR)) AS key
        FROM sigs),
      cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      verified AS (
        SELECT doc_a, doc_b, jac FROM (
          SELECT doc_a, doc_b,
                 round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                       / len(list_distinct(list_concat(x.shingles, y.shingles)))::DOUBLE, 4) AS jac
          FROM cands
          JOIN sh1 x ON x.doc_id = doc_a
          JOIN sh1 y ON y.doc_id = doc_b)
        WHERE jac >= 0.5)"""

  val oracleSql: Map[String, String] = Map(
    "dd12_lsh_quality" -> s"""
      WITH RECURSIVE $duckVerifiedCtes,
      ${duckCappedPairCtes("sh1")},
      truth AS (
        SELECT doc_a, doc_b FROM cap_inter
        JOIN cap_sizes sa ON sa.doc_id = doc_a
        JOIN cap_sizes sb ON sb.doc_id = doc_b
        WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter)::DOUBLE, 4) >= 0.5),
      hit AS (SELECT t.doc_a, t.doc_b FROM truth t
              JOIN verified v ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b)
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM verified) AS n_lsh,
             (SELECT count(*) FROM hit) AS n_hit,
             floor((SELECT count(*) FROM hit)::DOUBLE
                   / nullif((SELECT count(*) FROM truth)::DOUBLE, 0.0) * 10000.0)
               / 10000.0 AS recall,
             floor((SELECT count(*) FROM hit)::DOUBLE
                   / nullif((SELECT count(*) FROM verified)::DOUBLE, 0.0) * 10000.0)
               / 10000.0 AS precision""",
    "dd11_substring_dedup" -> """
      WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
                 FROM documents),
      t4 AS (SELECT doc_id, len(l) AS n_toks, l FROM t WHERE len(l) >= 4),
      c AS (SELECT doc_id, n_toks, l,
                   unnest(generate_series(1, len(l) - 3)) AS i FROM t4),
      sh AS (SELECT doc_id, n_toks, i - 1 AS pos,
                    l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3] AS g
             FROM c),
      dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
      covu AS (SELECT sh.doc_id, sh.n_toks,
                      sh.pos + unnest(generate_series(0, 3)) AS cp
               FROM sh JOIN dup ON sh.g = dup.g),
      cov AS (SELECT DISTINCT doc_id, n_toks, cp FROM covu),
      isl AS (SELECT doc_id, n_toks, cp,
                     cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS grp
              FROM cov),
      sp AS (SELECT doc_id, min(n_toks) AS n_toks, count(*) AS span_len
             FROM isl GROUP BY doc_id, grp)
      SELECT doc_id,
             CAST(min(n_toks) AS BIGINT) AS n_toks,
             CAST(sum(span_len) AS BIGINT) AS dup_tokens,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(max(span_len) AS BIGINT) AS max_span,
             floor(sum(span_len)::DOUBLE / min(n_toks)::DOUBLE * 10000.0) / 10000.0
               AS dup_ratio
      FROM sp GROUP BY doc_id
      ORDER BY dup_tokens DESC, doc_id LIMIT 30""",
    "dd01_exact" -> """
      SELECT CAST(sum(c) AS BIGINT) AS n_docs,
             count(*) AS n_distinct,
             CAST(count_if(c > 1) AS BIGINT) AS n_dup_groups,
             CAST(sum(c) - count(*) AS BIGINT) AS n_dropped
      FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)""",
    "dd02_ngram_jaccard" -> s"""
      WITH sh AS ($duckShingled),
      ${duckCappedPairCtes("sh")}
      SELECT doc_a, doc_b, n_inter,
             round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter)::DOUBLE, 4) AS jac
      FROM cap_inter
      JOIN cap_sizes sa ON sa.doc_id = doc_a
      JOIN cap_sizes sb ON sb.doc_id = doc_b
      ORDER BY jac DESC, doc_a, doc_b LIMIT 20""",
    "dd03_minhash_lsh" -> s"""
      WITH $duckVerifiedCtes
      SELECT doc_a, doc_b, jac FROM verified
      ORDER BY jac DESC, doc_a, doc_b LIMIT 50""",
    "dd06_cluster_dedup" -> s"""
      WITH RECURSIVE $duckVerifiedCtes,
      sym AS (SELECT doc_a AS doc, doc_b AS nbr FROM verified
              UNION ALL
              SELECT doc_b AS doc, doc_a AS nbr FROM verified),
      lab(doc, lab) AS (
        SELECT DISTINCT doc, doc FROM sym
        UNION
        SELECT sym.doc, lab.lab FROM sym JOIN lab ON lab.doc = sym.nbr)
      SELECT keeper, count(*) AS n_members,
             string_agg(doc::VARCHAR, ',' ORDER BY doc) AS members
      FROM (SELECT doc, min(lab) AS keeper FROM lab GROUP BY doc)
      GROUP BY keeper ORDER BY keeper""",
    "dd08_incremental_dedup" -> s"""
      WITH $duckVerifiedCtes,
      inc_cands AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
        FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
           AND a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
      inc AS (
        SELECT new_doc, corpus_doc, jac FROM (
          SELECT new_doc, corpus_doc,
                 round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                       / len(list_distinct(list_concat(x.shingles, y.shingles)))::DOUBLE, 4) AS jac
          FROM inc_cands
          JOIN sh1 x ON x.doc_id = new_doc
          JOIN sh1 y ON y.doc_id = corpus_doc)
        WHERE jac >= 0.5)
      SELECT new_doc, corpus_doc, jac FROM inc
      ORDER BY jac DESC, new_doc, corpus_doc LIMIT 50""",
    "dd10_semdedup" -> s"""
      WITH v AS (SELECT vec_id, embedding AS e, ${Similarity.duckNrm} AS nrm
                 FROM embeddings),
      seeds AS (
        SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM (
          SELECT vec_id, e, nrm,
                 row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS srn
          FROM v)
        WHERE srn <= ${Similarity.duckK}),
      a1 AS (
        SELECT vec_id, e, cid FROM (
          SELECT v.vec_id, v.e, seeds.cid,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   floor(${Similarity.dDot("v.e", "ce")} / sqrt(v.nrm * cnrm) * 1000000.0) / 1000000.0 DESC,
                   seeds.cid) AS arn
          FROM v CROSS JOIN seeds)
        WHERE arn = 1),
      qd AS (
        SELECT cid, i,
               CAST(sum(CAST(floor(e[i]::DOUBLE * 4096.0) AS BIGINT)) AS BIGINT) AS sq,
               count(*) AS n
        FROM a1, generate_series(1, 64) AS t(i)
        GROUP BY cid, i),
      cent2 AS (
        SELECT cid, list(sq::DOUBLE / (4096.0 * n) ORDER BY i) AS ce
        FROM qd GROUP BY cid),
      cent2n AS (
        SELECT cid, ce,
               list_reduce(list_prepend(0.0, list_transform(ce, x -> x * x)),
                 (a, b) -> a + b) AS cnrm
        FROM cent2),
      assigned AS (
        SELECT vec_id, e, nrm, cid FROM (
          SELECT v.vec_id, v.e, v.nrm, c.cid,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   floor(${Similarity.dDot("v.e", "c.ce")} / sqrt(v.nrm * c.cnrm) * 1000000.0) / 1000000.0 DESC,
                   c.cid) AS arn
          FROM v CROSS JOIN cent2n c)
        WHERE arn = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id FROM assigned a
        JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE floor(${Similarity.dDot("a.e", "b.e")} / sqrt(a.nrm * b.nrm) * 1000000.0) / 1000000.0 >= 0.45)
      SELECT CAST(a.cid AS BIGINT) AS cid,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(count(d.vec_id) AS BIGINT) AS n_dropped
      FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
      GROUP BY 1 ORDER BY 1""",
    "dd09_segment_dedup" -> """
      WITH w AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS words
        FROM documents),
      w1 AS (SELECT * FROM w WHERE len(words) > 0),
      c AS (
        SELECT doc_id, lang, words,
               unnest(generate_series(0, CAST(ceil(len(words) / 10.0) AS INT) - 1)) AS chunk
        FROM w1),
      s AS (
        SELECT doc_id, lang, chunk,
               md5(array_to_string(words[chunk * 10 + 1 : chunk * 10 + 10], ' ')) AS h,
               len(words[chunk * 10 + 1 : chunk * 10 + 10]) AS seg_words
        FROM c),
      r AS (
        SELECT lang, doc_id, seg_words,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk) AS rn
        FROM s)
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_segs,
             CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN rn = 1 THEN seg_words ELSE 0 END) AS BIGINT) AS kept_words,
             CAST(count(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT) AS docs_affected
      FROM r GROUP BY 1 ORDER BY 1""",
    "dd04_simhash" -> """
      WITH sigs AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(0, 15), b ->
                   CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(
                            list_transform(l, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT),
                            h -> CASE WHEN ((h >> b) & 1) = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                          (acc, v) -> acc + v) > 0
                        THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)),
                 (a, x) -> a + x) AS sig
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
              FROM documents)
        WHERE len(l) > 0),
      sigset AS (SELECT DISTINCT sig FROM sigs),
      bands AS (
        SELECT sig,
               unnest(generate_series(0, 3)) AS band,
               unnest(list_transform(generate_series(0, 3), b -> (sig >> (4 * b)) & 15)) AS nib
        FROM sigset),
      sigpairs AS (
        SELECT DISTINCT a.sig AS s1, b.sig AS s2, bit_count(xor(a.sig, b.sig)) AS ham
        FROM bands a JOIN bands b
        ON a.band = b.band AND a.nib = b.nib AND a.sig < b.sig
        WHERE bit_count(xor(a.sig, b.sig)) <= 3),
      inter AS (
        SELECT least(d1.doc_id, d2.doc_id) AS doc_a,
               greatest(d1.doc_id, d2.doc_id) AS doc_b, ham
        FROM sigpairs
        JOIN sigs d1 ON d1.sig = s1
        JOIN sigs d2 ON d2.sig = s2),
      intra AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(0 AS BIGINT) AS ham
        FROM sigs x JOIN sigs y ON x.sig = y.sig AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, CAST(ham AS BIGINT) AS ham FROM
        (SELECT * FROM inter UNION ALL SELECT * FROM intra)
      ORDER BY ham, doc_a, doc_b LIMIT 50""",
    "dd05_embed_dup" -> """
      WITH v AS (
        SELECT vec_id, label, embedding AS e,
               list_reduce(list_prepend(0.0,
                 list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
                 (a, b) -> a + b) AS nrm
        FROM embeddings)
      SELECT label, vec_a, vec_b, sim FROM (
        SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor(list_reduce(list_prepend(0.0,
                       list_transform(generate_series(1, 64),
                         i -> a.e[i]::DOUBLE * b.e[i]::DOUBLE)),
                       (s, x) -> s + x)
                     / sqrt(a.nrm * b.nrm) * 1000000.0) / 1000000.0 AS sim
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE sim >= 0.45
      ORDER BY sim DESC, vec_a, vec_b LIMIT 100""",
    "dd07_embed_lsh_dup" -> s"""
      WITH v AS (SELECT vec_id, embedding AS e, ${Similarity.duckNrm} AS nrm,
                        ${Similarity.duckBucket} AS bucket
                 FROM embeddings)
      SELECT bucket, vec_a, vec_b, sim FROM (
        SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor(${Similarity.dDot("a.e", "b.e")} / sqrt(a.nrm * b.nrm) * 1000000.0)
                 / 1000000.0 AS sim
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE sim >= 0.3
      ORDER BY sim DESC, vec_a, vec_b LIMIT 100""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd01_exact" -> dd01Exact,
    "dd02_ngram_jaccard" -> dd02NgramJaccard,
    "dd03_minhash_lsh" -> dd03MinhashLsh,
    "dd04_simhash" -> dd04Simhash,
    "dd05_embed_dup" -> dd05EmbedDup,
    "dd06_cluster_dedup" -> dd06ClusterDedup,
    "dd07_embed_lsh_dup" -> dd07EmbedLshDup,
    "dd08_incremental_dedup" -> dd08IncrementalDedup,
    "dd09_segment_dedup" -> dd09SegmentDedup,
    "dd10_semdedup" -> dd10Semdedup,
    "dd11_substring_dedup" -> dd11SubstringDedup,
    "dd12_lsh_quality" -> dd12LshQuality)
}
