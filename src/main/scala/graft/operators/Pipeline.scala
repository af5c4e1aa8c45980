package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Capstone: the full training-data curation pipeline composed end-to-end
  * from the building blocks the other modules gate individually —
  *
  *   quality scoring (TextAnalysis) → near-dup clustering keeper selection
  *   (Dedup's MinHash-LSH components) → cross-modal embedding join →
  *   curated-corpus statistics.
  *
  * This is the shape of the real 100 TB job: every stage is a
  * shuffle-bounded DataFrame transform (no collect, no per-row driver
  * work), and the oracle replays the SAME composition in one DuckDB
  * statement (quality CTEs + recursive component closure + joins), so the
  * gate checks the pipeline's composition, not just its parts.
  */
object Pipeline {

  private def pp01Curation(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.qualityScored(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("grade"))
    val labels = Dedup.clusterLabels(s, dir) // (doc, lab); absent = singleton
    val curated = quality
      .filter(col("grade") =!= "poor")
      .join(labels, quality("doc_id") === labels("doc"), "left")
      .filter(col("doc").isNull || col("lab") === col("doc_id")) // keepers only
    curated
      .join(Tables.read(s, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        (floor(sum(col("n_chars")).cast("double") / count(lit(1)) * lit(10000.0)) / lit(10000.0)).as("avg_chars"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("lang"))
  }

  // The oracle rebuilds the identical composition: tx02's quality scoring,
  // dd03/dd06's verified-pair CTEs + recursive min-label closure, then the
  // same keeper filter and embedding join.
  private lazy val oracle: String = s"""
      WITH RECURSIVE ${Dedup.duckVerifiedCtes},
      sym AS (SELECT doc_a AS doc, doc_b AS nbr FROM verified
              UNION ALL
              SELECT doc_b AS doc, doc_a AS nbr FROM verified),
      lab(doc, lab) AS (
        SELECT DISTINCT doc, doc FROM sym
        UNION
        SELECT sym.doc, lab.lab FROM sym JOIN lab ON lab.doc = sym.nbr),
      comp AS (SELECT doc, min(lab) AS keeper FROM lab GROUP BY doc),
      quality AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN score >= 0.4 THEN 'good'
                    WHEN score >= 0.25 THEN 'ok'
                    ELSE 'poor' END AS grade
        FROM (
          SELECT doc_id, lang, n_chars,
                 floor((0.5 * sr + 0.3 * ls + 0.2 * (1.0 - pr)) * 10000.0) / 10000.0 AS score
          FROM (
            SELECT doc_id, lang, n_chars,
                   len(list_filter(l, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
                     / nullif(len(l)::DOUBLE, 0.0) AS sr,
                   least(1.0, len(l)::DOUBLE / 100.0) AS ls,
                   len(regexp_extract_all(text, '[^a-z0-9 ]'))::DOUBLE
                     / nullif(length(text)::DOUBLE, 0.0) AS pr
            FROM (SELECT doc_id, lang, n_chars, text,
                         list_filter(string_split(text, ' '), x -> x <> '') AS l
                  FROM documents)))),
      curated AS (
        SELECT q.doc_id, q.lang, q.n_chars
        FROM quality q LEFT JOIN comp ON comp.doc = q.doc_id
        WHERE q.grade <> 'poor'
          AND (comp.doc IS NULL OR comp.keeper = q.doc_id))
      SELECT lang, count(*) AS n_docs,
             floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 10000.0) / 10000.0 AS avg_chars,
             count(DISTINCT label) AS n_labels
      FROM curated JOIN embeddings ON doc_id = vec_id
      GROUP BY lang ORDER BY lang"""

  /** Deterministic hash-bucket train/validation/test split — THE split
    * mechanism at 100 TB: no sampling pass, no global shuffle, stable
    * under reruns and table growth (membership depends only on doc_id).
    * Portable hash per the repo parity rule:
    * Spark `conv(substr(md5(x),1,8),16,10)` == DuckDB `('0x'||…)::BIGINT`. */
  private def pp02HashSplit(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  /** Decontamination: drop corpus documents sharing ANY 5-word shingle
    * with the benchmark/eval set (held out here as doc_id % 97 == 0 — a
    * deterministic stand-in for a real eval suite). Scale shape: the
    * benchmark shingle set is tiny → broadcast to the corpus-shingle
    * equi-join; contaminated ids then anti-join the corpus. Linear in
    * corpus shingles, no all-pairs anything. */
  private def pp03Decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    def shingles(df: DataFrame): DataFrame = df
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), expr("word_ngrams(toks, 5)").as("g"))
    val benchG = shingles(docs.filter(col("doc_id") % 97 === 0))
      .select(col("g")).distinct()
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val contaminated = shingles(corpus)
      .join(broadcast(benchG), "g")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_clean"),
        sum(col("n_chars")).as("clean_chars"))
      .orderBy(col("lang"))
  }

  /** Contamination REPORT (the audit artifact, complementing pp03's
    * drop-based decontam): per eval-set document, the fraction of its
    * distinct 5-gram shingles that appear anywhere in the training corpus
    * — what a team actually publishes next to a benchmark score. Scale
    * posture mirrors pp03: the corpus side streams ONCE and is semi-joined
    * against the broadcast (eval-sized) shingle set; only eval-sized
    * frames are ever broadcast, never corpus-sized. */
  private def pp08ContamReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    def shingles(df: DataFrame): DataFrame = df
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), expr("word_ngrams(toks, 5)").as("g"))
    val bench = shingles(docs.filter(col("doc_id") % 97 === 0))
    val benchSet = bench.select(col("g")).distinct()
    // bench shingles that occur in the corpus: corpus streams, bench-sized
    // build side broadcasts, result is again at most bench-sized
    val hit = shingles(docs.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchSet), Seq("g"))
      .select(col("g")).distinct()
      .withColumn("_hit", lit(1))
    bench
      .join(broadcast(hit), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_overlap"))
      .withColumn("contam_frac",
        floor(col("n_overlap").cast("double") / col("n_shingles").cast("double")
          * lit(10000.0)) / lit(10000.0))
      .orderBy(col("doc_id"))
  }

  /** Domain mixing: per-source quality quota — keep the top 10 documents
    * of each source by quality score (deterministic doc_id tie-break),
    * then report the per-source mix. The row_number window gets
    * WindowGroupLimit rank pushdown, so each task retains only its local
    * top-K before the shuffle — the 100 TB-safe top-K-per-group shape. */
  private def pp04DomainMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    TextAnalysis.qualityScored(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), col("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        // score is floor-scaled on both engines → min is engine-exact
        min(col("score")).as("cutoff_score"),
        sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("source"))
  }

  /** PII pseudonymization pass — the redaction step a compliance-bound
    * pipeline runs before any text leaves the trust boundary. Per-row and
    * shuffle-free (the 100 TB shape): identifier digits masked except a
    * 3-char verification suffix, the full name replaced by a stable md5
    * pseudonym (joinable across tables without exposing the source value),
    * balances coarsened to 1k buckets so the output is k-anonymous-ish
    * rather than exact. Regex is a plain char class — identical semantics
    * in Java regex and DuckDB's RE2 (no lookaround, which RE2 lacks). */
  private def pp05PiiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "customer")
      .select(
        col("c_custkey"),
        expr("substr(md5(c_name), 1, 16)").as("pseudonym"),
        concat(
          regexp_replace(expr("substring(c_name, 1, length(c_name) - 3)"), "[0-9]", "*"),
          expr("substring(c_name, length(c_name) - 2, 3)")).as("masked_name"),
        expr("regexp_count(c_name, '[0-9]')").cast("long").as("n_digits"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_bucket"))
      .orderBy(col("c_custkey"))

  /** Deterministic mixture sampling — hitting a target domain mix without
    * a sampling pass or a shuffle: each source gets a keep-rate, membership
    * is md5-bucket < rate·100 (same portable hash as pp02, so the sample
    * is stable under reruns and table growth, and composes with the pp02
    * split — a doc's split and its sample fate are independent hash bits
    * because the salts differ). The rates table is a tiny literal map —
    * broadcast-free per-row math at 100 TB. */
  private def pp06MixtureSample(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(concat('mix_', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("rate",
        when(col("source") === "src0", 100)
          .when(col("source") === "src1", 50)
          .when(col("source") === "src2", 25)
          .otherwise(10))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        expr("count_if(bucket < rate)").as("n_kept"),
        sum(when(col("bucket") < col("rate"), col("n_chars")).otherwise(lit(0L))).as("kept_chars"))
      .orderBy(col("source"))

  /** Capstone #2 — the corpus-build composition over the NEWER operator
    * set: repetition filter (tx05's flag) → rarity filter (tx06's
    * corpus-frequency signal) → deterministic mixture sampling (pp06) →
    * hash split (pp02) → per-(split, source) corpus report. Every stage is
    * per-row math or one shuffle; the oracle replays the whole composition
    * in a single DuckDB statement, so the gate checks stage INTERACTIONS
    * (filter-before-sample ordering, hash-bit independence), not just the
    * parts. */
  private def pp07CorpusBuild(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.read(s, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") >= 3)
    // tx05 repetition flag
    val flagged = toks
      .withColumn("top_frac",
        floor(expr("top_count(toks)").cast("double") / col("n_tok").cast("double")
          * lit(10000.0)) / lit(10000.0))
      .withColumn("dup3_frac",
        floor((lit(1.0) - size(expr("word_ngrams_arr(toks, 3)")).cast("double")
          / (col("n_tok") - 2).cast("double")) * lit(10000.0)) / lit(10000.0))
      .filter(!(col("top_frac") >= 0.2 || col("dup3_frac") >= 0.05))
    // tx06 rarity: drop rare-heavy docs (rare_ratio over the FULL corpus
    // frequency table — computed before any filtering, like a real model)
    val tokRows = Tables.read(s, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
    val freq = tokRows.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // No broadcast hint: the vocabulary is Zipf-unbounded at corpus scale;
    // AQE picks broadcast only when the frequency table is actually small.
    val rare = tokRows.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg((floor(expr("count_if(freq <= 2)").cast("double")
        / count(lit(1)).cast("double") * lit(10000.0)) / lit(10000.0)).as("rare_ratio"))
    val kept = flagged.join(rare, "doc_id").filter(col("rare_ratio") <= 0.02)
    // pp06 mixture sample + pp02 split (independent salted hash bits)
    kept
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(concat('mix_', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("rate",
        when(col("source") === "src0", 100)
          .when(col("source") === "src1", 50)
          .when(col("source") === "src2", 25)
          .otherwise(10))
      .filter(col("bucket") < col("rate"))
      .withColumn("sb",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("sb") < 80, "train").when(col("sb") < 90, "validation").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"), col("source"))
  }

  /** Sequence packing — the concat-then-chunk shape GPT-style training
    * uses: documents in deterministic (doc_id) order, token budget 256 per
    * pack, a doc landing on a boundary spills into the next pack (pack =
    * floor(tokens-before / budget)). Scale posture: the global prefix sum
    * is computed DISTRIBUTED — contiguous doc_id buckets get per-bucket
    * running totals (window partitioned by bucket), and the O(buckets)
    * bucket offsets are a tiny broadcast join — never a single-partition
    * global window, which is how a naive ORDER BY window would execute.
    * The bucket size is SCALE-AWARE: ~√(id range), so the offsets side
    * AND the per-bucket windows both stay O(√N) — a fixed size would
    * make the offsets window O(N/c) and eventually reintroduce the
    * single-partition bottleneck it exists to avoid. Bucketing is purely
    * an execution detail: the prefix sum (and so the oracle, which
    * replays a plain global cumsum) is boundary-identical for EVERY
    * bucket size (PackingSuite pins this). */
  private def pp09SequencePacking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("toks"))
    // one column-pruned pre-pass for the id range (cheap next to the
    // shingle-scale work everywhere else in this module)
    val maxId = docs.agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    packWithBucketSize(docs, packingBucketSize(maxId + 1))
  }

  /** ~√range bucket sizing, floored at 100 (below that the offsets table
    * is trivially broadcastable anyway). */
  private[operators] def packingBucketSize(idRange: Long): Long =
    math.max(100L, math.ceil(math.sqrt(math.max(idRange, 1L).toDouble)).toLong)

  /** The distributed prefix-sum packing over explicit buckets — split out
    * so PackingSuite can pin bucket-size invariance. */
  private[operators] def packWithBucketSize(docs: DataFrame, bucketSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 256.0
    val toks = docs
      .withColumn("bucket", (col("doc_id") / bucketSize).cast("long"))
    val offsets = toks.groupBy(col("bucket")).agg(sum(col("toks")).as("btoks"))
      .withColumn("offset", coalesce(
        sum(col("btoks")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val packed = toks.join(broadcast(offsets), "bucket")
      .withColumn("cum_before", col("offset") + coalesce(
        sum(col("toks")).over(Window.partitionBy(col("bucket"))
          .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("pack", floor(col("cum_before") / budget).cast("long"))
    packed.groupBy(col("pack"))
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("ptoks"))
      .agg(
        count(lit(1)).as("n_packs"),
        sum(col("docs")).as("total_docs"),
        (floor(avg(col("docs")) * 10000.0) / 10000.0).as("avg_docs_pack"),
        max(col("ptoks")).as("max_pack_tokens"),
        expr("count_if(ptoks > 256)").as("packs_over_budget"))
  }

  /** Epoch-aware mixture UPSAMPLING (pp10) — the data-recipe stage every
    * LLM training mix publishes (LLaMA-style "epochs per source": wiki
    * 3.4 epochs, crawl 0.5): each document is REPLICATED
    * floor(epochs) times plus one more when its salted hash bucket falls
    * under the fractional part — deterministic fractional repetition, the
    * upsampling dual of pp06's downsampling (rates ≤ 1). The instance
    * stream is a per-row `explode(sequence(1, n_inst))` — bounded
    * fan-out, no shuffle until the terminal per-source report (instances,
    * realized epochs vs target, chars in/out, dropped docs). At 100 TB
    * the replicated stream feeds pp09's packing directly; the hash bucket
    * is salted independently of pp02's split bits so epoch mixing never
    * correlates with train/validation membership. */
  private def pp10EpochMix(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(s, dir, "documents")
      .withColumn("ep_base",
        when(col("source") === "src0", 3L).when(col("source") === "src1", 2L)
          .when(col("source") === "src2", 0L).otherwise(1L))
      .withColumn("ep_fr",
        when(col("source") === "src0", 40L).when(col("source") === "src1", 0L)
          .when(col("source") === "src2", 50L).otherwise(0L))
      .withColumn("b",
        expr("CAST(conv(substr(md5(concat('ep_', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("n_inst",
        col("ep_base") + when(col("b") < col("ep_fr"), 1L).otherwise(0L))
    val perSource = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_in"), expr("count_if(n_inst = 0)").as("n_dropped"))
    // the instance STREAM (what a real pipeline materializes into packing).
    // n_inst = 0 must be filtered BEFORE the explode: Spark's
    // sequence(1, 0) yields a DESCENDING [1, 0] (auto step -1), not empty
    val inst = base.filter(col("n_inst") > 0)
      .withColumn("i", explode(expr("sequence(1L, n_inst)")))
    inst.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_instances"),
        sum(col("n_chars")).as("chars_out"),
        sum(when(col("i") === 1L, col("n_chars")).otherwise(0L)).as("chars_unique"))
      .join(broadcast(perSource), "source")
      .select(
        col("source"), col("n_docs_in"), col("n_dropped"), col("n_instances"),
        (floor(col("n_instances").cast("double") / col("n_docs_in").cast("double")
          * lit(10000.0)) / lit(10000.0)).as("realized_epochs"),
        col("chars_unique"), col("chars_out"))
      .orderBy(col("source"))
  }

  /** Seeded deterministic global shuffle + shard assignment (pp11) — the
    * last materialization step of a training-data pipeline: every
    * document gets a reproducible pseudo-random position (order by
    * md5(seed ‖ doc_id)) and a shard (first 8 hash hex digits mod 8), so
    * the training order is (a) uniform, (b) identical across reruns and
    * engines, and (c) producible WITHOUT a global sort: shard assignment
    * is a per-row hash, and ordering is per-shard (row_number partitioned
    * by shard — the shape that scales, vs. a single-partition global
    * window; at 100 TB each shard sorts independently, which is exactly
    * how sharded training data is laid out). The output pins the whole
    * permutation: per-shard doc counts, id sums, and an order-weighted
    * checksum Σ rank·doc_id that differs if ANY within-shard position
    * moves. */
  private def pp11ShardShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard_id")).orderBy(col("h"), col("doc_id"))
    Tables.read(s, dir, "documents")
      .withColumn("h", md5(concat(lit("sh_"), col("doc_id").cast("string"))))
      .withColumn("shard_id",
        expr("CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) % 8"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("rn") * col("doc_id")).as("ord_check"),
        sum(col("n_chars")).as("chars_total"))
      .orderBy(col("shard_id"))
  }

  /** Dataset card (pp12) — the per-source DATASHEET every released corpus
    * ships (the "datasheets for datasets" artifact): one row per source
    * composing the pipeline's signal families — volume (docs/chars/
    * tokens), vocabulary size, language mix (count + modal language,
    * deterministic tie-break), exact-duplicate mass (dd01's convention
    * scoped per source), and the tx08 classifier keep-rate. Every number
    * is integer-exact or floor-scaled, so the whole card is oracle-
    * hash-gated. Scale posture: one corpus stream feeds K-source hash
    * aggregates; the vocabulary count is the only token-level shuffle
    * (distinct on (source, token) — the tx06 key shape); the K-row
    * summary joins are trivially broadcast. */
  private def pp12DatasetCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.read(s, dir, "documents")
      .withColumn("l", expr("filter(split(text, ' '), x -> x != '')"))
    val base = d
      .withColumn("score", expr(
        "aggregate(transform(l, t -> (CAST(conv(substr(md5(concat('w_', t)), 1, 8), 16, 10) AS BIGINT) % 17) - 8), 0L, (a, x) -> a + x)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_total"),
        sum(size(col("l")).cast("long")).as("tokens_total"),
        expr("count_if(score >= 0)").as("n_kept"))
    val vocab = d.select(col("source"), explode(col("l")).as("w"))
      .groupBy(col("source")).agg(countDistinct(col("w")).as("distinct_tokens"))
    val langs = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val topLang = langs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang"))))
      .filter(col("rk") === 1).select(col("source"), col("lang").as("top_lang"))
    val nLangs = langs.groupBy(col("source")).agg(count(lit(1)).as("n_langs"))
    val dups = d.groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg((sum(col("c")) - count(lit(1))).as("dup_docs"))
    base
      .join(vocab, "source").join(nLangs, "source")
      .join(topLang, "source").join(dups, "source")
      .withColumn("keep_ratio",
        floor(col("n_kept").cast("double") / col("n_docs").cast("double")
          * lit(10000.0)) / lit(10000.0))
      .select(
        col("source"), col("n_docs"), col("chars_total"), col("tokens_total"),
        col("distinct_tokens"), col("n_langs"), col("top_lang"),
        col("dup_docs"), col("n_kept"), col("keep_ratio"))
      .orderBy(col("source"))
  }

  private val duckQualityCte: String = """
      quality AS (
        SELECT doc_id, source, n_chars,
               floor((0.5 * sr + 0.3 * ls + 0.2 * (1.0 - pr)) * 10000.0) / 10000.0 AS score
        FROM (
          SELECT doc_id, source, n_chars,
                 len(list_filter(l, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
                   / nullif(len(l)::DOUBLE, 0.0) AS sr,
                 least(1.0, len(l)::DOUBLE / 100.0) AS ls,
                 len(regexp_extract_all(text, '[^a-z0-9 ]'))::DOUBLE
                   / nullif(length(text)::DOUBLE, 0.0) AS pr
          FROM (SELECT doc_id, source, n_chars, text,
                       list_filter(string_split(text, ' '), x -> x <> '') AS l
                FROM documents)))"""

  val oracleSql: Map[String, String] = Map(
    "pp01_curation" -> oracle,
    "pp12_dataset_card" -> """
      WITH d AS (SELECT doc_id, source, lang, n_chars, text,
                        list_filter(string_split(text, ' '), x -> x <> '') AS l
                 FROM documents),
      base AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total,
               CAST(sum(len(l)) AS BIGINT) AS tokens_total,
               CAST(count_if(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(l, t -> ('0x' || substr(md5('w_' || t), 1, 8))::BIGINT % 17 - 8)),
                      (a, x) -> a + x) >= 0) AS BIGINT) AS n_kept
        FROM d GROUP BY 1),
      vocab AS (SELECT source, count(DISTINCT w) AS distinct_tokens
                FROM (SELECT source, unnest(l) AS w FROM d) GROUP BY 1),
      langs AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2),
      toplang AS (SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rk
        FROM langs) WHERE rk = 1),
      nlangs AS (SELECT source, count(*) AS n_langs FROM langs GROUP BY 1),
      dups AS (SELECT source, CAST(sum(c) - count(*) AS BIGINT) AS dup_docs FROM
        (SELECT source, md5(text) AS h, count(*) AS c FROM d GROUP BY 1, 2) GROUP BY 1)
      SELECT base.source AS source, n_docs, chars_total, tokens_total,
             distinct_tokens, n_langs, top_lang, dup_docs, n_kept,
             floor(n_kept::DOUBLE / n_docs::DOUBLE * 10000.0) / 10000.0 AS keep_ratio
      FROM base
      JOIN vocab ON base.source = vocab.source
      JOIN nlangs ON base.source = nlangs.source
      JOIN toplang ON base.source = toplang.source
      JOIN dups ON base.source = dups.source
      ORDER BY base.source""",
    "pp11_shard_shuffle" -> """
      WITH h AS (SELECT doc_id, n_chars, md5('sh_' || doc_id::VARCHAR) AS h
                 FROM documents),
      sh AS (SELECT doc_id, n_chars, h,
                    ('0x' || substr(h, 1, 8))::BIGINT % 8 AS shard_id FROM h),
      r AS (SELECT doc_id, n_chars, shard_id,
                   row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS rn
            FROM sh)
      SELECT shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
             CAST(sum(rn * doc_id) AS BIGINT) AS ord_check,
             CAST(sum(n_chars) AS BIGINT) AS chars_total
      FROM r GROUP BY 1 ORDER BY 1""",
    "pp10_epoch_mix" -> """
      WITH base AS (
        SELECT doc_id, source, n_chars,
               CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
                           WHEN 'src2' THEN 0 ELSE 1 END
                 + CASE WHEN ('0x' || substr(md5('ep_' || doc_id::VARCHAR), 1, 8))::BIGINT % 100
                             < CASE source WHEN 'src0' THEN 40 WHEN 'src2' THEN 50 ELSE 0 END
                        THEN 1 ELSE 0 END AS n_inst
        FROM documents),
      per_source AS (
        SELECT source, count(*) AS n_docs_in,
               CAST(count_if(n_inst = 0) AS BIGINT) AS n_dropped
        FROM base GROUP BY 1),
      inst AS (
        SELECT source, n_chars, unnest(generate_series(1, n_inst)) AS i
        FROM base WHERE n_inst > 0),
      agg AS (
        SELECT source, count(*) AS n_instances,
               CAST(sum(n_chars) AS BIGINT) AS chars_out,
               CAST(sum(CASE WHEN i = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_unique
        FROM inst GROUP BY 1)
      SELECT a.source, p.n_docs_in, p.n_dropped, a.n_instances,
             floor(a.n_instances::DOUBLE / p.n_docs_in::DOUBLE * 10000.0) / 10000.0
               AS realized_epochs,
             a.chars_unique, a.chars_out
      FROM agg a JOIN per_source p ON a.source = p.source
      ORDER BY a.source""",
    "pp09_sequence_packing" -> """
      WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        FROM documents),
      c AS (
        SELECT doc_id, toks,
               COALESCE(sum(toks) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM t),
      g AS (
        SELECT CAST(floor(cum_before / 256.0) AS BIGINT) AS pack,
               count(*) AS docs, sum(toks) AS ptoks
        FROM c GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_packs,
             CAST(sum(docs) AS BIGINT) AS total_docs,
             floor(avg(docs) * 10000.0) / 10000.0 AS avg_docs_pack,
             CAST(max(ptoks) AS BIGINT) AS max_pack_tokens,
             CAST(count(*) FILTER (ptoks > 256) AS BIGINT) AS packs_over_budget
      FROM g""",
    "pp02_hash_split" -> """
      SELECT split, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM (SELECT lang, n_chars,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'validation'
                        ELSE 'test' END AS split
            FROM (SELECT lang, n_chars,
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
                  FROM documents))
      GROUP BY split ORDER BY split""",
    "pp08_contam_report" -> """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS l
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(
                 CASE WHEN len(l) >= 5
                   THEN list_transform(generate_series(1, len(l) - 4),
                          i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])
                   ELSE [] END)) AS g
        FROM toks),
      bench AS (SELECT doc_id, g FROM g WHERE doc_id % 97 = 0),
      corpusg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 <> 0),
      hit AS (SELECT DISTINCT b.g FROM (SELECT DISTINCT g FROM bench) b
              JOIN corpusg c ON b.g = c.g)
      SELECT bench.doc_id, count(*) AS n_shingles,
             CAST(count(h.g) AS BIGINT) AS n_overlap,
             floor(count(h.g)::DOUBLE / count(*)::DOUBLE * 10000.0) / 10000.0 AS contam_frac
      FROM bench LEFT JOIN hit h ON bench.g = h.g
      GROUP BY bench.doc_id ORDER BY bench.doc_id""",
    "pp03_decontam" -> """
      WITH toks AS (
        SELECT doc_id, lang, n_chars,
               list_filter(string_split(text, ' '), x -> x <> '') AS l
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(
                 CASE WHEN len(l) >= 5
                   THEN list_transform(generate_series(1, len(l) - 4),
                          i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])
                   ELSE [] END)) AS g
        FROM toks),
      bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
      contaminated AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)
        WHERE g.doc_id % 97 <> 0)
      SELECT lang, count(*) AS n_clean, CAST(sum(n_chars) AS BIGINT) AS clean_chars
      FROM documents
      WHERE doc_id % 97 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      GROUP BY lang ORDER BY lang""",
    "pp04_domain_mix" -> s"""
      WITH $duckQualityCte,
      ranked AS (
        SELECT source, n_chars, score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id) AS rk
        FROM quality)
      SELECT source, count(*) AS n_kept,
             min(score) AS cutoff_score,
             CAST(sum(n_chars) AS BIGINT) AS kept_chars
      FROM ranked WHERE rk <= 10
      GROUP BY source ORDER BY source""",
    "pp07_corpus_build" -> """
      WITH d AS (SELECT doc_id, source, n_chars,
                        list_filter(string_split(text, ' '), x -> x <> '') AS l
                 FROM documents),
      t3 AS (SELECT doc_id, source, n_chars, l, len(l) AS n FROM d WHERE len(l) >= 3),
      flagged AS (
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 floor(list_max(list_transform(list_distinct(l),
                     t -> len(list_filter(l, x -> x = t))))::DOUBLE
                   / n::DOUBLE * 10000.0) / 10000.0 AS top_frac,
                 floor((1.0 - len(list_distinct(list_transform(generate_series(1, n - 2),
                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])))::DOUBLE
                   / (n - 2)::DOUBLE) * 10000.0) / 10000.0 AS dup3_frac
          FROM t3)
        WHERE NOT (top_frac >= 0.2 OR dup3_frac >= 0.05)),
      tok AS (SELECT doc_id, unnest(l) AS tok FROM d),
      f AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
      rare AS (
        SELECT doc_id,
               floor(CAST(count_if(freq <= 2) AS DOUBLE) / count(*) * 10000.0) / 10000.0 AS rare_ratio
        FROM tok JOIN f USING (tok) GROUP BY doc_id),
      kept AS (
        SELECT flagged.doc_id, source, n_chars FROM flagged
        JOIN rare ON rare.doc_id = flagged.doc_id
        WHERE rare_ratio <= 0.02),
      sampled AS (
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 ('0x' || substr(md5('mix_' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
                 CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                             WHEN 'src2' THEN 25 ELSE 10 END AS rate
          FROM kept)
        WHERE bucket < rate)
      SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM (SELECT source, n_chars,
                   CASE WHEN sb < 80 THEN 'train'
                        WHEN sb < 90 THEN 'validation'
                        ELSE 'test' END AS split
            FROM (SELECT source, n_chars,
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS sb
                  FROM sampled))
      GROUP BY split, source ORDER BY split, source""",
    "pp06_mixture_sample" -> """
      SELECT source, count(*) AS n_total,
             CAST(count_if(bucket < rate) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM (SELECT source, n_chars,
                   ('0x' || substr(md5('mix_' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
                   CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                               WHEN 'src2' THEN 25 ELSE 10 END AS rate
            FROM documents)
      GROUP BY source ORDER BY source""",
    "pp05_pii_redact" -> """
      SELECT c_custkey,
             substr(md5(c_name), 1, 16) AS pseudonym,
             regexp_replace(substr(c_name, 1, length(c_name) - 3), '[0-9]', '*', 'g')
               || substr(c_name, length(c_name) - 2, 3) AS masked_name,
             CAST(len(regexp_extract_all(c_name, '[0-9]')) AS BIGINT) AS n_digits,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      FROM customer ORDER BY c_custkey""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pp01_curation" -> pp01Curation,
    "pp02_hash_split" -> pp02HashSplit,
    "pp03_decontam" -> pp03Decontam,
    "pp04_domain_mix" -> pp04DomainMix,
    "pp05_pii_redact" -> pp05PiiRedact,
    "pp06_mixture_sample" -> pp06MixtureSample,
    "pp07_corpus_build" -> pp07CorpusBuild,
    "pp08_contam_report" -> pp08ContamReport,
    "pp09_sequence_packing" -> pp09SequencePacking,
    "pp10_epoch_mix" -> pp10EpochMix,
    "pp11_shard_shuffle" -> pp11ShardShuffle,
    "pp12_dataset_card" -> pp12DatasetCard)
}
