package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver gates for the curation-SIGNAL operators ([[Signals]]): the
  * model-shaped and graph-shaped scores a pipeline ranks corpora by —
  * a hashed linear quality classifier (q145), link-graph PageRank
  * (q146), DSIR-style importance weights (q147), hybrid sparse+dense
  * retrieval fused by reciprocal rank (q148), TF-IDF keyword extraction
  * (q149), and the small-file compaction planner (q150). Every gate's
  * DuckDB oracle independently replays the full computation — seeded
  * weights, unrolled PageRank iterations, both retrieval rankings —
  * from the same closed forms.
  */
object SignalQueries {
  import PipelineQueries.{cosineSql, dupCorpus}

  /** The portable polynomial token hash ([[Dedup.polyHash]]) as DuckDB
    * SQL over column `c` — the same fold the q22 simhash oracle replays. */
  private def polyHashSql(c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, length($c)),
       |                     i -> CAST(ascii(substr($c, i, 1)) AS BIGINT))),
       |      (acc, ch) -> (acc * 31 + ch) % 2147483647)""".stripMargin

  /** q145: hashed-feature linear classifier over the corpus
    * ([[Signals.hashedLogit]], 4096 buckets, seed 29) — the fastText-
    * shaped model-based quality filter. */
  def q145QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    Signals.hashedLogit(Tables.documents(spark, dir), "doc_id", "text",
        buckets = 4096, seed = 29L)
      .orderBy(col("doc_id"))

  /** The deterministic synthetic link graph the graph gates share —
    * every doc links to (id·7+1, id·11+3, id·13+7) mod N (raw: self-loop
    * and duplicate filtering is each consumer's contract, mirroring the
    * oracle's `e` CTE). */
  private def linkEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).cast("long").as("nn"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") * 7 + 1, col("nn")),
          pmod(col("doc_id") * 11 + 3, col("nn")),
          pmod(col("doc_id") * 13 + 7, col("nn")))).as("dst"))
  }

  /** q146: 3-iteration integer PageRank over the [[linkEdges]] graph,
    * self-loops dropped, parallel edges deduped. The oracle unrolls all
    * three iterations in SQL. */
  def q146PageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    Signals.pageRank(docs, "doc_id", linkEdges(spark, dir), "src", "dst",
        iters = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q147: DSIR-style importance ranking — bucket weights from the
    * English-vs-all token ratio ([[Signals.importanceWeights]], 1024
    * buckets), top-5 docs per source by truncated mean weight. */
  def q147ImportanceRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val iw = Signals.importanceWeights(docs, "doc_id", "text",
      col("lang") === "en", buckets = 1024)
    OrderStats.topKPer(iw.join(docs.select(col("doc_id"), col("source")),
        "doc_id"), col("source"), 5)(col("imp_ppm").desc, col("doc_id"))
      .select(col("source"), col("rank"), col("doc_id"), col("n_toks"),
        col("imp_ppm"))
      .orderBy(col("source"), col("rank"))
  }

  /** q148: hybrid retrieval — BM25 top-20 (first-4-token queries from
    * docs 0-4, the q67 recipe) and dense cosine top-20 over the aligned
    * embeddings, fused by reciprocal rank ([[Signals.rrfFuse]], top-10).
    * The oracle replays BOTH rankers and the fusion arithmetic. */
  def q148HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val qterms = OrderStats.topKPer(docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .distinct(), col("query_id"), 4, "r")(col("term"))
      .drop("r")
    val sparse = Retrieval.bm25TopK(docs, "doc_id", "text", qterms,
        "query_id", "term", k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = Tables.embeddings(spark, dir)
    val dense = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5),
        emb, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Signals.rrfFuse(Seq(sparse, dense), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q149: top-3 TF-IDF keywords per document
    * ([[Signals.tfidfKeywords]], rational idf — exact integer ppm). */
  def q149TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    Signals.tfidfKeywords(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** q150: compaction plan for the corpus modeled as one file per
    * (source, doc_id div 16) group sized by characters —
    * [[Signals.compactionPlan]] bins neighboring files toward 32 KiB
    * outputs. */
  def q150CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Tables.documents(spark, dir)
      .groupBy(col("source"), expr("doc_id div 16").as("file_id"))
      .agg(sum(col("n_chars")).cast("long").as("bytes"))
    Signals.compactionPlan(files, "source", "file_id", "bytes",
        target = 32768L)
      .orderBy(col("source"), col("bin"))
  }

  /** q151: weighted priority sampling — per source, the 10 docs with the
    * smallest `(hash·10⁶) div token_count` priority
    * ([[Sampling.prioritySample]], seed 23): longer docs are favored,
    * the pick is one bounded-buffer aggregation. */
  def q151WeightedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("n_toks")),
        "source", "doc_id", "n_toks", k = 10, seed = 23L)
      .orderBy(col("source"), col("rank"))

  /** q152: anchor-profile aggregation over the [[linkEdges]] graph —
    * per link target: in-degree, distinct linking sources, and the most
    * common rank-1 TF-IDF keyword among its linkers
    * ([[Signals.anchorProfile]]). */
  def q152AnchorProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kw1 = Signals.tfidfKeywords(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", k = 1)
      .select(col("doc_id"), col("term").as("kw"))
    val attrs = docs.select(col("doc_id"), col("source")).join(kw1, "doc_id")
    val e = linkEdges(spark, dir)
      .filter(col("src") =!= col("dst")).distinct()
    Signals.anchorProfile(e, "src", "dst", attrs, "doc_id", "source", "kw")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q153: 1-or-2-hop neighborhood size per node on the [[linkEdges]]
    * graph ([[Signals.twoHopReach]]). */
  def q153TwoHopReach(spark: SparkSession, dir: String): DataFrame =
    Signals.twoHopReach(Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", linkEdges(spark, dir), "src", "dst")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** q154: corpus-adaptive stopword discovery (terms in ≥ 50% of docs)
    * + per-doc information density ([[Signals.stopwordDensity]]). */
  def q154StopwordDensity(spark: SparkSession, dir: String): DataFrame =
    Signals.stopwordDensity(Tables.documents(spark, dir), "doc_id", "text",
        thresholdPct = 50L)
      .orderBy(col("doc_id"))

  /** q155: product-quantization ANN — per-subspace codebooks trained
    * fully relationally (integer-fixed-point Lloyd step, codebook never
    * on the driver), corpus stored as 4 centroid codes per vector, and
    * asymmetric-distance top-5 for queries vec_id < 10
    * ([[Similarity.pqTopK]], m=4, dsub=16, ksub=8). The oracle replays
    * training, encoding, and the fixed-order ADC sum. */
  def q155PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
        "embedding", m = 4, dsub = 16, ksub = 8, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q156: shard-level Bloom skipping index — one filter per
    * knuthHash-mod-8 shard over document fingerprints
    * ([[Bloom.buildBitmaps]]), probed with 20 present + 20 absent keys:
    * which shards would a reader scan, and is the true shard always
    * among them (no false negatives; absent keys count false
    * positives). */
  def q156ShardBloomIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keyed = docs.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      .withColumn("shard", pmod(Layout.knuthHash(col("doc_id")), lit(8L)))
    val bitmaps = Bloom.buildBitmaps(keyed, "shard", "fp",
      numBits = 4096, numHashes = 3, seed = 77L)
    val present = keyed.filter(col("doc_id") < 20)
      .select(col("doc_id").as("probe_id"), col("fp"),
        col("shard").as("true_shard"))
    val absent = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000L).as("probe_id"),
        md5(concat(lit("absent-"), (col("doc_id") + 1000L).cast("string")))
          .as("fp"),
        lit(-1L).as("true_shard"))
    present.unionByName(absent)
      .crossJoin(broadcast(bitmaps))
      .withColumn("hit", Bloom.mightContain(col("bloom"),
        Dedup.polyHash(col("fp")), 4096, 3, 77L))
      .groupBy(col("probe_id"), col("true_shard"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).cast("long")
          .as("n_shards_hit"),
        max(when(col("shard") === col("true_shard") && col("hit"), 1L)
          .otherwise(0L)).as("ht"))
      .select(col("probe_id"), col("n_shards_hit"), col("true_shard"),
        (col("ht") === 1L).as("hit_true_shard"))
      .orderBy(col("probe_id"))
  }

  /** q157: the signal layer END TO END — every doc scored by all four
    * signals (classifier logit, PageRank centrality, importance ppm,
    * information density), gated by the classifier, and the kept docs
    * budget-filled per source in (importance desc, centrality desc)
    * order under a half-corpus Hamilton allocation. One row per doc
    * with its full signal vector and fate; the oracle replays the
    * entire composition — certifying the hand-offs (fill sees only kept
    * docs, allocation is computed over kept totals), the q143
    * discipline applied to the signal family. */
  def q157SignalFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the four signal branches + the budget fill each re-derive from the
    // corpus; without reuse the plan scans `documents` 12× (ScanReuseProbe,
    // round 8). One eager localCheckpoint materializes the corpus once and
    // every branch reads the checkpointed partitions. Caveat: the blocks
    // are executor-local and lineage-free, so the plan is not recoverable
    // on executor loss and the scan runs eagerly at build time — right
    // for this bench; a production cluster run at scale should swap in
    // persist(StorageLevel.DISK_ONLY) (lineage kept, spillable) or a
    // reliable checkpoint to shared storage.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .localCheckpoint()
    val base = docs.select(col("doc_id"), col("source"),
      TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
    val cl = Signals.hashedLogit(docs, "doc_id", "text")
      .select(col("doc_id"), col("logit"), col("accept"))
    val pr = Signals.pageRank(docs.select(col("doc_id")), "doc_id",
        linkEdges(spark, dir), "src", "dst", iters = 3)
      .select(col("id").as("doc_id"), col("rank").as("prank"))
    val iw = Signals.importanceWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 1024)
      .select(col("doc_id"), col("imp_ppm"))
    val dens = Signals.stopwordDensity(docs, "doc_id", "text", 50L)
      .select(col("doc_id"), col("density_ppm"))
    val sig = base.join(cl, "doc_id").join(pr, "doc_id")
      .join(iw, "doc_id").join(dens, "doc_id")
      .withColumn("is_kept", col("accept"))
    val kept = sig.filter(col("is_kept"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("imp_ppm"), col("prank"))
    val alloc = Sampling.budgetAllocate(kept, "source", "doc_id", "n_toks",
        num = 1, den = 2)
      .select(col("source"), col("alloc_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("imp_ppm").desc, col("prank").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sel = kept
      .withColumn("tb", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .join(broadcast(alloc), Seq("source"))
      .select(col("doc_id"), (col("tb") < col("alloc_tokens")).as("sel"))
    sig.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("logit"), col("prank"),
        col("imp_ppm"), col("density_ppm"), col("is_kept"),
        coalesce(col("sel"), lit(false)).as("is_selected"))
      .orderBy(col("doc_id"))
  }

  /** q160: incremental aggregate maintenance — the materialized-view
    * pattern a standing 100 TB summary lives by: the base corpus's
    * aggregate STATE (count, decimal sum, min/max — all mergeable) is
    * persisted to parquet, read back, and merged with the delta batch's
    * state; the oracle recomputes from scratch over the full table,
    * proving merge ≡ recompute. Decimal sums are associative-exact, so
    * the two-stage path is bit-identical; the derived average divides
    * only at the edge. (The streaming twin is q114's upsert; this is
    * the BATCH maintenance loop with state round-tripped through
    * storage.) */
  def q160IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    val out = Fixtures.tempDir("graft-q160-").resolve("mv_state").toString
    state(li.filter(col("l_orderkey") % 4 =!= 3))
      .write.mode("overwrite").parquet(out)
    val stored = spark.read.parquet(out)
    stored.unionByName(state(li.filter(col("l_orderkey") % 4 === 3)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sum_qty")).as("sq"),
        min(col("min_price")).as("min_price"),
        max(col("max_price")).as("max_price"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("sq").cast("double").as("sum_qty"),
        (col("sq").cast("double") / col("n").cast("double")).as("avg_qty"),
        col("min_price"), col("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q161: item-item co-occurrence from the click log
    * ([[Signals.bipartiteProject]]): items = the JSON `k` prop, hot-user
    * cap 20, min support 2 — the collaborative-filtering projection. */
  def q161ItemCooccur(spark: SparkSession, dir: String): DataFrame =
    Signals.bipartiteProject(
        Tables.events(spark, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull),
        "user_id", "item", maxItemsPerUser = 20L, minSupport = 2L)
      .orderBy(col("item_a"), col("item_b"))

  /** q163: the dedup CASCADE with stage attribution — exact fingerprint,
    * then n-gram Jaccard (q20's operator), then portable SimHash (q22's),
    * with first-catch-wins precedence: every doc reports which stage
    * would drop it, or `none`. The composition certifies the three
    * already-gated dedups agree on one corpus and that precedence is
    * well-defined (a doc caught by `exact` is never re-attributed). A
    * production cascade runs cheapest-first exactly like this, dropping
    * exact dups before the shingle join ever sees them. */
  def q163DedupCascade(spark: SparkSession, dir: String): DataFrame = {
    // NOTE (round 8): the plan shows 16 re-derivations of the corpus
    // union, and an eager localCheckpoint looks like the obvious fix —
    // measured, it is a 6× REGRESSION (2.4 s → 15.1 s at sf0.1): the
    // checkpointed rows lose the columnar parquet scan that feeds the
    // shingle/simhash stages' codegen pipelines, and 16 scans of a
    // columnar file are cheaper than 16 RDD re-reads of materialized
    // rows. The repeated scans ARE the right plan here (each stage
    // prunes to (doc_id, text) and fuses its fingerprint arithmetic
    // into the scan stage); q157 keeps its checkpoint because its
    // branches are aggregation-heavy, not scan-fused.
    val corpus = dupCorpus(spark, dir)
    val withFp = corpus.withColumn("fp", TextOps.fingerprint(col("text")))
    val keeper = withFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"))
    val near = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 5, threshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("nr", lit(true))
    val sim = Dedup.simhashPairsPortable(corpus, "doc_id", "text",
        maxDist = 3)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("sm", lit(true))
    withFp.join(keeper, "fp")
      .withColumn("is_exact", col("doc_id") > col("keeper"))
      .join(near, Seq("doc_id"), "left")
      .join(sim, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact"),
        coalesce(col("nr"), lit(false)).as("is_near"),
        coalesce(col("sm"), lit(false)).as("is_sim"),
        when(col("is_exact"), "exact")
          .when(coalesce(col("nr"), lit(false)), "near")
          .when(coalesce(col("sm"), lit(false)), "simhash")
          .otherwise("none").as("caught_by"))
      .orderBy(col("doc_id"))
  }

  /** q164: 2-iteration integer HITS over the [[linkEdges]] graph
    * ([[Signals.hits]]) — hub/authority scores max-normalized in exact
    * integers; the oracle unrolls both rounds. */
  def q164Hits(spark: SparkSession, dir: String): DataFrame =
    Signals.hits(Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", linkEdges(spark, dir), "src", "dst", iters = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** q165: global score calibration ([[Signals.calibrateScores]]) —
    * every doc's quality score mapped to its midpoint-rank ppm on the
    * corpus-wide distribution via the broadcast histogram (no global
    * data window). */
  def q165ScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text"), PipelineQueries.stopwords)
          .cast("long").as("q"))
    Signals.calibrateScores(scored, "q")
      .select(col("doc_id"), col("source"), col("q"), col("calib_ppm"))
      .orderBy(col("doc_id"))
  }

  /** q167: Unicode NFC normalization ([[TextOps.nfcNormalize]], native
    * codegen expression) — every third doc gets a combining-mark suffix,
    * every third-plus-one the precomposed equivalent; the gate reports
    * per-doc change flags and codepoint lengths, and proves the
    * combining-mark variant composes to one codepoint fewer. */
  def q167UnicodeNfc(spark: SparkSession, dir: String): DataFrame = {
    val t2 = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" cafe\u0301"))
        .when(col("doc_id") % 3 === 1, lit(" caf\u00e9"))
        .otherwise(lit("")))
    Tables.documents(spark, dir).select(col("doc_id"), t2.as("t"))
      .withColumn("n", TextOps.nfcNormalize(col("t")))
      .select(col("doc_id"), (col("n") =!= col("t")).as("changed"),
        length(col("t")).cast("long").as("len_before"),
        length(col("n")).cast("long").as("len_after"))
      .orderBy(col("doc_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_dedup_cascade"      -> q163DedupCascade _,
    "q164_hits"               -> q164Hits _,
    "q165_score_calibration"  -> q165ScoreCalibration _,
    "q167_unicode_nfc"        -> q167UnicodeNfc _,
    "q155_pq_ann"             -> q155PqAnn _,
    "q156_shard_bloom"        -> q156ShardBloomIndex _,
    "q157_signal_fusion"      -> q157SignalFusion _,
    "q160_incremental_agg"    -> q160IncrementalAgg _,
    "q161_item_cooccur"       -> q161ItemCooccur _,
    "q145_quality_classifier" -> q145QualityClassifier _,
    "q146_pagerank"           -> q146PageRank _,
    "q147_importance_rank"    -> q147ImportanceRank _,
    "q148_hybrid_rrf"         -> q148HybridRrf _,
    "q149_tfidf_keywords"     -> q149TfidfKeywords _,
    "q150_compaction_plan"    -> q150CompactionPlan _,
    "q151_weighted_sample"    -> q151WeightedSample _,
    "q152_anchor_profile"     -> q152AnchorProfile _,
    "q153_two_hop_reach"      -> q153TwoHopReach _,
    "q154_stopword_density"   -> q154StopwordDensity _,
  )

  /** q145's seeded weight coefficients — same closed form as the engine. */
  private val (wA, wB) = Sampling.coef(29L)

  /** q151's seeded priority-hash coefficients. */
  private val (sA, sB) = Sampling.coef(23L)
  private val P = Sampling.P

  /** q155: ordered squared-L2 between two SQL list expressions — the
    * oracle twin of [[Similarity.sqDistCols]]. */
  private def sqdSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
       |      (acc, v) -> acc + v)""".stripMargin

  /** q156: the three seeded Bloom hash coefficient pairs (seed 77). */
  private val bloomCoefs: Seq[(Long, Long)] =
    (0 until 3).map(i => Sampling.coef(77L + i))

  /** The [[linkEdges]] graph as shared oracle CTEs (`nn`/`e0`/`e`). */
  private val edgeCtes =
    """nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id*7+1) % n AS dst FROM documents, nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id*11+3) % n FROM documents, nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id*13+7) % n FROM documents, nn),
      |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)""".stripMargin

  /** The q149 tf/df/dl/N relations as shared oracle CTEs (`tf`/`dl`/
    * `dfr`/`nd`/`sc`). */
  private val tfidfCtes =
    """toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM tf GROUP BY term),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
      |    (tf.tf * nd.n_docs * 1000000) // (dfr.df * dl.dl) AS tfidf_ppm
      |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), nd)""".stripMargin

  /** One HITS round as four CTEs: raw authority sums + max-normalize,
    * then raw hub sums + max-normalize. `prevH` is the previous hub
    * relation (columns id, v). */
  private def hitsIter(k: Int, prevH: String): String =
    s"""a${k}raw AS (
       |  SELECT e.dst AS id, CAST(sum($prevH.v) AS BIGINT) AS v
       |  FROM e JOIN $prevH ON $prevH.id = e.src GROUP BY e.dst),
       |a${k}mx AS (SELECT max(v) AS m FROM a${k}raw),
       |a$k AS (SELECT id, (v * 1000000) // m AS v FROM a${k}raw, a${k}mx),
       |h${k}raw AS (
       |  SELECT e.src AS id, CAST(sum(a$k.v) AS BIGINT) AS v
       |  FROM e JOIN a$k ON a$k.id = e.dst GROUP BY e.src),
       |h${k}mx AS (SELECT max(v) AS m FROM h${k}raw),
       |h$k AS (SELECT id, (v * 1000000) // m AS v FROM h${k}raw, h${k}mx)"""
      .stripMargin

  /** One PageRank iteration as a pair of CTEs (contribution sums +
    * new ranks), parameterized by the previous rank relation. */
  private def prIter(i: Int, prev: String): String =
    s"""s$i AS (
       |  SELECT e.dst AS id,
       |    CAST(sum(($prev.r * 85) // (100 * deg.deg)) AS BIGINT) AS s
       |  FROM e JOIN $prev ON $prev.id = e.src
       |  JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst),
       |r$i AS (
       |  SELECT d.doc_id AS id,
       |    CAST(150000000000 + coalesce(s$i.s, 0) AS BIGINT) AS r
       |  FROM documents d LEFT JOIN s$i ON s$i.id = d.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // unigram+bigram features -> polyhash -> seeded bucket weight ->
    // exact integer logit; DuckDB's generate_series(1,0) is empty, so
    // single-token docs get no bigrams (the engine guards the same case)
    "q145_quality_classifier" ->
      s"""WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |wf AS (
        |  SELECT doc_id, list_concat(toks,
        |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |                   i -> toks[i] || ' ' || toks[i+1])) AS feats
        |  FROM base),
        |f AS (SELECT doc_id, unnest(feats) AS f FROM wf),
        |h AS (
        |  SELECT doc_id, ${polyHashSql("f")} AS h
        |  FROM f),
        |wgt AS (
        |  SELECT doc_id,
        |    (((h % 4096) * $wA + $wB) % 2147483647) % 2001 - 1000 AS w
        |  FROM h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(sum(w) AS BIGINT) AS logit,
        |  (sum(w) > 0) AS accept
        |FROM wgt GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // the synthetic link graph + three unrolled integer iterations
    "q146_pagerank" ->
      s"""WITH $edgeCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS ind
        |        FROM e GROUP BY dst),
        |r0 AS (SELECT doc_id AS id, CAST(1000000000000 AS BIGINT) AS r
        |       FROM documents),
        |${prIter(1, "r0")},
        |${prIter(2, "r1")},
        |${prIter(3, "r2")}
        |SELECT r3.id AS doc_id,
        |  coalesce(deg.deg, 0) AS out_deg,
        |  coalesce(ind.ind, 0) AS in_deg,
        |  r3.r AS rank
        |FROM r3
        |LEFT JOIN deg ON deg.src = r3.id
        |LEFT JOIN ind ON ind.dst = r3.id
        |ORDER BY doc_id""".stripMargin,
    // Laplace-smoothed target/raw bucket ratios -> truncated per-doc
    // mean -> top-5 per source
    "q147_importance_rank" ->
      s"""WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS t
        |  FROM documents),
        |hb AS (
        |  SELECT doc_id, is_t, ${polyHashSql("t")} % 1024 AS b
        |  FROM toks),
        |wgt AS (
        |  SELECT b,
        |    ((sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000)
        |      // (count(*) + 1) AS w
        |  FROM hb GROUP BY b),
        |per AS (
        |  SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    CAST(sum(wgt.w) AS BIGINT) AS iw_sum
        |  FROM hb JOIN wgt USING (b) GROUP BY hb.doc_id),
        |r AS (
        |  SELECT d.source, per.doc_id, per.n_toks,
        |    per.iw_sum // per.n_toks AS imp_ppm
        |  FROM per JOIN documents d USING (doc_id)),
        |rk AS (
        |  SELECT source, doc_id, n_toks, imp_ppm,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY imp_ppm DESC, doc_id) AS rank
        |  FROM r)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_toks,
        |  CAST(imp_ppm AS BIGINT) AS imp_ppm
        |FROM rk WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,
    // both rankers replayed in full (BM25 with the q67 expression tree,
    // dense with the exact left-fold cosine), then the integer RRF fold
    "q148_hybrid_rrf" ->
      s"""WITH docs AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM docs) u
        |  GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      AS avgdl
        |  FROM dl),
        |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |qt AS (
        |  SELECT query_id, term FROM (
        |    SELECT query_id, term,
        |      row_number() OVER (PARTITION BY query_id ORDER BY term) AS r
        |    FROM (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term
        |          FROM docs WHERE doc_id < 5) t1) t2
        |  WHERE r <= 4),
        |m AS (
        |  SELECT q.query_id, f.doc_id, f.tf, d.df, l.dl, s.n_docs, s.avgdl
        |  FROM qt q
        |  JOIN tf f ON f.term = q.term
        |  JOIN dfr d ON d.term = q.term
        |  JOIN dl l ON l.doc_id = f.doc_id, stats s),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |    * ((CAST(tf AS DOUBLE) * 2.2)
        |       / (CAST(tf AS DOUBLE)
        |          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS s
        |  FROM m),
        |sagg AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list_prepend(0.0, list_sort(list(s))),
        |      (acc, x) -> acc + x) AS score
        |  FROM sc GROUP BY query_id, doc_id),
        |sparse AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, doc_id) AS BIGINT)
        |        AS rank
        |    FROM sagg) t WHERE rank <= 20),
        |dsc AS (
        |  SELECT q.query_id, e.vec_id AS doc_id, e.embedding AS cv, q.qv,
        |    $cosineSql AS cos
        |  FROM embeddings e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM embeddings WHERE vec_id < 5) q
        |  WHERE e.vec_id <> q.query_id),
        |dense AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |                              ORDER BY cos DESC, doc_id) AS BIGINT)
        |        AS rank
        |    FROM dsc) t WHERE rank <= 20),
        |u AS (
        |  SELECT query_id, doc_id, rank FROM sparse
        |  UNION ALL
        |  SELECT query_id, doc_id, rank FROM dense),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf,
        |    CAST(count(*) AS BIGINT) AS n_rankers
        |  FROM u GROUP BY query_id, doc_id)
        |SELECT query_id, rank, doc_id, rrf, n_rankers FROM (
        |  SELECT query_id, doc_id, rrf, n_rankers,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf DESC, doc_id) AS BIGINT)
        |      AS rank
        |  FROM fused) t
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // tf, df, dl, N replayed; score is one exact integer expression
    "q149_tfidf_keywords" ->
      s"""WITH $tfidfCtes
        |SELECT doc_id, rank, term, tf, df, CAST(tfidf_ppm AS BIGINT) AS tfidf_ppm
        |FROM (
        |  SELECT doc_id, term, tf, df, tfidf_ppm,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf_ppm DESC, term) AS BIGINT)
        |      AS rank
        |  FROM sc) t
        |WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // file synthesis + the exclusive running total + bin arithmetic
    "q150_compaction_plan" ->
      """WITH files AS (
        |  SELECT source, doc_id // 16 AS file_id,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY source, doc_id // 16),
        |c AS (
        |  SELECT source, file_id, bytes,
        |    coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM files)
        |SELECT source, CAST(cum_before // 32768 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  CAST(min(file_id) AS BIGINT) AS first_file,
        |  CAST(max(file_id) AS BIGINT) AS last_file
        |FROM c GROUP BY source, cum_before // 32768
        |ORDER BY source, bin""".stripMargin,
    // full recompute over the whole table — the gate's engine side went
    // base-state -> parquet -> merge-with-delta, so equality proves
    // merge == recompute
    "q160_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // all three stages replayed over one corpus: fingerprint argmin,
    // the q20 shingle-jaccard pair set, the q22 signature assembly with
    // the same interpolated coefficients, then the precedence CASE
    "q163_dedup_cascade" -> {
      val coefRows = Dedup.simhashCoefs(60, 42L).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id AS id,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        |  FROM corpus),
        |ex AS (
        |  SELECT id FROM fp
        |  JOIN (SELECT fp, min(id) AS keeper FROM fp GROUP BY fp) k USING (fp)
        |  WHERE id > keeper),
        |norm AS (
        |  SELECT doc_id AS id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
        |      AS toks
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 5, 0)),
        |      i -> array_to_string(toks[i+1:i+5], ' '))) AS sh
        |    FROM norm) t WHERE length(sh) > 0),
        |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        |  GROUP BY a.id, b.id),
        |nr AS (
        |  SELECT DISTINCT id_b AS id FROM cand
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b
        |  WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5),
        |stoks AS (
        |  SELECT doc_id AS id,
        |    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
        |  FROM corpus),
        |hashed AS (
        |  SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(t)),
        |                     i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 2147483647) AS h
        |  FROM stoks),
        |bits AS (
        |  SELECT id, bit,
        |    CASE WHEN (h * a + b) % 2147483647 < 1073741823 THEN 1 ELSE -1 END
        |      AS contrib
        |  FROM hashed, (VALUES $coefRows) AS coef(bit, a, b)),
        |sums AS (SELECT id, bit, sum(contrib) AS s FROM bits GROUP BY id, bit),
        |sig AS (
        |  SELECT id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
        |                           ELSE CAST(0 AS BIGINT) END) AS BIGINT)
        |    AS simhash
        |  FROM sums GROUP BY id),
        |sm AS (
        |  SELECT DISTINCT b.id FROM sig a JOIN sig b
        |    ON a.id < b.id
        |   AND bit_count(xor(a.simhash, b.simhash)) <= 3)
        |SELECT c.doc_id,
        |  (ex.id IS NOT NULL) AS is_exact,
        |  (nr.id IS NOT NULL) AS is_near,
        |  (sm.id IS NOT NULL) AS is_sim,
        |  CASE WHEN ex.id IS NOT NULL THEN 'exact'
        |       WHEN nr.id IS NOT NULL THEN 'near'
        |       WHEN sm.id IS NOT NULL THEN 'simhash'
        |       ELSE 'none' END AS caught_by
        |FROM corpus c
        |LEFT JOIN ex ON ex.id = c.doc_id
        |LEFT JOIN nr ON nr.id = c.doc_id
        |LEFT JOIN sm ON sm.id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin
    },
    // DuckDB's nfc_normalize implements the same Unicode canonical
    // composition as java.text.Normalizer; chr(769) = U+0301 combining
    // acute, chr(233) = precomposed U+00E9
    "q167_unicode_nfc" ->
      """WITH c AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
        |         WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
        |         ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  (nfc_normalize(t) <> t) AS changed,
        |  CAST(length(t) AS BIGINT) AS len_before,
        |  CAST(length(nfc_normalize(t)) AS BIGINT) AS len_after
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    // the integer quality score + the histogram midpoint-rank arithmetic
    "q165_score_calibration" ->
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |    least(len(string_split_regex(trim(text), '\\s+')), 40)
        |    + least(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |        t -> t IN (${PipelineQueries.stopList}))) * 5, 30)
        |    + 30 - least(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')), 30)
        |      AS q
        |  FROM documents),
        |hist AS (SELECT q AS s, CAST(count(*) AS BIGINT) AS c
        |         FROM q GROUP BY q),
        |cum AS (
        |  SELECT s, c,
        |    coalesce(sum(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
        |  FROM hist),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
        |SELECT q.doc_id, q.source, CAST(q.q AS BIGINT) AS q,
        |  CAST(((cum.lt * 2 + cum.c) * 1000000) // (2 * tot.n) AS BIGINT)
        |    AS calib_ppm
        |FROM q JOIN cum ON cum.s = q.q, tot
        |ORDER BY q.doc_id""".stripMargin,
    // the same edge synthesis + two unrolled HITS rounds with the
    // exact-integer max normalization
    "q164_hits" ->
      s"""WITH $edgeCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS ind
        |        FROM e GROUP BY dst),
        |h0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS v
        |       FROM documents),
        |${hitsIter(1, "h0")},
        |${hitsIter(2, "h1")}
        |SELECT d.doc_id,
        |  coalesce(a2.v, 0) AS auth,
        |  coalesce(h2.v, 0) AS hub,
        |  coalesce(ind.ind, 0) AS in_deg,
        |  coalesce(deg.deg, 0) AS out_deg
        |FROM documents d
        |LEFT JOIN a2 ON a2.id = d.doc_id
        |LEFT JOIN h2 ON h2.id = d.doc_id
        |LEFT JOIN ind ON ind.dst = d.doc_id
        |LEFT JOIN deg ON deg.src = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // distinct (user, item) -> hot-user cap -> per-user pairing ->
    // support filter
    "q161_item_cooccur" ->
      """WITH ui AS (
        |  SELECT DISTINCT user_id AS u,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |        IS NOT NULL),
        |keep AS (
        |  SELECT u FROM ui GROUP BY u HAVING count(*) <= 20),
        |kept AS (SELECT ui.u, ui.i FROM ui JOIN keep USING (u))
        |SELECT a.i AS item_a, b.i AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        |GROUP BY a.i, b.i
        |HAVING count(*) >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    // the full PQ replay: subvector split, seeded init, one integer-
    // fixed-point Lloyd step (exact bigint sums -> identical IEEE
    // divides), re-assignment, and the fixed-sub-order ADC sum
    "q155_pq_ann" ->
      s"""WITH sv AS (
        |  SELECT vec_id AS id, s.s AS sub,
        |    embedding[s.s*16+1 : s.s*16+16] AS sv
        |  FROM embeddings, (VALUES (0),(1),(2),(3)) AS s(s)),
        |init AS (
        |  SELECT sub, CAST(id AS BIGINT) AS cid,
        |    list_transform(sv, v -> CAST(v AS DOUBLE)) AS cent
        |  FROM sv WHERE id < 8),
        |d0 AS (
        |  SELECT sv.id, sv.sub, i.cid,
        |    ${sqdSql("sv.sv", "i.cent")} AS d2
        |  FROM sv JOIN init i USING (sub)),
        |a0 AS (
        |  SELECT id, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM d0) t WHERE rn = 1),
        |m0 AS (
        |  SELECT t.sub, t.cid, CAST(x[2] AS BIGINT) AS pos,
        |    CAST(sum(CAST(round(CAST(x[1] AS DOUBLE) * 1048576.0) AS BIGINT))
        |         AS DOUBLE) / count(*) / 1048576.0 AS c
        |  FROM (SELECT a0.sub, a0.cid,
        |          unnest(list_zip(sv.sv, generate_series(0, len(sv.sv) - 1)))
        |            AS x
        |        FROM sv JOIN a0 USING (id, sub)) t
        |  GROUP BY t.sub, t.cid, CAST(x[2] AS BIGINT)),
        |trained AS (
        |  SELECT sub, cid, list(c ORDER BY pos) AS cent
        |  FROM m0 GROUP BY sub, cid),
        |cb AS (
        |  SELECT i.sub, i.cid, coalesce(t.cent, i.cent) AS cent
        |  FROM init i LEFT JOIN trained t USING (sub, cid)),
        |d1 AS (
        |  SELECT sv.id, sv.sub, c.cid,
        |    ${sqdSql("sv.sv", "c.cent")} AS d2
        |  FROM sv JOIN cb c USING (sub)),
        |codes AS (
        |  SELECT id AS nid, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM d1) t WHERE rn = 1),
        |qdt AS (
        |  SELECT id AS query_id, sub, cid, d2 FROM d1 WHERE id < 10),
        |j AS (
        |  SELECT q.query_id, codes.nid, q.sub, q.d2
        |  FROM codes JOIN qdt q ON q.sub = codes.sub AND q.cid = codes.cid
        |  WHERE q.query_id <> codes.nid),
        |adc AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM j GROUP BY query_id, nid)
        |SELECT query_id, rank, nid AS neighbor_id, adc FROM (
        |  SELECT query_id, nid, adc,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY adc, nid) AS BIGINT) AS rank
        |  FROM adc) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // fingerprints -> knuth shards -> per-shard bit sets -> the 3-hash
    // probe over every (probe, shard) cell; absent probes synthesize
    // their keys from the same closed form
    "q156_shard_bloom" -> {
      val Seq((a0, b0), (a1, b1), (a2, b2)) = bloomCoefs
      s"""WITH keyed AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        |    ((doc_id % 2147483647) * 2654435761) % 4294967296 % 8 AS shard
        |  FROM documents),
        |kh AS (
        |  SELECT shard, ${polyHashSql("fp")} AS h
        |  FROM keyed),
        |kpos AS (
        |  SELECT shard, ((h * c.a + c.b) % $P) % 4096 AS pos
        |  FROM kh, (VALUES ($a0, $b0), ($a1, $b1), ($a2, $b2)) AS c(a, b)),
        |words AS (
        |  SELECT shard, pos // 64 AS w,
        |    bit_or(CASE WHEN pos % 64 < 63
        |      THEN (CAST(1 AS BIGINT) << CAST(pos % 64 AS INTEGER))
        |      ELSE -9223372036854775807 - 1 END) AS word
        |  FROM kpos GROUP BY shard, pos // 64),
        |probes AS (
        |  SELECT doc_id AS probe_id, fp, CAST(shard AS BIGINT) AS true_shard
        |  FROM keyed WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 1000, md5('absent-' || CAST(doc_id + 1000 AS VARCHAR)),
        |    CAST(-1 AS BIGINT)
        |  FROM documents WHERE doc_id < 20),
        |ph AS (
        |  SELECT probe_id, true_shard, ${polyHashSql("fp")} AS h
        |  FROM probes),
        |ppos AS (
        |  SELECT probe_id, true_shard,
        |    ((h * c.a + c.b) % $P) % 4096 AS pos
        |  FROM ph, (VALUES ($a0, $b0), ($a1, $b1), ($a2, $b2)) AS c(a, b)),
        |cand AS (
        |  SELECT p.probe_id, p.true_shard, sh.shard,
        |    min(CASE WHEN ((coalesce(sw.word, 0)
        |          >> CAST(p.pos % 64 AS INTEGER)) & 1) = 1
        |        THEN 1 ELSE 0 END) AS allset
        |  FROM ppos p
        |  CROSS JOIN (SELECT DISTINCT shard FROM keyed) sh
        |  LEFT JOIN words sw ON sw.shard = sh.shard AND sw.w = p.pos // 64
        |  GROUP BY p.probe_id, p.true_shard, sh.shard)
        |SELECT probe_id, CAST(sum(allset) AS BIGINT) AS n_shards_hit,
        |  true_shard,
        |  (max(CASE WHEN shard = true_shard THEN allset ELSE 0 END) = 1)
        |    AS hit_true_shard
        |FROM cand GROUP BY probe_id, true_shard
        |ORDER BY probe_id""".stripMargin
    },
    // the whole signal layer replayed: classifier, 3-iteration PageRank,
    // importance buckets, density, then the Hamilton allocation over
    // KEPT docs and the signal-ordered fill
    "q157_signal_fusion" ->
      s"""WITH c_base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |  FROM documents),
        |c_wf AS (
        |  SELECT doc_id, list_concat(toks,
        |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |                   i -> toks[i] || ' ' || toks[i+1])) AS feats
        |  FROM c_base),
        |c_f AS (SELECT doc_id, unnest(feats) AS f FROM c_wf),
        |c_h AS (SELECT doc_id, ${polyHashSql("f")} AS h FROM c_f),
        |c_w AS (
        |  SELECT doc_id,
        |    (((h % 4096) * $wA + $wB) % 2147483647) % 2001 - 1000 AS w
        |  FROM c_h),
        |cl AS (
        |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit,
        |    (sum(w) > 0) AS accept
        |  FROM c_w GROUP BY doc_id),
        |$edgeCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |r0 AS (SELECT doc_id AS id, CAST(1000000000000 AS BIGINT) AS r
        |       FROM documents),
        |${prIter(1, "r0")},
        |${prIter(2, "r1")},
        |${prIter(3, "r2")},
        |i_toks AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS t
        |  FROM documents),
        |i_hb AS (
        |  SELECT doc_id, is_t, ${polyHashSql("t")} % 1024 AS b
        |  FROM i_toks),
        |i_wgt AS (
        |  SELECT b,
        |    ((sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000)
        |      // (count(*) + 1) AS w
        |  FROM i_hb GROUP BY b),
        |imp AS (
        |  SELECT doc_id,
        |    CAST(sum(w) AS BIGINT) // CAST(count(*) AS BIGINT) AS imp_ppm
        |  FROM i_hb JOIN i_wgt USING (b) GROUP BY doc_id),
        |d_toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        |  FROM documents),
        |d_nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |d_sdf AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS tdf
        |  FROM d_toks GROUP BY term),
        |d_stop AS (SELECT term FROM d_sdf, d_nd
        |           WHERE tdf * 100 >= n_docs * 50),
        |dens AS (
        |  SELECT t.doc_id,
        |    ((count(*) - sum(CASE WHEN s.term IS NOT NULL THEN 1 ELSE 0 END))
        |     * 1000000) // count(*) AS density_ppm
        |  FROM d_toks t LEFT JOIN d_stop s USING (term)
        |  GROUP BY t.doc_id),
        |b0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
        |  FROM documents),
        |sig AS (
        |  SELECT b0.doc_id, b0.source, b0.n, cl.logit, cl.accept AS is_kept,
        |    r3.r AS prank, imp.imp_ppm, CAST(dens.density_ppm AS BIGINT)
        |      AS density_ppm
        |  FROM b0 JOIN cl USING (doc_id)
        |  JOIN r3 ON r3.id = b0.doc_id
        |  JOIN imp USING (doc_id) JOIN dens USING (doc_id)),
        |kept AS (
        |  SELECT doc_id, source, n, imp_ppm, prank FROM sig WHERE is_kept),
        |wgt AS (SELECT source, CAST(sum(n) AS BIGINT) AS w_tokens
        |        FROM kept GROUP BY source),
        |tot AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS w_total FROM wgt),
        |a0 AS (
        |  SELECT w.source, w.w_tokens,
        |    (t.w_total * 1) // 2 AS budget,
        |    (((t.w_total * 1) // 2) * w.w_tokens) // t.w_total AS base,
        |    (((t.w_total * 1) // 2) * w.w_tokens) % t.w_total AS rem
        |  FROM wgt w CROSS JOIN tot t),
        |a1 AS (
        |  SELECT *, budget - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM a0),
        |alloc AS (
        |  SELECT source,
        |    CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc_tokens
        |  FROM a1),
        |cum AS (
        |  SELECT doc_id, source, n,
        |    coalesce(sum(n) OVER (PARTITION BY source
        |      ORDER BY imp_ppm DESC, prank DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
        |  FROM kept),
        |sel AS (
        |  SELECT c.doc_id, (c.tb < al.alloc_tokens) AS sel
        |  FROM cum c JOIN alloc al USING (source))
        |SELECT sig.doc_id, sig.source, sig.logit, sig.prank, sig.imp_ppm,
        |  sig.density_ppm, sig.is_kept,
        |  coalesce(sel.sel, FALSE) AS is_selected
        |FROM sig LEFT JOIN sel USING (doc_id)
        |ORDER BY sig.doc_id""".stripMargin,
    // seeded hash scaled by weight, k smallest per stratum
    "q151_weighted_sample" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
        |    ((doc_id % $P) * $sA + $sB) % $P AS h
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n, (h * 1000000) // n AS pri
        |  FROM d),
        |r AS (
        |  SELECT source, doc_id, n, pri,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY pri, doc_id) AS rank
        |  FROM p)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
        |  n AS weight, CAST(pri AS BIGINT) AS priority
        |FROM r WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin,
    // link graph + rank-1 tfidf keyword per linker + per-target counts
    // and the (count desc, keyword) argmax
    "q152_anchor_profile" ->
      s"""WITH $edgeCtes,
        |$tfidfCtes,
        |kw1 AS (
        |  SELECT doc_id, term AS kw FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY tfidf_ppm DESC, term) AS rank
        |    FROM sc) t WHERE rank = 1),
        |j AS (
        |  SELECT e.dst, d.source AS lsrc, kw1.kw
        |  FROM e JOIN documents d ON d.doc_id = e.src
        |  JOIN kw1 ON kw1.doc_id = e.src),
        |base AS (
        |  SELECT dst, CAST(count(*) AS BIGINT) AS in_deg,
        |    CAST(count(DISTINCT lsrc) AS BIGINT) AS n_sources
        |  FROM j GROUP BY dst),
        |kc AS (SELECT dst, kw, CAST(count(*) AS BIGINT) AS n
        |       FROM j GROUP BY dst, kw),
        |top AS (
        |  SELECT dst, kw AS top_anchor, n AS anchor_n FROM (
        |    SELECT dst, kw, n,
        |      row_number() OVER (PARTITION BY dst
        |                         ORDER BY n DESC, kw) AS r
        |    FROM kc) t WHERE r = 1)
        |SELECT base.dst AS doc_id, base.in_deg, base.n_sources,
        |  top.top_anchor, top.anchor_n
        |FROM base JOIN top USING (dst)
        |ORDER BY doc_id""".stripMargin,
    // 2-hop expansion via one self-join on the middle node
    "q153_two_hop_reach" ->
      s"""WITH $edgeCtes,
        |h2 AS (
        |  SELECT a.src, b.dst FROM e a JOIN e b ON b.src = a.dst),
        |u AS (SELECT src, dst FROM e UNION SELECT src, dst FROM h2),
        |r AS (
        |  SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS reach
        |  FROM u WHERE dst <> src GROUP BY src),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src)
        |SELECT d.doc_id, coalesce(deg.deg, 0) AS out_deg,
        |  coalesce(r.reach, 0) AS reach
        |FROM documents d
        |LEFT JOIN deg ON deg.src = d.doc_id
        |LEFT JOIN r ON r.src = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // doc-frequency threshold on DISTINCT (doc, term) pairs, then one
    // pass over the token stream with the stop flag
    "q154_stopword_density" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sdf AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS tdf
        |  FROM toks GROUP BY term),
        |stop AS (SELECT term FROM sdf, nd WHERE tdf * 100 >= n_docs * 50),
        |per AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    CAST(sum(CASE WHEN s.term IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_stop
        |  FROM toks t LEFT JOIN stop s USING (term)
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_toks, n_stop,
        |  ((n_toks - n_stop) * 1000000) // n_toks AS density_ppm
        |FROM per
        |ORDER BY doc_id""".stripMargin,
  )
}
