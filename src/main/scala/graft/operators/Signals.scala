package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Lineage.CutOps

/** Corpus-level SIGNALS a curation pipeline ranks and filters by: a
  * hashed linear quality classifier (the fastText-shaped model-based
  * filter), link-graph PageRank centrality, DSIR-style importance
  * weights (target-vs-raw hashed n-gram ratios), reciprocal-rank fusion
  * of heterogeneous retrievers, TF-IDF keyword extraction, and a
  * small-file compaction planner for standing table maintenance.
  *
  * Every emitted number is an exact integer (seeded universal-hash
  * weights, cross-multiplied ratios, rank arithmetic), so each gate's
  * DuckDB oracle is a full independent replay — the same discipline as
  * the selection family ([[Sampling]], [[Dedup]]).
  *
  * Scale shapes (the 100 TB contract):
  *  - [[hashedLogit]] and [[importanceWeights]] are single-pass token
  *    streams; model state (the bucket-weight relation) is bounded by
  *    the bucket count, never the corpus, and rides a broadcast join.
  *  - [[pageRank]] is the Pregel shape: per iteration one equi-join on
  *    node id + one partial-aggregated shuffle of contributions. No
  *    driver-side graph state; a production run would pre-partition
  *    ranks and edges by id once and reuse the exchange across
  *    iterations.
  *  - [[rrfFuse]] touches only the top-k relations the upstream rankers
  *    already bounded — fusion cost is O(queries · k · rankers).
  *  - [[compactionPlan]] is one windowed cumulative sum per table
  *    partition + one aggregate: the planner a 100 TB table needs to
  *    coalesce small files without collecting a manifest to the driver.
  */
object Signals {

  private val P = 2147483647L // 2^31 - 1, the shared portable-hash modulus

  /** Hashed-feature linear classifier (fastText-style quality filter):
    * features are unigrams + adjacent-token bigrams, hashed into
    * `buckets` via the portable [[Dedup.polyHash]]; the weight of bucket
    * b is the seeded universal hash `((b·a + c) mod p) mod 2001 − 1000`
    * — an integer in [−1000, 1000] both engines derive from the same
    * closed form, standing in for trained parameters while exercising
    * the exact production plan (hash → bucket → weight lookup → per-doc
    * sum). The logit is an exact integer sum; `accept` is the zero
    * threshold (sigmoid is monotone, so thresholding the logit IS
    * thresholding the probability).
    *
    * Returns (doc_id, n_feats, logit, accept). One explode + one
    * map-side-combined aggregate; the weight is computed inline
    * (projection), so there is no weight-table join at all. */
  def hashedLogit(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 4096, seed: Long = 29L): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val (wa, wb) = Sampling.coef(seed)
    val base = df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      // element_at is 1-based in both Spark and DuckDB's toks[i]; the
      // when() guard matters: Spark's sequence(1, 0) yields [1, 0]
      // (descending), not the empty list DuckDB's generate_series gives.
      .withColumn("bis", when(size(col("toks")) > 1,
          expr("transform(sequence(1, size(toks)-1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"))
        .otherwise(array().cast("array<string>")))
    val feats = base.select(col("doc_id"),
      explode(concat(col("toks"), col("bis"))).as("f"))
    val bucket = pmod(Dedup.polyHash(col("f")), lit(buckets.toLong))
    val weight = pmod(bucket * lit(wa) + lit(wb), lit(P)) % lit(2001L) - lit(1000L)
    feats.select(col("doc_id"), weight.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_feats"),
        sum(col("w")).cast("long").as("logit"))
      .withColumn("accept", col("logit") > 0)
  }

  /** Fixed-iteration integer PageRank — the web-graph centrality signal
    * URL-level curation ranks by. Ranks are scaled by `scale` (default
    * 10¹²) and every step is integer arithmetic: per-edge contribution
    * `(rank·dampNum) div (dampDen·out_deg)`, new rank `base + Σ in`,
    * `base = scale·(dampDen−dampNum) div dampDen`. Truncation keeps the
    * total mass within N·scale, so with N ≤ ~10⁵ per-node sums stay far
    * below 2⁶³; dangling nodes simply don't redistribute (deterministic
    * leak, replayed identically by the oracle).
    *
    * Each iteration = one equi-join of edges with ranks on src + one
    * partial-aggregated shuffle of contributions on dst — the Pregel
    * shape. `iters` is a plan-size knob (the loop unrolls into the
    * logical plan), not driver state.
    *
    * The edge relation, the out-degree table and each iteration's rank
    * state are plan-cut ([[Lineage.cut]] — by default a lazy
    * `localCheckpoint`, whose upstream shuffles AQE executes at plan
    * construction, i.e. in the bench's `prepare` bucket; see the
    * [[Lineage]] doc for the measurement and fault-tolerance caveats):
    * the unrolled plan references `e` in every iteration plus both
    * degree aggregates, and rank_k's subtree contains rank_{k-1}'s
    * whole tree — without the cut the distinct-shuffle of the edges
    * re-executes per reference and the per-iteration work re-executes
    * per LEVEL (exchange reuse is a same-plan heuristic, not a
    * guarantee across the grown trees). This is the standard Pregel
    * iteration cache (GraphX materializes the edge/vertex RDDs the
    * same way); state size is |V| rows per checkpoint, |E| once. */
  def pageRank(nodes: DataFrame, idCol: String,
               edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, scale: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .planCut // read 3+iters times below
    val outDeg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .planCut // read in every iteration + the final join
    // matches the scaladoc form exactly: multiply first, then one
    // truncating divide (scale·(dampDen−dampNum) stays ≪ 2⁶³ for any
    // sane damping, so the product cannot overflow before the div)
    val base = scale * (dampDen - dampNum) / dampDen
    var ranks = ids.withColumn("rank", lit(scale))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(outDeg, "src")
        .select(col("dst").as("id"),
          expr(s"(rank * $dampNum) div ($dampDen * deg)").as("c"))
      val inSum = contribs.groupBy(col("id")).agg(sum(col("c")).as("s"))
      val next = ids.join(inSum, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("rank"))
      // |V| rows; cut the per-iteration lineage — but keep the LAST
      // iteration inline so the returned plan still carries the
      // partial-aggregated contribution sum PlanAudit gates (and the
      // final round's real work stays in the measured execution)
      ranks = if (i < iters) next.planCut else next
    }
    val inDeg = e.groupBy(col("dst"))
      .agg(count(lit(1)).cast("long").as("ind"))
    ranks
      .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(inDeg.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("out_deg"),
        coalesce(col("ind"), lit(0L)).as("in_deg"), col("rank"))
  }

  /** Fixed-iteration integer HITS (hubs & authorities) — the second
    * classical link-centrality pair, distinguishing pages that POINT at
    * good content from pages pointed AT. Each round:
    * `a_k = norm(Σ_in h_{k−1})`, `h_k = norm(Σ_out a_k)`, where `norm`
    * rescales by the global maximum in exact integers
    * (`v·scale div max(v)` — the single-row max broadcasts; classical
    * L2 normalization needs sqrt and would be engine-dependent).
    * Bounds: normalized values ≤ scale, raw sums ≤ N·scale, and the
    * rescale multiply needs N·scale² < 2⁶³ — with the default 10⁶ scale
    * that holds to ~9·10⁶ nodes; drop `scale` for bigger graphs.
    * Same Pregel shape as [[pageRank]]: two equi-joins + two
    * partial-aggregated shuffles per round. */
  def hits(nodes: DataFrame, idCol: String,
           edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .planCut // read 2·iters + 2 times below (see pageRank)
    def normalize(raw: DataFrame): DataFrame = {
      val mx = raw.agg(max(col("v")).as("m"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"), expr(s"(v * ${scale}L) div m").as("v"))
    }
    var hubs = ids.withColumn("v", lit(scale))
    var auth = ids.withColumn("v", lit(scale))
    for (i <- 1 to iters) {
      // each state is read twice (the next aggregation + normalize's
      // max) and its subtree would otherwise nest per half-iteration —
      // |V|-row checkpoints, same rationale as pageRank's; the FINAL
      // half-iteration stays inline so the returned plan keeps the
      // partial-aggregated sum PlanAudit gates and the last round's
      // work stays in the measured execution
      auth = normalize(e.join(hubs.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("v")).as("v"))
        .withColumnRenamed("dst", "id")).planCut
      val h = normalize(e.join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("v")).as("v"))
        .withColumnRenamed("src", "id"))
      hubs = if (i < iters) h.planCut else h
    }
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).cast("long").as("ind"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).cast("long").as("outd"))
    ids
      .join(auth.withColumnRenamed("v", "auth"), Seq("id"), "left")
      .join(hubs.withColumnRenamed("v", "hub"), Seq("id"), "left")
      .join(inDeg.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("auth"), lit(0L)).as("auth"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("ind"), lit(0L)).as("in_deg"),
        coalesce(col("outd"), lit(0L)).as("out_deg"))
  }

  /** DSIR-style importance weights: hash every token into `buckets`,
    * weight bucket b by the Laplace-smoothed target/raw count ratio
    * `((n_target+1)·10⁶) div (n_raw+1)` (ppm), and score each document
    * by the truncated mean weight of its tokens — documents that look
    * like the target distribution score high. `isTarget` marks the
    * target subset (rows still count toward raw).
    *
    * Returns (doc_id, n_toks, imp_ppm). Two passes over the token
    * stream: one bounded aggregate (≤ `buckets` rows → broadcast back),
    * one per-doc sum. The weight relation is model state bounded by the
    * bucket count — the 100 TB path never materializes a vocabulary. */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = df.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
        explode(TextOps.tokens(col(textCol))).as("t"))
      .withColumn("b", pmod(Dedup.polyHash(col("t")), lit(buckets.toLong)))
    val weights = toks.groupBy(col("b"))
      .agg(count(lit(1)).cast("long").as("c_raw"),
        sum(when(col("is_t"), 1L).otherwise(0L)).cast("long").as("c_t"))
      .select(col("b"), expr("((c_t + 1) * 1000000) div (c_raw + 1)").as("w"))
    toks.join(broadcast(weights), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_toks"),
        sum(col("w")).cast("long").as("iw_sum"))
      .select(col("doc_id"), col("n_toks"),
        expr("iw_sum div n_toks").as("imp_ppm"))
  }

  /** Reciprocal-rank fusion over heterogeneous rankers (sparse BM25 +
    * dense cosine being the canonical pair): each input holds
    * (query_id, doc_id, rank); a doc earns `10⁶ div (60 + rank)` points
    * per ranker that returned it (the standard RRF constant, integer
    * arithmetic), summed across rankers; final order is (points desc,
    * doc_id). Fusion never re-touches the corpus — cost is
    * O(queries · k · rankers) on relations the upstream rankers already
    * bounded. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val unioned = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = unioned
      .withColumn("pts", expr("1000000 div (60 + rank)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("pts")).cast("long").as("rrf"),
        count(lit(1)).cast("long").as("n_rankers"))
    OrderStats.topKPer(fused, col("query_id"), k)(
        col("rrf").desc, col("doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf"), col("n_rankers"))
  }

  /** Per-document TF-IDF keywords with a RATIONAL idf: score_ppm =
    * (tf·N·10⁶) div (df·dl) — tf/dl (length-normalized term frequency)
    * times N/df (inverse document frequency), cross-multiplied into one
    * exact integer so the ranking is engine-portable (`ln` would be
    * libm-dependent — the [[Retrieval]] reasoning). Top-`k` terms per
    * doc, ties (score, then term) deterministic.
    *
    * tf/df/dl are the same three partial-aggregated shuffles the BM25
    * index builds — a deployment computes them once and serves both. */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // same shape as Retrieval.bm25TopK: tf feeds dl, dfr and the score
    // join with per-consumer pruning, so exchange reuse can't dedup the
    // corpus tokenize+aggregate — plan-cut the index so it computes once
    // (corpus-bounded rows; under AQE the default checkpoint cut runs
    // the index build at plan construction — see Lineage)
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .planCut
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("dl"))
    val dfr = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    val nd = df.agg(count(lit(1)).cast("long").as("n_docs"))
    val scored = tf.join(dfr, "term").join(dl, "doc_id")
      .crossJoin(broadcast(nd))
      .withColumn("tfidf_ppm", expr("(tf * n_docs * 1000000) div (df * dl)"))
    OrderStats.topKPer(scored, col("doc_id"), k)(
        col("tfidf_ppm").desc, col("term"))
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("tfidf_ppm"))
  }

  /** Anchor-style profile of every link TARGET: how many documents link
    * to it, from how many distinct sources, and the most common top
    * keyword among its linkers (count desc, then keyword — the
    * aggregated "anchor text" signal web curation scores landing pages
    * by). `edges` holds (src, dst); `srcAttrs` holds one row per linker
    * (`idCol`, `sourceCol`, `kwCol` — e.g. [[tfidfKeywords]] rank 1).
    *
    * One equi-join of edges onto linker attributes + two partial
    * aggregates + a per-target argmax (`max(struct(n, kw))`) — no
    * window over the full edge set, so a hot target costs one combine
    * buffer, not a sort. */
  def anchorProfile(edges: DataFrame, srcCol: String, dstCol: String,
                    srcAttrs: DataFrame, idCol: String, sourceCol: String,
                    kwCol: String): DataFrame = {
    // the joined relation is aggregated twice (degree/source counts and
    // per-(dst, kw) counts) with different pruning; plan-cut the
    // linker-attribute side (one row per linker, often an expensive
    // upstream like tfidfKeywords) so it computes once — the edge join
    // itself re-executes per aggregate, which is the cheap half
    val joined = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(srcAttrs.select(col(idCol).as("src"),
        col(sourceCol).as("lsrc"), col(kwCol).as("kw"))
        .planCut, "src")
    val base = joined.groupBy(col("dst"))
      .agg(count(lit(1)).cast("long").as("in_deg"),
        countDistinct(col("lsrc")).cast("long").as("n_sources"))
    // argmax by (count desc, keyword asc): max(struct(n, kw)) can't
    // reverse a string order, so the pick is the top-k kernel at k = 1,
    // but over the per-(dst, kw) COUNTS (already combined, ≤ distinct
    // keywords per target), never the raw edge set.
    val kwCounts = joined.groupBy(col("dst"), col("kw"))
      .agg(count(lit(1)).cast("long").as("n"))
    val top = OrderStats.topKPer(kwCounts, col("dst"), 1)(
        col("n").desc, col("kw"))
      .select(col("dst"), col("kw").as("top_anchor"), col("n").as("anchor_n"))
    base.join(top, "dst").withColumnRenamed("dst", "id")
  }

  /** Distinct nodes reachable in one or two hops (self excluded) — the
    * neighborhood-size feature spam/quality graph models use. The
    * 2-hop expansion is one self-equi-join of the edge relation on the
    * middle node + a distinct count; at scale the join shuffles on the
    * middle node, so a skewed hub fans out — cap or salt hubs upstream
    * if the real graph is power-law (the [[Dedup]] hot-shingle
    * discipline). Nodes without out-edges report 0. */
  def twoHopReach(nodes: DataFrame, idCol: String,
                  edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .planCut // read 3x: both self-join sides + the union
    val hop2 = e.join(e.withColumnsRenamed(Map("src" -> "mid", "dst" -> "d2")),
        col("dst") === col("mid"))
      .select(col("src"), col("d2").as("dst"))
    val reach = e.unionByName(hop2)
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"))
      .agg(countDistinct(col("dst")).cast("long").as("reach"))
    val outDeg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("out_deg"))
    nodes.select(col(idCol).cast("long").as("id"))
      .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(reach.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("reach"), lit(0L)).as("reach"))
  }

  /** Corpus-adaptive stopword discovery + per-document information
    * density: a term is a stopword when it appears in ≥ `thresholdPct`%
    * of documents (integer cross-multiply, no floats), and each doc
    * reports how much of it survives stopword removal
    * (`density_ppm = (n_toks − n_stop)·10⁶ div n_toks`). The stop
    * relation is small BY CONSTRUCTION (only terms in a constant
    * fraction of all docs qualify — vocabulary size doesn't matter), so
    * it broadcasts; the token stream is touched once. */
  def stopwordDensity(df: DataFrame, idCol: String, textCol: String,
                      thresholdPct: Long): DataFrame = {
    // below ~10% the "stop" relation stops being small-by-construction
    // (up to 10 terms per doc could qualify) and the broadcast bound
    // with it — keep the threshold in the regime the design assumes
    require(thresholdPct >= 10 && thresholdPct <= 100,
      s"thresholdPct must be in [10, 100], got $thresholdPct")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("term"))
    val nd = df.agg(count(lit(1)).cast("long").as("n_docs"))
    val stop = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("tdf"))
      .crossJoin(broadcast(nd))
      .filter(col("tdf") * 100 >= col("n_docs") * thresholdPct)
      .select(col("term"), lit(1L).as("is_stop"))
    toks.join(broadcast(stop), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_toks"),
        sum(coalesce(col("is_stop"), lit(0L))).cast("long").as("n_stop"))
      .withColumn("density_ppm",
        expr("((n_toks - n_stop) * 1000000) div n_toks"))
  }

  /** Bipartite co-occurrence projection (user × item → item-item): the
    * collaborative-filtering prep that turns an interaction log into an
    * item similarity graph. Per user the distinct item set is paired
    * (a < b) and pairs are counted across users; users with more than
    * `maxItemsPerUser` distinct items are EXCLUDED first — the hot-user
    * cap that bounds the per-user pair space to maxItems², turning the
    * worst case from |log|² into |users|·cap² (the [[Dedup]] hot-shingle
    * discipline; a power-user row that pairs everything with everything
    * adds noise, not signal). `minSupport` drops singleton pairs before
    * they leave the aggregation. */
  def bipartiteProject(df: DataFrame, userCol: String, itemCol: String,
                       maxItemsPerUser: Long, minSupport: Long): DataFrame = {
    require(maxItemsPerUser > 0 && minSupport >= 1, "bad caps")
    val ui = df.select(col(userCol).as("u"), col(itemCol).as("i")).distinct()
    val keepUsers = ui.groupBy(col("u"))
      .agg(count(lit(1)).as("ni"))
      .filter(col("ni") <= maxItemsPerUser)
      .select(col("u"))
    val kept = ui.join(keepUsers, "u")
    val a = kept.select(col("u"), col("i").as("item_a"))
    val b = kept.select(col("u"), col("i").as("item_b"))
    a.join(b, Seq("u"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .filter(col("n_users") >= minSupport)
  }

  /** Histogram-based score calibration: map every row's integer score
    * onto the GLOBAL score distribution as a midpoint-rank ppm
    * (`((2·count_below + count_equal)·10⁶) div (2·N)` — the average
    * rank of ties, exact integers). The distribution lives as a
    * HISTOGRAM relation (one row per distinct score value), so the only
    * window runs over that bounded model state and the data-side cost
    * is one broadcast join — the scale-shaped alternative to a global
    * `percent_rank` window, which would single-partition the corpus
    * (q102 does per-GROUP ranks where the partition bounds the sort;
    * a global rank has no such bound). Scores must be integral with a
    * bounded domain (quality scores, logit buckets). */
  def calibrateScores(df: DataFrame, scoreCol: String): DataFrame = {
    val hist = df.groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).cast("long").as("__c"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("__lt", coalesce(sum(col("__c")).over(w), lit(0L)))
    val tot = df.agg(count(lit(1)).cast("long").as("__n"))
    df.join(broadcast(cum), col(scoreCol).cast("long") === col("__s"))
      .crossJoin(broadcast(tot))
      .withColumn("calib_ppm",
        expr("((__lt * 2 + __c) * 1000000) div (2 * __n)"))
      .drop("__s", "__c", "__lt", "__n")
  }

  /** Small-file compaction planner: within each table partition
    * (`groupCol`), walk files in `fileCol` order, accumulate sizes, and
    * open a new output bin every time the RUNNING total crosses a
    * multiple of `target` — `bin = cum_before div target`. Bins are
    * contiguous in file order (compaction rewrites neighboring files
    * together, preserving any clustering), each bin lands within
    * [target, target + max_file) bytes except the partition's tail, and
    * the whole plan is one window + one aggregate — no driver-side
    * manifest walk, which is what makes it usable on a 100 TB table
    * with millions of files. */
  def compactionPlan(files: DataFrame, groupCol: String, fileCol: String,
                     sizeCol: String, target: Long): DataFrame = {
    require(target > 0, "target must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(fileCol))
    files
      .withColumn("cum_before",
        coalesce(sum(col(sizeCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"cum_before div ${target}L"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum(col(sizeCol)).cast("long").as("bytes"),
        min(col(fileCol)).as("first_file"),
        max(col(fileCol)).as("last_file"))
  }
}
