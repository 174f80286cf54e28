package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Lineage.CutOps

/** Driver gates for the corpus-SELECTION operators — the decision layer a
  * training-data pipeline runs after measurement: which duplicate to keep
  * (q131), how well the learned tokenizer covers each source (q132), the
  * neighborhood structure of the embedding space (q133), how a global
  * token budget splits across domains (q134), and how much ANN recall the
  * int8 compression costs (q135). Every emitted number is an exact
  * integer, an exact dyadic/ppm rational, or a deterministic IEEE-double
  * fold, so each DuckDB oracle is a full independent replay.
  */
object SelectionQueries {
  import PipelineQueries.{dupCorpus, stopwords, stopList, cosineSql,
    dupGroupsCtes}

  /** q131: canonical pick per near-dup group — [[Dedup.canonicalPick]]
    * keeps the highest-quality member (ties → lowest id) of each q50
    * component over the perturbed corpus. */
  def q131KeepBest(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
      .withColumn("q", TextOps.qualityScore(col("text"), stopwords))
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 5, threshold = 0.5)
    Dedup.canonicalPick(corpus, "doc_id", pairs, "q")
      .orderBy(col("group_id"))
  }

  /** q132: per-source coverage of the q128-trained BPE vocabulary —
    * tokens-per-word (ppm) after 3 merge rounds, the compression a
    * tokenizer trained on the whole corpus achieves on each domain. */
  def q132VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = TextOps.bpeTrain(docs, "text", rounds = 3)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TextOps.bpeApply(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_bpe_tokens")).cast("long").as("n_bpe_tokens"))
      .withColumn("tokens_per_word_ppm",
        expr("(1000000 * n_bpe_tokens) div n_words"))
      .orderBy(col("source"))
  }

  /** q133: cluster-blocked mutual k-NN graph over the embeddings
    * ([[Similarity.knnGraph]], k=3 within each label cluster). */
  def q133KnnGraph(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(spark, dir),
        "vec_id", "embedding", "label", k = 3)
      .withColumn("cluster", col("cluster").cast("long"))
      .orderBy(col("vec_id"))

  /** q134: largest-remainder allocation of a half-corpus token budget
    * across sources + greedy hash-order fill ([[Sampling.budgetAllocate]],
    * seed 42). */
  def q134BudgetAlloc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    Sampling.budgetAllocate(docs, "source", "doc_id", "n_tokens",
        num = 1, den = 2)
      .orderBy(col("source"))
  }

  /** q135: recall@5 of int8-quantized brute-force ANN vs the exact float
    * ranking ([[Similarity.quantTopK]] vs [[Similarity.bruteForceTopK]])
    * for queries vec_id < 10 — what the 4× memory-bandwidth saving costs
    * in ranking fidelity. */
  def q135QuantRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", k = 5).select(col("query_id"), col("neighbor_id"))
    val quant = Similarity.quantTopK(queries, emb,
        "vec_id", "embedding", k = 5)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    exact.join(quant,
        exact("query_id") === quant("qid") &&
          exact("neighbor_id") === quant("nid"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("nid")).cast("long").as("n_common"))
      .withColumn("recall_pct", col("n_common") * 20)
      .orderBy(col("query_id"))
  }

  /** q136: the q134 allocation under temperature-½ domain reweighting
    * ([[Sampling.temperedAllocate]]) — same budget, isqrt-flattened
    * shares. */
  def q136TemperedAlloc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    Sampling.temperedAllocate(docs, "source", "doc_id", "n_tokens",
        num = 1, den = 2)
      .orderBy(col("source"))
  }

  /** q137: resample the non-English corpus to match the English
    * token-length histogram (32-token buckets;
    * [[Sampling.matchDistribution]], seed 42). */
  def q137LengthMatch(spark: SparkSession, dir: String): DataFrame = {
    val withLen = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
      .withColumn("len_bucket", expr("n_toks div 32"))
      .select(col("doc_id"), col("lang"), col("len_bucket"))
    val ref = withLen.filter(col("lang") === "en")
    val cand = withLen.filter(col("lang") =!= "en")
    Sampling.matchDistribution(ref, cand, "len_bucket", "doc_id")
      .orderBy(col("len_bucket"))
  }

  /** q138: span-level contamination coverage of the test split
    * ([[TextOps.contamSpanCoverage]], 8-grams, the q53 split seed) —
    * tokens a redact-don't-drop decontam policy would mask. */
  def q138ContamSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sampling.withSplit(dupCorpus(spark, dir), "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1), seed = 13L)
    TextOps.contamSpanCoverage(docs, "doc_id", "text", "split",
        trainLabel = "train", testLabel = "test", n = 8)
      .orderBy(col("doc_id"))
  }

  /** q139: leakage-safe split — near-dup groups (q50 components) decide
    * the train/val/test assignment, members inherit
    * ([[Dedup.groupSafeSplit]], seed 17). */
  def q139GroupSplit(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 5, threshold = 0.5)
    Dedup.groupSafeSplit(corpus, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 17L)
      .orderBy(col("id"))
  }

  /** q140: perceptual image dedup — deterministic 16×16 BMPs (twin pairs
    * share a seed: ids < 200 use seed id/2, the rest are singletons) run
    * through the REAL ImageIO decode, 64-bit average-hash
    * ([[Multimodal.extractAHash]]), and Hamming banding
    * ([[Dedup.hammingNearDup]]). The oracle recomputes every hash from
    * the pixel formula and brute-forces all pairs — proving the banded
    * equi-join returns exactly the quadratic scan's answer. */
  def q140ImagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"))
      .filter(col("doc_id") < 300)
    val imgs = ids.as[Long].mapPartitions { it =>
      it.map { d =>
        val seed = if (d < 200) d / 2 else d + 1000L
        (d, Multimodal.syntheticBmp(seed, 16, 16))
      }
    }.toDF("doc_id", "payload")
    val sig = Multimodal.extractAHash(imgs, "payload")
      .select(col("doc_id").as("id"), col("ahash").as("simhash"))
    Dedup.hammingNearDup(sig, maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q142: audio near-dup — deterministic PCM16 WAVs (twin pairs share a
    * seed, like q140) through the REAL [[Multimodal.wavPcm16]] decode,
    * 64-frame energy-envelope fingerprint
    * ([[Multimodal.extractAudioHash]]), Hamming banding. Oracle replays
    * the sample formula and brute-forces all pairs. */
  def q142AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"))
      .filter(col("doc_id") < 300)
    val wavs = ids.as[Long].mapPartitions { it =>
      it.map { d =>
        val seed = if (d < 200) d / 2 else d + 1000L
        val n = 640 + (seed % 7).toInt * 64
        (d, Multimodal.syntheticWav(seed, n))
      }
    }.toDF("doc_id", "payload")
    val sig = Multimodal.extractAudioHash(wavs, "payload")
      .select(col("doc_id").as("id"), col("ahash").as("simhash"))
    Dedup.hammingNearDup(sig, maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q143: the selection layer END TO END — one declarative chain over a
    * dup-seeded corpus: quality scoring → exact-dedup canonical pick
    * (best quality per fingerprint) → per-source half-budget Hamilton
    * fill over the KEPT docs (seed 42 hash order) → train/val/test split
    * of the kept docs (seed 19). One row per corpus doc with its full
    * fate (is_kept, is_selected, split); the oracle replays the entire
    * composition. Composition is the point: each stage is an
    * already-gated operator, and this certifies they agree on hand-offs
    * (kept relation feeds the fill, fill never sees dropped dups). */
  def q143SelectPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = d.unionByName(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("source")))
      .withColumn("q", TextOps.qualityScore(col("text"), stopwords))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
      // nothing below reads text; the per-doc feature expressions
      // (quality-score regexes, fingerprint, token count) are the
      // expensive half and the relation is read by the best-per-fp
      // aggregate AND the flag join (which itself feeds four consumers)
      // — plan-cut the features so they compute once (with the default
      // checkpoint cut under AQE that happens at plan construction,
      // the bench's `prepare` phase — see Lineage)
      .drop("text")
      .planCut
    val best = corpus.groupBy(col("fp"))
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("fp"), (-col("b.nid")).as("keep_id"))
    val flagged = corpus.join(best, "fp")
      .withColumn("is_kept", col("doc_id") === col("keep_id"))
    val kept = flagged.filter(col("is_kept"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val alloc = Sampling.budgetAllocate(kept, "source", "doc_id",
        "n_tokens", num = 1, den = 2)
      .select(col("source"), col("alloc_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(Sampling.keyHash(col("doc_id"), 42L), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selected = kept
      .withColumn("tb", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .join(broadcast(alloc), Seq("source"))
      .select(col("doc_id"), (col("tb") < col("alloc_tokens")).as("sel"))
    val split = Sampling.withSplit(kept.select(col("doc_id")), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 19L)
    flagged.select(col("doc_id"), col("source"), col("is_kept"))
      .join(selected, Seq("doc_id"), "left")
      .join(split.select(col("doc_id"), col("split")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("is_kept"),
        coalesce(col("sel"), lit(false)).as("is_selected"),
        col("split"))
      .orderBy(col("doc_id"))
  }

  /** q168/q169 corpus: embeddings plus 1.5×-scaled twins (cosine 1 to
    * their originals) for every fifth vector — the q85 shape, but with
    * NO label column: the cluster structure must be learned. */
  private def autoCorpus(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val twins = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    emb.unionByName(twins)
      .select(col("vec_id"),
        when(col("vec_id") >= 100000,
          transform(col("embedding"), v => v * lit(1.5f)))
          .otherwise(col("embedding")).as("embedding"))
  }

  /** q168: PRODUCTION-SHAPE semantic dedup ([[Similarity.semDedupAuto]])
    * — unlike q85's fixed 10-label codebook (quadratic once the corpus
    * outgrows it), the codebook here is ceil(n/50) centroids trained by
    * the deterministic fixed-point k-means, so cluster size — and with
    * it the within-cluster pair space — stays bounded as n grows. The
    * oracle replays the ENTIRE path in SQL: k-lowest-id seeding, two
    * Lloyd rounds (fixed-point exact means), nearest-centroid
    * assignment, and the within-cluster cosine pruning. This is the
    * exact plan the sf10 probe measures, now value-gated. */
  def q168SemDedupAuto(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAuto(autoCorpus(spark, dir), "vec_id", "embedding",
        minCos = 0.99, targetClusterSize = 50, iters = 2)
      .orderBy(col("vec_id"))

  /** q169: PRODUCTION-SHAPE mutual k-NN graph
    * ([[Similarity.knnGraphAuto]], k=3) — q133's graph over a LEARNED
    * k ∝ n codebook instead of the fixed label set, same training
    * replay as q168. */
  def q169KnnGraphAuto(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphAuto(autoCorpus(spark, dir), "vec_id", "embedding",
        k = 3, targetClusterSize = 50, iters = 2)
      .orderBy(col("vec_id"))

  /** q171: multi-probe IVF ANN over a TRAINED codebook
    * ([[Similarity.ivfTopKMultiProbe]], nlist=8, nProbe=2, k=5) — the
    * recall/cost dial of IVF indexes, previously spec-only. The exact
    * fixed-point trainer makes the whole train → assign → probe → rank
    * path SQL-replayable, so the oracle value-checks the production ANN
    * plan, not a label shortcut. */
  def q171IvfMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    // two INDEPENDENT reads: deriving queries and corpus from one plan
    // makes the probe a self-join, and Catalyst's self-join dedup drops
    // the attribute the probe-list lambda still references (runtime
    // BindReferences failure); separate scans have distinct attribute
    // ids, so nothing needs rewriting
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfTopKMultiProbe(emb().filter(col("vec_id") < 10), emb(),
        "vec_id", "embedding", k = 5, nlist = 8, nProbe = 2, iters = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q172: SAMPLE-TRAINED semantic dedup
    * ([[Similarity.semDedupAutoSampled]]) — q168's k ∝ n configuration
    * with the codebook trained on the deterministic half-sample
    * `vec_id % 2 = 0`: training cost halves, the full-corpus assignment
    * and dedup are unchanged, and the oracle replays the sampled
    * training verbatim (the rung of the scale ladder past the n·k flat
    * trainer). */
  def q172SemDedupSampled(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAutoSampled(autoCorpus(spark, dir), "vec_id",
        "embedding", minCos = 0.99, trainSample = col("vec_id") % 2 === 0,
        targetClusterSize = 50, iters = 2)
      .orderBy(col("vec_id"))

  /** q173: TWO-LEVEL semantic dedup ([[Similarity.semDedupTwoLevel]]) —
    * the 100M-vector recipe: the q168 k ∝ n codebook is itself
    * quantized under ceil(√k) super-centroids ([[Similarity.superQuantize]],
    * driver-side over k×dim model state with the trainer's exact
    * arithmetic), and corpus assignment probes super-then-children
    * (n·2√k distance folds instead of n·k). The oracle replays BOTH
    * training levels (two composed k-means CTE instances), the
    * childless-super drop, the two-stage argmin, and the dedup. */
  def q173TwoLevelDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = autoCorpus(spark, dir)
    val n = corpus.count()
    val k = ((n + 49) / 50).toInt
    val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k, iters = 2)
    Similarity.semDedupTwoLevel(corpus, "vec_id", "embedding", cents,
        minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q175: AGREEMENT AUDIT of the two-level assignment ladder vs the
    * flat argmin — per flat cluster: how many vectors the √k ladder
    * routes identically (agree_ppm). This is the recall audit a
    * deployment runs before flipping semantic dedup from n·k to n·2√k
    * assignment: q135's quantization-recall discipline applied to the
    * hierarchy. Both assignments and the super-training are replayed in
    * full by the oracle. */
  def q175AssignAgreement(spark: SparkSession, dir: String): DataFrame = {
    val corpus = autoCorpus(spark, dir)
    val n = corpus.count()
    val k = ((n + 49) / 50).toInt
    val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k, iters = 2)
    val (supers, children) = Similarity.superQuantize(cents)
    corpus
      .withColumn("flat",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("two",
        Similarity.assignClusterTwoLevel(col("embedding"), supers, children)
          .cast("long"))
      .groupBy(col("flat").as("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(when(col("flat") === col("two"), 1L).otherwise(0L))
          .cast("long").as("n_agree"))
      .withColumn("agree_ppm", expr("(1000000 * n_agree) div n_vectors"))
      .orderBy(col("cluster"))
  }

  /** q176: farthest-first-SEEDED k-means clustering
    * ([[Similarity.seedFarthestFirst]] → [[Similarity.trainCentroids]]
    * with explicit init) — the k-means++-shaped seeding previously
    * spec-only: 5 deterministic distributed argmax rounds pick
    * spread-out seeds, two Lloyd rounds refine, the corpus assigns.
    * The oracle replays the whole ladder: each seeding round is one
    * max-by-(distance, id) CTE over an incrementally-`least`ed
    * nearest-seed distance, then the shared training replay consumes
    * the seeds as its init. Output = per-cluster size + lowest member,
    * a compact value check of seed → train → assign. */
  def q176FarthestSeedIvf(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val seeds = Similarity.seedFarthestFirst(emb(), "vec_id", "embedding",
      k = 6)
    val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
      k = 6, iters = 2, init = Some(seeds))
    emb()
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        min(col("vec_id")).cast("long").as("first_vec"))
      .orderBy(col("cluster"))
  }

  /** q177: INCREMENTAL semantic dedup
    * ([[Similarity.semDedupIncremental]]) — the standing-corpus ingest
    * flow: the quantizer is trained on the BASE only (k = ceil(n_base/50)),
    * base rows are settled, and the delta batch carries all three
    * verdict cases: scaled twins of base vectors (dropped against the
    * base), reversed-embedding novelties (kept — no base neighbor), and
    * 2×-scaled copies of those novelties (dropped delta-internally,
    * lower-id novelty wins). The oracle replays the base-only training,
    * the standing assignment, and both drop rules. */
  /** The q177/q178 augmentation delta: scaled twins of base vectors
    * (variant 1), reversed-embedding novelties (variant 2), and
    * 2×-scaled copies of those novelties (variant 3). The variants come
    * from ONE scan via explode, not a 3-way union: this synthetic union
    * shape trips two optimizer bugs (Union.rewriteConstraints with
    * lambdas in children; a PushPredicateThroughNonJoin assertion
    * pushing the dedup's filters through the union+CASE projection),
    * and checkpointing it instead trips the LogicalRDD self-join
    * attribute-rewrite bug the q171 gate hit. An exploded single-scan
    * plan is also what a real augmentation pipeline runs. */
  private[operators] def augmentDelta(emb: DataFrame): DataFrame = {
    val tagged = emb
      .select(col("vec_id"), col("embedding"),
        explode(typedlit(Seq(1, 2, 3))).as("variant"))
      .filter((col("variant") === 1 && col("vec_id") % 5 === 0) ||
        (col("variant") === 2 && col("vec_id") % 7 === 0) ||
        (col("variant") === 3 && col("vec_id") % 14 === 0))
    tagged.select(
      (col("vec_id") + col("variant") * 100000L).as("vec_id"),
      when(col("variant") === 3,
        transform(reverse(col("embedding")), v => v * lit(2.0f)))
        .when(col("variant") === 2, reverse(col("embedding")))
        .otherwise(transform(col("embedding"), v => v * lit(1.5f)))
        .as("embedding"))
  }

  def q177IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    Similarity.semDedupIncremental(base, delta, "vec_id", "embedding",
        cents, minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** The q178 standing corpus: base rows (variant 0) plus the
    * [[augmentDelta]] variants, all from ONE exploded scan (the union
    * shape trips the optimizer bugs documented on [[augmentDelta]]). */
  private def driftCorpus(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"),
        explode(typedlit(Seq(0, 1, 2, 3))).as("variant"))
      .filter(col("variant") === 0 ||
        (col("variant") === 1 && col("vec_id") % 5 === 0) ||
        (col("variant") === 2 && col("vec_id") % 7 === 0) ||
        (col("variant") === 3 && col("vec_id") % 14 === 0))
      .select((col("vec_id") + col("variant") * 100000L).as("vec_id"),
        when(col("variant") === 3,
          transform(reverse(col("embedding")), v => v * lit(2.0f)))
          .when(col("variant") === 2, reverse(col("embedding")))
          .when(col("variant") === 1,
            transform(col("embedding"), v => v * lit(1.5f)))
          .otherwise(col("embedding")).as("embedding"))

  /** q178: CODEBOOK-DRIFT AUDIT ([[Similarity.codebookDrift]]) — the
    * governance gate for the q177 standing-corpus flow: the standing
    * quantizer (trained on the base only, q177's exact configuration)
    * vs a fresh retrain on base + the accumulated [[augmentDelta]]
    * batch, measured per standing cluster as the modal-block share of
    * its members under the fresh codebook (stable_ppm) and the number
    * of retrained clusters it scatters into. The oracle replays BOTH
    * trainings (two composed k-means CTE instances over the same
    * corpus, one base-restricted) and the integer audit verbatim. */
  def q178CodebookDrift(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def corpus() = driftCorpus(emb())
    val base = corpus().filter(col("vec_id") < 100000L)
    val nBase = base.count()
    val nFull = corpus().count()
    val kStd = ((nBase + 49) / 50).toInt
    val kNew = ((nFull + 49) / 50).toInt
    val standing = Similarity.trainCentroids(base, "vec_id", "embedding",
      kStd, iters = 2)
    val retrained = Similarity.trainCentroids(corpus(), "vec_id",
      "embedding", kNew, iters = 2)
    Similarity.codebookDrift(corpus(), "vec_id", "embedding",
      standing, retrained)
  }

  /** q179: TWO-LEVEL PROBE LISTS for multi-probe IVF
    * ([[Similarity.ivfTopKTwoLevelProbe]], nlist=8, sProbe=2, nProbe=2,
    * k=5) — q171's ANN with the last flat-scan removed: the query's
    * probe list ranks ceil(√nlist) supers then only the chosen supers'
    * children, and the corpus assigns through the same ladder. The
    * oracle replays both training levels, the childless-super drop,
    * the two-stage probe-list construction, the two-level corpus
    * assignment, and the windowed top-5. */
  def q179TwoLevelProbe(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfTopKTwoLevelProbe(emb().filter(col("vec_id") < 10),
        emb(), "vec_id", "embedding", k = 5, nlist = 8, sProbe = 2,
        nProbe = 2, iters = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q181: incremental dedup against the MATERIALIZED standing store
    * ([[Similarity.semDedupIncrementalAssigned]]) — q177's scenario
    * with the base's (id, vec, cluster, norm) written ONCE to parquet
    * and read back, the way a standing 100 TB corpus actually holds
    * its assignment (the per-batch n·k base re-assignment q177's
    * convenience form implies is gone; IncrementalProbe measures the
    * difference as the base grows). Floats, the norm double, and the
    * cluster id all round-trip parquet bit-exactly, so the verdicts —
    * and the oracle — are q177's verbatim. */
  def q181IncrementalStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q181-").resolve("standing").toString
    base
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .write.mode("overwrite").parquet(store)
    Similarity.semDedupIncrementalAssigned(spark.read.parquet(store),
        delta, "vec_id", "embedding", "cluster", "nrm", cents,
        minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q229: HISTORICAL SEMANTIC JUDGMENT REPLAY
    * ([[Similarity.semanticJudgeStoreAt]]) — q227's embedding twin:
    * the standing store AND its coarse codebook pin together under one
    * retained manifest version, so judging a delta AS OF a
    * version replays the verdicts that version's live judgment would
    * have produced, bit-exactly. After pinning v0 the gate mutates
    * BOTH halves of the judgment state: it appends reversed copies of
    * every base vector (cos = 1 partners for the delta's reversed
    * variants — a member leak flips their verdicts to drop) and
    * commits a RETRAINED codebook over the grown corpus (different k,
    * different assignments — a model leak reshuffles co-membership).
    * The oracle replays the pre-mutation judgment only (q177's
    * closed-form), so a leak of either artifact breaks the hash. The
    * judgment runs the PRUNED scale path (pruneBaseByDeltaClusters
    * defaults true since round 15): the pinned members are read
    * through the same two pruning rungs as the live daily flow, so a
    * pruning bug that drops or leaks a cluster ALSO breaks the hash —
    * the flat-per-decade read SemanticReplayProbe measures is the
    * gated path. Pruned ≡ unpruned equivalence is spec-gated in
    * StandingStoreSpec. */
  def q229SemanticReplay(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    def assigned(df: DataFrame, cs: Seq[Seq[Double]]) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cs).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val store = Fixtures.tempDir("graft-q229-").resolve("standing").toString
    Similarity.writeStandingStore(assigned(base, cents), store, "cluster",
      buckets = 8)
    Similarity.writeCodebook(spark, store, cents)
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      val v0 = Similarity.standingStoreVersions(spark, store).last
      // post-pin member mutation: reversed copies of every base vector
      val delta2 = emb().select((col("vec_id") + 500000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.appendToStandingStore(assigned(delta2, cents), store,
        "cluster")
      // post-pin model mutation: a refit over the grown corpus
      val grown = base.unionByName(delta2)
      val kNew = ((grown.count() + 49) / 50).toInt
      Similarity.writeCodebook(spark, store,
        Similarity.trainCentroids(grown, "vec_id", "embedding", kNew,
          iters = 2))
      Similarity.semanticJudgeStoreAt(spark, store, delta, "vec_id",
          "embedding", v0, minCos = 0.99)
        .orderBy(col("vec_id"))
    }
  }

  /** q231: q229's replay with a CLUSTER-SPARSE delta, so the pruned
    * pinned read is NON-VACUOUS at gate scale. q229's full augmented
    * delta covers every cluster and bucket at sf0.01 (measured:
    * 10/10 clusters, 8/8 buckets), so its pruned read degenerates to
    * the full read and a prune-derivation bug (a cluster mapped to the
    * wrong bucket dir, a dropped cluster in the touched list) could
    * not break its hash. Here the judged delta is 5 rows (≤ 5 of 10
    * clusters, provably < 8 buckets — `require`d, so a data-scale
    * change can't silently re-vacuate the gate): buckets the delta
    * does not touch are genuinely pruned away, and a prune leak or
    * drop flips keep verdicts and breaks the hash. Same store build,
    * same post-pin member + model mutations as q229. */
  def q231SemanticReplaySparse(spark: SparkSession,
                               dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    // the sparse judged delta: variant-1 scaled twins of every 100th
    // base id — 5 rows at sf0.01. The ABSOLUTE id cap (< 100700, i.e.
    // at most 7 rows at any data scale) is what keeps the `require`
    // below true when the corpus grows: without it the %-100 filter
    // picks ~n/1000 rows and the r15 bench at sf0.1 (50 rows ≥ 8
    // buckets) failed the requirement outright, leaving the gate
    // unmeasured. At sf0.01/sf0.001 the cap is above every augmented
    // id the window yields (max 100400), so the gated results are
    // bit-identical; the oracle carries the same predicate.
    val sparse = augmentDelta(emb())
      .filter(col("vec_id") >= 100000L && col("vec_id") < 200000L &&
        col("vec_id") % 100 === 0 && col("vec_id") < 100700L)
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    def assigned(df: DataFrame, cs: Seq[Seq[Double]]) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cs).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val store = Fixtures.tempDir("graft-q231-").resolve("standing").toString
    Similarity.writeStandingStore(assigned(base, cents), store, "cluster",
      buckets = 8)
    Similarity.writeCodebook(spark, store, cents)
    // non-vacuity: with fewer delta rows than buckets, the touched
    // bucket set is a proper subset — the prune must actually prune
    val n = sparse.count()
    require(n >= 1 && n < 8,
      s"q231's delta must be non-empty and cluster-sparse (fewer rows" +
        s" than buckets), got $n rows: an empty delta gates nothing and" +
        " a dense one degenerates to q229's full read")
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      val v0 = Similarity.standingStoreVersions(spark, store).last
      val delta2 = emb().select((col("vec_id") + 500000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.appendToStandingStore(assigned(delta2, cents), store,
        "cluster")
      val grown = base.unionByName(delta2)
      val kNew = ((grown.count() + 49) / 50).toInt
      Similarity.writeCodebook(spark, store,
        Similarity.trainCentroids(grown, "vec_id", "embedding", kNew,
          iters = 2))
      Similarity.semanticJudgeStoreAt(spark, store, sparse, "vec_id",
          "embedding", v0, minCos = 0.99)
        .orderBy(col("vec_id"))
    }
  }

  /** q187: incremental dedup over the PARTITIONED standing store
    * ([[Similarity.writeStandingStore]] / [[Similarity.semDedupIncrementalStore]])
    * — q181's scenario with the store hash-bucketed into `c_bucket`
    * partition directories and cluster-sorted within them, so the delta
    * batch's cluster set prunes FILES (partition dirs + row groups), not
    * just rows: the physical layout under which per-batch base I/O
    * tracks the delta's cluster footprint instead of the corpus size.
    * Pruning is verdict-invariant (untouched clusters contribute no
    * pairs) and parquet round-trips bit-exactly, so the oracle is
    * q177/q181's verbatim. StandingStoreSpec asserts the plan shape
    * (PartitionFilters on c_bucket, cluster IN pushed to the scan). */
  def q187StorePruned(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q187-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.writeStandingStore(assigned(base), store, "cluster",
      buckets = 16)
    val deltaAssigned = assigned(delta).cache()
    Similarity.semDedupIncrementalStore(spark, store, deltaAssigned,
        "vec_id", "embedding", "cluster", "nrm", minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q188: DELETE-BY-ID from the partitioned standing store
    * ([[Similarity.deleteFromStandingStore]]) — the right-to-be-
    * forgotten lifecycle: base vectors with `vec_id % 10 = 3` are
    * removed from the q187 store (only the buckets containing them are
    * rewritten; StandingStoreSpec asserts untouched buckets keep their
    * exact file listings), then the SAME delta batch is judged against
    * what remains. The oracle is q177's replay with the deleted ids
    * excluded from base membership (the standing codebook itself is
    * unchanged: trained before the delete, as a production quantizer
    * would be), so it confirms the delta is judged against exactly the
    * survivors; the verdict FLIP a deletion can cause — a delta row
    * whose only near-twin was deleted now survives — is asserted on a
    * constructed fixture in StandingStoreSpec. */
  def q188StoreDelete(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q188-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.writeStandingStore(assigned(base), store, "cluster",
      buckets = 16)
    Similarity.deleteFromStandingStore(spark, store,
      base.filter(col("vec_id") % 10 === 3).select(col("vec_id")), "vec_id")
    val deltaAssigned = assigned(delta).cache()
    Similarity.semDedupIncrementalStore(spark, store, deltaAssigned,
        "vec_id", "embedding", "cluster", "nrm", minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q190: FULL STORE LIFECYCLE — write → judge → append → delete →
    * compact, then audit what the store HOLDS against the relational
    * truth. One gate for the property the four lifecycle operators only
    * individually guarantee: after a day's worth of mutations (the
    * delta judged per q177's rules against the full base, keepers
    * appended into their buckets, base ids ending in 3 then forgotten,
    * fragmented buckets compacted), the store's per-cluster contents —
    * counts, base/delta split, id range — equal what a from-scratch
    * relational evaluation of the same sequence produces. Ordering is
    * load-bearing and replayed: verdicts predate the delete (keepers
    * were judged against the full base), the delete removes only base
    * rows, compaction is contents-invariant. */
  def q190StoreLifecycle(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q190-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.writeStandingStore(assigned(base), store, "cluster",
      buckets = 16)
    val deltaAssigned = assigned(delta).cache()
    val verdicts = Similarity.semDedupIncrementalStore(spark, store,
      deltaAssigned, "vec_id", "embedding", "cluster", "nrm",
      minCos = 0.99).cache()
    Similarity.appendToStandingStore(
      deltaAssigned
        .join(verdicts.filter(col("keep")).select(col("vec_id")), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cluster"), col("nrm")),
      store, "cluster")
    Similarity.deleteFromStandingStore(spark, store,
      base.filter(col("vec_id") % 10 === 3).select(col("vec_id")), "vec_id")
    Similarity.compactStandingStore(spark, store, maxFilesPerBucket = 1)
    Similarity.readStandingStore(spark, store)._1
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(when(col("vec_id") < 100000L, 1L).otherwise(0L))
          .cast("long").as("n_base"),
        sum(when(col("vec_id") >= 100000L, 1L).otherwise(0L))
          .cast("long").as("n_delta"),
        min(col("vec_id")).cast("long").as("min_vec"),
        max(col("vec_id")).cast("long").as("max_vec"))
      .orderBy(col("cluster"))
  }

  /** q221: q190's FULL STORE LIFECYCLE on a VERSIONED store
    * ([[graft.operators.StoreSwap]]'s snapshot mode — manifest-rename
    * commits over immutable generation dirs): write(versioned) →
    * judge → append (a new generation EXTENDING the touched buckets'
    * gen lists) → delete (a rewrite REPLACING them) → compact (the
    * cross-generation fragmentation detector folds each bucket back
    * to one gen) → dump through the manifest-resolved read. The
    * oracle is q190's verbatim: the commit protocol must be
    * content-invariant, and VersionedStoreSpec separately proves the
    * reader-atomicity it adds. */
  def q221VersionedEmbStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q221-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.writeStandingStore(assigned(base), store, "cluster",
      buckets = 16)
    val deltaAssigned = assigned(delta).cache()
    val verdicts = Similarity.semDedupIncrementalStore(spark, store,
      deltaAssigned, "vec_id", "embedding", "cluster", "nrm",
      minCos = 0.99).cache()
    Similarity.appendToStandingStore(
      deltaAssigned
        .join(verdicts.filter(col("keep")).select(col("vec_id")), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cluster"), col("nrm")),
      store, "cluster")
    Similarity.deleteFromStandingStore(spark, store,
      base.filter(col("vec_id") % 10 === 3).select(col("vec_id")), "vec_id")
    Similarity.compactStandingStore(spark, store, maxFilesPerBucket = 1)
    Similarity.readStandingStore(spark, store)._1
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(when(col("vec_id") < 100000L, 1L).otherwise(0L))
          .cast("long").as("n_base"),
        sum(when(col("vec_id") >= 100000L, 1L).otherwise(0L))
          .cast("long").as("n_delta"),
        min(col("vec_id")).cast("long").as("min_vec"),
        max(col("vec_id")).cast("long").as("max_vec"))
      .orderBy(col("cluster"))
  }

  /** q222: TIME-TRAVEL READ of a versioned standing store — the
    * snapshot-isolation protocol's second dividend: because every
    * commit is a whole manifest over immutable generations, any
    * RETAINED manifest is a complete, readable store state. The gate
    * builds the versioned store (v0), appends the full augmented delta
    * (v1), deletes a base slice (v2) — then reads AS OF v0 through
    * [[Similarity.readStandingStoreAt]] and groups per cluster. The
    * oracle replays ONLY the base build: the later mutations must be
    * invisible to the pinned snapshot (a leaked delta row breaks
    * n_vectors/max_vec; a leaked delete breaks n_vectors/min_vec).
    * `graft.store.snapshotKeep` is raised for the gate's three
    * commits — retention IS the time-travel horizon, exactly the
    * table-format contract
    * (the reference has no store layer at all — it delegates state to
    * the DBMS, /root/reference/Wrap/DB.pm:73). */
  def q222StoreTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q222-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      Similarity.writeStandingStore(assigned(base), store, "cluster",
        buckets = 16)
      val v0 = Similarity.standingStoreVersions(spark, store).last
      Similarity.appendToStandingStore(assigned(delta), store, "cluster")
      Similarity.deleteFromStandingStore(spark, store,
        base.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
        "vec_id")
      Similarity.readStandingStoreAt(spark, store, v0)._1
        .groupBy(col("cluster"))
        .agg(count(lit(1)).cast("long").as("n_vectors"),
          min(col("vec_id")).cast("long").as("min_vec"),
          max(col("vec_id")).cast("long").as("max_vec"))
        .orderBy(col("cluster"))
    }
  }

  /** q225: MANIFEST-PRUNED CDC over the versioned store — q222's
    * scenario read as a CHANGE FEED: diff(v0 → live) after the append
    * and the delete must be exactly {insert: every delta row, delete:
    * the base tenth-slice}, with updates empty (no refit between the
    * versions). [[Similarity.standingStoreDiff]] compares the two
    * manifests' generation lists first and reads ONLY differing
    * buckets — generations are immutable, so an equal gen list proves
    * a bucket byte-identical without opening it; the diff's cost
    * tracks the mutation footprint between the versions, never the
    * store. The oracle derives both change sets closed-form from the
    * same training replay. */
  def q225StoreDiff(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val store = Fixtures.tempDir("graft-q225-").resolve("standing").toString
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    GraftConf.SnapshotKeep.withValue(spark, "8") {
      Similarity.writeStandingStore(assigned(base), store, "cluster",
        buckets = 16)
      val v0 = Similarity.standingStoreVersions(spark, store).last
      Similarity.appendToStandingStore(assigned(delta), store, "cluster")
      Similarity.deleteFromStandingStore(spark, store,
        base.filter(col("vec_id") % 10 === 3).select(col("vec_id")),
        "vec_id")
      val live = Similarity.standingStoreVersions(spark, store).last
      Similarity.standingStoreDiff(spark, store, v0, live)
        .orderBy(col("change"), col("vec_id"))
    }
  }

  /** q191: ANN SEARCH over the partitioned standing store
    * ([[Similarity.ivfTopKStore]]) — q171's multi-probe IVF with
    * everything a search process needs living ON DISK: the codebook
    * persisted beside the store ([[Similarity.writeCodebook]]), the
    * corpus assignment read back (not recomputed), and the scan pruned
    * to the query batch's probed clusters (partition dirs + row
    * groups). Results are q171's verbatim — only probed clusters can
    * contribute, and doubles/floats round-trip parquet bit-exactly —
    * so the oracle is shared. */
  def q191AnnStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
      8, iters = 2)
    val store = Fixtures.tempDir("graft-q191-").resolve("standing").toString
    Similarity.writeStandingStore(
      emb()
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), cents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 8)
    Similarity.writeCodebook(spark, store, cents)
    Similarity.ivfTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q193: TWO-LEVEL ANN SEARCH over the partitioned store
    * ([[Similarity.ivfTopKStoreTwoLevel]]) — q179's √k-laddered probe
    * lists and corpus assignment, with the corpus side living on disk
    * in the q187 layout and the codebook reloaded from its sidecar:
    * no per-query operation touches all nlist centroids AND only the
    * probed clusters' buckets/row groups are read. The reloaded
    * codebook reproduces the super-quantizer hierarchy bit-exactly,
    * so the oracle is q179's verbatim. */
  def q193AnnStoreTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
      8, iters = 2)
    val (supers, children) = Similarity.superQuantize(cents)
    val store = Fixtures.tempDir("graft-q193-").resolve("standing").toString
    Similarity.writeStandingStore(
      emb()
        .withColumn("cluster",
          Similarity.assignClusterTwoLevel(col("embedding"), supers,
            children).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 8)
    Similarity.writeCodebook(spark, store, cents)
    Similarity.ivfTopKStoreTwoLevel(spark, store,
        emb().filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, sProbe = 2, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q194: DELETE → REFIT interaction through the store's shared
    * state — the two mutations q188 and q192 gate separately, composed
    * in the order an operator would run them (forget ids first, then
    * re-cluster what drifted): the refit must train ONLY on surviving
    * members (the pruned read sees post-delete files) and must not
    * resurrect deleted rows through its rewrite. Drift is detected
    * BEFORE the delete (on the full corpus — the audit a deployment
    * already ran); the oracle replays that ordering: drifted from the
    * full-corpus ppm rule, refit trained on drifted-members minus the
    * deleted ids, final membership = (undrifted survivors minus
    * deleted) ∪ refit assignment. */
  def q194DeleteThenRefit(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def corpus() = driftCorpus(emb())
    val base = corpus().filter(col("vec_id") < 100000L)
    val nBase = base.count()
    val nFull = corpus().count()
    val kStd = ((nBase + 49) / 50).toInt
    val kNew = ((nFull + 49) / 50).toInt
    val standing = Similarity.trainCentroids(base, "vec_id", "embedding",
      kStd, iters = 2)
    val retrained = Similarity.trainCentroids(corpus(), "vec_id",
      "embedding", kNew, iters = 2)
    val drifted = Similarity.codebookDrift(corpus(), "vec_id", "embedding",
        standing, retrained)
      .filter(col("stable_ppm") < 500000L)
      .select(col("cluster")).collect().map(_.getLong(0)).toSet
    val store = Fixtures.tempDir("graft-q194-").resolve("standing").toString
    Similarity.writeStandingStore(
      corpus()
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), standing).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 16)
    Similarity.writeCodebook(spark, store, standing)
    Similarity.deleteFromStandingStore(spark, store,
      corpus().filter(col("vec_id") % 10 === 3).select(col("vec_id")),
      "vec_id")
    Similarity.refitStoreDriftedClusters(spark, store, "vec_id",
      "embedding", drifted, targetClusterSize = 50, iters = 2)
    Similarity.readStandingStore(spark, store)._1
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        min(col("vec_id")).cast("long").as("first_vec"))
      .orderBy(col("cluster"))
  }

  /** q195: REFIT → INGEST — the month continues after the refit: the
    * next delta batch must assign against the SPARSE survivor ∪ fresh
    * codebook ([[Similarity.assignClusterIds]] over
    * [[Similarity.readCodebookIds]] — id order, not list position) and
    * be judged against the post-refit store, where drifted members now
    * live under fresh cluster ids. This is the seam q184/q189 (dense
    * codebook ingest) and q192 (refit) leave untested. The oracle
    * composes q192's replay with a fourth stage: the merged (cid, cv)
    * relation, the batch's lowest-id argmin against it, and q177's two
    * drop rules against the refit-final membership. */
  def q195RefitThenIngest(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def corpus() = driftCorpus(emb())
    val base = corpus().filter(col("vec_id") < 100000L)
    val nBase = base.count()
    val nFull = corpus().count()
    val kStd = ((nBase + 49) / 50).toInt
    val kNew = ((nFull + 49) / 50).toInt
    val standing = Similarity.trainCentroids(base, "vec_id", "embedding",
      kStd, iters = 2)
    val retrained = Similarity.trainCentroids(corpus(), "vec_id",
      "embedding", kNew, iters = 2)
    val drifted = Similarity.codebookDrift(corpus(), "vec_id", "embedding",
        standing, retrained)
      .filter(col("stable_ppm") < 500000L)
      .select(col("cluster")).collect().map(_.getLong(0)).toSet
    val store = Fixtures.tempDir("graft-q195-").resolve("standing").toString
    Similarity.writeStandingStore(
      corpus()
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), standing).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 16)
    Similarity.writeCodebook(spark, store, standing)
    Similarity.refitStoreDriftedClusters(spark, store, "vec_id",
      "embedding", drifted, targetClusterSize = 50, iters = 2)
    val cb = Similarity.readCodebookIds(spark, store)
    val batch = emb().filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 400000L).as("vec_id"),
        transform(col("embedding"), v => v * lit(0.5f)).as("embedding"))
    val batchAssigned = batch
      .withColumn("cluster",
        Similarity.assignClusterIds(col("embedding"), cb).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .cache()
    Similarity.semDedupIncrementalStore(spark, store, batchAssigned,
        "vec_id", "embedding", "cluster", "nrm", minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q192: IN-PLACE DRIFT REFIT of the partitioned store
    * ([[Similarity.refitStoreDriftedClusters]]) — q183's drift response
    * executed the way a standing corpus actually would: drifted
    * clusters' members are read through the pruned path, re-clustered
    * among THEMSELVES (k' = ceil(|members|/50)), written back under
    * fresh ids appended past the codebook's max, and only their buckets
    * are rewritten — undrifted clusters keep their ids, their rows, and
    * their files (membership of undrifted clusters is settled, the
    * same invariant the incremental flow commits to; q183's whole-
    * corpus re-assignment is the heavier alternative). The oracle
    * replays standing + fresh-retrain trainings, the ppm drift rule,
    * the members-only refit training, and the survivors ∪ (kStd-offset
    * refit) final membership. */
  def q192StoreRefit(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def corpus() = driftCorpus(emb())
    val base = corpus().filter(col("vec_id") < 100000L)
    val nBase = base.count()
    val nFull = corpus().count()
    val kStd = ((nBase + 49) / 50).toInt
    val kNew = ((nFull + 49) / 50).toInt
    val standing = Similarity.trainCentroids(base, "vec_id", "embedding",
      kStd, iters = 2)
    val retrained = Similarity.trainCentroids(corpus(), "vec_id",
      "embedding", kNew, iters = 2)
    val drifted = Similarity.codebookDrift(corpus(), "vec_id", "embedding",
        standing, retrained)
      .filter(col("stable_ppm") < 500000L)
      .select(col("cluster")).collect().map(_.getLong(0)).toSet
    val store = Fixtures.tempDir("graft-q192-").resolve("standing").toString
    Similarity.writeStandingStore(
      corpus()
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), standing).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 16)
    Similarity.writeCodebook(spark, store, standing)
    Similarity.refitStoreDriftedClusters(spark, store, "vec_id",
      "embedding", drifted, targetClusterSize = 50, iters = 2)
    Similarity.readStandingStore(spark, store)._1
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        min(col("vec_id")).cast("long").as("first_vec"))
      .orderBy(col("cluster"))
  }

  /** q183: DRIFT-TRIGGERED PARTIAL REFIT
    * ([[Similarity.refitDriftedClusters]]) — the action the q178 audit
    * exists to trigger: standing clusters whose stable_ppm fell below
    * 500000 (half their members scattered under a fresh retrain) are
    * re-clustered from their OWN members (k' = ceil(|members|/50));
    * undrifted centroids — and their standing-store cluster ids — stay
    * untouched. Output = corpus re-assigned against the merged
    * codebook, summarized per cluster. The oracle replays THREE
    * training instances (standing, fresh-retrain, refit-on-members),
    * the ppm drift rule, the survivor/refit merge order, and the final
    * assignment. */
  def q183PartialRefit(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def corpus() = driftCorpus(emb())
    val base = corpus().filter(col("vec_id") < 100000L)
    val nBase = base.count()
    val nFull = corpus().count()
    val kStd = ((nBase + 49) / 50).toInt
    val kNew = ((nFull + 49) / 50).toInt
    val standing = Similarity.trainCentroids(base, "vec_id", "embedding",
      kStd, iters = 2)
    val retrained = Similarity.trainCentroids(corpus(), "vec_id",
      "embedding", kNew, iters = 2)
    val drifted = Similarity.codebookDrift(corpus(), "vec_id", "embedding",
        standing, retrained)
      .filter(col("stable_ppm") < 500000L)
      .select(col("cluster")).collect().map(_.getLong(0)).toSet
    Similarity.refitDriftedClusters(corpus(), "vec_id", "embedding",
        standing, drifted)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        min(col("vec_id")).cast("long").as("first_vec"))
      .orderBy(col("cluster"))
  }

  /** q185: PROBE-AGREEMENT AUDIT of the two-level probe ladder vs the
    * flat ranking — q175's discipline applied to the query side: per
    * query, how many of the nProbe probe targets the √k ladder picks
    * identically to the flat all-centroid ranking, and how many of the
    * final top-5 neighbors survive the switch. This is the audit a
    * deployment runs before flipping q171's probe-list construction to
    * q179's — the recall trade made visible where the two legitimately
    * differ (a true near cluster can hide under a losing super). The
    * oracle replays both probe constructions and both top-5s. */
  def q185ProbeAgreement(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
      8, iters = 2)
    val (supers, children) = Similarity.superQuantize(cents)
    val probes = emb().filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        size(array_intersect(
          Similarity.probeClusters(col("embedding"), cents, 2),
          Similarity.probeClustersTwoLevel(col("embedding"), supers,
            children, sProbe = 2, nProbe = 2)))
          .cast("long").as("n_common_probes"))
    val flat5 = Similarity.ivfTopKMultiProbe(
        emb().filter(col("vec_id") < 10), emb(), "vec_id", "embedding",
        k = 5, nlist = 8, nProbe = 2, iters = 2)
      .select(col("query_id").as("qf"), col("neighbor_id").as("nf"))
    val two5 = Similarity.ivfTopKTwoLevelProbe(
        emb().filter(col("vec_id") < 10), emb(), "vec_id", "embedding",
        k = 5, nlist = 8, sProbe = 2, nProbe = 2, iters = 2)
      .select(col("query_id").as("qt"), col("neighbor_id").as("nt"))
    val common5 = flat5.join(two5,
        col("qf") === col("qt") && col("nf") === col("nt"))
      .groupBy(col("qf").as("query_id"))
      .agg(count(lit(1)).cast("long").as("n_common_top5"))
    probes.join(common5, Seq("query_id"), "left")
      .select(col("query_id"), col("n_common_probes"),
        coalesce(col("n_common_top5"), lit(0L)).as("n_common_top5"))
      .orderBy(col("query_id"))
  }

  /** q186: INCREMENTAL dedup with BOTH sides on the √k ladder — the
    * complete 100M-vector daily recipe in one gate: standing base and
    * delta batch each assigned through [[Similarity.assignClusterTwoLevel]]
    * (n·2√k folds, the q173 discipline) and judged by the prepped core
    * (q181's shape). Composes the three production moves — k ∝ n
    * codebook, two-level assignment, base-never-self-joined delta
    * scoring — that q173/q177/q181 gate separately. The oracle replays
    * both training levels and the two-stage assignment of base ∪
    * delta, then q177's drop rules. */
  def q186IncrementalTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb()
    val delta = augmentDelta(emb())
    val nBase = base.count()
    val k = ((nBase + 49) / 50).toInt
    val cents = Similarity.trainCentroids(base, "vec_id", "embedding",
      k, iters = 2)
    val (supers, children) = Similarity.superQuantize(cents)
    def assigned(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignClusterTwoLevel(col("embedding"), supers,
          children).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.semDedupIncrementalPrepped(assigned(base), assigned(delta),
        "vec_id", "embedding", "cluster", "nrm", "cluster", "nrm",
        minCos = 0.99)
      .orderBy(col("vec_id"))
  }

  /** q199: IVF-PQ SEARCH over the partitioned store
    * ([[Similarity.writePqSidecar]] + [[Similarity.pqTopKStore]]) —
    * the two compression axes of a billion-vector serving layout
    * composed ON DISK: coarse probing prunes WHICH buckets/row-groups
    * a query batch reads (q191's layout), and the scan reads PQ codes
    * instead of float vectors (q155's arithmetic) — full embeddings are
    * never opened at query time. The oracle replays coarse training,
    * probe lists, PQ training/encoding, and the fixed-order ADC sum;
    * every distance is engine-exact, so rows/schema/hash must match to
    * the bit. */
  /** The PQ gates' shared standing-store base over the FULL embedding
    * corpus: coarse k = 8 (iters = 2), buckets = 8, codebook
    * persisted, PQ sidecar at m = 4, dsub = 16, ksub = 8 — in every
    * (assignment ladder × sidecar flavor) combination the gates
    * exercise. Built once per combination per JVM ([[Fixtures
    * .sharedDir]]); search-only gates read it in place, mutating gates
    * clone it ([[Fixtures.cloneDir]]). Gates that need the centroids
    * post-build reload them from the persisted codebook — the
    * round-trip q200's daily flow already relies on. The build closure
    * is the exact inline sequence the gates ran per invocation, so
    * every oracle replays the same closed form. */
  private[operators] def sharedPqStore(spark: SparkSession, dir: String,
                                       twoLevel: Boolean = false,
                                       residual: Boolean = false,
                                       rotate: Boolean = false): String =
    Fixtures.sharedDir("pqstore-" + (if (twoLevel) "2l" else "1l") +
        (if (residual) "-res" else "") + (if (rotate) "-rot" else "") +
        s"-$dir") { p =>
      def emb() = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
        8, iters = 2)
      val cl =
        if (twoLevel) {
          val (supers, children) = Similarity.superQuantize(cents)
          Similarity.assignClusterTwoLevel(col("embedding"), supers,
            children)
        } else Similarity.assignCluster(col("embedding"), cents)
      val store = p.toString
      Similarity.writeStandingStore(
        emb().withColumn("cluster", cl.cast("long"))
          .withColumn("nrm", Similarity.norm(col("embedding"))),
        store, "cluster", buckets = 8)
      Similarity.writeCodebook(spark, store, cents)
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8, residual = residual, rotate = rotate)
    }

  /** The partial-standing twin of [[sharedPqStore]] (vec_id % 3 ≠ 0
    * trains and populates; the other third is the gates' delta):
    * q200/q213's batch append flows and q204/q215's streaming ingest
    * loops all mutate, so every user clones. */
  private[operators] def sharedPqStorePartial(spark: SparkSession,
                                              dir: String,
                                              residual: Boolean): String =
    Fixtures.sharedDir(
      s"pqstore-part${if (residual) "-res" else ""}-$dir") { p =>
      val standing = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 3 =!= 0)
      val cents = Similarity.trainCentroids(standing, "vec_id",
        "embedding", 8, iters = 2)
      val store = p.toString
      Similarity.writeStandingStore(
        standing
          .withColumn("cluster",
            Similarity.assignCluster(col("embedding"), cents).cast("long"))
          .withColumn("nrm", Similarity.norm(col("embedding"))),
        store, "cluster", buckets = 8)
      Similarity.writeCodebook(spark, store, cents)
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8, residual = residual)
    }

  def q199PqStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only gate: the shared base serves in place
    val store = sharedPqStore(spark, dir)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q228: IVF-PQ SEARCH THROUGH THE VERSIONED TRIPLE — q199's search
    * run end-to-end on the store manifest: the sidecar's
    * codebook/meta/codes commit as versioned dataDirs in ONE
    * [[graft.operators.StoreSwap.transact]] manifest rename, and the
    * search resolves all three artifacts AT ONE PINNED STORE VERSION
    * ([[Similarity.pqTopKStore]] via pqPin) — the reader-atomic
    * serving path, hash-gated. The gate writes a RESIDUAL sidecar
    * first and then rewrites it VANILLA: the oracle replays only the
    * final vanilla flavor, so a read that pinned the stale version —
    * or mixed artifacts across the two — serves residual distances
    * and breaks the hash. */
  def q228PqUnifiedStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb(), "vec_id", "embedding",
      8, iters = 2)
    val store = Fixtures.tempDir("graft-q228-").resolve("standing").toString
    Similarity.writeStandingStore(
      emb()
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), cents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      store, "cluster", buckets = 8)
    Similarity.writeCodebook(spark, store, cents)
    Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
      m = 4, dsub = 16, ksub = 8, residual = true)
    Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
      m = 4, dsub = 16, ksub = 8)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q200: INCREMENTAL PQ INGEST ([[Similarity.appendPqCodes]]) — the
    * daily-flow twin of q199: the standing two-thirds of the corpus
    * train the coarse codebook AND the PQ codebook; the remaining third
    * arrives as a delta batch, coarse-assigned against the RELOADED
    * codebook, appended to the store, and PQ-encoded against the frozen
    * sidecar codebook (training never re-runs — standing codes stay
    * valid). Search over the grown store must equal the oracle's
    * replay, which trains base-restricted but encodes everything. */
  def q200PqAppend(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // mutating gate (append): a private clone of the shared partial base
    val store = Fixtures.cloneDir(
      sharedPqStorePartial(spark, dir, residual = false), "graft-q200-")
    val reloaded = Similarity.readCodebook(spark, store)
    val delta = emb().filter(col("vec_id") % 3 === 0)
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), reloaded).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.appendToStandingStore(
      delta.select(col("vec_id"), col("embedding"), col("cluster"),
        col("nrm")), store, "cluster")
    Similarity.appendPqCodes(spark, store, delta, "vec_id", "embedding",
      m = 4, dsub = 16)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q201: TWO-LEVEL IVF-PQ SEARCH over the partitioned store
    * ([[Similarity.pqTopKStoreTwoLevel]]) — q199's code-sidecar scan
    * with q193's √k-laddered probe lists: no per-query operation
    * touches all nlist coarse centroids AND no candidate read opens a
    * float vector. The store is assigned through the same ladder, so
    * search and ingest agree on cluster ids; the oracle composes the
    * q193 ladder replay with the q199 ADC replay. This is the
    * full-production search shape: at the k ∝ n tier the flat PQ scan's
    * probe-list ranking ties the flat FLOAT scan (StoreLifecycleProbe),
    * so PQ's bytes-per-candidate win only materializes behind laddered
    * probing. */
  def q201PqStoreTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only gate: the shared two-level base serves in place
    val store = sharedPqStore(spark, dir, twoLevel = true)
    Similarity.pqTopKStoreTwoLevel(spark, store,
        emb().filter(col("vec_id") < 10), "vec_id", "embedding",
        m = 4, dsub = 16, k = 5, sProbe = 2, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q202: FORGET THROUGH THE PQ PATH — [[Similarity
    * .deleteFromStandingStore]] over a store WITH a PQ sidecar must
    * drop the ids' code rows too, or the "forgotten" vectors keep
    * being served by [[Similarity.pqTopKStore]] (the float path alone
    * is q188's gate). The sidecar swap runs BEFORE the data swap, so a
    * crash between them leaves the delete incomplete (re-runnable),
    * never dangling codes. Oracle: q199's replay with the forgotten
    * ids excluded from candidates — both codebooks were persisted
    * before the forget, so the trainings replay over the full corpus. */
  def q202PqStoreForget(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // mutating gate (forget): a private clone of the shared base
    val store = Fixtures.cloneDir(sharedPqStore(spark, dir), "graft-q202-")
    Similarity.deleteFromStandingStore(spark, store,
      emb().filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q203: RECALL AUDIT of the production PQ search — recall@5 of
    * [[Similarity.pqTopKStoreTwoLevel]] (laddered probes + code-only
    * scan) against the exact float ranking, per query. q135 makes the
    * int8 trade visible and q185 the ladder's probe trade; this stacks
    * ALL the approximations the 100 TB serving path takes (coarse
    * probing, ladder pruning, PQ distance distortion) and reports what
    * they cost in ranking fidelity — the number a user needs before
    * trusting the fast path. Both rankings replay in the oracle. */
  def q203PqRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only audit: the shared two-level base serves in place
    val store = sharedPqStore(spark, dir, twoLevel = true)
    val queries = emb().filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb(),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity.pqTopKStoreTwoLevel(spark, store, queries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 2,
        nProbe = 2)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    exact.join(pq,
        exact("query_id") === pq("qid") && exact("neighbor_id") === pq("nid"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("nid")).cast("long").as("n_common"))
      .withColumn("recall_pct", col("n_common") * 20)
      .orderBy(col("query_id"))
  }

  /** q208: IVF-RESIDUAL PQ SEARCH — q199's layout with the sidecar
    * encoding (vector − its coarse centroid) instead of the raw vector
    * ([[Similarity.writePqSidecar]] `residual = true`): the offset the
    * coarse index already encodes stops consuming subquantizer bits,
    * the standard recall fix for vanilla PQ's distortion (q203 measures
    * 26% recall@5 at these bits). Distance tables become per
    * (query, probed cluster) — the query's residual against THAT
    * centroid — which the oracle replays exactly: coarse training,
    * residual corpus, PQ train/encode over residuals, per-probe query
    * tables, fixed-order ADC. Engine-exact to the bit. */
  def q208PqResidualStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only gate: the shared residual base serves in place
    val store = sharedPqStore(spark, dir, residual = true)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q209: RECALL AUDIT of the residual rung — q203's audit verbatim
    * (laddered probes, code-only scan, exact float ranking as truth)
    * with the RESIDUAL sidecar at the SAME bits (m=4, ksub=8): the
    * recall@5 delta between this gate and q203 is the measured value
    * of residual encoding on the same vectors — the bits-vs-recall
    * knob demonstrated, not assumed. Both rankings replay in the
    * oracle. */
  def q209PqResidualRecall(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only audit: the shared two-level residual base
    val store = sharedPqStore(spark, dir, twoLevel = true,
      residual = true)
    val queries = emb().filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb(),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity.pqTopKStoreTwoLevel(spark, store, queries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 2,
        nProbe = 2)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    exact.join(pq,
        exact("query_id") === pq("qid") && exact("neighbor_id") === pq("nid"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("nid")).cast("long").as("n_common"))
      .withColumn("recall_pct", col("n_common") * 20)
      .orderBy(col("query_id"))
  }

  /** q210: GEOMETRY-RESOLVED RECALL — vanilla vs residual PQ at the
    * SAME bits (m=4, ksub=8) on CLUSTERED vectors (16 centers from the
    * corpus's own rows 0-15, plus 0.15× the row's vector as noise),
    * side by side per query. q203/q209 record PQ's worst case
    * (near-uniform geometry: 26% / 24% recall@5, residual can't rescue
    * structure that isn't there); this gate is the realistic regime —
    * the coarse index captures the centers, so residual encoding
    * removes the dominant variance before quantization and the recall
    * delta (`recall_residual_pct − recall_vanilla_pct`) measures what
    * the rung buys. Every stage replays in the oracle: the derived
    * corpus (exact double arithmetic), both PQ trainings, both ADC
    * rankings, and the exact ranking they are audited against. */
  def q210PqGeometryRecall(spark: SparkSession, dir: String): DataFrame = {
    def clus() = {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val centers = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 16)
        .select(col("vec_id").as("gid"), col("embedding").as("ce"))
      e.join(broadcast(centers),
          pmod(col("vec_id"), lit(16L)) === col("gid"))
        .select(col("vec_id"),
          zip_with(col("ce").cast("array<double>"),
            col("embedding").cast("array<double>"),
            (c, n) => c + n * lit(0.15)).as("embedding"))
    }
    // k = the number of planted centers, seeded by ids 0-15 = one seed
    // per group: the coarse index can actually learn the structure.
    // Both stores are search-only here, so they are SHARED fixtures
    // (trainCentroids is deterministic — each flavor's closure derives
    // the identical codebook on its one-time build).
    def mkStore(tag: String, residual: Boolean): String =
      Fixtures.sharedDir(s"pqstore-geo$tag-$dir") { p =>
        val cents = Similarity.trainCentroids(clus(), "vec_id",
          "embedding", 16, iters = 2)
        val store = p.toString
        Similarity.writeStandingStore(
          clus()
            .withColumn("cluster",
              Similarity.assignCluster(col("embedding"), cents)
                .cast("long"))
            .withColumn("nrm", Similarity.norm(col("embedding"))),
          store, "cluster", buckets = 8)
        Similarity.writeCodebook(spark, store, cents)
        Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
          m = 4, dsub = 16, ksub = 8, residual = residual)
      }
    val storeV = mkStore("v", residual = false)
    val storeR = mkStore("r", residual = true)
    val queries = clus().filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, clus(),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def top(store: String) = Similarity.pqTopKStore(spark, store, queries,
      "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
    val pv = top(storeV)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    val pr = top(storeR)
      .select(col("query_id").as("rqid"), col("neighbor_id").as("rnid"))
    exact
      .join(pv, exact("query_id") === pv("qid") &&
        exact("neighbor_id") === pv("nid"), "left")
      .join(pr, exact("query_id") === col("rqid") &&
        exact("neighbor_id") === col("rnid"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("nid")).cast("long").as("n_common_vanilla"),
        count(col("rnid")).cast("long").as("n_common_residual"))
      .withColumn("recall_vanilla_pct", col("n_common_vanilla") * 20)
      .withColumn("recall_residual_pct", col("n_common_residual") * 20)
      .orderBy(col("query_id"))
  }

  /** q213: RESIDUAL DELTA INGEST — q200's daily flow over a RESIDUAL
    * sidecar: the delta is coarse-assigned against the reloaded
    * codebook and appendPqCodes auto-detects the flavor from
    * `pq_meta`, residual-encoding the delta against the FROZEN
    * codebooks (coarse for the residual, PQ for the codes) — standing
    * codes stay valid. The end-to-end path no unit spec covers:
    * flavor travels with the sidecar, not the caller. */
  def q213PqResidualAppend(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // mutating gate (append): a private clone of the shared partial
    // residual base
    val store = Fixtures.cloneDir(
      sharedPqStorePartial(spark, dir, residual = true), "graft-q213-")
    val reloaded = Similarity.readCodebook(spark, store)
    val delta = emb().filter(col("vec_id") % 3 === 0)
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), reloaded).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    Similarity.appendToStandingStore(
      delta.select(col("vec_id"), col("embedding"), col("cluster"),
        col("nrm")), store, "cluster")
    Similarity.appendPqCodes(spark, store, delta, "vec_id", "embedding",
      m = 4, dsub = 16)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q214: FORGET THROUGH THE RESIDUAL PQ PATH — q202's
    * right-to-be-forgotten contract over the residual sidecar: the
    * by-id delete must drop the ids' residual code rows (codes-first
    * crash ordering) exactly as it drops vanilla ones. */
  def q214PqResidualForget(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // mutating gate (forget): a private clone of the shared residual base
    val store = Fixtures.cloneDir(
      sharedPqStore(spark, dir, residual = true), "graft-q214-")
    Similarity.deleteFromStandingStore(spark, store,
      emb().filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q216: ROTATED PQ SEARCH — q199's layout with the sidecar encoding
    * the ROTATED vector ([[Similarity.writePqSidecar]] `rotate = true`,
    * the OPQ-style rung): a structured orthogonal rotation (LCG sign
    * flips + the full Walsh–Hadamard butterfly) applied before the
    * subvector split, so per-dimension variance spreads evenly across
    * the m subquantizers instead of concentrating in whichever slice
    * the data's dominant dimensions fall into. R is orthogonal, so ADC
    * in rotated space estimates original L2. The search auto-detects
    * the flavor from `pq_meta` and rotates the query side; the oracle
    * replays the rotation bit-exactly (rows form, one self-join per
    * butterfly stage) and the whole train/encode/ADC chain over it. */
  def q216PqRotatedStore(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only gate: the shared rotated base serves in place
    val store = sharedPqStore(spark, dir, rotate = true)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The q217 REDUNDANT-DIMS corpus: dimension j carries
    * `e[j mod 16] + 0.05·e[j]` — sixteen underlying variables, each
    * copied (with small unique noise) into all four subquantizer
    * slices. This is the correlated geometry real embeddings have and
    * PQ's coordinate split is worst at: unrotated, the four
    * subquantizers each quantize the SAME 16-variable structure (four
    * redundant 3-bit codes ≈ one 3-bit code), while the sign-flipped
    * Walsh–Hadamard rotation decorrelates the copies so the four
    * codes carry complementary slices (≈ 12 effective bits). Picked
    * empirically: on INDEPENDENT dims (anisotropic scalings, planted
    * low-dim clusters) rotation measured level-or-worse — with fixed
    * per-sub bits, concentrating independent signal lets k-means
    * exploit low intrinsic dimension, and rotation smears it; only
    * cross-sub redundancy gives rotation something to reclaim. Exact
    * double arithmetic (float widened, ×0.05 — both engines parse the
    * same double), so the oracle derives identical vectors. */
  private[graft] def redundantCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        element_at(col("embedding"), pmod(i, lit(16)) + 1).cast("double")
          + x.cast("double") * lit(0.05)).as("embedding"))

  /** q217: ROTATION-RESOLVED RECALL — plain vs rotated PQ at the SAME
    * bits (m=4, ksub=8) on REDUNDANT-DIMS vectors (each subquantizer
    * slice carries a copy of the same 16 variables — see
    * [[redundantCorpus]]), side by side per query. This is the
    * geometry the rotation rung exists for: unrotated, the four
    * subquantizers spend their codes on the SAME structure (four
    * redundant 3-bit descriptions), while the Walsh–Hadamard rotation
    * decorrelates the copies so the codes compose (≈12 effective
    * bits). The recall delta (`recall_rotated_pct − recall_plain_pct`)
    * measures what the rung buys — the rotation twin of q210's
    * residual demonstration (and like it, the flip side is recorded
    * honestly: q209/the probe tiers show rotation is level-or-worse
    * on independent-dims geometry). Every stage replays in the
    * oracle: the derived corpus, both PQ trainings, both ADC
    * rankings, the rotation, and the exact ranking they are audited
    * against. */
  def q217PqRotationRecall(spark: SparkSession, dir: String): DataFrame = {
    def aniso() = redundantCorpus(spark, dir)
    // both stores are search-only: SHARED fixtures (deterministic
    // centroid training inside each flavor's one-time build closure)
    def mkStore(tag: String, rotate: Boolean): String =
      Fixtures.sharedDir(s"pqstore-redun$tag-$dir") { p =>
        val cents = Similarity.trainCentroids(aniso(), "vec_id",
          "embedding", 8, iters = 2)
        val store = p.toString
        Similarity.writeStandingStore(
          aniso()
            .withColumn("cluster",
              Similarity.assignCluster(col("embedding"), cents)
                .cast("long"))
            .withColumn("nrm", Similarity.norm(col("embedding"))),
          store, "cluster", buckets = 8)
        Similarity.writeCodebook(spark, store, cents)
        Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
          m = 4, dsub = 16, ksub = 8, rotate = rotate)
      }
    val storeP = mkStore("p", rotate = false)
    val storeR = mkStore("r", rotate = true)
    val queries = aniso().filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, aniso(),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def top(store: String) = Similarity.pqTopKStore(spark, store, queries,
      "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
    val pp = top(storeP)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    val pr = top(storeR)
      .select(col("query_id").as("rqid"), col("neighbor_id").as("rnid"))
    exact
      .join(pp, exact("query_id") === pp("qid") &&
        exact("neighbor_id") === pp("nid"), "left")
      .join(pr, exact("query_id") === col("rqid") &&
        exact("neighbor_id") === col("rnid"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("nid")).cast("long").as("n_common_plain"),
        count(col("rnid")).cast("long").as("n_common_rotated"))
      .withColumn("recall_plain_pct", col("n_common_plain") * 20)
      .withColumn("recall_rotated_pct", col("n_common_rotated") * 20)
      .orderBy(col("query_id"))
  }

  /** q218: ROTATED RESIDUAL SEARCH — both rungs stacked (q208's
    * residual encode, then q216's rotation): the sidecar quantizes
    * R·(vector − its coarse centroid), the standard IVF-OPQ layout.
    * Exercises the combined query path — the per-(query, probed
    * cluster) residual is rotated BEFORE the distance-table build,
    * matching the encode side's order. Engine-exact oracle. */
  def q218PqRotatedResidual(spark: SparkSession, dir: String): DataFrame = {
    def emb() = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // search-only gate: the shared rotated-residual base
    val store = sharedPqStore(spark, dir, residual = true, rotate = true)
    Similarity.pqTopKStore(spark, store, emb().filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q216_pq_rotated_store" -> q216PqRotatedStore _,
    "q217_pq_rotation_recall" -> q217PqRotationRecall _,
    "q218_pq_rotated_residual" -> q218PqRotatedResidual _,
    "q213_pq_residual_append" -> q213PqResidualAppend _,
    "q214_pq_residual_forget" -> q214PqResidualForget _,
    "q210_pq_geometry_recall" -> q210PqGeometryRecall _,
    "q199_pq_store" -> q199PqStore _,
    "q228_pq_unified_store" -> q228PqUnifiedStore _,
    "q229_semantic_replay" -> q229SemanticReplay _,
    "q231_semantic_replay_pruned" -> q231SemanticReplaySparse _,
    "q200_pq_append" -> q200PqAppend _,
    "q201_pq_store_two_level" -> q201PqStoreTwoLevel _,
    "q202_pq_store_forget" -> q202PqStoreForget _,
    "q203_pq_recall_audit" -> q203PqRecallAudit _,
    "q208_pq_residual_store" -> q208PqResidualStore _,
    "q209_pq_residual_recall" -> q209PqResidualRecall _,
    "q185_probe_agreement" -> q185ProbeAgreement _,
    "q186_incremental_two_level" -> q186IncrementalTwoLevel _,
    "q176_farthest_seed" -> q176FarthestSeedIvf _,
    "q177_incremental_dedup" -> q177IncrementalDedup _,
    "q178_codebook_drift" -> q178CodebookDrift _,
    "q179_two_level_probe" -> q179TwoLevelProbe _,
    "q181_incremental_store" -> q181IncrementalStore _,
    "q183_partial_refit" -> q183PartialRefit _,
    "q187_store_pruned" -> q187StorePruned _,
    "q188_store_delete" -> q188StoreDelete _,
    "q190_store_lifecycle" -> q190StoreLifecycle _,
    "q221_versioned_emb_store" -> q221VersionedEmbStore _,
    "q222_store_time_travel" -> q222StoreTimeTravel _,
    "q225_store_diff" -> q225StoreDiff _,
    "q191_ann_store" -> q191AnnStore _,
    "q192_store_refit" -> q192StoreRefit _,
    "q193_ann_store_two_level" -> q193AnnStoreTwoLevel _,
    "q194_delete_then_refit" -> q194DeleteThenRefit _,
    "q195_refit_then_ingest" -> q195RefitThenIngest _,
    "q168_semdedup_auto"  -> q168SemDedupAuto _,
    "q169_knn_graph_auto" -> q169KnnGraphAuto _,
    "q171_ivf_multiprobe" -> q171IvfMultiProbe _,
    "q172_semdedup_sampled" -> q172SemDedupSampled _,
    "q173_two_level_dedup" -> q173TwoLevelDedup _,
    "q175_assign_agreement" -> q175AssignAgreement _,
    "q140_image_phash"    -> q140ImagePhash _,
    "q142_audio_fingerprint" -> q142AudioFingerprint _,
    "q143_select_pipeline" -> q143SelectPipeline _,
    "q131_keep_best"      -> q131KeepBest _,
    "q132_vocab_coverage" -> q132VocabCoverage _,
    "q133_knn_graph"      -> q133KnnGraph _,
    "q134_budget_alloc"   -> q134BudgetAlloc _,
    "q135_quant_recall"   -> q135QuantRecall _,
    "q136_tempered_alloc" -> q136TemperedAlloc _,
    "q137_length_match"   -> q137LengthMatch _,
    "q138_contam_spans"   -> q138ContamSpans _,
    "q139_group_split"    -> q139GroupSplit _,
  )

  /** q134's seeded universal-hash coefficients (same closed form the
    * engine uses — [[Sampling.coef]]). */
  private val (hA, hB) = Sampling.coef(42L)
  private val P = Sampling.P
  /** q138: the q53 split seed; q139: the group-split seed + thresholds. */
  private val (cA, cB) = Sampling.coef(13L)
  private val trainUpper13 = Sampling.splitThresholds(
    Seq("train" -> 0.9, "test" -> 0.1)).head._2
  private val (gA, gB) = Sampling.coef(17L)
  private val th17 = Sampling.splitThresholds(
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  /** q143: kept-doc split seed. */
  private val (pA, pB) = Sampling.coef(19L)
  private val th19 = Sampling.splitThresholds(
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** q168/q169: ordered squared-L2 between two SQL lists — the oracle
    * twin of the VecFold distance [[Similarity.squaredDist]]. */
  private def sqdSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
       |      (acc, v) -> acc + v)""".stripMargin

  /** SQL replay of [[Similarity.trainCentroids]] + final assignment,
    * parameterized over the corpus CTE body and the codebook-size
    * expression: k-lowest-id seeding, two Lloyd rounds with
    * fixed-point-exact means (2^20 — the trainer's arithmetic), empty
    * clusters inheriting their previous centroid, final nearest-centroid
    * assignment. Emits CTEs ending with `asg(vec_id, cluster)`, the
    * clustered corpus `jc(vec_id, embedding, cluster)`, and the final
    * codebook `c2(cid, cv)` (for probe-list replays). */
  private def kmeansTrainCtes(corpusSql: String, kSql: String,
                              trainCondSql: String = "TRUE",
                              p: String = "",
                              preCtes: String = "",
                              initSql: Option[String] = None): String = {
    // all CTE names carry the optional prefix `p`, so two independent
    // training replays (e.g. q173's codebook + super-codebook) compose
    // in one statement without collisions; the p="" instance is the
    // exact text q168/q169/q171/q172 used before the refactor
    // one Lloyd round: assign against centroid list `prevL`, recompute
    // fixed-point means, position-wise coalesce onto centroid rows
    // `prevR` (an empty cluster keeps its previous centroid)
    def lloyd(i: Int, prevR: String, prevL: String): String =
      s"""${p}r${i}d AS (
         |  SELECT e.vec_id, c.cid, ${sqdSql("e.embedding", "c.cv")} AS dd
         |  FROM ${p}tcorpus e CROSS JOIN $prevL c),
         |${p}r${i}a AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
         |    FROM ${p}r${i}d) t WHERE rn = 1),
         |${p}r${i}m AS (
         |  SELECT cid, CAST(x[2] AS BIGINT) AS pos,
         |    CAST(sum(CAST(round(CAST(x[1] AS DOUBLE) * 1048576.0) AS BIGINT))
         |         AS DOUBLE) / count(*) / 1048576.0 AS c
         |  FROM (SELECT a.cid,
         |          unnest(list_zip(e.embedding,
         |            generate_series(0, len(e.embedding) - 1))) AS x
         |        FROM ${p}tcorpus e JOIN ${p}r${i}a a USING (vec_id)) t
         |  GROUP BY cid, CAST(x[2] AS BIGINT)),
         |${p}c${i}r AS (
         |  SELECT p.cid, p.pos, COALESCE(m.c, p.c) AS c
         |  FROM $prevR p LEFT JOIN ${p}r${i}m m ON m.cid = p.cid AND m.pos = p.pos),
         |${p}c$i AS (SELECT cid, list(c ORDER BY pos) AS cv FROM ${p}c${i}r GROUP BY cid)"""
        .stripMargin
    s"""WITH ${p}corpus AS (
       |$corpusSql),
       |${p}tcorpus AS (SELECT * FROM ${p}corpus WHERE $trainCondSql),
       |${p}kk AS (SELECT $kSql AS k),
       |${if (preCtes.isEmpty) "" else preCtes + ",\n"}${p}init AS (
       |${initSql.getOrElse(
         s"""  SELECT cid, embedding FROM (
            |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
            |    FROM ${p}tcorpus) t
            |  WHERE cid < (SELECT k FROM ${p}kk)""".stripMargin)}),
       |${p}c0r AS (
       |  SELECT cid, CAST(x[2] AS BIGINT) AS pos, CAST(x[1] AS DOUBLE) AS c
       |  FROM (SELECT cid,
       |          unnest(list_zip(embedding,
       |            generate_series(0, len(embedding) - 1))) AS x
       |        FROM ${p}init) t),
       |${p}c0 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM ${p}c0r GROUP BY cid),
       |${lloyd(1, s"${p}c0r", s"${p}c0")},
       |${lloyd(2, s"${p}c1r", s"${p}c1")},
       |${p}fd AS (
       |  SELECT e.vec_id, c.cid, ${sqdSql("e.embedding", "c.cv")} AS dd
       |  FROM ${p}corpus e CROSS JOIN ${p}c2 c),
       |${p}asg AS (
       |  SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
       |    FROM ${p}fd) t WHERE rn = 1),
       |${p}jc AS (
       |  SELECT c.vec_id, c.embedding, a.cluster
       |  FROM ${p}corpus c JOIN ${p}asg a USING (vec_id))""".stripMargin
  }

  private val twinCorpusSql: String =
    """  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, v -> v * CAST(1.5 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 5 = 0""".stripMargin

  /** The q177/q178 standing corpus: base + the three [[augmentDelta]]
    * variants. */
  private val incrCorpusSql: String =
    """  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, v -> v * CAST(1.5 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000, list_reverse(embedding)
      |  FROM embeddings WHERE vec_id % 7 = 0
      |  UNION ALL
      |  SELECT vec_id + 300000,
      |    list_transform(list_reverse(embedding), v -> v * CAST(2 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 14 = 0""".stripMargin

  /** The q168/q169 training replay: twin-injected corpus, k = ceil(n/50)
    * — the PRODUCTION corpus-proportional codebook size. */
  private val autoTrainCtes: String = kmeansTrainCtes(twinCorpusSql,
    "(SELECT (count(*) + 49) // 50 FROM corpus)")

  /** q177/q181 shared replay: base-only training (trainCond), standing
    * assignment over base ∪ delta, then the two incremental drop
    * rules — q181's parquet round-trip of the standing assignment is
    * bit-exact, so both gates check against the same math. */
  private def incrDedupOracleCond(baseCond: String): String =
    incrDedupOracleCondDd(baseCond, "vec_id >= 100000")

  /** [[incrDedupOracleCondDd]]'s general form: `ddCond` restricts the
    * JUDGED delta (q231 judges a cluster-sparse sub-delta so the
    * pruned pinned read provably leaves buckets unread). */
  private def incrDedupOracleCondDd(baseCond: String,
                                    ddCond: String): String = {
    val cosAB =
      """list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm)""".stripMargin
    s"""${kmeansTrainCtes(incrCorpusSql,
      "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
      "vec_id < 100000")},
      |ad AS (
      |  SELECT jc.vec_id, jc.embedding, jc.cluster,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(jc.embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
      |      (acc, x) -> acc + x)) AS nrm
      |  FROM jc),
      |bb AS (SELECT * FROM ad WHERE $baseCond),
      |dd AS (SELECT * FROM ad WHERE $ddCond),
      |drv AS (
      |  SELECT DISTINCT a.vec_id FROM dd a JOIN bb b
      |    ON a.cluster = b.cluster
      |  WHERE $cosAB >= 0.99
      |  UNION
      |  SELECT DISTINCT b.vec_id FROM dd a JOIN dd b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE $cosAB >= 0.99)
      |SELECT dd.vec_id, dd.cluster, (dr.vec_id IS NULL) AS keep
      |FROM dd LEFT JOIN drv dr ON dr.vec_id = dd.vec_id
      |ORDER BY dd.vec_id""".stripMargin
  }

  private val incrDedupOracle: String = incrDedupOracleCond("vec_id < 100000")

  /** q184/q189 shared replay: SEQUENTIAL judgment — batch 1 (the scaled
    * twins) vs the base, then batch 2 (novelties + copies) vs base ∪
    * batch-1 keepers, each with the delta-internal lower-id rule —
    * exactly what the foreachBatch loop's store append makes the stream
    * compute. q189 runs the identical math through the partitioned
    * store (file-pruned judgments, bucket appends), bit-exactly. */
  private val streamIngestOracle: String = {
    val cosAB =
      """list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm)""".stripMargin
    s"""${kmeansTrainCtes(incrCorpusSql,
           "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
           "vec_id < 100000")},
      |ad AS (
      |  SELECT jc.vec_id, jc.embedding, jc.cluster,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(jc.embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
      |      (acc, x) -> acc + x)) AS nrm
      |  FROM jc),
      |bb AS (SELECT * FROM ad WHERE vec_id < 100000),
      |d1 AS (SELECT * FROM ad
      |       WHERE vec_id >= 100000 AND vec_id < 200000),
      |d2 AS (SELECT * FROM ad WHERE vec_id >= 200000),
      |dr1 AS (
      |  SELECT DISTINCT a.vec_id FROM d1 a JOIN bb b
      |    ON a.cluster = b.cluster
      |  WHERE $cosAB >= 0.99
      |  UNION
      |  SELECT DISTINCT b.vec_id FROM d1 a JOIN d1 b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE $cosAB >= 0.99),
      |k1 AS (SELECT * FROM d1
      |       WHERE vec_id NOT IN (SELECT vec_id FROM dr1)),
      |bb2 AS (SELECT * FROM bb UNION ALL SELECT * FROM k1),
      |dr2 AS (
      |  SELECT DISTINCT a.vec_id FROM d2 a JOIN bb2 b
      |    ON a.cluster = b.cluster
      |  WHERE $cosAB >= 0.99
      |  UNION
      |  SELECT DISTINCT b.vec_id FROM d2 a JOIN d2 b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE $cosAB >= 0.99)
      |SELECT vec_id, cluster, keep FROM (
      |  SELECT d1.vec_id, d1.cluster,
      |    (dr.vec_id IS NULL) AS keep
      |  FROM d1 LEFT JOIN dr1 dr ON dr.vec_id = d1.vec_id
      |  UNION ALL
      |  SELECT d2.vec_id, d2.cluster,
      |    (dr.vec_id IS NULL) AS keep
      |  FROM d2 LEFT JOIN dr2 dr ON dr.vec_id = d2.vec_id) t
      |ORDER BY vec_id""".stripMargin
  }

  /** q171/q191 shared replay: nlist=8 training, 2-probe lists,
    * cluster equi-join, exact cosine, windowed top-5. */
  private val ivfMultiProbeOracle: String =
    s"""${kmeansTrainCtes(
             "  SELECT vec_id, embedding FROM embeddings", "8")},
        |qd AS (
        |  SELECT q.vec_id AS qid, c.cid, q.embedding AS qe,
        |    ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT qid, cid, qe FROM (
        |    SELECT qid, cid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qd) t WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid AS query_id, j.vec_id AS neighbor_id,
        |    p.qe AS qv, j.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM probes p JOIN jc j ON j.cluster = p.cid
        |  WHERE j.vec_id <> p.qid)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** q179/q193 shared replay: both training levels, childless-super
    * drop, two-stage probe lists, two-level corpus assignment,
    * windowed top-5. */
  /** The two-level front CTEs shared by q179/q193 (cosine tail) and
    * q201 (PQ ADC tail): both training levels, childless-super drop,
    * ladder corpus assignment (`fasg`), and the two-stage probe lists
    * (`probes`: qid, ccid, qe). */
  private val twoLevelFrontCtes: String =
    s"""${kmeansTrainCtes(
             "  SELECT vec_id, embedding FROM embeddings", "8")},
        |${kmeansTrainCtes(
             "  SELECT cid AS vec_id, cv AS embedding FROM c2",
             "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM scorpus)",
             "TRUE", "s").stripPrefix("WITH ")},
        |live AS (
        |  SELECT s.cid, s.cv FROM sc2 s
        |  WHERE EXISTS (SELECT 1 FROM sasg a WHERE a.cluster = s.cid)),
        |pd AS (
        |  SELECT e.vec_id, s.cid, ${sqdSql("e.embedding", "s.cv")} AS dd
        |  FROM corpus e CROSS JOIN live s),
        |pa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |    FROM pd) t WHERE rn = 1),
        |cd AS (
        |  SELECT e.vec_id, ch.vec_id AS ccid,
        |    ${sqdSql("e.embedding", "ch.embedding")} AS dd
        |  FROM corpus e JOIN pa USING (vec_id)
        |  JOIN sjc ch ON ch.cluster = pa.cid),
        |fasg AS (
        |  SELECT vec_id, CAST(ccid AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, ccid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, ccid) AS rn
        |    FROM cd) t WHERE rn = 1),
        |qsd AS (
        |  SELECT q.vec_id AS qid, s.cid, q.embedding AS qe,
        |    ${sqdSql("q.embedding", "s.cv")} AS dd
        |  FROM corpus q CROSS JOIN live s
        |  WHERE q.vec_id < 10),
        |qsp AS (
        |  SELECT qid, cid, qe FROM (
        |    SELECT qid, cid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qsd) t WHERE rn <= 2),
        |qcd AS (
        |  SELECT p.qid, ch.vec_id AS ccid, p.qe,
        |    ${sqdSql("p.qe", "ch.embedding")} AS dd
        |  FROM qsp p JOIN sjc ch ON ch.cluster = p.cid),
        |probes AS (
        |  SELECT qid, ccid, qe FROM (
        |    SELECT qid, ccid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, ccid) AS rn
        |    FROM qcd) t WHERE rn <= 2)""".stripMargin

  private val twoLevelProbeOracle: String =
    s"""$twoLevelFrontCtes,
        |jv AS (
        |  SELECT c.vec_id, c.embedding, f.cluster
        |  FROM corpus c JOIN fasg f USING (vec_id)),
        |scored AS (
        |  SELECT p.qid AS query_id, j.vec_id AS neighbor_id,
        |    p.qe AS qv, j.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM probes p JOIN jv j ON j.cluster = p.ccid
        |  WHERE j.vec_id <> p.qid)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** The PQ train/encode replay as CTEs `pqsv`..`pqqdt` (q155's text,
    * pq-prefixed): training restricted to `pqTrainCond` rows, encoding
    * and query distance tables over the whole corpus. Shared by the
    * flat (q199/q200) and two-level (q201) store-search oracles; the
    * optional name prefix `p` lets two replays (e.g. q217's plain +
    * rotated pair) compose in one statement. */
  private def pqReplayCtes(pqTrainCond: String,
                           rel: String = "embeddings",
                           p: String = ""): String =
      s"""${p}pqsv AS (
        |  SELECT vec_id AS id, s.s AS sub,
        |    embedding[s.s*16+1 : s.s*16+16] AS sv
        |  FROM $rel, (VALUES (0),(1),(2),(3)) AS s(s)),
        |${p}pqtsv AS (SELECT * FROM ${p}pqsv WHERE $pqTrainCond),
        |${p}pqinit AS (
        |  SELECT sub, CAST(id AS BIGINT) AS cid,
        |    list_transform(sv, v -> CAST(v AS DOUBLE)) AS cent
        |  FROM ${p}pqtsv WHERE id < 8),
        |${p}pqd0 AS (
        |  SELECT v.id, v.sub, i.cid,
        |    ${sqdSql("v.sv", "i.cent")} AS d2
        |  FROM ${p}pqtsv v JOIN ${p}pqinit i USING (sub)),
        |${p}pqa0 AS (
        |  SELECT id, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM ${p}pqd0) t WHERE rn = 1),
        |${p}pqm0 AS (
        |  SELECT t.sub, t.cid, CAST(x[2] AS BIGINT) AS pos,
        |    CAST(sum(CAST(round(CAST(x[1] AS DOUBLE) * 1048576.0) AS BIGINT))
        |         AS DOUBLE) / count(*) / 1048576.0 AS c
        |  FROM (SELECT a.sub, a.cid,
        |          unnest(list_zip(v.sv, generate_series(0, len(v.sv) - 1)))
        |            AS x
        |        FROM ${p}pqtsv v JOIN ${p}pqa0 a USING (id, sub)) t
        |  GROUP BY t.sub, t.cid, CAST(x[2] AS BIGINT)),
        |${p}pqtrained AS (
        |  SELECT sub, cid, list(c ORDER BY pos) AS cent
        |  FROM ${p}pqm0 GROUP BY sub, cid),
        |${p}pqcb AS (
        |  SELECT i.sub, i.cid, coalesce(t.cent, i.cent) AS cent
        |  FROM ${p}pqinit i LEFT JOIN ${p}pqtrained t USING (sub, cid)),
        |${p}pqd1 AS (
        |  SELECT v.id, v.sub, c.cid,
        |    ${sqdSql("v.sv", "c.cent")} AS d2
        |  FROM ${p}pqsv v JOIN ${p}pqcb c USING (sub)),
        |${p}pqcodes AS (
        |  SELECT id AS nid, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM ${p}pqd1) t WHERE rn = 1),
        |${p}pqqdt AS (
        |  SELECT id AS query_id, sub, cid, d2 FROM ${p}pqd1 WHERE id < 10)"""
        .stripMargin

  /** SQL replay of [[Similarity.whtRotate]] — the structured rotation
    * (LCG sign flips + the 6-stage Walsh–Hadamard butterfly over
    * 64-dim vectors), in rows form: unnest to (keys, pos, v), one
    * self-join per stage on `pos XOR stride`, re-assemble. Emits
    * `${p}rot(keys..., embedding)` (double list). Every element is two
    * loads, one add/sub, one multiply in the engine's exact order, and
    * `7071067811865476e-16` parses to the identical double, so the
    * replay is bit-exact. */
  private def whtRotateCtes(inRel: String, keys: Seq[String],
                            vecExpr: String, p: String = "",
                            d: Int = 64): String = {
    // mirror whtRotate's contract loudly: a non-power-of-two (or
    // mis-sized) d would make the final stage's xor-join find no
    // partner rows and silently EMPTY the rot CTE
    require(d > 0 && (d & (d - 1)) == 0,
      s"rotation replay needs power-of-two dims, got $d")
    val nStages = Integer.numberOfTrailingZeros(d)
    val kSel = keys.mkString(", ")
    val aSel = keys.map(k => s"a.$k").mkString(", ")
    val kJoin = keys.map(k => s"b.$k = a.$k").mkString(" AND ")
    val c = "7071067811865476e-16"
    val head =
      s"""${p}rt0 AS (
         |  SELECT $kSel, CAST(x[2] AS BIGINT) AS pos,
         |    CASE WHEN ((CAST(x[2] AS BIGINT) * 1103515245 + 12345) >> 16) & 1 = 0
         |         THEN CAST(x[1] AS DOUBLE) ELSE -CAST(x[1] AS DOUBLE) END AS v
         |  FROM (SELECT $kSel,
         |          unnest(list_zip($vecExpr,
         |            generate_series(0, len($vecExpr) - 1))) AS x
         |        FROM $inRel) t)""".stripMargin
    val stages = (1 to nStages).map { i =>
      val h = 1 << (i - 1)
      s"""${p}rt$i AS (
         |  SELECT $aSel, a.pos,
         |    CASE WHEN (a.pos & $h) = 0 THEN (a.v + b.v) * $c
         |         ELSE (b.v - a.v) * $c END AS v
         |  FROM ${p}rt${i - 1} a JOIN ${p}rt${i - 1} b
         |    ON $kJoin AND b.pos = xor(a.pos, $h))""".stripMargin
    }
    val tail =
      s"""${p}rot AS (
         |  SELECT $kSel, list(v ORDER BY pos) AS embedding
         |  FROM ${p}rt$nStages GROUP BY $kSel)""".stripMargin
    (head +: stages :+ tail).mkString(",\n")
  }

  /** Residual-PQ replay (q208/q209): the corpus residualized against
    * its assigned centroid (`asgRel(vec_id, cluster)` × `c2`), q155's
    * train/encode text over the residuals, and PER-(query,
    * probed-cluster) distance tables — the query's residual against
    * THAT cluster's centroid, the standard IVF-ADC arithmetic. Emits
    * `pqcodes(nid, sub, cid)` and `pqqdt(query_id, qc, sub, cid, d2)`;
    * the candidate join must gate `qc` on the candidate's cluster
    * (which also restricts candidates to probed clusters — pqqdt only
    * holds probed pairs). `probesRel` must expose (qid, $probeCol).
    * `rotate` pipes both residual relations through the structured
    * rotation (residualize, then rotate — the encode side's order). */
  private def pqResidualCtes(asgRel: String, probesRel: String,
                             probeCol: String, p: String = "",
                             trainCond: String = "TRUE",
                             rotate: Boolean = false): String =
      s"""${p}res AS (
        |  SELECT a.vec_id AS id, a.cluster,
        |    list_transform(list_zip(c.embedding, cc.cv),
        |      x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rv
        |  FROM $asgRel a JOIN corpus c ON c.vec_id = a.vec_id
        |  JOIN c2 cc ON cc.cid = a.cluster),
        |${if (!rotate) "" else
          whtRotateCtes(s"${p}res", Seq("id"), "rv", s"${p}c") + ",\n" +
          s"${p}res2 AS (SELECT id, embedding AS rv FROM ${p}crot),\n"
        }${p}pqsv AS (
        |  SELECT id, s.s AS sub, rv[s.s*16+1 : s.s*16+16] AS sv
        |  FROM ${if (rotate) s"${p}res2" else s"${p}res"},
        |    (VALUES (0),(1),(2),(3)) AS s(s)),
        |${p}pqtsv AS (SELECT * FROM ${p}pqsv WHERE $trainCond),
        |${p}pqinit AS (
        |  SELECT sub, CAST(id AS BIGINT) AS cid, sv AS cent
        |  FROM ${p}pqtsv WHERE id < 8),
        |${p}pqd0 AS (
        |  SELECT v.id, v.sub, i.cid,
        |    ${sqdSql("v.sv", "i.cent")} AS d2
        |  FROM ${p}pqtsv v JOIN ${p}pqinit i USING (sub)),
        |${p}pqa0 AS (
        |  SELECT id, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM ${p}pqd0) t WHERE rn = 1),
        |${p}pqm0 AS (
        |  SELECT t.sub, t.cid, CAST(x[2] AS BIGINT) AS pos,
        |    CAST(sum(CAST(round(CAST(x[1] AS DOUBLE) * 1048576.0) AS BIGINT))
        |         AS DOUBLE) / count(*) / 1048576.0 AS c
        |  FROM (SELECT a.sub, a.cid,
        |          unnest(list_zip(v.sv, generate_series(0, len(v.sv) - 1)))
        |            AS x
        |        FROM ${p}pqtsv v JOIN ${p}pqa0 a USING (id, sub)) t
        |  GROUP BY t.sub, t.cid, CAST(x[2] AS BIGINT)),
        |${p}pqtrained AS (
        |  SELECT sub, cid, list(c ORDER BY pos) AS cent
        |  FROM ${p}pqm0 GROUP BY sub, cid),
        |${p}pqcb AS (
        |  SELECT i.sub, i.cid, coalesce(t.cent, i.cent) AS cent
        |  FROM ${p}pqinit i LEFT JOIN ${p}pqtrained t USING (sub, cid)),
        |${p}pqd1 AS (
        |  SELECT v.id, v.sub, c.cid,
        |    ${sqdSql("v.sv", "c.cent")} AS d2
        |  FROM ${p}pqsv v JOIN ${p}pqcb c USING (sub)),
        |${p}pqcodes AS (
        |  SELECT id AS nid, sub, cid FROM (
        |    SELECT id, sub, cid,
        |      row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn
        |    FROM ${p}pqd1) t WHERE rn = 1),
        |${p}qres AS (
        |  SELECT p.qid, p.$probeCol AS qc,
        |    list_transform(list_zip(q.embedding, cc.cv),
        |      x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS rv
        |  FROM $probesRel p JOIN corpus q ON q.vec_id = p.qid
        |  JOIN c2 cc ON cc.cid = p.$probeCol),
        |${if (!rotate) "" else
          whtRotateCtes(s"${p}qres", Seq("qid", "qc"), "rv", s"${p}q") +
          ",\n" +
          s"${p}qres2 AS (SELECT qid, qc, embedding AS rv FROM ${p}qrot),\n"
        }${p}qrsv AS (
        |  SELECT qid, qc, s.s AS sub, rv[s.s*16+1 : s.s*16+16] AS sv
        |  FROM ${if (rotate) s"${p}qres2" else s"${p}qres"},
        |    (VALUES (0),(1),(2),(3)) AS s(s)),
        |${p}pqqdt AS (
        |  SELECT r.qid AS query_id, r.qc, r.sub, c.cid,
        |    ${sqdSql("r.sv", "c.cent")} AS d2
        |  FROM ${p}qrsv r JOIN ${p}pqcb c USING (sub))""".stripMargin

  /** The flat-probe residual-PQ store-search oracle (q208/q213/q214):
    * [[kmeansTrainCtes]]'s coarse front (training restricted by
    * `coarseCond`), flat nProbe=2 probe lists, the residual replay
    * (PQ training restricted by `pqTrainCond` over the residuals),
    * and the fixed-order ADC tail with `candCond` gating candidates. */
  private def ivfPqResidualOracle(coarseCond: String,
                                  pqTrainCond: String,
                                  candCond: String = "TRUE",
                                  rotate: Boolean = false): String =
      s"""${kmeansTrainCtes(
               "  SELECT vec_id, embedding FROM embeddings", "8",
               coarseCond)},
        |qd AS (
        |  SELECT q.vec_id AS qid, c.cid, ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qd) t WHERE rn <= 2),
        |${pqResidualCtes("jc", "probes", "cid", "", pqTrainCond,
               rotate)},
        |j AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN jc ON jc.vec_id = pqcodes.nid
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |    AND q.qc = jc.cluster
        |  WHERE q.query_id <> pqcodes.nid AND ($candCond)),
        |$pqAdcTail""".stripMargin

  /** The q213 oracle, shared verbatim by the streaming twin (q215 in
    * ScaleQueries' registry) — batching and compaction are
    * content-invariant, exactly the q200/q204 relationship. */
  private[operators] lazy val pqResidualAppendOracle: String =
    ivfPqResidualOracle("vec_id % 3 <> 0", "id % 3 <> 0")

  /** Fixed-sub-order ADC sum over the candidate join `j` — the
    * arithmetic every PQ store-search oracle hinges on, defined ONCE. */
  private val pqAdcCte: String =
      """adc AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM j GROUP BY query_id, nid)""".stripMargin

  /** [[pqAdcCte]] + windowed top-5 — the shared final form of the
    * direct PQ search oracles. */
  private val pqAdcTail: String =
      s"""$pqAdcCte
        |SELECT query_id, rank, nid AS neighbor_id, adc FROM (
        |  SELECT query_id, nid, adc,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY adc, nid) AS BIGINT) AS rank
        |  FROM adc) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** Laddered-candidate join: codes × query distance tables, gated by
    * the LADDER cluster assignment (`fasg`) and two-stage probe lists
    * (`probes`) — shared by q201 and q203. */
  private val pqLadderJCte: String =
      """j AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |  JOIN fasg f ON f.vec_id = pqcodes.nid
        |  JOIN probes p ON p.qid = q.query_id AND p.ccid = f.cluster
        |  WHERE q.query_id <> pqcodes.nid)""".stripMargin

  private def ivfPqOracle(coarseTrainCond: String,
                          pqTrainCond: String,
                          candCond: String = "TRUE",
                          rotate: Boolean = false): String =
      s"""${kmeansTrainCtes(
               "  SELECT vec_id, embedding FROM embeddings", "8",
               coarseTrainCond)},
        |qd AS (
        |  SELECT q.vec_id AS qid, c.cid, ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qd) t WHERE rn <= 2),
        |${if (!rotate) "" else
          whtRotateCtes("corpus", Seq("vec_id"), "embedding") + ",\n"
        }${pqReplayCtes(pqTrainCond, if (rotate) "rot" else "embeddings")},
        |j AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |  JOIN jc ON jc.vec_id = pqcodes.nid
        |  JOIN probes p ON p.qid = q.query_id AND p.cid = jc.cluster
        |  WHERE q.query_id <> pqcodes.nid AND ($candCond)),
        |$pqAdcTail""".stripMargin

  /** q217's redundant-dims corpus in SQL — [[redundantCorpus]]'s
    * arithmetic (`e[j mod 16] + 0.05·e[j]`; `5e-2` parses to the same
    * double as the engine's literal). */
  private val redundantCorpusSql: String =
    """  SELECT vec_id,
      |    list_transform(list_zip(embedding,
      |        generate_series(0, len(embedding) - 1)),
      |      x -> CAST(embedding[(CAST(x[2] AS BIGINT) % 16) + 1] AS DOUBLE)
      |           + CAST(x[1] AS DOUBLE) * 5e-2) AS embedding
      |  FROM embeddings""".stripMargin

  /** The q210 clustered corpus: 16 centers (the corpus's own rows
    * 0-15) + 0.15× the row's vector — exact double arithmetic, so both
    * engines derive identical vectors. */
  /** The q190 lifecycle replay (verdicts judged against the FULL base
    * — they predate the delete — final store = surviving base ∪ kept
    * delta, grouped per cluster; compaction contents-invariant).
    * Shared verbatim by q221's versioned-store twin. */
  private lazy val storeLifecycleOracle: String = {
      val cosAB =
        """list_reduce(list_prepend(0.0, list_transform(
          |          list_zip(a.embedding, b.embedding),
          |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
          |          (acc, v) -> acc + v) / (a.nrm * b.nrm)""".stripMargin
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |ad AS (
        |  SELECT jc.vec_id, jc.embedding, jc.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(jc.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS nrm
        |  FROM jc),
        |bb AS (SELECT * FROM ad WHERE vec_id < 100000),
        |dd AS (SELECT * FROM ad WHERE vec_id >= 100000),
        |drv AS (
        |  SELECT DISTINCT a.vec_id FROM dd a JOIN bb b
        |    ON a.cluster = b.cluster
        |  WHERE $cosAB >= 0.99
        |  UNION
        |  SELECT DISTINCT b.vec_id FROM dd a JOIN dd b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE $cosAB >= 0.99),
        |final AS (
        |  SELECT vec_id, cluster FROM bb WHERE vec_id % 10 <> 3
        |  UNION ALL
        |  SELECT vec_id, cluster FROM dd
        |  WHERE vec_id NOT IN (SELECT vec_id FROM drv))
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN vec_id < 100000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_base,
        |  CAST(sum(CASE WHEN vec_id >= 100000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_delta,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec,
        |  CAST(max(vec_id) AS BIGINT) AS max_vec
        |FROM final GROUP BY cluster ORDER BY cluster""".stripMargin
    }

  private val clusteredCorpusSql: String =
    """  SELECT e.vec_id,
      |    list_transform(list_zip(c.embedding, e.embedding),
      |      x -> CAST(x[1] AS DOUBLE) + CAST(x[2] AS DOUBLE) * 0.15)
      |      AS embedding
      |  FROM embeddings e JOIN embeddings c ON c.vec_id = e.vec_id % 16"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    // both PQ flavors replayed over the derived clustered corpus at the
    // same bits, audited against the exact ranking — the residual side
    // is the r-prefixed CTE instance
    "q210_pq_geometry_recall" ->
      s"""${kmeansTrainCtes(clusteredCorpusSql, "16")},
        |qd AS (
        |  SELECT q.vec_id AS qid, c.cid, ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qd) t WHERE rn <= 2),
        |${pqReplayCtes("TRUE", "corpus")},
        |jv AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |  JOIN jc ON jc.vec_id = pqcodes.nid
        |  JOIN probes p ON p.qid = q.query_id AND p.cid = jc.cluster
        |  WHERE q.query_id <> pqcodes.nid),
        |adcv AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM jv GROUP BY query_id, nid),
        |topv AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adcv) t WHERE rank <= 5),
        |${pqResidualCtes("jc", "probes", "cid", "r")},
        |jr AS (
        |  SELECT q.query_id, rpqcodes.nid, q.sub, q.d2
        |  FROM rpqcodes
        |  JOIN jc ON jc.vec_id = rpqcodes.nid
        |  JOIN rpqqdt q ON q.sub = rpqcodes.sub AND q.cid = rpqcodes.cid
        |    AND q.qc = jc.cluster
        |  WHERE q.query_id <> rpqcodes.nid),
        |adcr AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM jr GROUP BY query_id, nid),
        |topr AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adcr) t WHERE rank <= 5),
        |exs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS cv,
        |    q.qv, $cosineSql AS cos
        |  FROM corpus e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM corpus WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM exs) t WHERE rank <= 5)
        |SELECT ex.query_id,
        |  CAST(count(v.nid) AS BIGINT) AS n_common_vanilla,
        |  CAST(count(r.nid) AS BIGINT) AS n_common_residual,
        |  CAST(count(v.nid) * 20 AS BIGINT) AS recall_vanilla_pct,
        |  CAST(count(r.nid) * 20 AS BIGINT) AS recall_residual_pct
        |FROM ex
        |LEFT JOIN topv v ON v.query_id = ex.query_id AND v.nid = ex.neighbor_id
        |LEFT JOIN topr r ON r.query_id = ex.query_id AND r.nid = ex.neighbor_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    "q199_pq_store" -> ivfPqOracle("TRUE", "TRUE"),
    // the unified-triple serving path: store state at search time is
    // IDENTICAL to q199's (the residual sidecar was fully replaced by
    // the vanilla rewrite), so the replay is q199's verbatim — what
    // differs is the protocol under test (pinned-triple resolution)
    "q228_pq_unified_store" -> ivfPqOracle("TRUE", "TRUE"),
    // the pinned v0 state is exactly q177's scenario (base-trained
    // codebook, base members); the post-pin append and refit exist
    // only to leak if the pin is broken
    "q229_semantic_replay" -> incrDedupOracle,
    "q231_semantic_replay_pruned" -> incrDedupOracleCondDd(
      "vec_id < 100000",
      "vec_id >= 100000 AND vec_id < 200000 AND vec_id % 100 = 0" +
        " AND vec_id < 100700"),
    // q193's ladder front (training levels, fasg, two-stage probe
    // lists) composed with q199's PQ scoring tail: candidates gated by
    // the LADDER cluster assignment, scored by the fixed-order ADC
    "q201_pq_store_two_level" ->
      s"""$twoLevelFrontCtes,
        |${pqReplayCtes("TRUE")},
        |$pqLadderJCte,
        |$pqAdcTail""".stripMargin,
    // the standing two-thirds train BOTH codebooks; the delta third is
    // coarse-assigned and PQ-encoded against them frozen, so the replay
    // trains restricted but encodes everything
    "q200_pq_append" -> ivfPqOracle("vec_id % 3 <> 0", "id % 3 <> 0"),
    // the streaming ingest (gate in StreamingQueries) must land the
    // store in exactly q200's state: batching, per-batch sidecar
    // appends, and compaction are all content-invariant
    "q204_stream_pq_ingest" -> ivfPqOracle("vec_id % 3 <> 0", "id % 3 <> 0"),
    // forgotten ids must vanish from the CODE path, not just the float
    // path: trainings replay over the pre-delete corpus (both codebooks
    // were persisted before the forget), candidates exclude the ids
    "q202_pq_store_forget" ->
      ivfPqOracle("TRUE", "TRUE", "pqcodes.nid % 7 <> 3"),
    // both rankings replayed: the laddered PQ top-5 (q201's CTEs, kept
    // as a relation) and the exact float cosine top-5 (q135's exs/ex),
    // then the per-query intersection count
    "q203_pq_recall_audit" ->
      s"""$twoLevelFrontCtes,
        |${pqReplayCtes("TRUE")},
        |$pqLadderJCte,
        |$pqAdcCte,
        |pqtop AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adc) t WHERE rank <= 5),
        |exs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS cv,
        |    q.qv, $cosineSql AS cos
        |  FROM corpus e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM corpus WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM exs) t WHERE rank <= 5)
        |SELECT ex.query_id, CAST(count(pq.nid) AS BIGINT) AS n_common,
        |  CAST(count(pq.nid) * 20 AS BIGINT) AS recall_pct
        |FROM ex LEFT JOIN pqtop pq
        |  ON pq.query_id = ex.query_id AND pq.nid = ex.neighbor_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // q199's flat front composed with the RESIDUAL replay: corpus
    // residualized against its assigned centroid, PQ trained/encoded
    // over residuals, query tables per (query, probed cluster) — the
    // qc = candidate-cluster gate replaces the explicit probes join
    // (pqqdt only holds probed pairs)
    "q208_pq_residual_store" -> ivfPqResidualOracle("TRUE", "TRUE"),
    // q199's flat front with the ROTATED replay: the corpus is piped
    // through the structured rotation (sign flips + 6 butterfly
    // stages, bit-exact rows-form replay) before the PQ train/encode;
    // query tables come from the same rotated rows (queries are corpus
    // members)
    "q216_pq_rotated_store" -> ivfPqOracle("TRUE", "TRUE", rotate = true),
    // both rungs stacked: residualize against the assigned coarse
    // centroid, THEN rotate — encode and per-(query, probe) table
    // sides in the same order as the engine
    "q218_pq_rotated_residual" ->
      ivfPqResidualOracle("TRUE", "TRUE", rotate = true),
    // plain and rotated PQ replayed over the derived anisotropic
    // corpus at the same bits, audited against the exact cosine
    // ranking — the w-prefixed CTE instance is the rotated replay
    "q217_pq_rotation_recall" ->
      s"""${kmeansTrainCtes(redundantCorpusSql, "8")},
        |qd AS (
        |  SELECT q.vec_id AS qid, c.cid, ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qd) t WHERE rn <= 2),
        |${pqReplayCtes("TRUE", "corpus")},
        |jp AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |  JOIN jc ON jc.vec_id = pqcodes.nid
        |  JOIN probes p ON p.qid = q.query_id AND p.cid = jc.cluster
        |  WHERE q.query_id <> pqcodes.nid),
        |adcp AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM jp GROUP BY query_id, nid),
        |topp AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adcp) t WHERE rank <= 5),
        |${whtRotateCtes("corpus", Seq("vec_id"), "embedding")},
        |${pqReplayCtes("TRUE", "rot", "w")},
        |jw AS (
        |  SELECT q.query_id, wpqcodes.nid, q.sub, q.d2
        |  FROM wpqcodes
        |  JOIN wpqqdt q ON q.sub = wpqcodes.sub AND q.cid = wpqcodes.cid
        |  JOIN jc ON jc.vec_id = wpqcodes.nid
        |  JOIN probes p ON p.qid = q.query_id AND p.cid = jc.cluster
        |  WHERE q.query_id <> wpqcodes.nid),
        |adcw AS (
        |  SELECT query_id, nid,
        |    ((sum(CASE WHEN sub = 0 THEN d2 ELSE 0.0 END)
        |      + sum(CASE WHEN sub = 1 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 2 THEN d2 ELSE 0.0 END))
        |      + sum(CASE WHEN sub = 3 THEN d2 ELSE 0.0 END) AS adc
        |  FROM jw GROUP BY query_id, nid),
        |topw AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adcw) t WHERE rank <= 5),
        |exs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS cv,
        |    q.qv, $cosineSql AS cos
        |  FROM corpus e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM corpus WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM exs) t WHERE rank <= 5)
        |SELECT ex.query_id,
        |  CAST(count(v.nid) AS BIGINT) AS n_common_plain,
        |  CAST(count(r.nid) AS BIGINT) AS n_common_rotated,
        |  CAST(count(v.nid) * 20 AS BIGINT) AS recall_plain_pct,
        |  CAST(count(r.nid) * 20 AS BIGINT) AS recall_rotated_pct
        |FROM ex
        |LEFT JOIN topp v ON v.query_id = ex.query_id AND v.nid = ex.neighbor_id
        |LEFT JOIN topw r ON r.query_id = ex.query_id AND r.nid = ex.neighbor_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // the residual twin of q200: standing two-thirds train BOTH
    // codebooks, the delta is coarse-assigned against the reloaded
    // codebook and RESIDUAL-encoded against the frozen sidecar (the
    // flavor auto-detected from pq_meta) — the replay trains
    // restricted, residualizes and encodes everything
    "q213_pq_residual_append" -> pqResidualAppendOracle,
    // the residual twin of q202: forgotten ids vanish from the code
    // path; both codebooks replay over the pre-delete corpus
    "q214_pq_residual_forget" ->
      ivfPqResidualOracle("TRUE", "TRUE", "pqcodes.nid % 7 <> 3"),
    // q203's audit with the residual sidecar at the same bits: ladder
    // front, residual replay against the LADDER assignment (fasg), ADC
    // top-5, exact float top-5, per-query intersection
    "q209_pq_residual_recall" ->
      s"""$twoLevelFrontCtes,
        |${pqResidualCtes("fasg", "probes", "ccid")},
        |j AS (
        |  SELECT q.query_id, pqcodes.nid, q.sub, q.d2
        |  FROM pqcodes
        |  JOIN fasg f ON f.vec_id = pqcodes.nid
        |  JOIN pqqdt q ON q.sub = pqcodes.sub AND q.cid = pqcodes.cid
        |    AND q.qc = f.cluster
        |  WHERE q.query_id <> pqcodes.nid),
        |$pqAdcCte,
        |pqtop AS (
        |  SELECT query_id, nid FROM (
        |    SELECT query_id, nid,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY adc, nid) AS rank
        |    FROM adc) t WHERE rank <= 5),
        |exs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS cv,
        |    q.qv, $cosineSql AS cos
        |  FROM corpus e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM corpus WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM exs) t WHERE rank <= 5)
        |SELECT ex.query_id, CAST(count(pq.nid) AS BIGINT) AS n_common,
        |  CAST(count(pq.nid) * 20 AS BIGINT) AS recall_pct
        |FROM ex LEFT JOIN pqtop pq
        |  ON pq.query_id = ex.query_id AND pq.nid = ex.neighbor_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // the complete production semantic-dedup replay: train (k ∝ n) →
    // assign → within-cluster cosine pruning, all value-checked
    "q168_semdedup_auto" ->
      s"""$autoTrainCtes,
        |av AS (
        |  SELECT jc.vec_id, jc.embedding, jc.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(jc.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS nrm
        |  FROM jc),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM av a JOIN av b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.99)
        |SELECT av.vec_id, av.cluster, (dr.vec_id IS NULL) AS keep
        |FROM av LEFT JOIN dropped dr ON av.vec_id = dr.vec_id
        |ORDER BY av.vec_id""".stripMargin,
    // trained-codebook IVF: same training replay with nlist=8, then the
    // query probe list (2 nearest centroids), cluster-probe equi-join,
    // exact left-fold cosine, windowed top-5. q191 runs the identical
    // math with codebook + corpus assignment reloaded from the
    // partitioned store and the scan pruned to the probed clusters —
    // result-invariant (only probed clusters can contribute), doubles
    // round-trip parquet bit-exactly, so the oracle is shared.
    "q191_ann_store" -> ivfMultiProbeOracle,
    "q171_ivf_multiprobe" -> ivfMultiProbeOracle,
    // BOTH training levels replayed: the flat codebook (unprefixed
    // CTEs), the super-codebook trained over it (s-prefixed instance,
    // kSuper = ceil(sqrt(k))), childless supers dropped, then the
    // two-stage argmin and the q168 dedup tail
    "q173_two_level_dedup" ->
      s"""${kmeansTrainCtes(twinCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM corpus)")},
        |${kmeansTrainCtes(
             "  SELECT cid AS vec_id, cv AS embedding FROM c2",
             "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM scorpus)",
             "TRUE", "s").stripPrefix("WITH ")},
        |live AS (
        |  SELECT s.cid, s.cv FROM sc2 s
        |  WHERE EXISTS (SELECT 1 FROM sasg a WHERE a.cluster = s.cid)),
        |pd AS (
        |  SELECT e.vec_id, s.cid, ${sqdSql("e.embedding", "s.cv")} AS dd
        |  FROM corpus e CROSS JOIN live s),
        |pa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |    FROM pd) t WHERE rn = 1),
        |cd AS (
        |  SELECT e.vec_id, ch.vec_id AS ccid,
        |    ${sqdSql("e.embedding", "ch.embedding")} AS dd
        |  FROM corpus e JOIN pa USING (vec_id)
        |  JOIN sjc ch ON ch.cluster = pa.cid),
        |fasg AS (
        |  SELECT vec_id, CAST(ccid AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, ccid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, ccid) AS rn
        |    FROM cd) t WHERE rn = 1),
        |av AS (
        |  SELECT c.vec_id, c.embedding, f.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(c.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS nrm
        |  FROM corpus c JOIN fasg f USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM av a JOIN av b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.99)
        |SELECT av.vec_id, av.cluster, (dr.vec_id IS NULL) AS keep
        |FROM av LEFT JOIN dropped dr ON av.vec_id = dr.vec_id
        |ORDER BY av.vec_id""".stripMargin,
    // base-only training (trainCond), standing assignment over
    // base ∪ delta, then the two incremental drop rules. q181 runs the
    // same math with the base assignment round-tripped through the
    // parquet standing store — bit-exact, so the oracle is shared.
    "q177_incremental_dedup" -> incrDedupOracle,
    "q181_incremental_store" -> incrDedupOracle,
    // q187 runs the same math through the bucket-partitioned store with
    // file pruning — verdict-invariant, so the oracle is shared again
    "q187_store_pruned" -> incrDedupOracle,
    // q188 deletes base ids (vec_id % 10 = 3) from the store before
    // judging the same delta: same training (the standing codebook
    // predates the delete), base membership excludes the deleted ids
    "q188_store_delete" ->
      incrDedupOracleCond("vec_id < 100000 AND vec_id % 10 <> 3"),
    // the lifecycle replay: verdicts judged against the FULL base
    // (they predate the delete), final store = surviving base ∪ kept
    // delta, grouped per cluster (compaction is contents-invariant)
    "q190_store_lifecycle" -> storeLifecycleOracle,
    // the identical lifecycle run on a VERSIONED store (manifest
    // commits) — content-invariance of the snapshot protocol, judged
    // by the same closed-form replay
    "q221_versioned_emb_store" -> storeLifecycleOracle,
    // time-travel: the pinned v0 snapshot = the BASE build alone; the
    // append and delete that followed must be invisible to it. Same
    // training replay (base-trained centroids assign the corpus),
    // restricted to base rows
    "q222_store_time_travel" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")}
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec,
        |  CAST(max(vec_id) AS BIGINT) AS max_vec
        |FROM jc WHERE vec_id < 100000
        |GROUP BY cluster ORDER BY cluster""".stripMargin,
    // the change feed between v0 and live: inserts = every delta row
    // (all were appended), deletes = the base tenth-slice, updates
    // empty (no refit between the versions) — both sets closed-form
    // from the same training replay
    "q225_store_diff" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")}
        |SELECT 'insert' AS change, vec_id, cluster FROM jc
        |WHERE vec_id >= 100000
        |UNION ALL
        |SELECT 'delete' AS change, vec_id, cluster FROM jc
        |WHERE vec_id < 100000 AND vec_id % 10 = 3
        |ORDER BY change, vec_id""".stripMargin,
    // gates live in StreamingQueries; the sequential two-batch replay
    // is documented on streamIngestOracle above
    "q184_stream_ingest_dedup" -> streamIngestOracle,
    "q189_stream_ingest_store" -> streamIngestOracle,
    // exactly-once ingest (gate in StreamingQueries): base ∪ BOTH
    // batches, each counted ONCE — the redelivered batch 0 must be a
    // ledger no-op, so the final store is just the corpus assignment
    "q223_stream_exactly_once" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")}
        |SELECT vec_id, cluster FROM jc ORDER BY vec_id""".stripMargin,
    // both training levels replayed (standing codebook base-restricted,
    // super codebook over it), base ∪ delta assigned through the
    // two-stage argmin, then q177's drop rules
    "q186_incremental_two_level" -> {
      val cosAB =
        """list_reduce(list_prepend(0.0, list_transform(
          |          list_zip(a.embedding, b.embedding),
          |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
          |          (acc, v) -> acc + v) / (a.nrm * b.nrm)""".stripMargin
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(
             "  SELECT cid AS vec_id, cv AS embedding FROM c2",
             "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM scorpus)",
             "TRUE", "s").stripPrefix("WITH ")},
        |live AS (
        |  SELECT s.cid, s.cv FROM sc2 s
        |  WHERE EXISTS (SELECT 1 FROM sasg a WHERE a.cluster = s.cid)),
        |pd AS (
        |  SELECT e.vec_id, s.cid, ${sqdSql("e.embedding", "s.cv")} AS dd
        |  FROM corpus e CROSS JOIN live s),
        |pa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |    FROM pd) t WHERE rn = 1),
        |cd AS (
        |  SELECT e.vec_id, ch.vec_id AS ccid,
        |    ${sqdSql("e.embedding", "ch.embedding")} AS dd
        |  FROM corpus e JOIN pa USING (vec_id)
        |  JOIN sjc ch ON ch.cluster = pa.cid),
        |fasg AS (
        |  SELECT vec_id, CAST(ccid AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, ccid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, ccid) AS rn
        |    FROM cd) t WHERE rn = 1),
        |ad AS (
        |  SELECT c.vec_id, c.embedding, f.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(c.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS nrm
        |  FROM corpus c JOIN fasg f USING (vec_id)),
        |bb AS (SELECT * FROM ad WHERE vec_id < 100000),
        |dd AS (SELECT * FROM ad WHERE vec_id >= 100000),
        |drv AS (
        |  SELECT DISTINCT a.vec_id FROM dd a JOIN bb b
        |    ON a.cluster = b.cluster
        |  WHERE $cosAB >= 0.99
        |  UNION
        |  SELECT DISTINCT b.vec_id FROM dd a JOIN dd b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE $cosAB >= 0.99)
        |SELECT dd.vec_id, dd.cluster, (dr.vec_id IS NULL) AS keep
        |FROM dd LEFT JOIN drv dr ON dr.vec_id = dd.vec_id
        |ORDER BY dd.vec_id""".stripMargin
    },
    // both trainings replayed over the SAME corpus — the standing
    // instance base-restricted (trainCond), the fresh instance
    // (n-prefixed) over everything — then the label-free audit:
    // per standing cluster, the modal retrained-cluster block
    "q178_codebook_drift" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM ntcorpus)",
             "TRUE", "n").stripPrefix("WITH ")},
        |pc AS (
        |  SELECT a.cluster AS std, n.cluster AS nw, count(*) AS n
        |  FROM asg a JOIN nasg n USING (vec_id)
        |  GROUP BY a.cluster, n.cluster)
        |SELECT std AS cluster, CAST(sum(n) AS BIGINT) AS n_vectors,
        |  CAST(count(*) AS BIGINT) AS n_new_clusters,
        |  CAST(max(n) AS BIGINT) AS n_modal,
        |  (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
        |    AS stable_ppm
        |FROM pc GROUP BY std
        |ORDER BY cluster""".stripMargin,
    // THREE composed training replays: standing (base-restricted),
    // fresh retrain (n-prefixed), and the refit instance (r-prefixed)
    // trained only on the drifted clusters' members; then the
    // survivor/refit merge (survivors keep standing order, refit ids
    // appended) and the final argmin
    // q195: q192's replay plus a fourth stage — the merged survivor ∪
    // refit codebook relation, the batch's lowest-id argmin against it,
    // and the two incremental drop rules vs the post-refit membership
    "q195_refit_then_ingest" -> {
      val cosAB =
        """list_reduce(list_prepend(0.0, list_transform(
          |          list_zip(a.embedding, b.embedding),
          |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
          |          (acc, v) -> acc + v) / (a.nrm * b.nrm)""".stripMargin
      val nrmOf = (e: String) =>
        s"""sqrt(list_reduce(list_prepend(0.0, list_transform($e,
           |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
           |      (acc, x) -> acc + x))""".stripMargin
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM ntcorpus)",
             "TRUE", "n").stripPrefix("WITH ")},
        |pc AS (
        |  SELECT a.cluster AS std, n.cluster AS nw, count(*) AS n
        |  FROM asg a JOIN nasg n USING (vec_id)
        |  GROUP BY a.cluster, n.cluster),
        |drift AS (
        |  SELECT std AS cluster,
        |    (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
        |      AS stable_ppm
        |  FROM pc GROUP BY std),
        |drifted AS (SELECT cluster FROM drift WHERE stable_ppm < 500000),
        |${kmeansTrainCtes(
             """  SELECT c.vec_id, c.embedding FROM corpus c
               |  JOIN asg a USING (vec_id)
               |  JOIN drifted d ON a.cluster = d.cluster""".stripMargin,
             "(SELECT (count(*) + 49) // 50 FROM rtcorpus)",
             "TRUE", "r").stripPrefix("WITH ")},
        |mrg AS (
        |  SELECT CAST(cid AS BIGINT) AS mid, cv FROM c2
        |  WHERE cid NOT IN (SELECT cluster FROM drifted)
        |  UNION ALL
        |  SELECT (SELECT count(*) FROM c2) + cid AS mid, cv FROM rc2),
        |fin AS (
        |  SELECT f.vec_id, f.cluster, c.embedding,
        |    ${nrmOf("c.embedding")} AS nrm
        |  FROM (
        |    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
        |    FROM asg a
        |    WHERE a.cluster NOT IN (SELECT cluster FROM drifted)
        |    UNION ALL
        |    SELECT r.vec_id,
        |      CAST((SELECT count(*) FROM c2) + r.cluster AS BIGINT)
        |    FROM rasg r) f
        |  JOIN corpus c USING (vec_id)),
        |batch AS (
        |  SELECT vec_id + 400000 AS vec_id,
        |    list_transform(embedding, v -> v * CAST(0.5 AS FLOAT))
        |      AS embedding
        |  FROM embeddings WHERE vec_id % 9 = 0),
        |bd AS (
        |  SELECT b.vec_id, b.embedding, m.mid,
        |    ${sqdSql("b.embedding", "m.cv")} AS dd
        |  FROM batch b CROSS JOIN mrg m),
        |ba AS (
        |  SELECT vec_id, embedding, CAST(mid AS BIGINT) AS cluster,
        |    ${nrmOf("embedding")} AS nrm
        |  FROM (
        |    SELECT vec_id, embedding, mid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, mid)
        |        AS rn
        |    FROM bd) t WHERE rn = 1),
        |drb AS (
        |  SELECT DISTINCT a.vec_id FROM ba a JOIN fin b
        |    ON a.cluster = b.cluster
        |  WHERE $cosAB >= 0.99
        |  UNION
        |  SELECT DISTINCT b.vec_id FROM ba a JOIN ba b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE $cosAB >= 0.99)
        |SELECT ba.vec_id, ba.cluster, (d.vec_id IS NULL) AS keep
        |FROM ba LEFT JOIN drb d ON d.vec_id = ba.vec_id
        |ORDER BY ba.vec_id""".stripMargin
    },
    // q194: q192's replay with the delete applied first — refit trains
    // on drifted members MINUS the deleted ids, survivors lose their
    // deleted rows, and nothing deleted may resurface
    "q194_delete_then_refit" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM ntcorpus)",
             "TRUE", "n").stripPrefix("WITH ")},
        |pc AS (
        |  SELECT a.cluster AS std, n.cluster AS nw, count(*) AS n
        |  FROM asg a JOIN nasg n USING (vec_id)
        |  GROUP BY a.cluster, n.cluster),
        |drift AS (
        |  SELECT std AS cluster,
        |    (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
        |      AS stable_ppm
        |  FROM pc GROUP BY std),
        |drifted AS (SELECT cluster FROM drift WHERE stable_ppm < 500000),
        |${kmeansTrainCtes(
             """  SELECT c.vec_id, c.embedding FROM corpus c
               |  JOIN asg a USING (vec_id)
               |  JOIN drifted d ON a.cluster = d.cluster
               |  WHERE c.vec_id % 10 <> 3""".stripMargin,
             "(SELECT (count(*) + 49) // 50 FROM rtcorpus)",
             "TRUE", "r").stripPrefix("WITH ")},
        |fin AS (
        |  SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
        |  FROM asg a
        |  WHERE a.cluster NOT IN (SELECT cluster FROM drifted)
        |    AND a.vec_id % 10 <> 3
        |  UNION ALL
        |  SELECT r.vec_id,
        |    CAST((SELECT count(*) FROM c2) + r.cluster AS BIGINT)
        |      AS cluster
        |  FROM rasg r)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(min(vec_id) AS BIGINT) AS first_vec
        |FROM fin GROUP BY cluster
        |ORDER BY cluster""".stripMargin,
    // q192: standing + fresh-retrain trainings and the ppm drift rule as
    // q183, then the IN-PLACE semantics — survivors keep their standing
    // assignment verbatim, drifted members re-assign among the refit
    // centroids only, refit ids offset past the standing codebook
    "q192_store_refit" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM ntcorpus)",
             "TRUE", "n").stripPrefix("WITH ")},
        |pc AS (
        |  SELECT a.cluster AS std, n.cluster AS nw, count(*) AS n
        |  FROM asg a JOIN nasg n USING (vec_id)
        |  GROUP BY a.cluster, n.cluster),
        |drift AS (
        |  SELECT std AS cluster,
        |    (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
        |      AS stable_ppm
        |  FROM pc GROUP BY std),
        |drifted AS (SELECT cluster FROM drift WHERE stable_ppm < 500000),
        |${kmeansTrainCtes(
             """  SELECT c.vec_id, c.embedding FROM corpus c
               |  JOIN asg a USING (vec_id)
               |  JOIN drifted d ON a.cluster = d.cluster""".stripMargin,
             "(SELECT (count(*) + 49) // 50 FROM rtcorpus)",
             "TRUE", "r").stripPrefix("WITH ")},
        |fin AS (
        |  SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
        |  FROM asg a
        |  WHERE a.cluster NOT IN (SELECT cluster FROM drifted)
        |  UNION ALL
        |  SELECT r.vec_id,
        |    CAST((SELECT count(*) FROM c2) + r.cluster AS BIGINT)
        |      AS cluster
        |  FROM rasg r)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(min(vec_id) AS BIGINT) AS first_vec
        |FROM fin GROUP BY cluster
        |ORDER BY cluster""".stripMargin,
    "q183_partial_refit" ->
      s"""${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM tcorpus)",
             "vec_id < 100000")},
        |${kmeansTrainCtes(incrCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM ntcorpus)",
             "TRUE", "n").stripPrefix("WITH ")},
        |pc AS (
        |  SELECT a.cluster AS std, n.cluster AS nw, count(*) AS n
        |  FROM asg a JOIN nasg n USING (vec_id)
        |  GROUP BY a.cluster, n.cluster),
        |drift AS (
        |  SELECT std AS cluster,
        |    (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
        |      AS stable_ppm
        |  FROM pc GROUP BY std),
        |drifted AS (SELECT cluster FROM drift WHERE stable_ppm < 500000),
        |${kmeansTrainCtes(
             """  SELECT c.vec_id, c.embedding FROM corpus c
               |  JOIN asg a USING (vec_id)
               |  JOIN drifted d ON a.cluster = d.cluster""".stripMargin,
             "(SELECT (count(*) + 49) // 50 FROM rtcorpus)",
             "TRUE", "r").stripPrefix("WITH ")},
        |surv AS (
        |  SELECT row_number() OVER (ORDER BY cid) - 1 AS mid, cv
        |  FROM c2 WHERE cid NOT IN (SELECT cluster FROM drifted)),
        |mrg AS (
        |  SELECT mid, cv FROM surv
        |  UNION ALL
        |  SELECT (SELECT count(*) FROM surv) + cid AS mid, cv FROM rc2),
        |md AS (
        |  SELECT e.vec_id, m.mid, ${sqdSql("e.embedding", "m.cv")} AS dd
        |  FROM corpus e CROSS JOIN mrg m),
        |masg AS (
        |  SELECT vec_id, CAST(mid AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, mid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, mid) AS rn
        |    FROM md) t WHERE rn = 1)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(min(vec_id) AS BIGINT) AS first_vec
        |FROM masg GROUP BY cluster
        |ORDER BY cluster""".stripMargin,
    // both probe constructions + both top-5s replayed over the shared
    // flat/super training instances, then the per-query agreement counts
    "q185_probe_agreement" ->
      s"""${kmeansTrainCtes(
             "  SELECT vec_id, embedding FROM embeddings", "8")},
        |${kmeansTrainCtes(
             "  SELECT cid AS vec_id, cv AS embedding FROM c2",
             "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM scorpus)",
             "TRUE", "s").stripPrefix("WITH ")},
        |live AS (
        |  SELECT s.cid, s.cv FROM sc2 s
        |  WHERE EXISTS (SELECT 1 FROM sasg a WHERE a.cluster = s.cid)),
        |pd AS (
        |  SELECT e.vec_id, s.cid, ${sqdSql("e.embedding", "s.cv")} AS dd
        |  FROM corpus e CROSS JOIN live s),
        |pa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |    FROM pd) t WHERE rn = 1),
        |cd AS (
        |  SELECT e.vec_id, ch.vec_id AS ccid,
        |    ${sqdSql("e.embedding", "ch.embedding")} AS dd
        |  FROM corpus e JOIN pa USING (vec_id)
        |  JOIN sjc ch ON ch.cluster = pa.cid),
        |fasg AS (
        |  SELECT vec_id, CAST(ccid AS BIGINT) AS cluster FROM (
        |    SELECT vec_id, ccid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, ccid) AS rn
        |    FROM cd) t WHERE rn = 1),
        |fqd AS (
        |  SELECT q.vec_id AS qid, c.cid, q.embedding AS qe,
        |    ${sqdSql("q.embedding", "c.cv")} AS dd
        |  FROM corpus q CROSS JOIN c2 c
        |  WHERE q.vec_id < 10),
        |fprobes AS (
        |  SELECT qid, cid, qe FROM (
        |    SELECT qid, cid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM fqd) t WHERE rn <= 2),
        |qsd AS (
        |  SELECT q.vec_id AS qid, s.cid, q.embedding AS qe,
        |    ${sqdSql("q.embedding", "s.cv")} AS dd
        |  FROM corpus q CROSS JOIN live s
        |  WHERE q.vec_id < 10),
        |qsp AS (
        |  SELECT qid, cid, qe FROM (
        |    SELECT qid, cid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, cid) AS rn
        |    FROM qsd) t WHERE rn <= 2),
        |qcd AS (
        |  SELECT p.qid, ch.vec_id AS ccid, p.qe,
        |    ${sqdSql("p.qe", "ch.embedding")} AS dd
        |  FROM qsp p JOIN sjc ch ON ch.cluster = p.cid),
        |tprobes AS (
        |  SELECT qid, ccid, qe FROM (
        |    SELECT qid, ccid, qe,
        |      row_number() OVER (PARTITION BY qid ORDER BY dd, ccid) AS rn
        |    FROM qcd) t WHERE rn <= 2),
        |fscored AS (
        |  SELECT p.qid AS query_id, j.vec_id AS neighbor_id,
        |    p.qe AS qv, j.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM fprobes p JOIN jc j ON j.cluster = p.cid
        |  WHERE j.vec_id <> p.qid),
        |ftop AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM fscored) t WHERE rank <= 5),
        |jv AS (
        |  SELECT c.vec_id, c.embedding, f.cluster
        |  FROM corpus c JOIN fasg f USING (vec_id)),
        |tscored AS (
        |  SELECT p.qid AS query_id, j.vec_id AS neighbor_id,
        |    p.qe AS qv, j.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM tprobes p JOIN jv j ON j.cluster = p.ccid
        |  WHERE j.vec_id <> p.qid),
        |ttop AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM tscored) t WHERE rank <= 5),
        |probc AS (
        |  SELECT f.qid, count(*) AS n FROM fprobes f
        |  JOIN tprobes t ON t.qid = f.qid AND t.ccid = f.cid
        |  GROUP BY f.qid),
        |topc AS (
        |  SELECT a.query_id, count(*) AS n FROM ftop a
        |  JOIN ttop b ON b.query_id = a.query_id
        |    AND b.neighbor_id = a.neighbor_id
        |  GROUP BY a.query_id),
        |qs AS (SELECT DISTINCT vec_id AS query_id FROM corpus
        |       WHERE vec_id < 10)
        |SELECT q.query_id,
        |  CAST(coalesce(p.n, 0) AS BIGINT) AS n_common_probes,
        |  CAST(coalesce(t.n, 0) AS BIGINT) AS n_common_top5
        |FROM qs q
        |LEFT JOIN probc p ON p.qid = q.query_id
        |LEFT JOIN topc t ON t.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the full two-level IVF replay: flat codebook (nlist=8), super
    // codebook over it, childless-super drop, TWO-STAGE probe lists
    // (sProbe=2 supers, then nProbe=2 of their children), two-level
    // corpus assignment, windowed top-5
    "q179_two_level_probe" -> twoLevelProbeOracle,
    // q193 = the same math with the corpus on disk in the partitioned
    // layout and the codebook reloaded (bit-exact round-trip)
    "q193_ann_store_two_level" -> twoLevelProbeOracle,
    // farthest-first seeding (5 argmax rounds over incrementally-least'ed
    // nearest-seed distances) feeds the training replay as its init
    "q176_farthest_seed" -> {
      def mRound(i: Int, prevM: String): String =
        s"""seed$i AS (
           |  SELECT embedding AS sv FROM $prevM
           |  ORDER BY dm DESC, vec_id LIMIT 1),
           |m$i AS (
           |  SELECT vec_id, embedding,
           |    least(dm, ${sqdSql("embedding", s"(SELECT sv FROM seed$i)")}) AS dm
           |  FROM $prevM)""".stripMargin
      val pre =
        s"""seed0 AS (SELECT embedding AS sv FROM corpus ORDER BY vec_id LIMIT 1),
           |m0 AS (
           |  SELECT c.vec_id, c.embedding,
           |    ${sqdSql("c.embedding", "(SELECT sv FROM seed0)")} AS dm
           |  FROM corpus c),
           |${mRound(1, "m0")},
           |${mRound(2, "m1")},
           |${mRound(3, "m2")},
           |${mRound(4, "m3")},
           |seed5 AS (
           |  SELECT embedding AS sv FROM m4
           |  ORDER BY dm DESC, vec_id LIMIT 1)""".stripMargin
      val initSeeds = (0 to 5).map(i =>
        s"  SELECT $i AS cid, (SELECT sv FROM seed$i) AS embedding")
        .mkString("\n  UNION ALL\n")
      s"""${kmeansTrainCtes("  SELECT vec_id, embedding FROM embeddings",
             "6", "TRUE", "", pre, Some(initSeeds))}
        |SELECT a.cluster,
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(min(vec_id) AS BIGINT) AS first_vec
        |FROM asg a
        |GROUP BY a.cluster
        |ORDER BY a.cluster""".stripMargin
    },
    // flat asg (from the unprefixed instance) joined to the q173
    // two-stage assignment, grouped per flat cluster
    "q175_assign_agreement" ->
      s"""${kmeansTrainCtes(twinCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM corpus)")},
        |${kmeansTrainCtes(
             "  SELECT cid AS vec_id, cv AS embedding FROM c2",
             "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM scorpus)",
             "TRUE", "s").stripPrefix("WITH ")},
        |live AS (
        |  SELECT s.cid, s.cv FROM sc2 s
        |  WHERE EXISTS (SELECT 1 FROM sasg a WHERE a.cluster = s.cid)),
        |pd AS (
        |  SELECT e.vec_id, s.cid, ${sqdSql("e.embedding", "s.cv")} AS dd
        |  FROM corpus e CROSS JOIN live s),
        |pa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |    FROM pd) t WHERE rn = 1),
        |cd AS (
        |  SELECT e.vec_id, ch.vec_id AS ccid,
        |    ${sqdSql("e.embedding", "ch.embedding")} AS dd
        |  FROM corpus e JOIN pa USING (vec_id)
        |  JOIN sjc ch ON ch.cluster = pa.cid),
        |fasg AS (
        |  SELECT vec_id, CAST(ccid AS BIGINT) AS two FROM (
        |    SELECT vec_id, ccid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dd, ccid) AS rn
        |    FROM cd) t WHERE rn = 1)
        |SELECT a.cluster,
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN a.cluster = f.two THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree,
        |  (1000000 * CAST(sum(CASE WHEN a.cluster = f.two THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS agree_ppm
        |FROM asg a JOIN fasg f USING (vec_id)
        |GROUP BY a.cluster
        |ORDER BY a.cluster""".stripMargin,
    // q168's replay with the training CTEs restricted to the
    // deterministic half-sample; assignment + pruning stay full-corpus
    "q172_semdedup_sampled" ->
      s"""${kmeansTrainCtes(twinCorpusSql,
             "(SELECT (count(*) + 49) // 50 FROM corpus)",
             "vec_id % 2 = 0")},
        |av AS (
        |  SELECT jc.vec_id, jc.embedding, jc.cluster,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(jc.embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS nrm
        |  FROM jc),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM av a JOIN av b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_reduce(list_prepend(0.0, list_transform(
        |          list_zip(a.embedding, b.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
        |          (acc, v) -> acc + v) / (a.nrm * b.nrm) >= 0.99)
        |SELECT av.vec_id, av.cluster, (dr.vec_id IS NULL) AS keep
        |FROM av LEFT JOIN dropped dr ON av.vec_id = dr.vec_id
        |ORDER BY av.vec_id""".stripMargin,
    // q133's graph replay, but over the LEARNED cluster assignment
    "q169_knn_graph_auto" ->
      s"""$autoTrainCtes,
        |scored AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    a.embedding AS qv, b.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM jc a JOIN jc b
        |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
        |topk AS (
        |  SELECT src, dst, cos, rank FROM (
        |    SELECT src, dst, cos,
        |      row_number() OVER (PARTITION BY src
        |                         ORDER BY cos DESC, dst) AS rank
        |    FROM scored) t
        |  WHERE rank <= 3),
        |mut AS (
        |  SELECT t.src, CAST(count(*) AS BIGINT) AS md
        |  FROM topk t JOIN topk r ON r.src = t.dst AND r.dst = t.src
        |  GROUP BY t.src)
        |SELECT e.vec_id, e.cluster,
        |  CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
        |  coalesce(m.md, 0) AS mutual_degree,
        |  CAST(t1.dst AS BIGINT) AS top_neighbor,
        |  t1.cos AS top_cos
        |FROM jc e
        |LEFT JOIN (SELECT src, count(*) AS n_scored
        |           FROM topk GROUP BY src) s ON s.src = e.vec_id
        |LEFT JOIN mut m ON m.src = e.vec_id
        |LEFT JOIN (SELECT * FROM topk WHERE rank = 1) t1 ON t1.src = e.vec_id
        |ORDER BY vec_id""".stripMargin,
    // recursive-CTE closure of the near-dup graph (shared with q50) +
    // the integer quality score + windowed argmax with the same tie-break
    "q131_keep_best" ->
      s"""$dupGroupsCtes,
        |qual AS (
        |  SELECT doc_id AS id,
        |    least(len(string_split_regex(trim(text), '\\s+')), 40)
        |    + least(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |        t -> t IN ($stopList))) * 5, 30)
        |    + 30 - least(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')), 30)
        |      AS q
        |  FROM corpus),
        |best AS (
        |  SELECT grp.group_id, grp.id, qual.q,
        |    row_number() OVER (PARTITION BY grp.group_id
        |                       ORDER BY qual.q DESC, grp.id) AS rn,
        |    count(*) OVER (PARTITION BY grp.group_id) AS gs
        |  FROM grp JOIN qual ON qual.id = grp.id)
        |SELECT CAST(group_id AS BIGINT) AS group_id,
        |  CAST(gs AS BIGINT) AS group_size,
        |  CAST(id AS BIGINT) AS kept_id,
        |  CAST(q AS BIGINT) AS kept_score,
        |  CAST(gs - 1 AS BIGINT) AS n_dropped
        |FROM best WHERE rn = 1
        |ORDER BY group_id""".stripMargin,
    // q130's relational three-round BPE replay, regrouped by source
    "q132_vocab_coverage" ->
      s"""${CorpusQueries.bpeTrainCtes},
        |tk AS (SELECT w, CAST(count(*) AS BIGINT) AS toks
        |       FROM s3t GROUP BY w),
        |per AS (
        |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(tk.toks) AS BIGINT) AS n_bpe
        |  FROM allw a JOIN tk USING (w)
        |  GROUP BY a.doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(per.n_words) AS BIGINT) AS n_words,
        |  CAST(sum(per.n_bpe) AS BIGINT) AS n_bpe_tokens,
        |  (1000000 * CAST(sum(per.n_bpe) AS BIGINT))
        |    // CAST(sum(per.n_words) AS BIGINT) AS tokens_per_word_ppm
        |FROM per JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin,
    // label-blocked all-pairs + exact left-fold cosine + windowed top-3,
    // mutuality by self-joining the top-k relation on reversed endpoints
    "q133_knn_graph" ->
      s"""WITH scored AS (
        |  SELECT a.vec_id AS src, a.label AS cl, b.vec_id AS dst,
        |    a.embedding AS qv, b.embedding AS cv,
        |    $cosineSql AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |topk AS (
        |  SELECT src, cl, dst, cos, rank FROM (
        |    SELECT src, cl, dst, cos,
        |      row_number() OVER (PARTITION BY src
        |                         ORDER BY cos DESC, dst) AS rank
        |    FROM scored) t
        |  WHERE rank <= 3),
        |mut AS (
        |  SELECT t.src, CAST(count(*) AS BIGINT) AS md
        |  FROM topk t JOIN topk r ON r.src = t.dst AND r.dst = t.src
        |  GROUP BY t.src)
        |SELECT e.vec_id, CAST(e.label AS BIGINT) AS cluster,
        |  CAST(coalesce(s.n_scored, 0) AS BIGINT) AS n_scored,
        |  coalesce(m.md, 0) AS mutual_degree,
        |  CAST(t1.dst AS BIGINT) AS top_neighbor,
        |  t1.cos AS top_cos
        |FROM embeddings e
        |LEFT JOIN (SELECT src, count(*) AS n_scored
        |           FROM topk GROUP BY src) s ON s.src = e.vec_id
        |LEFT JOIN mut m ON m.src = e.vec_id
        |LEFT JOIN (SELECT * FROM topk WHERE rank = 1) t1 ON t1.src = e.vec_id
        |ORDER BY vec_id""".stripMargin,
    // exact integer Hamilton allocation + the seeded-hash greedy fill
    "q134_budget_alloc" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
        |    ((doc_id % $P) * $hA + $hB) % $P AS h
        |  FROM documents),
        |wgt AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS w_tokens,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY source),
        |tot AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS w_total FROM wgt),
        |a0 AS (
        |  SELECT w.source, w.w_tokens, w.n_docs,
        |    (t.w_total * 1) // 2 AS budget,
        |    (((t.w_total * 1) // 2) * w.w_tokens) // t.w_total AS base,
        |    (((t.w_total * 1) // 2) * w.w_tokens) % t.w_total AS rem
        |  FROM wgt w CROSS JOIN tot t),
        |a1 AS (
        |  SELECT *, budget - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM a0),
        |alloc AS (
        |  SELECT source, w_tokens, n_docs,
        |    CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc_tokens
        |  FROM a1),
        |cum AS (
        |  SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY h, doc_id
        |                 ROWS UNBOUNDED PRECEDING) - n AS tokens_before
        |  FROM d),
        |sel AS (
        |  SELECT c.source, CAST(count(*) AS BIGINT) AS n_selected,
        |    CAST(sum(c.n) AS BIGINT) AS tokens_selected
        |  FROM cum c JOIN alloc al ON al.source = c.source
        |  WHERE c.tokens_before < al.alloc_tokens
        |  GROUP BY c.source)
        |SELECT al.source, al.w_tokens, al.n_docs, al.alloc_tokens,
        |  coalesce(s.n_selected, 0) AS n_selected,
        |  coalesce(s.tokens_selected, 0) AS tokens_selected
        |FROM alloc al LEFT JOIN sel s ON s.source = al.source
        |ORDER BY al.source""".stripMargin,
    // q119's bit-exact quantization replay + both rankings + overlap
    "q135_quant_recall" ->
      s"""WITH qz AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS m
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding, x ->
        |        CAST(floor(CAST(x AS DOUBLE) * 127 / m + 0.5) AS BIGINT))
        |    END AS z
        |  FROM qz),
        |exs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.embedding AS cv,
        |    q.qv, $cosineSql AS cos
        |  FROM embeddings e
        |  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
        |              FROM embeddings WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM exs) t WHERE rank <= 5),
        |zs AS (
        |  SELECT zq.query_id, c.vec_id AS neighbor_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(list_zip(zq.za, c.z), x -> x[1] * x[2])),
        |      (acc, v) -> acc + v) AS DOUBLE)
        |    / sqrt(CAST(
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(zq.za, v -> v * v)), (acc, v) -> acc + v)
        |        * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(c.z, v -> v * v)), (acc, v) -> acc + v)
        |      AS DOUBLE)) AS qcos
        |  FROM qq c
        |  CROSS JOIN (SELECT vec_id AS query_id, z AS za FROM qq
        |              WHERE vec_id < 10) zq
        |  WHERE c.vec_id <> zq.query_id),
        |qt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY qcos DESC, neighbor_id) AS rank
        |    FROM zs) t WHERE rank <= 5)
        |SELECT ex.query_id,
        |  CAST(count(qt.neighbor_id) AS BIGINT) AS n_common,
        |  CAST(count(qt.neighbor_id) * 20 AS BIGINT) AS recall_pct
        |FROM ex LEFT JOIN qt
        |  ON qt.query_id = ex.query_id AND qt.neighbor_id = ex.neighbor_id
        |GROUP BY ex.query_id
        |ORDER BY ex.query_id""".stripMargin,
    // q134's arithmetic with isqrt-transformed shares (budget unchanged)
    "q136_tempered_alloc" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
        |    ((doc_id % $P) * $hA + $hB) % $P AS h
        |  FROM documents),
        |wgt AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS w_tokens,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY source),
        |tw AS (
        |  SELECT *, CAST(floor(sqrt(CAST(w_tokens AS DOUBLE))) AS BIGINT) AS t
        |  FROM wgt),
        |tot AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS w_total,
        |               CAST(sum(t) AS BIGINT) AS t_total FROM tw),
        |a0 AS (
        |  SELECT w.source, w.w_tokens, w.n_docs,
        |    (t.w_total * 1) // 2 AS budget,
        |    (((t.w_total * 1) // 2) * w.t) // t.t_total AS base,
        |    (((t.w_total * 1) // 2) * w.t) % t.t_total AS rem
        |  FROM tw w CROSS JOIN tot t),
        |a1 AS (
        |  SELECT *, budget - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM a0),
        |alloc AS (
        |  SELECT source, w_tokens, n_docs,
        |    CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc_tokens
        |  FROM a1),
        |cum AS (
        |  SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY h, doc_id
        |                 ROWS UNBOUNDED PRECEDING) - n AS tokens_before
        |  FROM d),
        |sel AS (
        |  SELECT c.source, CAST(count(*) AS BIGINT) AS n_selected,
        |    CAST(sum(c.n) AS BIGINT) AS tokens_selected
        |  FROM cum c JOIN alloc al ON al.source = c.source
        |  WHERE c.tokens_before < al.alloc_tokens
        |  GROUP BY c.source)
        |SELECT al.source, al.w_tokens, al.n_docs, al.alloc_tokens,
        |  coalesce(s.n_selected, 0) AS n_selected,
        |  coalesce(s.tokens_selected, 0) AS tokens_selected
        |FROM alloc al LEFT JOIN sel s ON s.source = al.source
        |ORDER BY al.source""".stripMargin,
    // histogram quotas from the reference side, hash-order fill on the
    // candidate side, full-outer bucket union
    "q137_length_match" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) // 32
        |      AS len_bucket,
        |    ((doc_id % $P) * $hA + $hB) % $P AS h
        |  FROM documents),
        |q AS (SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_ref
        |      FROM d WHERE lang = 'en' GROUP BY len_bucket),
        |c AS (SELECT len_bucket, doc_id, h FROM d WHERE lang <> 'en'),
        |av AS (SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_avail
        |       FROM c GROUP BY len_bucket),
        |r AS (SELECT len_bucket,
        |        row_number() OVER (PARTITION BY len_bucket
        |                           ORDER BY h, doc_id) AS rnk
        |      FROM c),
        |s AS (SELECT r.len_bucket, CAST(count(*) AS BIGINT) AS n_selected
        |      FROM r JOIN q ON q.len_bucket = r.len_bucket
        |      WHERE r.rnk <= q.n_ref GROUP BY r.len_bucket)
        |SELECT coalesce(q.len_bucket, av.len_bucket) AS len_bucket,
        |  coalesce(q.n_ref, 0) AS n_ref,
        |  coalesce(av.n_avail, 0) AS n_avail,
        |  coalesce(s.n_selected, 0) AS n_selected
        |FROM q FULL OUTER JOIN av ON av.len_bucket = q.len_bucket
        |LEFT JOIN s ON s.len_bucket = coalesce(q.len_bucket, av.len_bucket)
        |ORDER BY len_bucket""".stripMargin,
    // positional shingles + train-set membership + interval-union window
    "q138_contam_spans" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '') FROM documents),
        |spl AS (
        |  SELECT doc_id, text,
        |    CASE WHEN ((doc_id % $P) * $cA + $cB) % $P < $trainUpper13
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM corpus),
        |norm AS (
        |  SELECT doc_id, split,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM spl),
        |sh AS (
        |  SELECT doc_id, split, CAST(i AS BIGINT) AS pos,
        |    array_to_string(toks[CAST(i AS INTEGER)+1:CAST(i AS INTEGER)+8], ' ') AS s
        |  FROM norm,
        |    unnest(generate_series(0, greatest(len(toks) - 8, 0))) AS u(i)),
        |shf AS (SELECT * FROM sh WHERE length(s) > 0),
        |tr AS (SELECT DISTINCT s FROM shf WHERE split = 'train'),
        |hits AS (
        |  SELECT f.doc_id, f.pos FROM shf f JOIN tr USING (s)
        |  WHERE f.split = 'test'),
        |iv AS (
        |  SELECT doc_id, pos,
        |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM hits),
        |cov AS (
        |  SELECT doc_id,
        |    CAST(sum(greatest(0, (pos + 8)
        |      - greatest(pos, coalesce(prev_end, 0)))) AS BIGINT) AS raw
        |  FROM iv GROUP BY doc_id),
        |td AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        |       FROM norm WHERE split = 'test')
        |SELECT td.doc_id, td.n_tokens,
        |  least(coalesce(cov.raw, 0), td.n_tokens) AS n_contam,
        |  (1000000 * least(coalesce(cov.raw, 0), td.n_tokens)) // td.n_tokens
        |    AS contam_ppm
        |FROM td LEFT JOIN cov USING (doc_id)
        |ORDER BY td.doc_id""".stripMargin,
    // the full pixel-formula replay: block sums -> cross-multiplied mean
    // bits -> 64-bit hash (bit 63 lands via two's-complement add, since a
    // 1<<63 literal overflows) -> BRUTE-FORCE all-pairs Hamming, proving
    // the engine's banded equi-join is exact
    "q140_image_phash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 200 THEN doc_id // 2
        |         ELSE doc_id + 1000 END AS seed
        |  FROM documents WHERE doc_id < 300),
        |px AS (
        |  SELECT d.doc_id,
        |    ((d.seed*23 + x.x*11 + y.y*2) % 256)
        |    + ((d.seed*17 + x.x*3 + y.y*5) % 256)
        |    + ((d.seed*31 + x.x*7 + y.y*13) % 256) AS s,
        |    (x.x * 8) // 16 AS bx, (y.y * 8) // 16 AS by
        |  FROM d,
        |    unnest(generate_series(0, 15)) AS x(x),
        |    unnest(generate_series(0, 15)) AS y(y)),
        |blk AS (
        |  SELECT doc_id, by*8 + bx AS i, CAST(sum(s) AS BIGINT) AS sb,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM px GROUP BY doc_id, by*8 + bx),
        |tot AS (
        |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS nt
        |  FROM px GROUP BY doc_id),
        |hash AS (
        |  SELECT b.doc_id,
        |    CAST(sum(CASE
        |      WHEN b.sb * t.nt <= t.st * b.nb THEN 0
        |      WHEN b.i < 63 THEN (CAST(1 AS BIGINT) << CAST(b.i AS INTEGER))
        |      ELSE -9223372036854775807 - 1 END) AS BIGINT) AS h
        |  FROM blk b JOIN tot t USING (doc_id)
        |  GROUP BY b.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // the audio twin of the q140 replay: sample formula -> per-frame
    // integer energies -> cross-multiplied mean bits -> brute-force
    // Hamming over all pairs
    "q142_audio_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 200 THEN doc_id // 2
        |         ELSE doc_id + 1000 END AS seed
        |  FROM documents WHERE doc_id < 300),
        |dn AS (SELECT doc_id, seed, 640 + (seed % 7) * 64 AS n FROM d),
        |sm AS (
        |  SELECT doc_id, n, i.i,
        |    ((seed*37 + i.i*13) % 4096 - 2048)
        |      * ((seed*37 + i.i*13) % 4096 - 2048) AS e,
        |    (i.i * 64) // n AS f
        |  FROM dn, LATERAL unnest(generate_series(0, CAST(n - 1 AS BIGINT)))
        |    AS i(i)),
        |frm AS (
        |  SELECT doc_id, n, f, CAST(sum(e) AS BIGINT) AS se,
        |    CAST(count(*) AS BIGINT) AS cf
        |  FROM sm GROUP BY doc_id, n, f),
        |tot AS (
        |  SELECT doc_id, CAST(sum(e) AS BIGINT) AS te FROM sm
        |  GROUP BY doc_id),
        |hash AS (
        |  SELECT fr.doc_id,
        |    CAST(sum(CASE
        |      WHEN fr.se * fr.n <= t.te * fr.cf THEN 0
        |      WHEN fr.f < 63 THEN (CAST(1 AS BIGINT) << CAST(fr.f AS INTEGER))
        |      ELSE -9223372036854775807 - 1 END) AS BIGINT) AS h
        |  FROM frm fr JOIN tot t USING (doc_id)
        |  GROUP BY fr.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // the whole selection chain replayed: fingerprint argmax -> kept
    // relation -> Hamilton allocation over kept only -> seeded-hash fill
    // and split; non-kept docs carry FALSE/NULL fates
    "q143_select_pipeline" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, source FROM documents
        |  WHERE doc_id % 4 = 0),
        |base AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        |    least(len(string_split_regex(trim(text), '\\s+')), 40)
        |    + least(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |        t -> t IN ($stopList))) * 5, 30)
        |    + 30 - least(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')), 30)
        |      AS q,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
        |  FROM corpus),
        |keepers AS (
        |  SELECT *, row_number() OVER (PARTITION BY fp
        |                               ORDER BY q DESC, doc_id) AS rn
        |  FROM base),
        |kept AS (SELECT doc_id, source, n FROM keepers WHERE rn = 1),
        |wgt AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS w_tokens
        |  FROM kept GROUP BY source),
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
        |    sum(n) OVER (PARTITION BY source
        |                 ORDER BY ((doc_id % $P) * $hA + $hB) % $P, doc_id
        |                 ROWS UNBOUNDED PRECEDING) - n AS tb
        |  FROM kept),
        |sel AS (
        |  SELECT c.doc_id, (c.tb < al.alloc_tokens) AS is_selected
        |  FROM cum c JOIN alloc al USING (source)),
        |spl AS (
        |  SELECT doc_id,
        |    CASE WHEN ((doc_id % $P) * $pA + $pB) % $P < ${th19(0)._2}
        |           THEN 'train'
        |         WHEN ((doc_id % $P) * $pA + $pB) % $P < ${th19(1)._2}
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM kept)
        |SELECT k.doc_id, k.source, (k.rn = 1) AS is_kept,
        |  coalesce(s.is_selected, FALSE) AS is_selected,
        |  spl.split
        |FROM keepers k
        |LEFT JOIN sel s ON s.doc_id = k.doc_id
        |LEFT JOIN spl ON spl.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // the q50 closure + a seeded hash split ON THE GROUP ID, inherited
    "q139_group_split" ->
      s"""$dupGroupsCtes,
        |spl AS (
        |  SELECT group_id,
        |    CASE WHEN ((group_id % $P) * $gA + $gB) % $P < ${th17(0)._2}
        |           THEN 'train'
        |         WHEN ((group_id % $P) * $gA + $gB) % $P < ${th17(1)._2}
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT DISTINCT group_id FROM grp) g)
        |SELECT CAST(grp.id AS BIGINT) AS id,
        |  CAST(grp.group_id AS BIGINT) AS group_id, spl.split
        |FROM grp JOIN spl USING (group_id)
        |ORDER BY id""".stripMargin,
  )
}
