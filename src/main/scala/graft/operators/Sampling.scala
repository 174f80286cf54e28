package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic sampling for training-data curation. `df.sample()` is
  * partition-dependent (resampling under repartitioning / retries), which
  * is unacceptable for dataset reproducibility — these operators hash the
  * KEY instead: the same row lands in the same sample/split on any
  * cluster layout, any engine (the universal-hash arithmetic is plain
  * integer math, recomputable in SQL for verification).
  *
  *  - [[bernoulli]]: keep a fraction, decided per key.
  *  - [[stratifiedQuota]]: exactly-k-per-stratum (hash-ordered), the
  *    balanced-quota shape of corpus curation (k docs per language /
  *    domain). One shuffle on the stratum.
  *  - [[withSplit]]: stable train/val/test assignment by key — rows never
  *    migrate between splits when the corpus grows. To keep near-duplicate
  *    documents in the SAME split (no leakage across train/test), key the
  *    split on the dup-group label instead of the doc id: `withSplit(df
  *    joined with Dedup.dupGroups, "group_id", …)`.
  */
object Sampling {

  val P = 2147483647L // 2^31 - 1

  /** Seeded universal-hash coefficients (a, b) — also consumed by oracle
    * SQL generators. */
  def coef(seed: Long): (Long, Long) = {
    val rnd = new scala.util.Random(seed)
    (rnd.nextInt((P - 1).toInt).toLong + 1, rnd.nextInt(P.toInt).toLong)
  }

  /** h(key) = (a·key + b) mod p over the non-negative residue of the key.
    * The key must already be integral — for strings use [[keyHashFor]],
    * which routes through the portable polynomial hash first. */
  def keyHash(key: Column, seed: Long): Column = {
    val (a, b) = coef(seed)
    pmod(pmod(key.cast("long"), lit(P)) * lit(a) + lit(b), lit(P))
  }

  /** Schema-aware key hash: numeric keys feed [[keyHash]] directly,
    * string keys are pre-hashed with [[Dedup.polyHash]] (a bare
    * `cast("long")` on a string id yields null for every non-numeric
    * value, silently dropping all rows from [[bernoulli]] and routing
    * every row to the last [[withSplit]] label). Anything else is
    * rejected loudly. */
  def keyHashFor(df: DataFrame, idCol: String, seed: Long): Column = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    df.schema(idCol).dataType match {
      case _: NumericType => keyHash(col(idCol), seed)
      case StringType     => keyHash(Dedup.polyHash(col(idCol)), seed)
      case other => throw new IllegalArgumentException(
        s"Sampling key '$idCol' must be numeric or string, got $other")
    }
  }

  /** Keep ~`fraction` of rows, decided by key hash — reproducible under
    * any partitioning; pure filter, no shuffle. */
  def bernoulli(df: DataFrame, idCol: String, fraction: Double,
                seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(keyHashFor(df, idCol, seed) < lit((fraction * P).toLong))
  }

  /** Exactly min(k, |stratum|) rows per stratum, chosen by hash order
    * (deterministic tiebreak on the key): balanced quota sampling.
    * Adds `sample_rank` (1-based within stratum).
    *
    * @throws IllegalArgumentException when k < 1 */
  def stratifiedQuota(df: DataFrame, strataCol: String, idCol: String,
                      k: Int, seed: Long = 42L): DataFrame =
    OrderStats.topKPer(df, col(strataCol), k, "sample_rank")(
      keyHashFor(df, idCol, seed), col(idCol))

  /** Stable named splits by cumulative weight thresholds on the key hash
    * (e.g. Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)). Adds
    * `split`. Thresholds are computed once in integer space so engines
    * agree exactly. */
  def withSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val thresholds = splitThresholds(splits)
    val h = keyHashFor(df, idCol, seed)
    val expr = thresholds.init.foldRight(lit(thresholds.last._1): Column) {
      case ((name, upper), rest) => when(h < lit(upper), lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** (name, exclusive upper hash bound) per split; the last split takes
    * the remainder. Shared with oracle generators. */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.map(_._1).zip(cum.map(c => (c * P).toLong))
  }

  /** Mixture / epoch weighting (data mixing for pretraining): each row is
    * replicated `floor(num/den)` times plus one extra copy when its key
    * hash falls under `((num mod den) · P) / den` — so a stratum with
    * epochs 2.3 contributes every doc twice and a stable, key-decided 30%
    * of docs a third time. `numCol` is an integral column (the per-row
    * epoch numerator; e.g. a CASE over the domain column), `den` the
    * common denominator — all-integer thresholds, so the copy count is
    * bit-identical on any engine. Epochs < 1 downsample (zero copies drop
    * the row). Narrow plan: no shuffle, just a filterable explode.
    *
    * Adds `n_copies` and `copy_id` (0-based). */
  def epochMixRational(df: DataFrame, idCol: String, numCol: Column,
                       den: Int, seed: Long = 42L): DataFrame = {
    require(den > 0, "denominator must be positive")
    val h = keyHashFor(df, idCol, seed)
    val base = (numCol.cast("long") / lit(den.toLong)).cast("long")
    val thr = (pmod(numCol.cast("long"), lit(den.toLong)) * lit(P)) / lit(den.toLong)
    val copies = (base + when(h < thr.cast("long"), 1L).otherwise(0L)).as("n_copies")
    // sequence(0, -1) defaults to step -1 (yielding [0,-1]) — guard the
    // zero-copy case with an explicit empty array so explode drops the row
    df.withColumn("n_copies", copies)
      .withColumn("copy_id",
        explode(when(col("n_copies") > 0,
          sequence(lit(0L), col("n_copies") - 1))
          .otherwise(array().cast("array<long>"))))
  }

  /** [[epochMixRational]] with per-stratum fractional epoch weights
    * (milli-epoch resolution). */
  def epochMix(df: DataFrame, strataCol: String, idCol: String,
               weights: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty, "no mixture weights")
    val num = weights.tail.foldLeft(
      when(col(strataCol) === weights.head._1,
        lit(math.round(weights.head._2 * 1000)))) {
      case (acc, (name, w)) =>
        acc.when(col(strataCol) === name, lit(math.round(w * 1000)))
    }.otherwise(lit(0L))
    epochMixRational(df, idCol, num, den = 1000, seed = seed)
  }

  /** Token-budget domain capping: within each stratum, keep documents in
    * key-hash order until the stratum's cumulative token count reaches
    * `budget` (a document starting under budget is kept whole). The
    * token-space variant of [[stratifiedQuota]] — corpus curation caps
    * domains by tokens, not document counts. One shuffle on the stratum;
    * strata sort independently in parallel.
    *
    * Adds `tokens_before` (stratum tokens preceding this doc in hash
    * order). */
  def tokenBudget(df: DataFrame, strataCol: String, idCol: String,
                  nTokensCol: String, budget: Long,
                  seed: Long = 42L): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(keyHashFor(df, idCol, seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = col(nTokensCol).cast("long")
    df.withColumn("tokens_before", sum(n).over(w) - n)
      .filter(col("tokens_before") < budget)
  }

  /** Largest-remainder (Hamilton) allocation of ONE global token budget
    * across strata, then the [[tokenBudget]] greedy hash-order fill per
    * stratum with each stratum's own allocation. The budget is the exact
    * rational `num/den` of the corpus total (e.g. 1/2 = "train on half
    * the corpus, keeping today's domain mix"): `base_s = ⌊B·w_s/W⌋` and
    * the `B − Σ base_s` leftover units go to the strata with the largest
    * remainders (ties → stratum name). All arithmetic is exact integer —
    * allocations sum to B by construction.
    *
    * One row per stratum: (strataCol, w_tokens, n_docs, alloc_tokens,
    * n_selected, tokens_selected). A document that STARTS under its
    * stratum's allocation is kept whole, so `tokens_selected` may
    * overshoot `alloc_tokens` by less than one document.
    *
    * Scale shape: stratum weights are one map-side-combined groupBy; the
    * allocation arithmetic runs as windows over the TINY stratum relation
    * (domains number in the tens); the per-stratum fill is the same
    * single sort-within-stratum as [[tokenBudget]]; and the allocation
    * joins back by broadcast. `B·w_s` must stay under 2^63 — beyond
    * ~3·10^9 total tokens, pre-scale the weights (e.g. to ppm of W)
    * before allocating; the fill is unaffected. */
  def budgetAllocate(df: DataFrame, strataCol: String, idCol: String,
                     nTokensCol: String, num: Long, den: Long,
                     seed: Long = 42L): DataFrame =
    allocateCore(df, strataCol, idCol, nTokensCol, num, den, seed,
      identity)

  /** [[budgetAllocate]] with TEMPERATURE τ=1/2 domain reweighting: the
    * budget (still `num/den` of the corpus TOKEN total) is split across
    * strata proportionally to `⌊√w_s⌋` instead of `w_s` — the standard
    * mixture-flattening move that up-weights small domains relative to
    * their raw share. The share weight is `⌊sqrt(double)⌋`, which is the
    * true isqrt for weights below ~2^52 (past that, a correctly-rounded
    * double sqrt of k²−1 can land exactly on k and the floor overshoots
    * by one); both the engine and the oracle use the identical double
    * formula, so they can never diverge from each other — and the
    * documented ~3·10⁹-token pre-scaling bound keeps real inputs far
    * inside the exact range anyway. The greedy fill is unchanged. */
  def temperedAllocate(df: DataFrame, strataCol: String, idCol: String,
                       nTokensCol: String, num: Long, den: Long,
                       seed: Long = 42L): DataFrame =
    allocateCore(df, strataCol, idCol, nTokensCol, num, den, seed,
      w => floor(sqrt(w.cast("double"))).cast("long"))

  /** Shared Hamilton-allocation + greedy-fill core: `wTransform` maps the
    * raw per-stratum token weight to the allocation weight (identity =
    * proportional, isqrt = temperature 1/2). The budget is always
    * `num/den` of the RAW token total — the transform changes how it is
    * shared, not how much there is. */
  private def allocateCore(df: DataFrame, strataCol: String, idCol: String,
                           nTokensCol: String, num: Long, den: Long,
                           seed: Long,
                           wTransform: Column => Column): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      "budget fraction num/den must be in (0, 1]")
    val n = col(nTokensCol).cast("long")
    val strata = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val byRem = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col(strataCol))
    val alloc = df.groupBy(col(strataCol))
      .agg(sum(n).as("w_tokens"), count(lit(1)).cast("long").as("n_docs"))
      .withColumn("tw", wTransform(col("w_tokens")))
      .withColumn("w_total", sum(col("w_tokens")).over(strata))
      .withColumn("tw_total", sum(col("tw")).over(strata))
      .withColumn("budget", expr(s"(w_total * ${num}L) div ${den}L"))
      .withColumn("base", expr("(budget * tw) div tw_total"))
      .withColumn("rem", expr("(budget * tw) % tw_total"))
      .withColumn("leftover", col("budget") - sum(col("base")).over(strata))
      .withColumn("alloc_tokens",
        col("base") + when(row_number().over(byRem) <= col("leftover"), 1L)
          .otherwise(0L))
      .select(col(strataCol), col("w_tokens"), col("n_docs"),
        col("alloc_tokens"))
      // the tiny allocation relation feeds TWO join branches (the fill's
      // broadcast and the final left join); without materialization each
      // branch re-runs the full-corpus aggregation — eager localCheckpoint
      // cuts that to one scan and releases with the result's lifetime
      .localCheckpoint(true)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(keyHashFor(df, idCol, seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selected = df
      .withColumn("tokens_before", sum(n).over(w) - n)
      .join(broadcast(alloc.select(col(strataCol), col("alloc_tokens"))),
        Seq(strataCol))
      .filter(col("tokens_before") < col("alloc_tokens"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("n_selected"),
        sum(n).as("tokens_selected"))
    alloc.join(selected, Seq(strataCol), "left")
      .select(col(strataCol), col("w_tokens"), col("n_docs"),
        col("alloc_tokens"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("tokens_selected"), lit(0L)).as("tokens_selected"))
  }

  /** Distribution matching: resample `cand` so its `bucketCol` histogram
    * matches `ref`'s — per bucket, take min(ref count, available) rows in
    * seeded-hash order (the length/quality-matched control-set builder;
    * e.g. bucket = token-count band). No redistribution on shortfall: a
    * bucket `cand` can't fill reports the gap instead of silently
    * borrowing from neighboring buckets and skewing the shape.
    *
    * One row per bucket present in EITHER side: (bucketCol, n_ref,
    * n_avail, n_selected).
    *
    * Scale shape: both histograms are map-side-combined groupBys; the
    * per-bucket rank is one sort within bucket (same as
    * [[stratifiedQuota]]); quotas broadcast back onto the ranked scan. */
  /** Weighted priority sampling (probability-proportional-to-size,
    * deterministic): each row draws priority
    * `(keyHash(id, seed) · 10⁶) div weight` — a seeded hash scaled down
    * by the row's weight, so heavier rows tend to earn smaller
    * priorities — and each stratum keeps its `k` smallest (priority,
    * id). The whole selection is ONE bounded-buffer aggregation
    * ([[graft.plans.BoundedMinKAgg]], ≤ k entries per stratum per task,
    * map-side combined): no per-stratum window sort, no reservoir
    * state, stable under partitioning and reruns — the weighted
    * counterpart of [[IndexQueries.q77StratSample]]'s uniform pick.
    * `weightCol` must be a positive integral column. */
  def prioritySample(df: DataFrame, strataCol: String, idCol: String,
                     weightCol: String, k: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    require(k > 0, "k must be positive")
    // integral type enforced at plan-build time (same contract style as
    // RangeJoin.requireIntegral): a fractional weight like 0.5 would
    // truncate to 0 and raise the misleading "must be > 0", and 2.7
    // would silently become 2, quietly changing the sampling
    // distribution — reject the TYPE up front with an accurate message
    df.schema(weightCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"prioritySample: $weightCol must be an integral column " +
          s"(fractional weights would truncate and skew the pick), got $dt")
    }
    def minK(entry: Column): Column = GraftColumnBridge.column(
      graft.plans.BoundedMinKAgg(GraftColumnBridge.expression(entry), k,
        distinct = false).toAggregateExpression())
    // fail fast on the contract instead of silently corrupting the
    // min-k pick: weight 0 would yield a null priority (non-ANSI
    // div-by-zero) and a negative weight a negative priority, both of
    // which would win the "smallest priority" race undetected
    val wGuarded = expr(
      s"CASE WHEN cast($weightCol as long) > 0 THEN cast($weightCol as long) " +
        s"ELSE cast(raise_error('prioritySample: $weightCol must be > 0') " +
        "as long) END")
    val withPri = df
      .withColumn("__w", wGuarded)
      .withColumn("__hw", keyHashFor(df, idCol, seed) * lit(1000000L))
      .withColumn("__p", expr("__hw div __w"))
    val entry = struct(col("__p").as("p"), col(idCol).as("id"),
      col("__w").as("w"))
    withPri.groupBy(col(strataCol))
      .agg(minK(entry).as("picks"))
      .select(col(strataCol), posexplode(col("picks")).as(Seq("pos", "e")))
      .select(col(strataCol), (col("pos") + 1).cast("long").as("rank"),
        col("e").getField("id").as(idCol),
        col("e").getField("w").as("weight"),
        col("e").getField("p").as("priority"))
  }

  def matchDistribution(ref: DataFrame, cand: DataFrame, bucketCol: String,
                        idCol: String, seed: Long = 42L): DataFrame = {
    val quotas = ref.groupBy(col(bucketCol))
      .agg(count(lit(1)).cast("long").as("n_ref"))
    val avail = cand.groupBy(col(bucketCol))
      .agg(count(lit(1)).cast("long").as("n_avail"))
    val w = Window.partitionBy(col(bucketCol))
      .orderBy(keyHashFor(cand, idCol, seed), col(idCol))
    val selected = cand
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(quotas), Seq(bucketCol))
      .filter(col("rnk") <= col("n_ref"))
      .groupBy(col(bucketCol))
      .agg(count(lit(1)).cast("long").as("n_selected"))
    quotas.join(avail, Seq(bucketCol), "full_outer")
      .join(selected, Seq(bucketCol), "left")
      .select(col(bucketCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_avail"), lit(0L)).as("n_avail"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
  }
}
