package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, designed
  * partition-parallel for 100 TB corpora:
  *
  *  - exact: hash-groupBy on a text fingerprint (one shuffle on the hash,
  *    map-side combine);
  *  - n-gram Jaccard: shingle explode → self-join on shingle → per-pair
  *    intersection counts (shuffle on shingle; frequent-shingle cap bounds
  *    skew);
  *  - MinHash+LSH: shingle → K minhashes → B bands → candidate pairs per
  *    band bucket → exact-Jaccard verification (shuffles bounded by band
  *    buckets instead of the full pair matrix);
  *  - SimHash: 64-bit signature, banded by 16-bit chunks for Hamming ≤ k
  *    candidate generation.
  *
  * No driver-side collect anywhere; every stage is a DataFrame op.
  *
  * Cache lifecycle: the pair generators cache the shared shingle/signature
  * relation (consumed by both the candidate join and the verification
  * stage — recomputing it would double the dominant shuffle). The cache is
  * bounded by that relation's size, not the corpus (hashes, not text).
  * Each generator has two forms: a `...Scoped` variant returning a
  * [[CachedResult]] handle that owns the cache (release with `close()`,
  * or borrow with `use` — the right form for long-lived sessions, as
  * [[graft.pipeline.CurationPipeline]] does), and a plain-DataFrame
  * variant for one-shot consumers that clear the session cache between
  * stages (`spark.catalog.clearCache()`, as Bench does between queries).
  */
object Dedup {

  /** Max literal values per pushed-down IN list (candidate ids into the
    * shingle sidecar scan, per-band signatures into the band-index
    * scan). Spark expands a pushed IN to a left-deep OR chain in the
    * parquet filter, so list length IS recursion depth at evaluation —
    * 4000 overflowed an executor stack; 1000 is comfortably under any
    * default stack while still covering the small continuous batches
    * whose per-batch flatness the pushdown exists for. Keep
    * `spark.sql.parquet.pushdown.inFilterThreshold` >= this (sessions
    * here set 1024) or the list never reaches the reader. */
  private val PushdownCap = 1000

  /** A result DataFrame whose plan reads cached relations owned by the
    * callee. `close()` unpersists them (idempotent, lazy-safe: Spark
    * recomputes if the plan is re-executed afterwards); `use` is the
    * borrow form — run the consumer, then release in `finally`. */
  final class CachedResult private[graft] (val df: DataFrame,
      caches: Seq[DataFrame]) extends AutoCloseable {
    override def close(): Unit = caches.foreach(_.unpersist(blocking = true))
    def use[T](f: DataFrame => T): T = try f(df) finally close()
    /** True while any backing relation is still registered as cached. */
    def isCached: Boolean =
      caches.exists(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  /** Word n-gram shingles of the normalized text — one native codegen'd
    * pass ([[graft.plans.ShingleArray]]; the declarative
    * transform/slice/concat_ws tree evaluated interpreted per shingle,
    * which dominated every Jaccard-family scan). */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.ShingleArray(GraftColumnBridge.expression(text), n))
  }

  /** Per-shingle 64-bit hashes, fused shingle+hash in one codegen pass
    * ([[graft.plans.ShingleHashArray]]) — values bit-identical to
    * hashing [[shingles]] elementwise (`xxhash64` for `poly = false`,
    * [[polyHash]] for `poly = true`) without materializing a string per
    * shingle: the hashes run over slices of the one normalized per-doc
    * buffer. */
  def shingleHashArr(text: Column, n: Int, poly: Boolean): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.ShingleHashArray(GraftColumnBridge.expression(text), n, poly))
  }

  /** Exact dedup: keep the lowest-id representative per fingerprint.
    * Returns (fingerprint, keep_id, n_copies). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, shingle) pairs — the base relation for Jaccard-family
    * dedup. */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
      .distinct()

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ threshold. The
    * self-join is on the 64-bit shingle hash — shuffling 8-byte longs
    * where shingle STRINGS (~n words each) used to cross both the
    * distinct and the self-join exchanges (guide §2.3: shuffle keys,
    * not payloads); `maxShingleFreq` caps a shingle's document
    * frequency to bound skew. Hash-keyed counting is the same
    * equivalence the verified q21 path has always used: common/n_sh
    * counts differ from string counts only if two DIFFERENT shingles
    * collide in the 64-bit space (2⁻⁶⁴ per pair; the oracle confirms
    * equality on the gated corpora). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleFreq: Int = 1000): DataFrame =
    ngramJaccardPairsScoped(df, idCol, textCol, n, threshold, maxShingleFreq).df

  /** [[ngramJaccardPairs]] with an owned cache handle (see the class doc's
    * cache-lifecycle paragraph). */
  def ngramJaccardPairsScoped(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              maxShingleFreq: Int = 1000): CachedResult = {
    val ds = shingleHashes(df, idCol, textCol, n).cache()
    val sizes = ds.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // skew cap as a broadcast anti-join on the hot-shingle list: the
    // list has at most |shingles|/cap entries by construction, and the
    // partial-aggregated groupBy ships only distinct shingle hashes per
    // task — unlike a count-over-window, which shuffles and sorts EVERY
    // (id, shingle) row into per-shingle partitions before filtering
    val hot = ds.groupBy(col("h")).agg(count(lit(1)).as("df_sh"))
      .filter(col("df_sh") > maxShingleFreq).select(col("h"))
    val capped = ds.join(broadcast(hot), Seq("h"), "left_anti")
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    val verified = pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    new CachedResult(verified, Seq(ds))
  }

  /** Emit-once banding filter: given each side's full per-band signature
    * array and the current (0-based) band position, a pair is kept only if
    * NO earlier band already collided — so every colliding pair is emitted
    * exactly once, at its first colliding band, and the cross-band
    * `distinct()` (a full extra shuffle of up to `bands` copies of every
    * candidate pair) disappears into a join-side filter. */
  private[operators] def firstCollisionOnly(aArr: Column, bArr: Column,
                                            pos: Column): Column =
    !exists(zip_with(slice(aArr, lit(1), pos), slice(bArr, lit(1), pos),
      (x, y) => x === y), p => p)

  /** Distinct (id, 64-bit xxhash64 shingle hash) pairs. The hash runs
    * BEFORE the distinct, fused into the shingle-explode scan, so the
    * dedup exchange carries 8-byte longs instead of shingle strings
    * (guide §2.3) — set-equal to hashing [[docShingles]]' output: the
    * image of a set equals the image of the multiset, so per-doc hash
    * SETS are identical by construction, and only the derived COUNTS
    * (n_sh) could differ, under a per-doc 64-bit collision between
    * different shingles (2⁻⁶⁴ per pair; oracle-confirmed equal on the
    * gated corpora). */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(shingleHashArr(col(textCol), n, poly = false)).as("h"))
      .distinct()

  /** Distinct (id, portable [[polyHash]] shingle hash) pairs — the
    * store/sidecar flavor of [[shingleHashes]] (the sidecar protocol
    * and its DuckDB oracles replay polyHash, not xxhash64). Same
    * hash-before-distinct shape: ONE exchange of (id, long) replaces
    * the former two (distinct over (id, string), then distinct again
    * over (id, hash)); per-id hash sets are identical by construction. */
  private[operators] def shinglePolyHashes(df: DataFrame, idCol: String,
                                           textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(shingleHashArr(col(textCol), n, poly = true)).as("x"))
      .distinct()

  /** MinHash signature matrix via K universal-hash permutations
    * h_k(x) = (a_k * x + b_k) mod p computed columnar (no UDF), then
    * LSH banding: candidates collide in ≥1 band; exact Jaccard verifies.
    * Returns verified pairs (id_a, id_b, jaccard ≥ threshold). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame =
    minhashLshPairsScoped(df, idCol, textCol, n, numHashes, bands, threshold).df

  /** [[minhashLshPairs]] with an owned cache handle (see the class doc's
    * cache-lifecycle paragraph). */
  def minhashLshPairsScoped(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, numHashes: Int = 32, bands: Int = 8,
                            threshold: Double = 0.5): CachedResult = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // one shingle-hash relation shared by the verification joins (the
    // candidate side and the sizes), cached so its distinct exchange
    // runs once; the signatures come from the row-wise kernel
    val hashed = shingleHashes(df, idCol, textCol, n).cache()
    val sigs = idSignatures(df, idCol, textCol, n, poly = false,
      minhashCoefs(numHashes, 42L))
    // banding: one row per (id, band, band-signature) under the store's
    // band law, carrying the full band-signature array so the join can
    // emit each pair exactly once (at its first colliding band) instead
    // of deduplicating with a distinct
    val banded = sigs
      .select(col("id"), bandSigArray(col("sig"), bands, rowsPerBand).as("sigs"))
      .select(col("id"), col("sigs"), posexplode(col("sigs")).as(Seq("band", "bsig")))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
        col("a.id") < col("b.id") &&
        firstCollisionOnly(col("a.sigs"), col("b.sigs"), col("a.band")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // exact verification of candidates only (reuses the cached relation);
    // the h column joins as an equi-key — an id-only join would explode
    // each pair into |shingles|² rows before filtering
    val sizes = hashed.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val common = candidates
      .join(hashed.withColumnRenamed("id", "id_a"), "id_a")
      .join(hashed.withColumnRenamed("id", "id_b"), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    val verified = common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    new CachedResult(verified, Seq(hashed))
  }

  /** 64-bit SimHash over token hashes: sign of per-bit weighted sums.
    * Columnar construction WITHOUT the per-bit row explosion: each token
    * instance carries its full 64-element ±1 contribution vector, folded
    * to per-document sums by ONE element-wise [[graft.plans.ArraySumAgg]]
    * — the aggregate sees |instances| rows, not |instances|x64 (the
    * explode formulation was the measured dominator of the sf10 dedup
    * cascade: ~1.2e10 rows through the (id, bit) aggregate). Sums are
    * identical, so results are bit-equal to the explode form. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(TextOps.normalizeText(col(textCol)), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val contribRow = array((0 until 64).map { i =>
      when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)
    }: _*)
    signBitsToLong(sumContribs(toks, contribRow, 64), 64)
  }

  /** Per-doc contribution sums via one [[graft.plans.ArraySumAgg]]. */
  private def sumContribs(toks: DataFrame, contribRow: Column,
                          bits: Int): DataFrame = {
    val sumAgg = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(
        graft.plans.ArraySumAgg(GraftColumnBridge.expression(contribRow),
          bits).toAggregateExpression())
    }
    toks.groupBy(col("id")).agg(sumAgg.as("s"))
  }

  /** (id, s: array of per-bit sums) → (id, simhash): bit i set iff
    * s(i) > 0 — the same positive-sum rule as the explode formulation,
    * assembled by summing disjoint powers of two. */
  private def signBitsToLong(sums: DataFrame, bits: Int): DataFrame = {
    val pows = typedlit(Seq.tabulate(bits)(i => 1L << i))
    sums.select(col("id"),
      aggregate(
        zip_with(col("s"), pows,
          (v, pw) => when(v > 0, pw).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x).as("simhash"))
  }

  /** SimHash near-dup candidate pairs with Hamming distance ≤ maxDist,
    * banded on 4 × 16-bit chunks (pigeonhole: any pair within distance 3
    * agrees on ≥1 chunk). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsScoped(df, idCol, textCol, maxDist).df

  /** [[simhashPairs]] with an owned cache handle (see the class doc's
    * cache-lifecycle paragraph). */
  def simhashPairsScoped(df: DataFrame, idCol: String, textCol: String,
                         maxDist: Int = 3): CachedResult =
    hammingPairs(simhash(df, idCol, textCol), chunkBits = 16, nChunks = 4,
      maxDist = maxDist)

  /** Banded Hamming near-dup pairs over ANY precomputed 64-bit signature
    * relation (id, simhash) — e.g. perceptual image hashes
    * ([[Multimodal.extractAHash]]) or externally computed SimHashes. The
    * 4×16-bit pigeonhole banding is exact for maxDist ≤ 3; output
    * (id_a, id_b, hamming). One-shot form; repeated callers use
    * [[hammingNearDupScoped]] and release the signature cache. */
  def hammingNearDup(sig: DataFrame, maxDist: Int = 3): DataFrame =
    hammingNearDupScoped(sig, maxDist).df

  /** [[hammingNearDup]] with an owned cache handle (see the class doc's
    * cache-lifecycle paragraph). */
  def hammingNearDupScoped(sig: DataFrame, maxDist: Int = 3): CachedResult =
    hammingPairs(sig, chunkBits = 16, nChunks = 4, maxDist = maxDist)

  /** Banded Hamming-distance pairs over a (id, simhash) relation: signatures
    * are split into `nChunks` chunks of `chunkBits` bits; by pigeonhole any
    * pair with Hamming distance < nChunks agrees on ≥1 chunk, so for
    * maxDist ≤ nChunks - 1 the banding is EXACT (100% recall) — the chunk
    * equi-join replaces the all-pairs product at scale. */
  private def hammingPairs(sig0: DataFrame, chunkBits: Int, nChunks: Int,
                           maxDist: Int): CachedResult = {
    require(maxDist < nChunks, "pigeonhole banding needs maxDist < nChunks")
    val sig = sig0.cache()
    val mask = (1L << chunkBits) - 1
    val chunkArr = array((0 until nChunks).map(c =>
      shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))): _*)
    val chunks = sig.select(col("id"), col("simhash"), chunkArr.as("cks"))
      .select(col("id"), col("simhash"), col("cks"),
        posexplode(col("cks")).as(Seq("chunk", "ck")))
    val pairs = chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id") &&
        firstCollisionOnly(col("a.cks"), col("b.cks"), col("a.chunk")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    new CachedResult(pairs, Seq(sig))
  }

  /** Portable 31-bit polynomial token hash: left fold over code points,
    * acc = (acc*31 + codepoint) mod (2^31 - 1). Unlike xxhash64 this is
    * expressible identically in any engine with a list fold (the DuckDB
    * oracle recomputes it verbatim), making simhash results cross-engine
    * verifiable. Products stay < 2^36 — no overflow under ANSI mode.
    * Native codegen'd ([[graft.plans.PolyHash]]). */
  def polyHash(t: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.PolyHash(GraftColumnBridge.expression(t)))
  }

  /** Oracle-checkable SimHash: 60-bit signature where bit i's per-token
    * contribution is the sign of a universal hash (a_i*h + b_i) mod p of the
    * portable [[polyHash]] — every step re-expressible in SQL, so a DuckDB
    * oracle can recompute signatures bit-exactly (unlike the xxhash64 fast
    * path in [[simhash]]). 60 bits = 4 × 15-bit pigeonhole chunks while
    * keeping every shift strictly below the sign bit in engines without
    * unsigned 64-bit ints. */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 60, seed: Long = 42L): DataFrame = {
    val p = 2147483647L
    val coefs = simhashCoefs(bits, seed)
    val toks = df.select(col(idCol).as("id"),
        explode(split(TextOps.normalizeText(col(textCol)), " ")).as("t"))
      .withColumn("h", polyHash(col("t")))
    // one ±1 vector per token INSTANCE, summed by the element-wise
    // aggregate — no |instances|×bits explosion (see [[simhash]]'s
    // scaladoc for the measured sf10 rationale); sums, and therefore
    // signatures, are bit-equal to the explode formulation, so the
    // SQL oracle replay is unchanged
    val contribRow = array(coefs.map { case (a, b) =>
      when(pmod(col("h") * lit(a) + lit(b), lit(p)) < lit(p / 2), 1L)
        .otherwise(-1L)
    }: _*)
    signBitsToLong(sumContribs(toks, contribRow, bits), bits)
  }

  /** Universal-hash coefficients (a_i, b_i) for [[simhashPortable]] — also
    * consumed by the oracle-SQL generator so both engines share them. */
  def simhashCoefs(bits: Int, seed: Long): Seq[(Long, Long)] = {
    val p = 2147483647L
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)((rnd.nextInt((p - 1).toInt).toLong + 1,
                    rnd.nextInt(p.toInt).toLong))
  }

  /** Portable-simhash near-dup pairs (Hamming ≤ maxDist over the 60-bit
    * signature), banded 4 × 15 bits — exact recall by pigeonhole. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxDist: Int = 3): DataFrame =
    simhashPairsPortableScoped(df, idCol, textCol, maxDist).df

  /** [[simhashPairsPortable]] with an owned cache handle (see the class
    * doc's cache-lifecycle paragraph). */
  def simhashPairsPortableScoped(df: DataFrame, idCol: String, textCol: String,
                                 maxDist: Int = 3): CachedResult =
    hammingPairs(simhashPortable(df, idCol, textCol), chunkBits = 15,
      nChunks = 4, maxDist = maxDist)

  /** Resolve near-dup pairs into duplicate GROUPS — the step an actual
    * dedup pipeline runs after pair generation: connected components over
    * the undirected pair graph, labelling every document with the minimum
    * id reachable from it (the canonical representative to keep).
    *
    * Distributed min-label propagation: each iteration joins labels to
    * edges and takes the per-node neighborhood minimum (one shuffle per
    * iteration, converges in O(component diameter) rounds — near-dup
    * components are shallow, so a handful). Label relations are
    * `localCheckpoint`ed to cut lineage growth across iterations; the
    * driver sees only the one-row convergence check per round. This is
    * the standard large-graph CC shape (Pregel / hash-to-min) — no
    * union-find on the driver.
    *
    * @return (id, group_id, group_size, is_canonical) for EVERY corpus
    *         document; singletons form their own group.
    */
  /** Pick each dup group's surviving document by an arbitrary quality
    * criterion (longest text, highest quality score, …) instead of
    * [[dupGroups]]'s default lowest-id label: the top-1 per group
    * ([[OrderStats.topKPer]]), ties broken by id so the choice is
    * deterministic. Returns the corpus rows that survive dedup. */
  def selectCanonical(corpus: DataFrame, idCol: String, groups: DataFrame,
                      preferBy: Column): DataFrame =
    OrderStats.topKPer(
        corpus.join(groups.select(col("id").as(idCol), col("group_id")), idCol),
        col("group_id"), 1, "__canonical_rank")(preferBy.desc, col(idCol).asc)
      .drop("__canonical_rank", "group_id")

  /** Cross-document line-level deduplication (the CCNet/RefinedWeb
    * boilerplate-removal shape, re-derived): a line occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (headers, cookie
    * banners, nav footers) and is dropped from EVERY document; surviving
    * lines are reassembled in their original order. Documents losing all
    * their lines stay in the output with empty text.
    *
    * Scale shape: one shuffle for the distinct-doc line count (partially
    * aggregated map-side), one anti-join of the line table against the
    * frequent-line relation (tiny by definition — boilerplate repeats —
    * so AQE broadcasts it), one regroup per document. No collects, no
    * per-document state.
    *
    * @return (idCol, textCol cleaned, n_lines_kept, n_lines_total)
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (a 1-threshold would drop every line)")
    val docs = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val lines = docs.select(col("id"),
      posexplode(split(col("t"), "\n")).as(Seq("line_no", "line")))
    val frequent = lines.groupBy(col("line"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"))
    val kept = lines.join(frequent, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")), "\n").as("kept_text"),
        count(lit(1)).as("n_lines_kept"))
    docs.join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("kept_text"), lit("")).as(textCol),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        size(split(col("t"), "\n")).cast("long").as("n_lines_total"))
  }

  def dupGroups(corpus: DataFrame, idCol: String, pairs: DataFrame,
                maxIterations: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    var labels = corpus.select(col(idCol).cast("long").as("id"))
      .distinct().withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = edges
        .join(labels.select(col("id").as("id_b"), col("label").as("nl")), "id_b")
        .groupBy(col("id_a").as("id")).agg(min(col("nl")).as("nmin"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("next"))
      // pointer jumping: follow next → label(next) so label chains halve
      // every round — convergence in O(log diameter) iterations instead of
      // O(diameter), which the fixed cap could not otherwise guarantee
      val fwd = propagated.select(col("id").as("jid"), col("next").as("jnext"))
      val updated = propagated
        .join(fwd, propagated("next") === fwd("jid"), "left")
        .select(col("id"), col("label"),
          least(col("next"), coalesce(col("jnext"), col("next"))).as("next"))
        .localCheckpoint(true)
      converged = updated.filter(col("next") < col("label")).isEmpty
      labels = updated.select(col("id"), col("next").as("label"))
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"dupGroups: min-label propagation did not converge in $maxIterations " +
        "iterations — raise maxIterations (components of diameter " +
        s"> 2^$maxIterations are implausible for dup graphs)")
    labels.select(col("id"), col("label").as("group_id"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("group_id"))))
      .withColumn("is_canonical", col("id") === col("group_id"))
  }

  /** Decision step of a dedup pipeline: per connected near-dup component
    * ([[dupGroups]] over `pairs`), KEEP the best-scoring member — highest
    * `scoreCol` (an exact integer score, e.g. the quality heuristic), ties
    * broken by lowest id — and report what the decision drops. One row per
    * group: (group_id, group_size, kept_id, kept_score, n_dropped).
    *
    * Scale shape: the score is a projection on the corpus scan, the group
    * labels come from O(log diameter) label propagation, and the pick is a
    * single map-side-combinable groupBy whose state is one struct per
    * group (`max(struct(score, -id))` — lexicographic struct max IS the
    * argmax with the tie-break, no window over the corpus). */
  def canonicalPick(corpus: DataFrame, idCol: String, pairs: DataFrame,
                    scoreCol: String): DataFrame = {
    val groups = dupGroups(corpus, idCol, pairs)
      .select(col("id"), col("group_id"))
    val scored = corpus.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("long").as("score"))
    groups.join(scored, "id")
      .groupBy(col("group_id"))
      .agg(
        count(lit(1)).cast("long").as("group_size"),
        max(struct(col("score"), (-col("id")).as("nid"))).as("best"))
      .select(col("group_id"),
        col("group_size"),
        (-col("best.nid")).as("kept_id"),
        col("best.score").as("kept_score"),
        (col("group_size") - 1).cast("long").as("n_dropped"))
  }

  /** Leakage-safe train/val/test split: assign the split by NEAR-DUP
    * GROUP, not by document — a per-doc hash split routinely places two
    * near-duplicates on opposite sides of the train/test fence, leaking
    * evaluation content into training. Group labels come from
    * [[dupGroups]]; the seeded hash split ([[Sampling.withSplit]]) is
    * applied to the group-id relation and every member inherits its
    * group's label, so no component can straddle splits by construction.
    * Returns (id, group_id, split).
    *
    * Scale shape: the split decision is a pure projection on the
    * distinct-group relation; the inherit step is one equi-join on
    * group_id (both sides already hash-partitioned by it from the
    * propagation). */
  def groupSafeSplit(corpus: DataFrame, idCol: String, pairs: DataFrame,
                     splits: Seq[(String, Double)],
                     seed: Long = 42L): DataFrame = {
    val groups = dupGroups(corpus, idCol, pairs)
      .select(col("id"), col("group_id"))
    val gsplit = Sampling.withSplit(
      groups.select(col("group_id")).distinct(), "group_id", splits, seed)
    groups.join(gsplit, "group_id")
      .select(col("id"), col("group_id"), col("split"))
  }

  /** Blocked fuzzy join: near-match pairs by edit distance, without the
    * all-pairs comparison. Rows are blocked on the first `blockLen`
    * characters of the whitespace-collapsed lowercase text — an
    * EQUI-join, so the O(n²) comparison collapses to per-block joins —
    * and candidates are verified with `levenshtein` over the first
    * `cmpLen` characters. The fuzzy-entity-matching staple: blocking
    * recall is explicit (pairs differing inside the block prefix are
    * missed — pick `blockLen` per domain), cost is Σ|block|², and a hot
    * block is ordinary join skew (AQE-splittable) rather than a plan
    * change.
    */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                        blockLen: Int = 16, cmpLen: Int = 60,
                        maxDist: Int = 10): DataFrame = {
    val norm = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    val t = df.select(col(idCol).as("id"),
      substring(norm, 1, blockLen).as("blk"), substring(norm, 1, cmpLen).as("cmp"))
    val a = t.select(col("id").as("a_id"), col("cmp").as("a_cmp"), col("blk"))
    val b = t.select(col("id").as("b_id"), col("cmp").as("b_cmp"), col("blk"))
    a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_cmp"), col("b_cmp")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Universal-hash coefficient pairs (a ∈ [1, p−1], b ∈ [0, p−1]) from a
    * seeded PRNG — interpolable into oracle SQL like [[simhashCoefs]]. */
  def minhashCoefs(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val p = 2147483647L
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((rnd.nextInt((p - 1).toInt).toLong + 1,
                         rnd.nextInt(p.toInt).toLong))
  }

  /** Portable minhash signature store: one row per (doc, permutation k)
    * with the signature value min over shingles of (a_k·h + b_k) mod p,
    * where h is the SQL-replayable [[polyHash]] — so the signature
    * VALUES gate against a DuckDB oracle, not just the pair sets they
    * induce (q88). The relation is the persistent form of near-dup
    * state for incremental ingestion: signatures of two loads merge by
    * per-(doc, k) MIN, the same law [[idSignatures]] applies to rows
    * sharing an id inside one load — so a standing signature table is
    * updated by union + re-aggregate, never by re-reading old text. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 16,
                        seed: Long = 7L): DataFrame =
    idSignatures(df, idCol, textCol, n, poly = true,
        minhashCoefs(numHashes, seed))
      .select(col("id").as(idCol), posexplode(col("sig")).as(Seq("k", "mh")))
      .select(col(idCol), col("k").cast("long").as("k"), col("mh"))

  /** THE minhash signature law: for a DISTINCT shingle-hash set `xs`
    * (every value below p) and each coefficient pair (a, b) of `coefs`
    * ([[minhashCoefs]]), the min over the set of the universal-hash
    * permutation (a·x + b) mod p — each distinct shingle is permuted
    * once per k, in the doc's row. x and a are below 2^31, so products
    * stay below 2^62 and the arithmetic never wraps. Null for an empty
    * set: a doc without shingles has no signature. Every signature in
    * this object is formed here. */
  private def signatureOf(xs: Column, coefs: Seq[(Long, Long)]): Column =
    when(size(xs) > 0, transform(typedlit(coefs), c => array_min(transform(xs,
      x => pmod(x * c.getField("_1") + c.getField("_2"), lit(2147483647L))))))

  /** (id, sig) per id of `df` that has shingles: each row's signature
    * over its distinct shingle-hash set ([[signatureOf]]; xxhash64
    * lanes, `poly = false`, are first reduced mod p — polyHash values
    * already are), and the rows that share an id merged by the
    * element-wise MIN — a minhash signature is a mergeable sketch, so
    * the merge of the rows' signatures is the signature of the union of
    * their sets. The aggregate sees one row per input row.
    *
    * The set is its own column (referenced twice by [[signatureOf]], so
    * the projections do not collapse): inlined, it would be recomputed
    * inside the per-k lambda. The merge skips rows without a signature,
    * and ids without one are dropped above the aggregate by a count: a
    * filter on the row's signature would be pushed below its projection
    * and evaluate the signature twice. */
  private def idSignatures(df: DataFrame, idCol: String, textCol: String,
                           n: Int, poly: Boolean,
                           coefs: Seq[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val hs = array_distinct(shingleHashArr(col(textCol), n, poly))
    val merge = GraftColumnBridge.column(graft.plans.ArrayMinAgg(
      GraftColumnBridge.expression(col("sig")), coefs.size)
      .toAggregateExpression())
    df.select(col(idCol).as("id"),
        (if (poly) hs else transform(hs, h => pmod(h, lit(2147483647L))))
          .as("xs"))
      .select(col("id"), signatureOf(col("xs"), coefs).as("sig"))
      .groupBy(col("id")).agg(merge.as("sig"), count(col("sig")).as("n"))
      .filter(col("n") > 0)
      .select(col("id"), col("sig"))
  }

  /** PARTITIONED SIGNATURE STORE — the [[minhashSignatures]] relation
    * laid out for its two standing-corpus duties: absorbing loads via
    * the per-(doc, k) MIN merge law, and forgetting documents. The
    * layout keys on the DOCUMENT (`d_bucket = id mod buckets`, doc-and-
    * k-sorted files), because both duties are doc-footprint-bounded:
    * all of one document's K signature rows co-locate in one bucket, so
    * a merge touches only the delta's doc buckets and a forget's
    * buckets are DERIVED from the ids (no discovery scan at all). The
    * banded LSH join key, by contrast, spreads every doc across all
    * bands — an index derived at join time, not a storage layout.
    * The bucket count is a layout constant of the store manifest,
    * recorded in the same commit as the data (same contract as the
    * embedding store's [[Similarity.writeStandingStore]]). Every
    * dataDir (`data`, `bands`, `bands_inv`, `shingles`) commits
    * through [[StoreSwap]]'s store manifest.
    * @param versioned accepted only as `true`: kept so callers written
    *                  when the store had a legacy commit mode still
    *                  compile; there is no other mode now. */
  def writeSignatureStore(sigs: DataFrame, path: String, idCol: String,
                          buckets: Int = 64,
                          versioned: Boolean = true): Unit = {
    require(versioned, "writeSignatureStore(versioned = false): the" +
      " legacy unversioned store layout no longer exists — every store" +
      " commits through the store manifest")
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val spark = sigs.sparkSession
    StoreSwap.transact(spark, path) {
      StoreSwap.overwriteDir(spark, path, "data", "d_bucket",
        sigs.withColumn("d_bucket", docBucket(col(idCol), buckets)),
        Seq(col(idCol), col("k")))
      StoreSwap.putBucketCount(spark, path, buckets)
    }
  }

  /** A doc's store bucket: id mod buckets. */
  private def docBucket(id: Column, buckets: Int): Column =
    pmod(id, lit(buckets.toLong)).cast("int")

  /** Manifest name of the shingle sidecar's width
    * ([[StoreSwap.Snapshot.layoutConstant]]). */
  private val ShingleWidthKey = "shingles.n"

  /** The shingle sidecar's width in the store snapshot `snap` of `path`. */
  private def shingleWidth(snap: StoreSwap.Snapshot, path: String): Int =
    snap.layoutConstant(ShingleWidthKey).getOrElse(
      sys.error(s"$path records no shingle width — build the sidecar" +
        " with writeShingleSidecar")).toInt

  /** The distinct values of `df`'s one int column, sorted, in ONE job —
    * a per-partition distinct merged on the driver, where
    * `distinct().collect()` plans a shuffle stage of its own. */
  private def distinctInts(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(_.map(_.getInt(0)).toSet.iterator)
      .collect().distinct.sorted.toSeq

  /** ONE ROW PER DOC of `docs` — the form a micro-batch is read into,
    * once: `id`, `d_bucket`, and for each shingle width w of `widths`
    * the doc's distinct [[polyHash]] shingle set `xs<w>`. A doc that
    * occurs twice in `docs` gets the union of its rows' sets (what the
    * row-wise explode + distinct of [[shinglePolyHashes]] gives); a doc
    * without shingles keeps its row, with an empty set. */
  private def docShingleSets(docs: DataFrame, idCol: String,
                             textCol: String, buckets: Int,
                             widths: Seq[Int]): DataFrame = {
    val ws = widths.distinct
    val sets = ws.map(w =>
      array_distinct(flatten(collect_list(col(s"xs$w")))).as(s"xs$w"))
    docs.select(col(idCol).as("id") +: ws.map(w =>
        shingleHashArr(col(textCol), w, poly = true).as(s"xs$w")): _*)
      .groupBy(col("id")).agg(sets.head, sets.tail: _*)
      .withColumn("d_bucket", docBucket(col("id"), buckets))
  }

  /** The signature MIN-merge — the one law of [[mergeIntoSignatureStore]]
    * and [[ingestBatchIntoStore]]: the `touched` doc buckets' rows ∪
    * `rows` (idCol, k, mh, d_bucket), re-aggregated per (doc, k) by MIN
    * and committed through [[StoreSwap.stagedRewrite]]. Partitioned on
    * d_bucket BEFORE the aggregate, so aggregate and staged write share
    * one exchange. */
  private def rewriteSignatures(spark: SparkSession, path: String,
                                idCol: String, touched: Seq[Int],
                                rows: DataFrame): Unit = {
    val merged = StoreSwap.snapshot(spark, path).read("data", "d_bucket")
      .filter(col("d_bucket").isin(touched: _*))
      .unionByName(rows)
      .repartition(col("d_bucket"))
      .groupBy(col("d_bucket"), col(idCol), col("k"))
      .agg(min(col("mh")).as("mh"))
    StoreSwap.stagedRewrite(spark, path, "d_bucket", touched, merged,
      Seq(col(idCol), col("k")))
  }

  /** The sidecar REPLACE — the one law of [[mergeShinglesIntoStore]] and
    * [[ingestBatchIntoStore]]: in the `touched` doc buckets, each doc of
    * `docs` (id, d_bucket, set column `xsCol`) holds exactly its fresh
    * set afterwards (an empty set clears it), every other doc its
    * stored rows. One exchange on d_bucket serves the per-doc pick and
    * the staged write. */
  private def rewriteShingles(spark: SparkSession, path: String,
                              touched: Seq[Int], docs: DataFrame,
                              xsCol: String): Unit = {
    val stored = StoreSwap.snapshot(spark, path).read("shingles", "d_bucket")
      .filter(col("d_bucket").isin(touched: _*))
      .select(col("id"), col("x"), col("d_bucket"), lit(false).as("fresh"))
    val fresh = docs.select(col("id"), explode_outer(col(xsCol)).as("x"),
      col("d_bucket"), lit(true).as("fresh"))
    val replaced = max(col("fresh"))
      .over(Window.partitionBy(col("d_bucket"), col("id")))
    val merged = stored.unionByName(fresh)
      .repartition(col("d_bucket"))
      .withColumn("replaced", replaced)
      .filter(col("fresh") === col("replaced") && col("x").isNotNull)
      .select(col("id"), col("x"), col("d_bucket"))
    StoreSwap.stagedRewrite(spark, path, "d_bucket", touched, merged,
      Seq(col("id"), col("x")), "shingles")
  }

  /** Absorb a load into the signature store via the q109 merge law,
    * executed BUCKET-LOCALLY: only the delta's doc buckets are read,
    * union-min-re-aggregated with the delta, and committed through
    * [[StoreSwap.stagedRewrite]] (staged to disk, manifest-committed —
    * a merge can never leave a bucket half absorbed); untouched
    * buckets' files never open. Because the store co-locates each
    * doc's rows, re-ingesting a document is idempotent (identical
    * signatures MIN to themselves) and a NEW doc's bucket materializes
    * on first touch. The merge shuffle is bounded by the
    * touched buckets' contents — delta-footprint, not corpus. Returns
    * the touched bucket ids. */
  def mergeIntoSignatureStore(spark: SparkSession, path: String,
                              delta: DataFrame, idCol: String): Seq[Int] =
    StoreSwap.transact(spark, path) {
    val rows = delta.withColumn("d_bucket",
      docBucket(col(idCol), StoreSwap.snapshot(spark, path).bucketCount))
    val touched = distinctInts(rows.select(col("d_bucket")))
    if (touched.nonEmpty)
      rewriteSignatures(spark, path, idCol, touched, rows)
    touched
  }

  /** EXACTLY-ONCE composed ingest of a delta batch into the signature
    * store and its serving structures — the foreachBatch body of a
    * streaming text-ingest loop (q212's flow), hardened for the
    * at-least-once redelivery contract. It applies the laws of the
    * three public merges ([[mergeIntoSignatureStore]],
    * [[mergeShinglesIntoStore]], [[mergeIntoBandIndex]]) in ONE PASS
    * over the batch: the batch is read once into one row per doc
    * ([[docShingleSets]]: its shingle set(s), doc bucket, and minhash
    * signature, checkpointed), the touched doc buckets are collected
    * once and serve the signature, sidecar and inventory rewrites, and
    * every layout constant comes from the manifest. The merges are each
    * idempotent for identical batch content (signatures MIN to
    * themselves, the shingle sidecar REPLACEs per doc, band rows
    * collapse in the distinct), so redelivery was already
    * content-harmless; what the ledger adds is the SKIP — an acked
    * batchId returns before `deltaDocs` is even evaluated, so a
    * redelivered batch costs one manifest read instead of three
    * store mutations. The merges AND the ledger ack are ONE
    * [[StoreSwap.transact]]: a crash anywhere inside leaves the store
    * at its pre-batch version with the batch unacked, so redelivery
    * re-runs from scratch against unchanged state. */
  def ingestBatchIntoStore(spark: SparkSession, path: String,
                           deltaDocs: DataFrame, idCol: String,
                           textCol: String,
                           batchId: Option[Long] = None,
                           n: Int = 3, numHashes: Int = 16): Unit =
    StoreSwap.transact(spark, path) {
    if (!batchId.exists(
        StoreSwap.committedBatches(spark, path, "data").contains)) {
      val buckets = StoreSwap.snapshot(spark, path).bucketCount
      val sideN =
        if (shingleSidecarExists(spark, path))
          Some(shingleWidth(StoreSwap.snapshot(spark, path), path))
        else None
      val layout =
        if (StoreSwap.snapshot(spark, path).exists("bands"))
          Some(bandLayout(StoreSwap.snapshot(spark, path), path))
        else None
      val docs = docShingleSets(deltaDocs, idCol, textCol, buckets,
          n +: sideN.toSeq)
        .withColumn("sig",
          signatureOf(col(s"xs$n"), minhashCoefs(numHashes, 7L)))
        .localCheckpoint(true) // the batch, read once: |docs| rows
      val touched = distinctInts(docs.select(col("d_bucket")))
      if (touched.nonEmpty) {
        rewriteSignatures(spark, path, idCol, touched,
          docs.select(col("id").as(idCol), col("d_bucket"),
              posexplode(col("sig")).as(Seq("k", "mh")))
            .select(col(idCol), col("k").cast("long").as("k"), col("mh"),
              col("d_bucket")))
        sideN.foreach(w =>
          rewriteShingles(spark, path, touched, docs, s"xs$w"))
        layout.foreach(l => rewriteBandIndex(spark, path, buckets, touched,
          bandRowsForDocs(spark, path, broadcast(docs.select(col("id"))),
            idCol, touched, l)))
      }
      batchId.foreach(StoreSwap.ackBatch(spark, path, "data", _))
    } // else: redelivered batch, already fully absorbed and acked
  }

  /** [[StoreSwap.open]] for a signature store: one `exists` call on a
    * protocol-2 store; any other store layout is refused with a named
    * `IllegalStateException`, and nothing is written. Every read and
    * commit of the store makes this check itself. */
  def unifySignatureStore(spark: SparkSession, path: String): Unit =
    StoreSwap.open(spark, path)

  /** The full signature store plus its recorded bucket count, both from
    * one resolution of its manifest. */
  def readSignatureStore(spark: SparkSession,
                         path: String): (DataFrame, Int) =
    signaturesIn(StoreSwap.snapshot(spark, path))

  private def signaturesIn(s: StoreSwap.Snapshot): (DataFrame, Int) =
    (s.read("data", "d_bucket"), s.bucketCount)

  /** TIME-TRAVEL read of the signature store — the text twin of
    * [[Similarity.readStandingStoreAt]]: any retained manifest version
    * of the data resolves to a complete historical snapshot (retention
    * = `graft.store.snapshotKeep`). The band index, inventory, and
    * shingle sidecar pin at the same version — [[lshJudgeStoreAt]]
    * replays whole judgments; this read serves the signature state
    * itself — audits, diffs, forget verification. Schema-equal to
    * [[readSignatureStore]]: the `d_bucket` partition column is kept
    * in both. The bucket count is the one recorded at `version`. */
  def readSignatureStoreAt(spark: SparkSession, path: String,
                           version: Int): (DataFrame, Int) =
    signaturesIn(StoreSwap.snapshot(spark, path, Some(version)))

  /** Retained (readable) manifest versions of the signature store,
    * ascending; last = live. */
  def signatureStoreVersions(spark: SparkSession, path: String): Seq[Int] =
    StoreSwap.snapshotVersions(spark, path)

  /** MANIFEST-PRUNED CDC for the SIGNATURE store — the text twin of
    * [[Similarity.standingStoreDiff]]: a doc-level change feed between
    * two retained versions of `data`, where `change` is `insert` (doc
    * only in `toV`), `delete` (only in `fromV`), or `update` (present
    * in both with a DIFFERENT signature — what a re-ingest's MIN-merge
    * does to docs whose text gained shingles). The 100 TB property is
    * the same: generations are immutable once committed, so a d_bucket
    * whose generation list is IDENTICAL in both manifests is
    * byte-identical and is never opened — diff cost tracks the
    * mutation footprint between the versions, not the corpus. A
    * downstream replica (a mirrored band index, a dedup-aware search
    * tier) consumes this instead of rescanning 1e9 docs' signatures.
    * Returns (change, doc_id) with `idCol` as the doc id column. */
  def signatureStoreDiff(spark: SparkSession, path: String,
                         idCol: String, fromV: Int,
                         toV: Int): DataFrame = {
    val eA = StoreSwap.snapshot(spark, path, Some(fromV)).entriesOf("data")
    val eB = StoreSwap.snapshot(spark, path, Some(toV)).entriesOf("data")
    val changed = (eA.keySet ++ eB.keySet)
      .filter(d => eA.get(d) != eB.get(d))
      .map(_.stripPrefix("d_bucket=").toInt).toSeq.sorted
    if (changed.isEmpty)
      return spark.range(0).select(lit("").as("change"),
        lit(0L).as(idCol)).filter(lit(false))
    // per-doc signature VALUE over the changed buckets only: the
    // k-sorted (k, mh) collect is order-canonical, and the comparison
    // is on the full mh array — exact, no hash-collision bound (a
    // 31-bit fingerprint would silently drop ~2^-31 of real updates
    // from a feed a replica trusts). k longs per doc over the
    // mutation footprint is still delta-scale, not corpus-scale.
    def side(v: Int, as: String) =
      StoreSwap.snapshot(spark, path, Some(v)).read("data", "d_bucket", Some(changed))
        .groupBy(col(idCol))
        .agg(transform(array_sort(collect_list(struct(col("k"), col("mh")))),
          e => e.getField("mh")).as(as))
    side(fromV, "old_fp")
      .join(side(toV, "new_fp"), Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("old_fp").isNull, lit("insert"))
          .when(col("new_fp").isNull, lit("delete"))
          .when(col("old_fp") =!= col("new_fp"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col("change"), col(idCol))
  }

  /** FORGET documents from the signature store — the text modality's
    * right-to-be-forgotten: the ids' buckets are DERIVED (id mod
    * buckets), only those are rewritten without the doomed docs' rows.
    * The rewrite is staged and manifest-committed
    * ([[StoreSwap.stagedRewrite]]), so a crash mid-forget can never
    * resurrect the forgotten signatures — including the fully-emptied-
    * bucket case, whose bucket leaves the manifest in the same commit.
    * A shingle sidecar, when present, drops the docs' rows in the same
    * transaction (one manifest rename publishes both rewrites).
    * Returns signature rows removed. */
  def forgetDocsFromSignatureStore(spark: SparkSession, path: String,
                                   docIds: DataFrame,
                                   idCol: String): Long =
    StoreSwap.transact(spark, path) {
    val (standing, buckets) = readSignatureStore(spark, path)
    val ids = docIds.select(col(idCol)).distinct()
    val touched = distinctInts(ids.select(docBucket(col(idCol), buckets)))
    if (touched.isEmpty) return 0L
    val slice = standing
      .filter(col("d_bucket").isin(touched: _*))
    val kept = slice.join(ids, Seq(idCol), "left_anti")
    val before = slice.count()
    val removed = before - StoreSwap.stagedRewrite(spark, path, "d_bucket",
      touched, kept, Seq(col(idCol), col("k")))
    if (shingleSidecarExists(spark, path)) {
      val shKept = StoreSwap.snapshot(spark, path).read("shingles", "d_bucket")
        .filter(col("d_bucket").isin(touched: _*))
        .join(ids.select(col(idCol).as("id")), Seq("id"), "left_anti")
      StoreSwap.stagedRewrite(spark, path, "d_bucket", touched, shKept,
        Seq(col("id"), col("x")), "shingles")
    }
    removed
  }

  /** SHINGLE-HASH SIDECAR — the store artifact that makes near-dup
    * JUDGMENT doc-footprint end to end. The signature store holds
    * signatures (merge/forget) and band rows (candidate lookup), but
    * exact verification needs each candidate's distinct shingle-hash
    * set — and deriving that from corpus TEXT costs a corpus-footprint
    * scan per delta batch (the one remaining corpus-scale read of the
    * text lifecycle; sf1 evidence: q212 judge 2.6× for 10× standing).
    * This persists the per-doc distinct [[polyHash]](shingle) rows
    * (id, x) partitioned by the doc's own bucket (`d_bucket = id mod
    * buckets`, like `data` and `bands_inv`), so verification reads
    * ONLY candidate docs' buckets. Shingle width n is a layout constant
    * of the manifest, recorded in the sidecar's commit;
    * [[lshJudgeStore]] auto-uses the sidecar when
    * present and fails fast if a candidate doc is missing from it
    * (an incomplete sidecar must never silently drop verdicts).
    *
    * Content contract: the sidecar mirrors each doc's CURRENT text —
    * a re-ingest REPLACES its rows ([[mergeShinglesIntoStore]]),
    * matching what verification against caller-supplied text gives.
    * (The signature MIN-merge, by contrast, accumulates the union of
    * ingests — its stale candidates are exactly what verification
    * discards, and [[reindexDocsInBandIndex]] repairs.) */
  def writeShingleSidecar(spark: SparkSession, path: String,
                          docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): Unit = StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.snapshot(spark, path).bucketCount
    StoreSwap.overwriteDir(spark, path, "shingles", "d_bucket",
      shinglePolyHashes(docs, idCol, textCol, n)
        .withColumn("d_bucket", docBucket(col("id"), buckets)),
      Seq(col("id"), col("x")))
    StoreSwap.putStoreMeta(spark, path, Map(ShingleWidthKey -> Seq(n.toLong)))
  }

  /** Whether `path` carries the shingle-hash sidecar. */
  private[operators] def shingleSidecarExists(spark: SparkSession,
                                              path: String): Boolean =
    StoreSwap.snapshot(spark, path).exists("shingles")

  /** Absorb a delta load into the shingle sidecar — REPLACE semantics
    * per doc (the sidecar mirrors current text; see
    * [[writeShingleSidecar]]'s content contract): the delta ids'
    * buckets are DERIVED (id mod buckets), their old rows anti-joined
    * out, the fresh distinct shingle hashes merged in, all through the
    * staged rewrite. Runs with the signature merge in the ingest flow:
    * merge signatures, merge shingles, merge band index. Returns
    * touched buckets. */
  def mergeShinglesIntoStore(spark: SparkSession, path: String,
                             deltaDocs: DataFrame, idCol: String,
                             textCol: String): Seq[Int] =
    StoreSwap.transact(spark, path) {
    require(shingleSidecarExists(spark, path),
      s"$path has no shingle sidecar — build it with writeShingleSidecar")
    val n = shingleWidth(StoreSwap.snapshot(spark, path), path)
    val docs = docShingleSets(deltaDocs, idCol, textCol,
        StoreSwap.snapshot(spark, path).bucketCount, Seq(n))
      .localCheckpoint(true) // |docs| rows, read twice
    val touched = distinctInts(docs.select(col("d_bucket")))
    if (touched.nonEmpty)
      rewriteShingles(spark, path, touched, docs, s"xs$n")
    touched
  }

  /** Replayable per-band signatures over a k-sorted signature array:
    * band b's value is a polynomial fold (seed b, multiplier 1000003,
    * mod p) over its rowsPerBand signature values in k order — the same
    * collision-grouping role as a murmur band hash, but exactly
    * re-expressible in SQL (`list_reduce`), so the BANDING itself can
    * be oracle-replayed: a gate over the band index asserts the exact
    * candidate set, with no recall assumption hiding behind a
    * non-replayable hash. Fold values stay < 2^51 (acc < 2^31,
    * multiplier < 2^20) — no wrap on either engine. */
  private def bandSigArray(sig: Column, bands: Int,
                           rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      aggregate(slice(sig, b * rowsPerBand + 1, rowsPerBand),
        lit(b.toLong),
        (acc, x) => pmod(acc * lit(1000003L) + x, lit(2147483647L)))
    }: _*)

  /** (id, band, bsig, bb_bucket) band rows for a signature relation
    * (idCol, k, mh). */
  private def bandRows(sigs: DataFrame, idCol: String, bands: Int,
                       rowsPerBand: Int, buckets: Int): DataFrame =
    bandRowsOfSigs(sigs.groupBy(col(idCol).as("id"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("mh")))),
        e => e.getField("mh")).as("sig")), bands, rowsPerBand, buckets)

  /** (id, band, bsig, bb_bucket) band rows for per-doc k-ordered
    * signature arrays (id, sig). */
  private def bandRowsOfSigs(docs: DataFrame, bands: Int, rowsPerBand: Int,
                             buckets: Int): DataFrame =
    docs.select(col("id"),
        posexplode(bandSigArray(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bsig")))
      .withColumn("bb_bucket",
        pmod(col("bsig"), lit(buckets.toLong)).cast("int"))

  /** BAND INDEX over the signature store — the lookup-side projection
    * the doc-bucketed layout cannot provide: [[writeSignatureStore]]
    * co-locates a DOC's rows (merge and forget are doc-footprint
    * bounded), but an incremental near-dup judgment needs the standing
    * corpus keyed by BAND COLLISION, or every delta batch rescans all
    * signatures. This derives (id, band, bsig) rows from the store and
    * partitions them by `bb_bucket = bsig mod buckets`: a delta's band
    * values prune the index read to min(|delta bands|, buckets)
    * directories — the text twin of the embedding store's probe-pruned
    * search. Bands/rowsPerBand/idxBuckets are layout constants of the
    * manifest, recorded in the index's commit. */
  def writeBandIndex(spark: SparkSession, path: String, idCol: String,
                     bands: Int = 8): Unit =
    StoreSwap.transact(spark, path) {
    val (sigs, buckets) = readSignatureStore(spark, path)
    // one aggregation pass serves both constants: the hash count and
    // the standing doc count the layout auto-selection needs
    val aggRow = sigs.agg(max(col("k")).as("mk"),
      count(lit(1)).as("n")).head
    val numHashes = aggRow.getLong(0).toInt + 1
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    // INDEX-DIRECTORY GRANULARITY — the layout lever for the judge's
    // past-PushdownCap growth term: with `graft.lsh.bandIndexBuckets`
    // unset the index shares the store's bucket count (64 dirs — a
    // mid-size delta's ~4000 distinct bsigs touch every dir, so past
    // the literal-pushdown cap the slice scan is unpruned). A FINER
    // bsig partitioning (e.g. 4096 dirs) lets the touched-dir list
    // itself prune: a delta touches ~min(|delta bsigs|, dirs) dirs, so
    // directory pruning carries weight exactly where the literal list
    // no longer fits. MEASURED AND REJECTED as the default (round 14,
    // BandLayoutProbe, quiet box, 50k→500k standing): 4096 dirs lost
    // ~2× absolute at every tier — judge 500-doc 12.1→14.3 s vs
    // 4.6→7.0 s at 64 dirs, 5000-doc 15.6→17.2 vs 7.0→8.7 s, index
    // build 28.6-29.7 vs 4.1-6.0 s (4096 tiny files per generation).
    // The hypothesis direction was RIGHT — per-10×-standing flatness
    // improved to 1.18×/1.10× (500/5000-doc) vs 1.51×/1.25× — but the
    // listing + small-file constant dominates until per-dir row mass
    // amortizes it (~3 more decades of standing, ≥500M docs). Since
    // round 15 the default is AUTO-SELECTED from the standing doc
    // count at the measured crossover ([[autoBandIndexBuckets]]): the
    // store bucket count below it (= r14's measured best at 50k/500k),
    // scaling as docs/125k past ≥500M docs per the recorded break-even.
    // The manual knob stays as override. Recorded in the store manifest
    // so every later mutation/judgment derives the same layout.
    val nDocs = aggRow.getLong(1) / numHashes // one row per (doc, k)
    val idxBuckets = GraftConf.BandIndexBuckets(spark)
      .getOrElse(autoBandIndexBuckets(buckets, nDocs))
    StoreSwap.overwriteDir(spark, path, "bands", "bb_bucket",
      bandRows(sigs.select(col(idCol), col("k"), col("mh")),
        idCol, bands, r, idxBuckets),
      Seq(col("band"), col("bsig"), col("id")))
    writeBandInventory(spark, path, buckets)
    // The layout constants version through the manifest (same
    // rename as the band rows): a historical judgment resolves
    // bands/r/idx_buckets from its pinned version, so a rebuild under a
    // different graft.lsh.bandIndexBuckets inside the retention window
    // can never make a replay compute delta bb_buckets under the NEW
    // layout against band rows written under the OLD one (which
    // silently drops candidates).
    putBandsMeta(spark, path, bands, r, idxBuckets)
  }

  /** The per-doc BAND INVENTORY of the store's band index, partitioned
    * by the doc's OWN bucket (of `buckets`): the index rows a doc
    * currently owns stay DERIVABLE FROM ITS ID even after a re-ingest
    * changes its signature (the band values — hence the index buckets —
    * of the old rows are otherwise unrecoverable). This is what makes
    * [[reindexDocsInBandIndex]] and [[forgetFromBandIndex]]
    * doc-footprint instead of a full rebuild. Derived from the index
    * itself (a cheap column scan) rather than re-running the
    * corpus-scale band derivation a second time. Run by
    * [[writeBandIndex]], in the commit that writes the index. */
  private def writeBandInventory(spark: SparkSession, path: String,
                                 buckets: Int): Unit =
    StoreSwap.overwriteDir(spark, path, "bands_inv", "d_bucket",
      StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
        .select(col("id"), col("band"), col("bsig"), col("bb_bucket"))
        .withColumn("d_bucket", docBucket(col("id"), buckets)),
      Seq(col("id"), col("band")))

  /** AUTO band-index directory granularity from the standing doc
    * count — the pure rule derived from BandLayoutProbe's measured
    * crossover (round 14, quiet box): finer layouts improve
    * per-decade flatness (1.18× vs 1.51× at 4096 dirs) but lose ~2×
    * ABSOLUTE until per-dir row mass amortizes the dir-listing +
    * small-file constant, which the probe places at ≥500M docs for
    * 4096 dirs — i.e. ~125k docs per directory. Below the crossover
    * the store's own bucket count is the measured best (50k and 500k
    * tiers both); past it, directories scale as docs/125k (next power
    * of two, capped at 65536 to bound per-generation file count). */
  private[graft] def autoBandIndexBuckets(storeBuckets: Int,
                                          nDocs: Long): Int = {
    val perDir = 125000L // docs per dir at the measured break-even
    val wanted = nDocs / perDir
    if (wanted <= storeBuckets) storeBuckets
    else math.min(65536L, java.lang.Long.highestOneBit(wanted - 1) * 2)
      .toInt
  }

  /** Manifest-metadata names under which the band-index layout
    * constants version — ONE name per constant (manifest values
    * serialize as sorted sets, so an ordered tuple can't ride in a
    * single entry). */
  private val BandsKey = "bands.b"
  private val RowsPerBandKey = "bands.r"
  private val IdxBucketsKey = "bands.idx"

  private def putBandsMeta(spark: SparkSession, path: String,
                           bands: Int, r: Int, idxBuckets: Int): Unit =
    StoreSwap.putStoreMeta(spark, path,
      Map(BandsKey -> Seq(bands.toLong), RowsPerBandKey -> Seq(r.toLong),
        IdxBucketsKey -> Seq(idxBuckets.toLong)))

  /** (bands, rowsPerBand, idxBuckets) a reader of the store snapshot
    * `snap` of `path` must derive band rows with, from its manifest
    * ([[StoreSwap.Snapshot.layoutConstant]]) — a PINNED read takes the pinned
    * manifest's layout: a [[writeBandIndex]] rebuild under a different
    * `graft.lsh.bandIndexBuckets` inside the retention window changes
    * the live one, and deriving delta `bb_bucket`s from it against
    * band rows PINNED under the old layout silently drops candidates. */
  private def bandLayout(snap: StoreSwap.Snapshot,
                         path: String): (Int, Int, Int) = {
    def constant(name: String) = snap.layoutConstant(name).map(_.toInt)
    (for (b <- constant(BandsKey); r <- constant(RowsPerBandKey);
          idx <- constant(IdxBucketsKey)) yield (b, r, idx))
      .getOrElse(sys.error(s"$path has no band index — build it with" +
        " writeBandIndex"))
  }

  /** The inventory's rows for the docs `ids` (column `id`) — pruned to
    * their doc buckets `db`. */
  private def invRowsForDocs(spark: SparkSession, path: String,
                             ids: DataFrame, db: Seq[Int]): DataFrame =
    StoreSwap.snapshot(spark, path).read("bands_inv", "d_bucket")
      .filter(col("d_bucket").isin(db: _*))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"), col("band"), col("bsig"), col("bb_bucket"))

  /** The docs' CURRENT band rows (id, band, bsig, bb_bucket) under
    * `layout`: their post-merge signatures read from their doc buckets
    * `db` (the docs `ids`, column `id`), checkpointed — |docs|·bands
    * rows, which every caller reads more than once. */
  private def bandRowsForDocs(spark: SparkSession, path: String,
                              ids: DataFrame, idCol: String, db: Seq[Int],
                              layout: (Int, Int, Int)): DataFrame = {
    val (bands, r, idxBuckets) = layout
    val docSigs = StoreSwap.snapshot(spark, path).read("data", "d_bucket")
      .filter(col("d_bucket").isin(db: _*))
      .join(ids.select(col("id").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col("k"), col("mh"))
    bandRows(docSigs, idCol, bands, r, idxBuckets).localCheckpoint(true)
  }

  /** The band-index merge — the one law of [[mergeIntoBandIndex]] and
    * [[ingestBatchIntoStore]]: the docs' current band `rows` are
    * union-distinct-merged into the index's touched `bb_bucket`s and
    * into the inventory's doc buckets `db`
    * (after the merge the docs own old ∪ fresh rows in the index —
    * recorded exactly so, so a later repair or forget finds the old rows
    * without a corpus scan). Both rewrites join the open commit; each
    * partitions on its bucket before the distinct, so distinct and
    * staged write share one exchange. Returns the touched index
    * buckets. */
  private def rewriteBandIndex(spark: SparkSession, path: String,
                               buckets: Int, db: Seq[Int],
                               rows: DataFrame): Seq[Int] = {
    val touched = distinctInts(rows.select(col("bb_bucket")))
    if (touched.nonEmpty) {
      val slice = StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
        .filter(col("bb_bucket").isin(touched: _*))
        .select(col("id"), col("band"), col("bsig"), col("bb_bucket"))
      StoreSwap.stagedRewrite(spark, path, "bb_bucket", touched,
        slice.unionByName(rows).repartition(col("bb_bucket")).distinct(),
        Seq(col("band"), col("bsig"), col("id")), "bands")
      val invSlice = StoreSwap.snapshot(spark, path).read("bands_inv", "d_bucket")
        .filter(col("d_bucket").isin(db: _*))
        .select(col("id"), col("band"), col("bsig"), col("bb_bucket"))
      StoreSwap.stagedRewrite(spark, path, "d_bucket", db,
        invSlice.unionByName(rows)
          .withColumn("d_bucket", docBucket(col("id"), buckets))
          .repartition(col("d_bucket")).distinct(),
        Seq(col("id"), col("band")), "bands_inv")
    }
    touched
  }

  /** Absorb docs into the band index AFTER their
    * [[mergeIntoSignatureStore]]: their current (post-MIN-merge) band
    * rows are union-distinct-merged into the touched `bb_bucket`s via
    * a staged rewrite. Re-ingesting identical text is
    * idempotent (identical rows collapse in the distinct). A re-ingest
    * that CHANGED a doc's signature leaves its old band rows stale —
    * stale rows cost false candidates that the judge's exact
    * verification discards, never wrong results — and the band
    * inventory records them, so [[reindexDocsInBandIndex]] clears them
    * doc-footprint (no [[writeBandIndex]] rebuild needed). Returns
    * touched buckets. */
  def mergeIntoBandIndex(spark: SparkSession, path: String,
                         docIds: DataFrame,
                         idCol: String): Seq[Int] = StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.snapshot(spark, path).bucketCount
    val ids = docIds.select(col(idCol).as("id")).distinct()
    val db = distinctInts(ids.select(docBucket(col("id"), buckets)))
    rewriteBandIndex(spark, path, buckets, db,
      bandRowsForDocs(spark, path, ids, idCol, db,
        bandLayout(StoreSwap.snapshot(spark, path), path)))
  }

  /** Drop docs from the band index. The docs' rows (INCLUDING stale
    * ones from signature-changing re-ingests) are found through the
    * band inventory's rows in their own d_buckets, so this needs no
    * signature and may run before or after
    * [[forgetDocsFromSignatureStore]]. Returns rows removed. */
  def forgetFromBandIndex(spark: SparkSession, path: String,
                          docIds: DataFrame,
                          idCol: String): Long = StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.snapshot(spark, path).bucketCount
    val ids = docIds.select(col(idCol).as("id")).distinct()
    val db = distinctInts(ids.select(docBucket(col("id"), buckets)))
    val touched = distinctInts(invRowsForDocs(spark, path, ids, db)
      .select(col("bb_bucket")))
    if (touched.isEmpty) return 0L
    val slice = StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
      .filter(col("bb_bucket").isin(touched: _*))
    val kept = slice.join(ids, Seq("id"), "left_anti")
    val before = slice.count()
    val removed = before - StoreSwap.stagedRewrite(spark, path,
      "bb_bucket", touched, kept,
      Seq(col("band"), col("bsig"), col("id")), "bands")
    // drop the docs' inventory rows too, in the same commit
    val invKept = StoreSwap.snapshot(spark, path).read("bands_inv", "d_bucket")
      .filter(col("d_bucket").isin(db: _*))
      .join(ids, Seq("id"), "left_anti")
    StoreSwap.stagedRewrite(spark, path, "d_bucket", db, invKept,
      Seq(col("id"), col("band")), "bands_inv")
    removed
  }

  /** TARGETED REPAIR for docs whose signature changed since their last
    * index merge — the operation that retires the full
    * [[writeBandIndex]] rebuild as the only stale-row remedy (on a
    * 100 TB store the rebuild was the one corpus-scale op in an
    * otherwise delta-footprint lifecycle). The docs' OLD rows come from
    * the band inventory (their own d_buckets — no scan); rows the
    * current signatures no longer produce are anti-joined OUT of their
    * index buckets, the fresh rows are union-merged in, and the
    * inventory is reset to exactly the fresh rows, in one commit.
    * Cost tracks
    * the docs' band footprint (old ∪ new buckets), never the corpus.
    * Returns the number of stale rows removed. */
  def reindexDocsInBandIndex(spark: SparkSession, path: String,
                             docIds: DataFrame,
                             idCol: String): Long = StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.snapshot(spark, path).bucketCount
    val ids = docIds.select(col(idCol).as("id")).distinct()
    val db = distinctInts(ids.select(docBucket(col("id"), buckets)))
    val fresh = bandRowsForDocs(spark, path, ids, idCol, db,
      bandLayout(StoreSwap.snapshot(spark, path), path))
    val stale = invRowsForDocs(spark, path, ids, db)
      .join(fresh.select(col("id"), col("band"), col("bsig")),
        Seq("id", "band", "bsig"), "left_anti")
      .localCheckpoint(true)
    val touched = distinctInts(stale.select(col("bb_bucket"))
      .unionByName(fresh.select(col("bb_bucket"))))
    if (touched.isEmpty) return 0L
    val nStale = stale.count()
    val slice = StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
      .filter(col("bb_bucket").isin(touched: _*))
    val kept = slice
      .join(stale.select(col("id"), col("band"), col("bsig")),
        Seq("id", "band", "bsig"), "left_anti")
    val merged = kept.select(col("id"), col("band"), col("bsig"),
        col("bb_bucket"))
      .unionByName(fresh).distinct()
    StoreSwap.stagedRewrite(spark, path, "bb_bucket", touched, merged,
      Seq(col("band"), col("bsig"), col("id")), "bands")
    // inventory := exactly the fresh rows for these docs
    val invKept = StoreSwap.snapshot(spark, path).read("bands_inv", "d_bucket")
      .filter(col("d_bucket").isin(db: _*))
      .select(col("id"), col("band"), col("bsig"), col("bb_bucket"))
      .join(ids, Seq("id"), "left_anti")
    val invNew = invKept.unionByName(fresh)
      .withColumn("d_bucket", docBucket(col("id"), buckets))
    StoreSwap.stagedRewrite(spark, path, "d_bucket", db, invNew,
      Seq(col("id"), col("band")), "bands_inv")
    nStale
  }

  /** Judge a delta batch against the standing corpus THROUGH the band
    * index — the text twin of the embedding store's
    * `semDedupIncrementalStore`: the delta's signatures are computed
    * fresh (same portable arithmetic the store was built with), its
    * band values prune the index read to their `bb_bucket`s, candidates
    * are the (standing, delta) pairs colliding in ≥1 band, and only
    * candidates pay exact verification — distinct-shingle-hash Jaccard,
    * engine-exact at the [[polyHash]] level so the oracle replays
    * signatures, banding, candidates, AND the verdicts.
    *
    * Standing-side verification reads: with the shingle sidecar present
    * ([[writeShingleSidecar]]), the candidate docs' hash sets come from
    * their OWN `d_bucket` dirs — per batch the standing side costs a
    * band-pruned index read plus a doc-bucket-pruned sidecar read,
    * never a corpus rescan, and `standingDocs` is ignored (pass the
    * corpus relation for sidecar-less stores only, where verification
    * falls back to deriving shingles from its text — a corpus-footprint
    * scan per batch). A candidate doc absent from the sidecar fails
    * fast rather than silently dropping its verdicts.
    * Returns (id_a = standing, id_b = delta, jaccard ≥ threshold). */
  def lshJudgeStore(spark: SparkSession, path: String,
                    standingDocs: DataFrame, delta: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    numHashes: Int = 16, seed: Long = 7L,
                    threshold: Double = 0.5,
                    asOf: Option[Int] = None): DataFrame = {
    // resolved first: a version outside the retained window fails here
    // with the retention message
    val snap = StoreSwap.snapshot(spark, path, asOf)
    val sidecarPresent = snap.exists("shingles")
    // every layout constant and dataDir resolves from the ONE manifest
    // the read pins: the PINNED one on historical replays (a post-pin
    // rebuild may have changed them), the current one live
    val buckets = snap.bucketCount
    val (bands, r, idxBuckets) = bandLayout(snap, path)
    require(bands * r == numHashes, "band geometry must match the store")
    def storeDir(dataDir: String, partCol: String): DataFrame =
      snap.read(dataDir, partCol)
    if (asOf.isDefined) require(sidecarPresent,
      s"$path has no shingle sidecar at version ${asOf.get} - historical" +
        " judgment has no text fallback (the corpus text of that moment" +
        " is gone); only sidecar-carrying versions replay")
    if (sidecarPresent) {
      val sn = shingleWidth(snap, path)
      require(sn == n,
        s"shingle width n=$n must match the sidecar's (n=$sn)")
    }
    // THE DELTA, read ONCE for every chunk into one row per doc with a
    // signature (a doc without shingles can collide with nothing): its
    // distinct shingle set and signature ([[docShingleSets]], the
    // ingest's form) - the delta's whole footprint; its band rows and
    // shingle sets are projections of this one checkpoint, so a chunk
    // costs only its own store reads and joins, not a re-derivation of
    // the delta (the round-13 probe measured per-chunk re-derivation at
    // ~4 s fixed cost x chunk count before this hoist)
    val dDocs = docShingleSets(delta, idCol, textCol, buckets, Seq(n))
      .filter(size(col(s"xs$n")) > 0) // the docs that have a signature
      .withColumn("sig",
        signatureOf(col(s"xs$n"), minhashCoefs(numHashes, seed)))
      .select(col("id").as("d_id"), col(s"xs$n").as("d_xs"), col("sig"))
      .localCheckpoint(true) // bounded: |delta| rows
    val dRowsAll = bandRowsOfSigs(
        dDocs.select(col("d_id").as("id"), col("sig")), bands, r, idxBuckets)
      .withColumnRenamed("id", "d_id")
    val dSetsAll = dDocs.select(col("d_id"), col("d_xs"))
    // sidecar-less fallback: the standing corpus' shingle hashes,
    // derived from text - corpus-footprint, shared by every chunk (lazy;
    // each chunk semi-joins its own candidates against it)
    lazy val standingSh = shinglePolyHashes(standingDocs, idCol, textCol, n)
      .withColumnRenamed("id", "s_id")
    // DELTA-BATCH CHUNKING, the text twin of the PQ search's: the
    // delta's band rows are the broadcast side of the candidate join,
    // so an unbounded batch (1M docs x bands rows) would blow the
    // broadcast budget. Judgments are per-delta-doc independent, so
    // hash-chunking the delta and unioning the per-chunk results is
    // exact; each chunk executes eagerly (one broadcast alive at a
    // time) and prunes its own index buckets. Budget from
    // `graft.lsh.maxBroadcastMb` (default 64) at ~112 bytes per band
    // row.
    val targetBytes = math.max(1.0,
      GraftConf.LshMaxBroadcastMb(spark) * 1024 * 1024)
    val nDelta = dDocs.rdd.count()
    // one chunk unless the budget forces more: chunking to keep each
    // chunk's band-signature and candidate-id lists under [[PushdownCap]]
    // was MEASURED AND REJECTED (round 13, BandIndexProbe at 500k docs:
    // 500-doc deltas 18.8 s in 4 pushdown chunks vs 8.3 s unchunked,
    // 5000-doc deltas 95 s in 40 chunks vs 8.1 s) - per-chunk fixed cost
    // dwarfs the page-skip win, and the unpruned slice scan amortizes
    val chunks = math.max(1L,
      math.ceil(nDelta.toDouble * bands * 112L / targetBytes).toLong).toInt
    def slice(dRows: DataFrame, dSets: DataFrame): DataFrame =
      lshJudgeSlice(spark, path, dRows, dSets, standingSh, sidecarPresent,
        buckets, threshold, storeDir)
    if (chunks == 1) slice(dRowsAll, dSetsAll)
    else
      (0 until chunks).map { i =>
        val in = pmod(xxhash64(col("d_id")), lit(chunks.toLong)) === i
        slice(dRowsAll.filter(in), dSetsAll.filter(in))
          .localCheckpoint(true) // run now; free this chunk's broadcast
      }.reduce(_ unionByName _)
  }

  /** HISTORICAL JUDGMENT REPLAY: judge `delta` against the store AS OF
    * retained version `version` - the band index AND the shingle
    * sidecar resolve from the SAME pinned manifest, so the verdicts are
    * bit-exactly what [[lshJudgeStore]] returned when that version was
    * live. Audits, incident replay,
    * "what would yesterday's corpus have said about this batch". */
  def lshJudgeStoreAt(spark: SparkSession, path: String,
                      delta: DataFrame, idCol: String, textCol: String,
                      version: Int, n: Int = 3, numHashes: Int = 16,
                      seed: Long = 7L,
                      threshold: Double = 0.5): DataFrame =
    lshJudgeStore(spark, path,
      standingDocs = delta.limit(0), // sidecar is required at the pinned
                                     // version; no text fallback
      delta, idCol, textCol, n, numHashes, seed, threshold,
      asOf = Some(version))

  /** One bounded-broadcast slice of the store judgment, over the
    * PRE-COMPUTED delta relations (band rows + per-doc shingle sets) - a
    * chunk pays only its own store reads and joins. */
  private def lshJudgeSlice(spark: SparkSession, path: String,
                            dRows: DataFrame, dSets: DataFrame,
                            standingSh: => DataFrame,
                            sidecarPresent: Boolean, buckets: Int,
                            threshold: Double,
                            storeDir: (String, String) => DataFrame): DataFrame = {
    // the delta's index buckets and band signatures, in one job: the
    // chunk's band rows are broadcast below, so they fit on the driver
    val dBands = dRows.select(col("bb_bucket"), col("bsig")).collect()
    val touched = dBands.map(_.getInt(0)).distinct.sorted.toSeq
    val dSigVals = dBands.map(_.getLong(1)).distinct.toSeq
    // same two pruning rungs as the sidecar read below: bucket dirs
    // always, plus the delta's band-signature list pushed into the
    // scan when it fits [[PushdownCap]] - the index files are
    // (band, bsig)-sorted within each bucket, so page stats skip
    // non-colliding rows instead of scanning the full standing index.
    // Beyond the cap (a 4000-value OR chain overflowed the parquet
    // evaluator's stack; splitting per band into 8 unioned scans paid
    // more in scan setup than it pruned) the single unpruned scan
    // stands for THIS chunk, and a large delta amortizes it.
    val idx0 = storeDir("bands", "bb_bucket")
      .filter(col("bb_bucket").isin(touched: _*))
    val idx = if (dSigVals.length <= PushdownCap)
      idx0.filter(col("bsig").isin(dSigVals: _*)) else idx0
    val cand = idx.join(broadcast(dRows), Seq("band", "bsig"))
      .filter(col("id") =!= col("d_id"))
      .select(col("id").as("s_id"), col("d_id")).distinct()
      .localCheckpoint(true) // candidate pairs - read 2-3x below
    // the candidate DOCS: their doc buckets and, while they fit
    // [[PushdownCap]], their ids - one job, a per-partition distinct
    // merged on the driver
    val (db, candIds) = {
      val parts = cand.select(col("s_id")).rdd.mapPartitions { rows =>
        val ids = scala.collection.mutable.Set.empty[Long]
        val bs = scala.collection.mutable.Set.empty[Int]
        rows.foreach { row =>
          val id = row.getLong(0)
          bs += Math.floorMod(id, buckets.toLong).toInt
          if (ids.size <= PushdownCap) ids += id
        }
        Iterator((bs.toSet, ids.toSet))
      }.collect()
      val ids = parts.flatMap(_._2).distinct
      (parts.flatMap(_._1).distinct.sorted.toSeq,
        if (ids.length <= PushdownCap) Some(ids.toSeq) else None)
    }
    lazy val sIds = cand.select(col("s_id")).distinct()
    // exact verification at the polyHash level (oracle-exact even under
    // 31-bit hash collisions - both engines count the same x values):
    // each candidate doc's distinct shingle set, one row per doc
    val sSh = if (sidecarPresent) {
      // DOC-FOOTPRINT verification: candidate docs' hash sets from their
      // own sidecar buckets - the standing corpus text never opens.
      // Two pruning rungs: directory-level (the candidates' d_buckets)
      // always; and - when the candidate set is bounded - the ids
      // PUSHED DOWN into the parquet scan itself, where the id-sorted
      // files' page stats skip non-candidate pages (dir pruning alone
      // goes blind once candidates outnumber buckets, and a broadcast
      // semi-join filters rows only AFTER they are read). The literal
      // id list is bounded by [[PushdownCap]] (the parquet OR-chain
      // depth limit - see the index read above); beyond it the
      // semi-join path keeps correctness and the bucket count carries
      // the pruning. Sessions must raise
      // spark.sql.parquet.pushdown.inFilterThreshold (default 10) to
      // the cap so the IN list actually reaches the parquet reader as
      // OR-of-equals rather than a min/max range.
      val base = storeDir("shingles", "d_bucket")
        .filter(col("d_bucket").isin(db: _*))
      (candIds match {
        case Some(ids) => base.filter(col("id").isin(ids: _*))
        case None => base.join(sIds.withColumnRenamed("s_id", "id"),
          Seq("id"), "left_semi")
      }).select(col("id").as("s_id"), col("x"))
    } else standingSh.join(sIds, Seq("s_id"), "left_semi")
    val sSets = sSh.groupBy(col("s_id")).agg(collect_list(col("x")).as("s_xs"))
      .localCheckpoint(true) // candidate docs' sets - read twice
    // an incomplete sidecar must fail, not silently drop verdicts (the
    // inner join below would). Candidate-bounded job.
    if (sidecarPresent) {
      val nMissing = candIds match {
        case Some(ids) => ids.length - sSets.rdd.count()
        case None => sIds.join(sSets.select(col("s_id")), Seq("s_id"),
          "left_anti").count()
      }
      if (nMissing > 0) sys.error(
        s"$nMissing candidate doc(s) have no shingle sidecar rows under" +
          s" $path/shingles - the sidecar is incomplete; merge the" +
          " missing docs with mergeShinglesIntoStore (or rebuild with" +
          " writeShingleSidecar) before judging")
    }
    // |S ∩ D| of two distinct sets, and the sets' sizes: the pair's
    // shared-shingle count and per-doc counts
    val common = size(array_intersect(col("s_xs"), col("d_xs")))
    cand.join(sSets, "s_id").join(broadcast(dSets), "d_id")
      .filter(common > 0)
      .withColumn("jaccard", common.cast("double") /
        (size(col("s_xs")) + size(col("d_xs")) - common).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("s_id").as("id_a"), col("d_id").as("id_b"),
        col("jaccard"))
  }

  /** Incremental-ingest novelty scoring: measure each newly arrived
    * document of `batch` against the already-ingested `corpus` — the
    * continuous-refresh twin of the whole-corpus dedup family. The
    * reference's equivalent is delete-before-insert reprocessing of a
    * redo file (/root/reference/Wrap.pm:146-177); a training-data
    * pipeline instead asks "is this document, or how much of it, already
    * in the corpus?" before admitting it.
    *
    * Two signals per batch doc, both equi-join shapes that scale out:
    *   - `exact_dup`: the document's normalized-text fingerprint exists
    *     in the corpus (hash semi-join — batch side is the small side of
    *     a broadcast when batches are bounded);
    *   - line-level novelty: the fraction of the doc's DISTINCT lines
    *     not present anywhere in the corpus (line-hash semi-join on
    *     md5, the [[lineDedup]] relation reused cross-corpus).
    *
    * Every batch row is scored: a NULL-text doc (explode of a null split
    * yields no line rows) still survives the LEFT join to its line stats
    * with n_lines = n_seen = 0. Note an empty-string doc is NOT the same
    * case — `split("", "\n")` yields `[""]`, so it scores n_lines = 1.
    *
    * @return (idCol, exact_dup, n_lines, n_seen, novelty) — novelty is
    *         (n_lines − n_seen) / n_lines; null when n_lines = 0
    *         (NULL-text docs, where no line evidence exists).
    */
  def noveltyScore(corpus: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val corpusFps = corpus
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    val corpusLines = corpus
      .select(explode(split(col(textCol), "\n")).as("line"))
      .select(md5(col("line")).as("lh")).distinct()
    val batchLines = batch
      .select(col(idCol).as("id"), explode(split(col(textCol), "\n")).as("line"))
      .select(col("id"), md5(col("line")).as("lh")).distinct()
    val lineStats = batchLines
      .join(corpusLines.withColumn("seen", lit(1)), Seq("lh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        count(col("seen")).as("n_seen"))
    batch.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(corpusFps.withColumn("dup", lit(1)), Seq("fp"), "left")
      .join(lineStats, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("dup").isNotNull.as("exact_dup"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_lines"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise((col("n_lines") - col("n_seen")).cast("double") / col("n_lines"))
          .as("novelty"))
  }
}
