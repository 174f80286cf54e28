package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Lineage.CutOps

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query set
  * against a full scan of the corpus (linear, embarrassingly parallel; the
  * right choice when the query set is small).
  *
  * Scale path: IVF — a coarse quantizer assigns every vector to a cluster;
  * queries probe only their own cluster(s), cutting the scanned fraction to
  * ~1/nlist. Here the cluster id is a provided column (the `label` of the
  * embeddings table plays the role of the quantizer assignment); at 100 TB
  * the corpus would also be physically partitioned by cluster so a probe
  * prunes parquet partitions instead of scanning them.
  *
  * All arithmetic is double-precision left-to-right folds (deterministic,
  * engine-exact).
  */
object Similarity {

  /** Sequential-fold dot product in double precision — the codegen'd
    * [[graft.plans.VecFold]] primitive loop (bit-identical to the
    * declarative `aggregate(zip_with(...))` fold it replaced, which
    * evaluated interpreted per element on every scored pair). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.VecFold(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b),
      squared = false))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The exact verify step of every cosine top-k entry. The entries differ
    * only in their candidate generator — all pairs, own cluster, probe
    * list, two-level probe list, LSH bucket, store probe — which joins
    * queries (query_id, qv) to corpus rows (neighbor_id, cv) into
    * `pairs`. Self-matches are dropped, each pair is scored by [[cosine]]
    * and ranked per query by (cos desc, neighbor_id) through
    * [[OrderStats.topKPer]]. Returns (query_id, neighbor_id, cos, rank). */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    OrderStats.topKPer(
        pairs.filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos", cosine(col("qv"), col("cv"))),
        col("query_id"), k)(col("cos").desc, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))

  /** The query side of the probe-list generators: (query_id, qv) with one
    * row per probed cluster `qc` of `probes(qv)`. */
  private def probeRows(queries: DataFrame, idCol: String, vecCol: String,
                        probes: Column => Column): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qc", explode(probes(col("qv"))))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-match excluded), deterministic tie-break on neighbor id.
    * `queries` and `corpus` need (idCol, vecCol). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    cosineTopK(c.crossJoin(broadcast(q)), k)
  }

  /** IVF-style probe: restrict the scan to the query's own cluster
    * (`clusterCol` = coarse-quantizer assignment). Same output contract as
    * [[bruteForceTopK]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, clusterCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(clusterCol).as("qc"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(clusterCol).as("cc"))
    cosineTopK(c.join(broadcast(q), col("qc") === col("cc")), k)
  }

  /** Cluster-blocked k-NN graph: within each coarse cluster, every
    * vector's top-k cosine neighbors, plus how many of those edges are
    * MUTUAL (both endpoints list each other — the symmetrized graph that
    * mutual-kNN clustering and SNN-dedup build on). Output one row per
    * vector: (vec_id, cluster, n_scored, mutual_degree, top_neighbor,
    * top_cos).
    *
    * Scale shape: the all-pairs comparison is blocked by the cluster
    * equi-join — cost is Σ cluster² not N², the same quadratic-collapse
    * trick as the IVF probe and SemDeDup — and the mutuality check is a
    * LEFT SEMI self-join of the (N·k)-row top-k relation on reversed
    * endpoints, never a join back to the vectors. At 100 TB the corpus
    * would be physically partitioned by cluster, making each per-cluster
    * block a partition-local computation. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               clusterCol: String, k: Int): DataFrame = {
    val a = emb.select(col(idCol).as("src"), col(vecCol).as("av"),
      col(clusterCol).as("cluster"))
    val b = emb.select(col(idCol).as("dst"), col(vecCol).as("bv"),
      col(clusterCol).as("cluster"))
    // the top-k relation is read three times below (both sides of the
    // mutuality semi-join + the per-vector aggregate); without a cut
    // the Σ|cluster|² pair scan + window re-executes per reference —
    // plan-cut the N·k rows (bounded, tiny vs the pair space). With the
    // default checkpoint cut under AQE the pair scan runs at plan
    // construction (bench `prepare`), and the static plan below the cut
    // is a Scan ExistingRDD stub — PlanAudit audits this subtree with
    // graft.plan.cuts=off so the blocked-join property stays checked
    // for real (see [[Lineage]]).
    val topk = OrderStats.topKPer(
        a.join(b, "cluster")
          .filter(col("src") =!= col("dst"))
          .withColumn("cos", cosine(col("av"), col("bv"))),
        col("src"), k)(col("cos").desc, col("dst"))
      .select(col("src"), col("cluster"), col("dst"), col("cos"), col("rank"))
      .planCut
    val reversed = topk.select(col("dst").as("src"), col("src").as("dst"))
    val mutual = topk.join(reversed, Seq("src", "dst"), "left_semi")
      .groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("mutual_degree"))
    val perVec = topk.groupBy(col("src"), col("cluster"))
      .agg(
        count(lit(1)).cast("long").as("n_scored"),
        max(struct(col("cos"), (-col("dst")).as("nid"))).as("best"))
      .join(mutual, Seq("src"), "left")
    // one row per INPUT vector: a vector alone in its cluster has no
    // scored pairs, but silently dropping it would lose exactly the rows
    // a low-connectivity filter wants to see — left join back from the
    // full id relation, zero degrees, null neighbor
    a.select(col("src"), col("cluster"))
      .join(perVec.drop("cluster"), Seq("src"), "left")
      .select(col("src").as("vec_id"), col("cluster"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"),
        (-col("best.nid")).as("top_neighbor"),
        col("best.cos").as("top_cos"))
  }

  /** Brute-force top-k over int8-QUANTIZED vectors ([[quantizeInt8]]) —
    * the memory-bandwidth-saving variant a billion-scale scan would run.
    * The per-vector scales cancel out of the cosine, so the quantized
    * score is `dot_int(qa, qb) / sqrt(n2a · n2b)` — INTEGER dot products
    * and squared norms (≤ dim·127² each, exact in a Long and in the
    * double the final division sees), making the ranking engine-exact
    * and the oracle a bit-for-bit replay. Same output contract as
    * [[bruteForceTopK]] with `cos` replaced by `qcos`. */
  def quantTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    def intDot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => (p * q).cast("long")),
        lit(0L), (acc, v) => acc + v)
    def intNorm2(x: Column): Column =
      aggregate(x, lit(0L), (acc, v) => acc + (v * v).cast("long"))
    val q = quantizeInt8(queries, vecCol)
      .select(col(idCol).as("query_id"), col("q_vec").as("qa"))
    val c = quantizeInt8(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("q_vec").as("qb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos",
        intDot(col("qa"), col("qb")).cast("double") /
          sqrt((intNorm2(col("qa")) * intNorm2(col("qb"))).cast("double")))
    OrderStats.topKPer(scored, col("query_id"), k)(
        col("qcos").desc, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qcos"), col("rank"))
  }

  /** Squared L2 distance as a deterministic left fold (codegen'd
    * [[graft.plans.VecFold]], bit-identical to the declarative fold). */
  def squaredDist(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.VecFold(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b),
      squared = true))
  }

  /** Nearest-centroid assignment — a native codegen'd argmin
    * ([[graft.plans.NearestCentroid]]): one primitive loop over k×dim
    * doubles per row, bit-identical to the declarative
    * transform+array_min formulation it replaced (same left-fold
    * distances, first index on ties) but without an interpreted lambda
    * per centroid — the difference between 4.5 s and ~0.1 s for 900
    * rows at k = 4000, and the inner loop of every training pass. */
  def assignCluster(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.NearestCentroid(
      GraftColumnBridge.expression(vec), centroids))
  }

  /** Deterministic k-means++-style seeding by farthest-first traversal:
    * the first seed is the lowest-id vector; each next seed is the vector
    * maximizing the distance to its nearest already-chosen seed (ties →
    * lowest id). The spread-out property is what k-means++'s D² sampling
    * buys, made reproducible by dropping the randomness. Each of the k-1
    * rounds is ONE distributed top-1 job (per-partition max, merge on the
    * driver — `TakeOrderedAndProject`, no full sort), so seeding 100 TB
    * costs k scans, and only the k×dim codebook touches the driver.
    *
    * The nearest-seed distance is maintained as a MATERIALIZED running
    * min: each round folds only the NEWEST seed into `dmin` (one
    * distance evaluation per row per round), and the lineage is
    * truncated every `checkpointEvery` seeds so round i never replays
    * rounds 1..i-1 — O(k) total distance folds per row instead of the
    * O(k²) a re-`least`ed seed list costs (measured linear at k=64 by
    * SeedScaleProbe). `least` is an exact left fold either way, so the
    * seeds — and every gate consuming them (q176) — are bit-identical
    * to the unmaterialized formulation. */
  def seedFarthestFirst(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, checkpointEvery: Int = 16): Seq[Seq[Double]] = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toSeq
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents = Seq(vecOf(base.orderBy(col("id")).limit(1).collect().head))
    var state = base.withColumn("dmin",
      squaredDist(col("v"), typedlit(cents.head)))
    var sinceCheckpoint = 0
    while (cents.length < k) {
      val next = state.orderBy(col("dmin").desc, col("id"))
        .limit(1).collect().head
      val nv = vecOf(next)
      cents :+= nv
      state = state.withColumn("dmin",
        least(col("dmin"), squaredDist(col("v"), typedlit(nv))))
      sinceCheckpoint += 1
      if (sinceCheckpoint >= checkpointEvery && cents.length < k) {
        state = state.localCheckpoint()
        sinceCheckpoint = 0
      }
    }
    cents
  }

  /** Deterministic distributed k-means — the coarse-quantizer trainer IVF
    * needs when no cluster column exists. Assignment and the per-cluster
    * mean are DataFrame programs (one shuffle on (cluster, pos) per
    * iteration); only the k×dim codebook itself lands on the driver, which
    * is model state, not data. Initial centroids = `init` if given (e.g.
    * [[seedFarthestFirst]]), else the k lowest-id vectors (both
    * reproducible). Empty clusters keep their previous centroid.
    *
    * Means use the [[labelCentroidRows]] fixed-point trick
    * (`round(v·2^scaleBits)` summed as longs): long addition is
    * associative, so the distributed sum — and with it the whole trained
    * codebook — is bit-identical under any partitioning AND exactly
    * replayable by a SQL oracle (q168/q169 replay the full train →
    * assign → dedup/graph path value-for-value). Quantization error per
    * component is ≤ 2^-(scaleBits+1), immaterial for a coarse
    * quantizer. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 5,
                     init: Option[Seq[Seq[Double]]] = None,
                     scaleBits: Int = 20): Seq[Seq[Double]] = {
    val q = (1L << scaleBits).toDouble
    var cents: Seq[Seq[Double]] = init.getOrElse(
      corpus.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toSeq)
        .toSeq)
    require(cents.length == k, s"init must provide $k centroids, got ${cents.length}")
    for (_ <- 1 to iters) {
      val updated = corpus
        .withColumn("__c", assignCluster(col(vecCol), cents))
        .select(col("__c"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
        .groupBy(col("__c"), col("pos"))
        .agg(sum(round(col("v") * lit(q)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / r.getLong(3).toDouble / q).toSeq
        }
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    cents
  }

  /** The query's `nProbe` nearest centroid ids (deterministic: distance,
    * then index, ascending) — multi-probe IVF's probe list. */
  def probeClusters(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    val dists = transform(typedlit(centroids), c => squaredDist(vec, c))
    val zipped = zip_with(dists,
      typedlit(centroids.indices.map(_.toLong)),
      (d, i) => struct(d.as("d"), i.as("i")))
    transform(slice(array_sort(zipped), 1, nProbe), s => s.getField("i").cast("int"))
  }

  /** Multi-probe IVF: the corpus is quantized once (nearest centroid);
    * each query probes its `nProbe` nearest clusters instead of one —
    * the standard recall/cost dial of IVF indexes. Still a pure cluster
    * equi-join (query probe list exploded, corpus side untouched), so the
    * scanned fraction is ~nProbe/nlist and a physically cluster-partitioned
    * corpus prunes partitions per probe. nProbe = nlist degenerates to
    * exact brute force.
    *
    * Caveat: pass `queries` and `corpus` built from INDEPENDENT reads
    * (two `spark.read` calls is enough). When both derive from one
    * parquet plan, Catalyst's self-join dedup re-aliases one side and
    * can drop the attribute the probe-list lambda still references —
    * a runtime `BindReferences` internal error (hit by the q171 gate,
    * round 8). */
  def ivfTopKMultiProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, nlist: Int, nProbe: Int,
                        iters: Int = 5): DataFrame = {
    require(nProbe >= 1 && nProbe <= nlist, "need 1 <= nProbe <= nlist")
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    val q = probeRows(queries, idCol, vecCol,
      probeClusters(_, cents, nProbe))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cc", assignCluster(col("cv"), cents))
    cosineTopK(c.join(broadcast(q), col("qc") === col("cc")), k)
  }

  /** IVF with a *learned* quantizer: train the codebook, assign corpus and
    * queries to their nearest centroid, then probe within the cluster —
    * [[ivfTopK]] without requiring a provided cluster column. At 100 TB
    * the assignment would be written once and the corpus physically
    * partitioned by it, so probes prune parquet partitions. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, nlist: Int,
                     iters: Int = 5): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    ivfTopK(
      queries.withColumn("__cluster", assignCluster(col(vecCol), cents)),
      corpus.withColumn("__cluster", assignCluster(col(vecCol), cents)),
      idCol, vecCol, "__cluster", k)
  }

  /** Deterministic ±1 hyperplanes for [[lshTopK]] — also consumed by the
    * oracle-SQL generator so both engines project against the same planes. */
  def hyperplanes(dim: Int, numBits: Int, seed: Long): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space member of
    * the dedup family (exact / n-gram / minhash / simhash live in
    * [[Dedup]]). Banded random-hyperplane LSH generates candidates: each
    * vector gets one bucket per band (signs of `bitsPerBand` seeded ±1
    * projections), candidates are pairs colliding in at least one band, and
    * the exact left-fold cosine then verifies every candidate against
    * `minCos`. No all-pairs join anywhere: the only join is the per-band
    * bucket equi-join, so at 100 TB the cost is bounded by bucket sizes
    * (tune `bands`/`bitsPerBand` for the recall/cost point; sign-projection
    * buckets are scale-invariant, so exact-direction duplicates collide in
    * every band — recall 1.0 for true copies). Pairs colliding in several
    * bands are deduplicated on (id_a, id_b) before scoring so each pair is
    * scored once. */
  def embedNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bands: Int, bitsPerBand: Int,
                        minCos: Double, seed: Long = 42L): DataFrame = {
    require(bands >= 1, s"embedNearDupPairs: bands must be >= 1, got $bands")
    require(bitsPerBand >= 1,
      s"embedNearDupPairs: bitsPerBand must be >= 1, got $bitsPerBand")
    val planes = hyperplanes(dim, bands * bitsPerBand, seed)
    def bandBucket(vec: Column, band: Int): Column =
      (0 until bitsPerBand).map { bi =>
        val plane = planes(band * bitsPerBand + bi)
        val proj = dot(vec, typedlit(plane))
        when(proj > 0, lit(1L << bi)).otherwise(lit(0L))
      }.reduce(_ + _)
    // projections and the vector norm are computed ONCE per vector and
    // cached: the self-join would otherwise re-run the 32 interpreted
    // higher-order folds on both sides, and the verify stage would redo
    // both norms per candidate pair (same shared-relation discipline as
    // the shingle cache in [[Dedup.minhashLshPairs]])
    val banded = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"), norm(col("v")).as("nrm"),
        array((0 until bands).map(b => bandBucket(col("v"), b)): _*).as("bks"))
      .select(col("id"), col("v"), col("nrm"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
      .cache()
    // emit-once: a pair colliding in several bands surfaces only at its
    // first colliding band ([[Dedup.firstCollisionOnly]]) — no distinct
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") &&
          Dedup.firstCollisionOnly(col("a.bks"), col("b.bks"), col("a.band")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("qv"), col("b.v").as("cv"),
        col("a.nrm").as("nrm_a"), col("b.nrm").as("nrm_b"))
    cand.withColumn("cos", dot(col("qv"), col("cv")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Random-hyperplane LSH bucketing: `numBits` sign-projections against
    * deterministic ±1 hyperplanes (seeded), giving a bucket id; near
    * neighbors collide with high probability. Candidates are then scored
    * exactly within buckets — the scan cost drops to the bucket size. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, dim: Int, numBits: Int, k: Int,
              seed: Long = 42L): DataFrame = {
    require(numBits >= 1, s"lshTopK: numBits must be >= 1, got $numBits")
    // hyperplane p = vector of ±1; bucket bit p = sign(dot(v, plane))
    val planes: Seq[Seq[Int]] = hyperplanes(dim, numBits, seed)
    def bucket(vec: Column): Column = {
      val bits = planes.zipWithIndex.map { case (plane, bi) =>
        val proj = dot(vec, typedlit(plane))
        when(proj > 0, lit(1L) * lit(1L << bi)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", bucket(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("bucket", bucket(col("cv")))
    cosineTopK(c.join(broadcast(q), "bucket"), k)
  }

  /** The distributed relation behind [[labelCentroids]] — exposed so the
    * plan audit can assert the bounded-buffer shape (partial integer
    * sums, no `collect_list`). Each component is summed in fixed-point
    * (`round(v · 2^scaleBits)` as a long) — integer addition is
    * associative, so the map-side-combined distributed sum is
    * bit-identical regardless of partitioning and exactly replayable in
    * SQL, with a CONSTANT aggregation buffer (one long + one count per
    * (label, pos)). This replaces the earlier `sort_array(collect_list)`
    * formulation, whose per-group buffer materialized every member
    * value — a reducer OOM when a cluster runs to billions of rows.
    * Quantization error is ≤ 2^-(scaleBits+1) per component —
    * immaterial for a codebook that only steers cluster assignment. */
  def labelCentroidRows(corpus: DataFrame, labelCol: String,
                        vecCol: String, scaleBits: Int): DataFrame = {
    val q = (1L << scaleBits).toDouble
    corpus
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v").cast("double") * lit(q)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s").cast("double") / col("n").cast("double") / lit(q)).as("c"))
  }

  /** Per-label mean vectors via [[labelCentroidRows]], returned ordered
    * by label; only the k×dim codebook lands on the driver. */
  def labelCentroids(corpus: DataFrame, labelCol: String,
                     vecCol: String, scaleBits: Int = 20): Seq[Seq[Double]] = {
    val rows = labelCentroidRows(corpus, labelCol, vecCol, scaleBits).collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
  }

  /** SemDeDup-shaped semantic deduplication: assign every vector to its
    * nearest codebook centroid, then compare pairs ONLY within a cluster
    * and drop any vector with a lower-id neighbor at cosine ≥ `minCos`.
    * The cluster bound is what makes semantic dedup feasible at corpus
    * scale — the pair space shrinks from O(n²) to Σ|cluster|², and each
    * cluster's self-join is an ordinary equi-join on the cluster id
    * (AQE-splittable if a cluster runs hot). Assignment is a pure
    * codegen'd projection against the broadcast-literal codebook
    * ([[assignCluster]]); norms are computed once per vector, not per
    * pair.
    *
    * @return (idCol, cluster, keep) — keep=false iff a lower-id same-
    *         cluster vector is cosine-≥-minCos close.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               centroids: Seq[Seq[Double]], minCos: Double): DataFrame =
    semDedupWithin(corpus, idCol, vecCol, minCos)(
      assignCluster(_, centroids))

  /** The within-cluster verify core of [[semDedup]] and
    * [[semDedupTwoLevel]], which differ only in how a row gets its
    * cluster (`cluster(v)`): pairs are joined on the cluster id, and
    * the higher id of every pair at cosine ≥ `minCos` is dropped. */
  private def semDedupWithin(corpus: DataFrame, idCol: String,
                             vecCol: String, minCos: Double)(
                             cluster: Column => Column): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", cluster(col("v")).cast("long"))
      .withColumn("nrm", norm(col("v")))
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("cluster"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("cluster"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCos)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dropped.withColumn("__drop", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("__drop").isNull.as("keep"))
  }

  /** [[semDedup]] with the codebook sized to the corpus — the production
    * configuration the sf10 tier measures (BENCH_sf10.json): a FIXED
    * codebook makes the within-cluster pair space Σ|cluster|² grow
    * quadratically as the corpus scales past it, so k must track n.
    * k = ceil(n / targetClusterSize) bounds the expected cluster size,
    * keeping the pair space ~n·targetClusterSize (linear in n); the
    * codebook is trained with the deterministic [[trainCentroids]]
    * (k lowest-id seeds, fixed iterations — reproducible across runs,
    * only k×dim doubles ever touch the driver).
    *
    * Residual scale bound: with k ∝ n the DEDUP pair space is linear,
    * but the flat nearest-centroid assignment each training/assign pass
    * runs is n·k ≈ n²/targetClusterSize distance evaluations. Measured
    * fine through the sf1/sf10 tiers (assignment is a codegen'd literal
    * loop); past ~10M vectors a deployment should train the codebook on
    * a bounded uniform sample (the centroids are means — a sample
    * estimates them) and make assignment two-level: first pick among
    * √k super-centroids, then among that super-cluster's children —
    * n·2√k instead of n·k, the standard IVF coarse-quantizer ladder. */
  def semDedupAuto(corpus: DataFrame, idCol: String, vecCol: String,
                   minCos: Double, targetClusterSize: Long = 1000,
                   iters: Int = 2): DataFrame = {
    val n = corpus.count()
    val k = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
    val cents = trainCentroids(corpus, idCol, vecCol, k, iters)
    semDedup(corpus, idCol, vecCol, cents, minCos)
  }

  /** Second-level quantization of a codebook — the IVF coarse-quantizer
    * ladder the [[semDedupAuto]] scaladoc prescribes past ~10M vectors:
    * group the k centroids under ceil(√k) SUPER-centroids (a local
    * k-means over the k×dim codebook — model state, not data), so
    * assignment probes √k supers then only that super's children,
    * n·2√k distance evaluations instead of n·k.
    *
    * Arithmetic is the exact [[trainCentroids]] discipline — first-k
    * seeding, left-fold squared distance, fixed-point HALF_UP means,
    * empty supers keep their previous centroid — run driver-side over
    * the codebook (k vectors), so a SQL oracle replays it verbatim
    * (q173). Supers that end up with NO children are dropped from the
    * probe list (their centroid can win no assignment on either side).
    *
    * @return (supers, children): parallel seqs in super order; children
    *         lists the (original centroid id, centroid) pairs. */
  def superQuantize(cents: Seq[Seq[Double]], iters: Int = 2,
                    scaleBits: Int = 20): (Seq[Seq[Double]], Seq[Seq[(Long, Seq[Double])]]) = {
    require(cents.nonEmpty, "empty codebook")
    val q = (1L << scaleBits).toDouble
    val kSuper = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    def sqd(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def argmin(v: Seq[Double], cs: Seq[Seq[Double]]): Int = {
      var best = 0; var bd = sqd(v, cs(0)); var i = 1
      while (i < cs.length) {
        val d = sqd(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1
      }
      best
    }
    // Spark/DuckDB `round` is HALF_UP (away from zero on .5) — NOT
    // math.round (floor(x+.5)), which differs on negative halves
    def fxRound(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP)
        .longValueExact()
    var supers = cents.take(kSuper)
    for (_ <- 1 to iters) {
      val asg = cents.map(c => argmin(c, supers))
      supers = supers.indices.map { s =>
        val members = cents.indices.filter(i => asg(i) == s)
        if (members.isEmpty) supers(s)
        else {
          val dim = cents.head.length
          (0 until dim).map { p =>
            val sum = members.map(i => fxRound(cents(i)(p) * q)).sum
            sum.toDouble / members.length.toDouble / q
          }
        }
      }
    }
    val finalAsg = cents.map(c => argmin(c, supers))
    val grouped = supers.indices.map { s =>
      cents.indices.filter(i => finalAsg(i) == s)
        .map(i => (i.toLong, cents(i)))
    }
    val keep = supers.indices.filter(s => grouped(s).nonEmpty)
    (keep.map(supers), keep.map(grouped))
  }

  /** Two-level nearest-centroid assignment against the
    * [[superQuantize]] hierarchy: argmin over the supers, then argmin
    * among ONLY that super's children — both pure codegen'd literal
    * loops, ~2√k distance folds per row. Approximate by construction
    * (the true nearest child may live under a losing super — the
    * standard IVF recall trade); exactly replayable in SQL. */
  def assignClusterTwoLevel(vec: Column, supers: Seq[Seq[Double]],
                            children: Seq[Seq[(Long, Seq[Double])]]): Column = {
    require(supers.length == children.length && supers.nonEmpty,
      "supers/children must be parallel and non-empty")
    // super stage = the native argmin (one primitive loop); the child
    // stage stays declarative over only that super's ~√k children
    val sIdx = (assignCluster(vec, supers) + 1).cast("int")
    val kids = element_at(typedlit(children), sIdx) // 1-based: position is 1-based
    val scored = transform(kids, kid =>
      struct(squaredDist(vec, kid.getField("_2")).as("d"),
        kid.getField("_1").as("cid")))
    array_min(scored).getField("cid")
  }

  /** Two-level PROBE-LIST construction for multi-probe IVF — the query
    * side of the [[superQuantize]] ladder: [[probeClusters]] ranks ALL
    * nlist centroids per query (at k ∝ n that is the same n·k wall the
    * ladder removed from assignment), whereas this ranks the ceil(√k)
    * supers, keeps the `sProbe` nearest, and ranks only THOSE supers'
    * children — ~√k·(1 + sProbe·avgChildren/√k) ≈ 2√k-ish distance
    * folds per query. Approximate like any IVF probe (a true near
    * cluster may hide under a losing super — dial `sProbe` up for
    * recall); deterministic (distance, then id, at both levels) and
    * exactly replayable in SQL (q179). Returns the `nProbe` nearest
    * child-centroid ids among the candidates. */
  def probeClustersTwoLevel(vec: Column, supers: Seq[Seq[Double]],
                            children: Seq[Seq[(Long, Seq[Double])]],
                            sProbe: Int, nProbe: Int): Column = {
    require(supers.length == children.length && supers.nonEmpty,
      "supers/children must be parallel and non-empty")
    require(sProbe >= 1 && nProbe >= 1, "need sProbe >= 1 and nProbe >= 1")
    val sDists = transform(typedlit(supers), c => squaredDist(vec, c))
    val sZip = zip_with(sDists, typedlit(supers.indices.map(_.toLong)),
      (d, i) => struct(d.as("d"), i.as("i")))
    val topSupers = transform(slice(array_sort(sZip), 1, sProbe),
      s => s.getField("i").cast("int"))
    val kids = flatten(transform(topSupers,
      si => element_at(typedlit(children), si + 1))) // element_at is 1-based
    val scored = transform(kids, kid =>
      struct(squaredDist(vec, kid.getField("_2")).as("d"),
        kid.getField("_1").as("cid")))
    transform(slice(array_sort(scored), 1, nProbe),
      s => s.getField("cid").cast("int"))
  }

  /** Multi-probe IVF with BOTH sides on the [[superQuantize]] ladder:
    * the corpus assigns two-level ([[assignClusterTwoLevel]], ~2√k folds
    * per vector) and each query's probe list is built two-level
    * ([[probeClustersTwoLevel]]) — no per-row operation anywhere touches
    * all nlist centroids, closing the last flat-scan in the IVF path.
    * Same output contract as [[ivfTopKMultiProbe]]; same independent-
    * reads caveat (see there). */
  def ivfTopKTwoLevelProbe(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nlist: Int, sProbe: Int, nProbe: Int,
                           iters: Int = 5): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    val (supers, children) = superQuantize(cents)
    val q = probeRows(queries, idCol, vecCol,
      probeClustersTwoLevel(_, supers, children, sProbe, nProbe))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cc",
        assignClusterTwoLevel(col("cv"), supers, children).cast("int"))
    cosineTopK(c.join(broadcast(q), col("qc") === col("cc")), k)
  }

  /** [[semDedup]] with the corpus assigned through the two-level
    * hierarchy instead of the flat argmin — the full 100M-vector recipe:
    * k ∝ n codebook, √k-laddered assignment (n·2√k), bounded
    * within-cluster pair space. q173 value-gates the entire path
    * including the super-quantizer training. */
  def semDedupTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[Seq[Double]], minCos: Double): DataFrame = {
    val (supers, children) = superQuantize(centroids)
    semDedupWithin(corpus, idCol, vecCol, minCos)(
      assignClusterTwoLevel(_, supers, children))
  }

  /** INCREMENTAL semantic dedup — the daily-ingest flow of a standing
    * 100 TB corpus: the codebook is the STANDING quantizer (trained on
    * the base corpus, passed in), base membership is settled (base rows
    * are never re-judged), and only the DELTA is scored: a delta vector
    * is dropped if some same-cluster BASE vector, or a lower-id
    * same-cluster DELTA vector, sits at cosine ≥ `minCos`. Cost is
    * |delta|·k assignment + two cluster equi-joins whose left side is
    * the delta — the base corpus is touched once per batch and NEVER
    * self-joined, the property that lets a standing corpus absorb
    * deltas forever (the semantic member of the q82/q109 incremental
    * family). Verdict per delta row: (idCol, cluster, keep). */
  def semDedupIncremental(base: DataFrame, delta: DataFrame, idCol: String,
                          vecCol: String, centroids: Seq[Seq[Double]],
                          minCos: Double): DataFrame = {
    val assigned = base.select(col(idCol), col(vecCol))
      .withColumn("__cluster",
        assignCluster(col(vecCol), centroids).cast("long"))
      .withColumn("__nrm", norm(col(vecCol)))
    semDedupIncrementalAssigned(assigned, delta, idCol, vecCol,
      "__cluster", "__nrm", centroids, minCos)
  }

  /** [[semDedupIncremental]] against a MATERIALIZED standing
    * assignment — the form the daily flow actually runs: a 100 TB
    * standing corpus stores (id, vec, cluster, norm) once at ingest
    * (one n·k assignment pass, ever), and each delta batch then costs
    * |delta|·k assignment plus two cluster equi-joins whose per-cluster
    * base side is bounded by the k ∝ n training discipline. Re-deriving
    * the base assignment per batch (what the convenience overload
    * above does) is an n·k wall PER BATCH — linear in the base even
    * when the delta is constant; this variant makes the per-batch cost
    * independent of everything about the base except the matched
    * clusters' contents (IncrementalProbe measures the curve). Verdict
    * contract identical to [[semDedupIncremental]] — q181 gates this
    * path through a parquet round-trip of the standing store with
    * q177's own oracle. */
  def semDedupIncrementalAssigned(baseAssigned: DataFrame, delta: DataFrame,
                                  idCol: String, vecCol: String,
                                  clusterCol: String, nrmCol: String,
                                  centroids: Seq[Seq[Double]],
                                  minCos: Double): DataFrame = {
    val d = delta.select(col(idCol), col(vecCol))
      .withColumn("__cluster",
        assignCluster(col(vecCol), centroids).cast("long"))
      .withColumn("__nrm", norm(col(vecCol)))
    semDedupIncrementalPrepped(baseAssigned, d, idCol, vecCol,
      clusterCol, nrmCol, "__cluster", "__nrm", minCos)
  }

  /** The incremental-dedup CORE over two already-assigned sides — no
    * assignment inside, only the two cluster equi-joins and the
    * verdict. This is the shape to call in the daily flow: the delta's
    * assignment (an interpreted literal-codebook argmin, referenced by
    * BOTH joins and the verdict) should be materialized ONCE by the
    * caller — `deltaAssigned.cache()` or a parquet staging write — not
    * recomputed at every plan reference (IncrementalProbe measured the
    * uncached form re-evaluating it ~12× at k = 4000), and at large k
    * it should be the two-level [[assignClusterTwoLevel]] ladder.
    *
    * `pruneBaseByDeltaClusters` applies the join's cluster restriction
    * to the standing side as an explicit predicate: a delta batch
    * touches at most |delta| of the k clusters, and with the standing
    * store laid out by cluster (sorted/partitioned), the predicate
    * prunes row groups / partitions instead of scanning the whole base
    * per batch — the move that makes per-batch cost track the DELTA,
    * not the corpus. Collects the delta's ≤|delta| distinct cluster
    * ids on the driver (batch-bounded); verdicts are unchanged by
    * construction (clusters absent from the delta contribute no
    * pairs). */
  def semDedupIncrementalPrepped(baseAssigned: DataFrame,
                                 deltaAssigned: DataFrame,
                                 idCol: String, vecCol: String,
                                 baseClusterCol: String, baseNrmCol: String,
                                 deltaClusterCol: String, deltaNrmCol: String,
                                 minCos: Double,
                                 pruneBaseByDeltaClusters: Boolean = false)
      : DataFrame = {
    val b0 = baseAssigned.select(col(idCol).as("id_b"),
      col(vecCol).as("vb"), col(baseNrmCol).as("nb"),
      col(baseClusterCol).cast("long").as("cluster"))
    val d = deltaAssigned.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(deltaClusterCol).cast("long").as("cluster"),
      col(deltaNrmCol).as("nrm"))
    val b = if (!pruneBaseByDeltaClusters) b0 else {
      val touched = d.select(col("cluster")).distinct()
        .collect().map(_.getLong(0))
      b0.filter(col("cluster").isin(touched: _*))
    }
    val dl = d.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("cluster"))
    val vsBase = dl.join(b, Seq("cluster"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCos)
      .select(col("id_a").as("id"))
    val dr = d.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("cluster"))
    val vsDelta = dl.join(dr, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= minCos)
      .select(col("id_b").as("id"))
    val dropped = vsBase.unionByName(vsDelta).distinct()
      .withColumn("__drop", lit(1))
    d.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        col("__drop").isNull.as("keep"))
  }

  /** PARTITIONED STANDING STORE — the physical layout that turns the
    * delta's cluster restriction into FILE pruning instead of a scan.
    * `semDedupIncrementalPrepped(pruneBaseByDeltaClusters = true)`
    * emits `cluster IN (...)`; over an unpartitioned store that
    * predicate still reads every file (row-group stats skip at best).
    * This writer hash-buckets the cluster id into `buckets` partition
    * directories (`c_bucket = cluster mod buckets` — stable under
    * codebook GROWTH: new clusters land in existing buckets without
    * rewriting old ones, unlike range bucketing whose boundaries move)
    * and cluster-sorts within each, so a delta batch touching t
    * clusters reads at most min(t, buckets) directories and skips
    * row groups inside them via min/max stats. The bucket count is a
    * layout constant of the store manifest ([[StoreSwap.bucketCount]]),
    * recorded in the same commit as the data, so readers derive the
    * same hash —
    * at 100 TB, buckets ≈ corpus size / (a few GB) keeps partition
    * dirs coarse enough for the driver and fine enough to prune.
    * `assigned` must carry (idCol, vecCol, clusterCol, nrmCol) —
    * exactly what [[semDedupIncrementalPrepped]] consumes; parquet
    * round-trips floats/doubles/longs bit-exactly, so verdicts through
    * the store equal the in-memory path's (q187 gates this). Every
    * later rewrite or append — data, codebook, PQ sidecar — commits
    * through [[StoreSwap]]'s store manifest, reader-atomically. */
  def writeStandingStore(assigned: DataFrame, path: String,
                         clusterCol: String = "cluster",
                         buckets: Int = 64): Unit = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val spark = assigned.sparkSession
    StoreSwap.transact(spark, path) {
      StoreSwap.overwriteDir(spark, path, "data", "c_bucket",
        assigned.withColumn("c_bucket",
          pmod(col(clusterCol), lit(buckets.toLong)).cast("int")),
        Seq(col(clusterCol)))
      StoreSwap.putBucketCount(spark, path, buckets)
    }
  }

  /** The full standing store plus its recorded bucket count. The
    * `c_bucket` partition column is KEPT (derivable, but retained so
    * bucket filters prune files without recomputation) — the time-
    * travel read [[readStandingStoreAt]] keeps it too, so the two
    * paths are schema-equal. */
  def readStandingStore(spark: SparkSession, path: String): (DataFrame, Int) = {
    StoreSwap.open(spark, path)
    (StoreSwap.readDir(spark, path, "data", "c_bucket"),
      StoreSwap.bucketCount(spark, path))
  }

  /** TIME-TRAVEL read of a standing store: the data AS OF
    * committed manifest `version` — the pre-mutation snapshot an
    * auditor or a long-running training job pins while the store keeps
    * mutating underneath. Only versions inside the GC grace window
    * ([[standingStoreVersions]]; widen with `graft.store.snapshotKeep`
    * BEFORE the mutations) are readable; a GC'd version fails fast.
    * The bucket count is the one recorded at `version`. Schema-equal
    * to [[readStandingStore]]: the `c_bucket` partition column is kept
    * in both. */
  def readStandingStoreAt(spark: SparkSession, path: String,
                          version: Int): (DataFrame, Int) = {
    val data = StoreSwap.readVersionedAt(spark, path, "data", "c_bucket",
      version)
    (data, StoreSwap.bucketCount(spark, path, Some(version)))
  }

  /** Retained (readable) manifest versions of a standing store,
    * ascending; last = the live version. */
  def standingStoreVersions(spark: SparkSession, path: String): Seq[Int] =
    StoreSwap.snapshotVersions(spark, path)

  /** MANIFEST-PRUNED CDC between two retained versions of a versioned
    * standing store: (change, vec_id, cluster) rows where `change` is
    * `insert` (id only in `toV`), `delete` (only in `fromV`), or
    * `update` (present in both with a different cluster — what a refit
    * does to reassigned members; embeddings are immutable under an
    * id). The 100 TB point is the PRUNING: generations are immutable
    * once committed, so a bucket whose generation list is IDENTICAL in
    * both manifests is byte-identical and contributes no change —
    * only differing buckets are read and joined. Diff cost tracks the
    * mutation footprint between the versions, never the store; a
    * downstream consumer (index refresh, cache invalidation, replica
    * sync) gets an incremental feed without the store keeping a
    * changelog. */
  def standingStoreDiff(spark: SparkSession, path: String,
                        fromV: Int, toV: Int): DataFrame = {
    val eA = StoreSwap.snapshotEntriesAt(spark, path, "data", fromV)
    val eB = StoreSwap.snapshotEntriesAt(spark, path, "data", toV)
    val changed = (eA.keySet ++ eB.keySet)
      .filter(d => eA.get(d) != eB.get(d))
      .map(_.stripPrefix("c_bucket=").toInt).toSeq.sorted
    if (changed.isEmpty)
      return spark.range(0).select(lit("").as("change"),
        lit(0L).as("vec_id"), lit(0L).as("cluster")).filter(lit(false))
    def side(v: Int, as: String) =
      StoreSwap.readVersionedAt(spark, path, "data", "c_bucket", v,
          buckets = Some(changed))
        .select(col("vec_id"), col("cluster").as(as))
    side(fromV, "old_cluster")
      .join(side(toV, "new_cluster"), Seq("vec_id"), "full_outer")
      .withColumn("change",
        when(col("old_cluster").isNull, lit("insert"))
          .when(col("new_cluster").isNull, lit("delete"))
          .when(col("old_cluster") =!= col("new_cluster"), lit("update")))
      .filter(col("change").isNotNull)
      .select(col("change"), col("vec_id"),
        coalesce(col("new_cluster"), col("old_cluster")).as("cluster"))
  }

  /** HISTORICAL SEMANTIC JUDGMENT — [[Dedup.lshJudgeStoreAt]]'s
    * embedding twin: incremental semantic dedup of `delta` AS OF a
    * retained store `version`, with the CODEBOOK and the MEMBERS both
    * resolved from that ONE pinned manifest — so "judge as of
    * yesterday" can never apply today's refit centroids to yesterday's
    * members (different assignments → different co-membership →
    * different verdicts). Verdict contract identical to
    * [[semDedupIncrementalAssigned]]: (idCol, cluster, keep) per delta
    * row. Delta-footprint at scale:
    * the pinned members prune by the delta's clusters exactly like the
    * live path — ON by default (verdict-invariant by construction:
    * clusters absent from the delta contribute no pairs, and the q229
    * oracle gate hash-gates the pruned read — a bucket-prune leak that
    * drops or leaks a cluster breaks the hash). Disable only to
    * diagnose the pruning itself; without the bucket rung the pinned
    * read opens every bucket dir of the pinned generation and the
    * as-of judgment scales with the STORE (SemanticReplayProbe first
    * cut: 2.4×/decade vs flat). */
  def semanticJudgeStoreAt(spark: SparkSession, path: String,
                           delta: DataFrame, idCol: String,
                           vecCol: String, version: Int, minCos: Double,
                           pruneBaseByDeltaClusters: Boolean = true)
      : DataFrame = {
    StoreSwap.open(spark, path)
    val cents = readCodebookAt(spark, path, version)
    val d = delta.select(col(idCol), col(vecCol))
      .withColumn("__cluster",
        assignClusterIds(col(vecCol), cents).cast("long"))
      .withColumn("__nrm", norm(col(vecCol)))
      .localCheckpoint(true) // |delta| rows, referenced by the collect
                             // below and both verdict joins
    val baseAt =
      if (!pruneBaseByDeltaClusters)
        readStandingStoreAt(spark, path, version)._1
      else // the live daily flow's pruned read, at the pinned version
        prunedStoreRead(spark, path,
          d.select(col("__cluster")).distinct()
            .collect().map(_.getLong(0)).toSeq,
          "cluster", Some(version))
    semDedupIncrementalPrepped(baseAt, d, idCol, vecCol,
      "cluster", "nrm", "__cluster", "__nrm", minCos)
  }

  /** The store restricted to `touched` clusters with BOTH pruning
    * predicates: `c_bucket IN` (directory / partition pruning — files
    * outside the touched buckets are never opened) and `cluster IN`
    * (row-group stats skip within the cluster-sorted files). Verdict-
    * invariant for the incremental join by construction — clusters
    * absent from the delta contribute no pairs. */
  def readStandingStorePruned(spark: SparkSession, path: String,
                              touched: Seq[Long],
                              clusterCol: String = "cluster"): DataFrame =
    prunedStoreRead(spark, path, touched, clusterCol, None)

  /** [[readStandingStorePruned]] of the live view (`pin` = None) or of
    * the retained manifest `pin`. A pinned read hands the touched
    * buckets to the manifest read, so it never lists the other bucket
    * dirs of the pinned generation — without that rung the as-of
    * judgment scaled with the STORE (SemanticReplayProbe first cut:
    * 2.4×/decade vs live 1.07×). */
  private def prunedStoreRead(spark: SparkSession, path: String,
                              touched: Seq[Long], clusterCol: String,
                              pin: Option[Int]): DataFrame = {
    StoreSwap.open(spark, path)
    val buckets = StoreSwap.bucketCount(spark, path, pin)
    val tb = touched.map(bucketOf(_, buckets)).distinct
    pin.fold(StoreSwap.readDir(spark, path, "data", "c_bucket"))(v =>
        StoreSwap.readVersionedAt(spark, path, "data", "c_bucket", v,
          buckets = Some(tb)))
      .filter(col("c_bucket").isin(tb: _*) &&
        col(clusterCol).isin(touched: _*))
      .drop("c_bucket")
  }

  /** The `c_bucket` partition of cluster id `c` in a store of `buckets`
    * buckets — the writers' `pmod(cluster, buckets)`. */
  private def bucketOf(c: Long, buckets: Int): Int =
    Math.floorMod(c, buckets.toLong).toInt

  /** APPEND to the partitioned standing store — the ingest side of the
    * lifecycle: a judged batch's keepers land in their clusters'
    * buckets (hash derived from the recorded bucket count, so appends and the
    * original write agree on layout forever — the stability property
    * the mod-bucket choice buys). Appends never rewrite existing files;
    * fragmentation from many small batches is the compaction job's
    * problem, not the ingest path's. `assigned` must carry the same
    * (id, vec, clusterCol, nrm) shape the store holds.
    * @param batchId exactly-once key for streaming ingest: recorded
    *                 atomically with the
    *                 appended rows ([[StoreSwap.appendDir]]'s manifest
    *                 ledger), so a micro-batch redelivered after an
    *                 unacknowledged epoch is skipped instead of
    *                 double-appended. */
  def appendToStandingStore(assigned: DataFrame, path: String,
                            clusterCol: String = "cluster",
                            batchId: Option[Long] = None): Unit = {
    val spark = assigned.sparkSession
    StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.bucketCount(spark, path)
    StoreSwap.appendDir(spark, path, "data", "c_bucket",
      assigned.withColumn("c_bucket",
        pmod(col(clusterCol), lit(buckets.toLong)).cast("int")),
      Seq(col(clusterCol)), batchId)
    }
  }

  /** Persist the standing quantizer WITH its store — (cid, cent) rows
    * under `path`/codebook — so the store is self-contained on disk:
    * ingest, search, and drift audits reload the exact codebook the
    * assignments were made with instead of carrying it in closure
    * state. Doubles round-trip parquet bit-exactly, so reloaded
    * centroids reproduce assignments and probe lists verbatim (q191
    * gates the search path through a reload against q171's oracle). */
  def writeCodebook(spark: SparkSession, path: String,
                    centroids: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    writeCodebookDf(spark, path,
      centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cid", "cent"))
  }

  /** The codebook write: a dataDir of the store manifest, so codebook
    * updates version WITH the members they assign (one manifest rename
    * inside an enclosing [[StoreSwap.transact]], and historical
    * judgment can pin both at one version). The constant `part=0`
    * partition column exists because the manifest reader infers
    * partition columns from dir names (same move as the PQ triple's
    * codebook). */
  private def writeCodebookDf(spark: SparkSession, path: String,
                              df: DataFrame): Unit =
    StoreSwap.overwriteDir(spark, path, "codebook", "part",
      df.withColumn("part", lit(0)), Seq(col("cid")))

  /** The codebook relation (cid, cent), pinned to store version `pin`
    * when given (the consistency point of [[semanticJudgeStoreAt]] and
    * the residual ADC path). The live read resolves the current view,
    * so an open [[StoreSwap.transact]] sees the codebook its own
    * earlier step committed (read-your-own-writes) — the hazard of
    * composing a codebook update with a residual re-encode in one
    * transaction. */
  private def codebookDf(spark: SparkSession, path: String,
                         pin: Option[Int] = None): DataFrame = {
    StoreSwap.open(spark, path)
    pin.fold(StoreSwap.readDir(spark, path, "codebook", "part"))(v =>
      StoreSwap.readVersionedAt(spark, path, "codebook", "part", v))
      .drop("part")
  }

  /** The persisted codebook, in training order. */
  def readCodebook(spark: SparkSession, path: String): Seq[Seq[Double]] =
    codebookDf(spark, path)
      .orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  /** The codebook AS OF a pinned store version — the model
    * half of a historical judgment: assignments replayed at `version`
    * must use the centroids that version's live judgments used, not
    * the latest refit's. */
  def readCodebookAt(spark: SparkSession, path: String,
                     version: Int): Seq[(Long, Seq[Double])] =
    StoreSwap.readVersionedAt(spark, path, "codebook", "part", version)
      .orderBy(col("cid")).collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getSeq[Double](r.fieldIndex("cent")).toSeq)
      .toSeq

  /** Persist a SPARSE codebook — (cid, cent) with explicit, possibly
    * non-contiguous ids. After an in-place refit the store's live
    * cluster ids have holes (drifted ids retired, fresh ids appended
    * past the old maximum), so the id is data, not a list position. */
  def writeCodebookIds(spark: SparkSession, path: String,
                       entries: Seq[(Long, Seq[Double])]): Unit = {
    import spark.implicits._
    writeCodebookDf(spark, path, entries.toDF("cid", "cent"))
  }

  /** The persisted codebook with its explicit ids, id-ascending. */
  def readCodebookIds(spark: SparkSession,
                      path: String): Seq[(Long, Seq[Double])] =
    codebookDf(spark, path)
      .orderBy(col("cid")).collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getSeq[Double](r.fieldIndex("cent")).toSeq)
      .toSeq

  /** Nearest-centroid assignment against a SPARSE (cid, cent) codebook:
    * the argmin runs over the centroids in id order (so distance ties
    * resolve to the LOWEST id, the same law as [[assignCluster]]) and
    * the winning position maps back to its explicit id. */
  def assignClusterIds(vec: Column,
                       cents: Seq[(Long, Seq[Double])]): Column = {
    require(cents.nonEmpty, "empty codebook")
    val sorted = cents.sortBy(_._1)
    element_at(typedlit(sorted.map(_._1)),
      assignCluster(vec, sorted.map(_._2)).cast("int") + 1)
  }

  /** Multi-probe IVF SEARCH over the partitioned standing store — the
    * query-side payoff of the q187 layout: the probe lists of the whole
    * query batch touch ≤ |queries|·nProbe clusters, and only THOSE
    * buckets/row groups of the store are read (the scanned fraction
    * ~nProbe/nlist that [[ivfTopKMultiProbe]]'s scaladoc promises a
    * cluster-partitioned corpus becomes literal file pruning here).
    * Codebook and corpus assignment both come from disk, so a search
    * process needs no state beyond the store path. Output contract and
    * results identical to [[ivfTopKMultiProbe]] over the same corpus
    * and codebook. */
  def ivfTopKStore(spark: SparkSession, storePath: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, nProbe: Int): DataFrame = {
    val cents = readCodebook(spark, storePath)
    require(nProbe >= 1 && nProbe <= cents.length,
      "need 1 <= nProbe <= nlist")
    storeTopK(spark, storePath, probeRows(queries, idCol, vecCol,
      probeClusters(_, cents, nProbe)), idCol, vecCol, k)
  }

  /** Shared tail of the store float searches, which differ only in how
    * the probe column `qc` of `q` (query_id, qv, qc) is built: collect
    * the probed cluster ids, read only their buckets and row groups
    * ([[readStandingStorePruned]]), and verify the probe-joined
    * candidates with [[cosineTopK]]. */
  private def storeTopK(spark: SparkSession, storePath: String,
                        q: DataFrame, idCol: String, vecCol: String,
                        k: Int): DataFrame = {
    val probed = q.select(col("qc").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val c = readStandingStorePruned(spark, storePath, probed)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("cluster").cast("int").as("cc"))
    cosineTopK(c.join(broadcast(q), col("qc") === col("cc")), k)
  }

  /** [[ivfTopKStore]] with the probe lists built through the √k ladder
    * — the store search at PRODUCTION k: the flat variant ranks all
    * nlist centroids per query (at k ∝ n that literal-codebook scan is
    * the measured wall of the k = 4000 tier, StoreLifecycleProbe), this
    * one ranks ceil(√nlist) supers then only the kept supers' children
    * (~2√k folds per query). The store must have been ASSIGNED through
    * the same ladder ([[assignClusterTwoLevel]] over
    * [[superQuantize]](codebook)) — the reloaded codebook reproduces
    * the hierarchy bit-exactly, so search and ingest agree on cluster
    * ids. Approximate exactly as [[ivfTopKTwoLevelProbe]] (a true near
    * cluster can hide under a losing super; q185 audits the trade). */
  def ivfTopKStoreTwoLevel(spark: SparkSession, storePath: String,
                           queries: DataFrame, idCol: String,
                           vecCol: String, k: Int, sProbe: Int,
                           nProbe: Int): DataFrame = {
    val (supers, children) = superQuantize(readCodebook(spark, storePath))
    storeTopK(spark, storePath, probeRows(queries, idCol, vecCol,
        probeClustersTwoLevel(_, supers, children, sProbe, nProbe)),
      idCol, vecCol, k)
  }

  /** The pinned store version EVERY artifact of one flavored read of
    * the PQ triple ([[writePqSidecar]]) resolves at — the
    * reader-atomicity point: three separate latest-manifest resolutions
    * could straddle a commit, a single pinned version cannot. None =
    * the store has no sidecar. */
  private def pqPin(spark: SparkSession, path: String): Option[Int] =
    StoreSwap.latestSnapshot(spark, path, "pq_meta")
      .map(_ => StoreSwap.snapshotVersions(spark, path).last)

  /** A sidecar artifact at the pinned version (the current view when
    * unpinned). */
  private def pqDirDf(spark: SparkSession, path: String, dataDir: String,
                      partCol: String, pin: Option[Int]): DataFrame =
    pin.fold(StoreSwap.readDir(spark, path, dataDir, partCol))(v =>
      StoreSwap.readVersionedAt(spark, path, dataDir, partCol, v))

  /** Train PQ codebooks from the standing store's OWN vectors and
    * persist them plus the corpus codes beside it — the missing half of
    * the billion-vector serving layout: [[ivfTopKStore]] prunes WHICH
    * buckets a query reads, this compresses WHAT it reads there (m
    * small centroid codes per vector instead of the full float array —
    * at m=4/ksub=8 that is ~40× fewer bytes per row than a 64-float
    * embedding, the difference between a memory-bandwidth-bound scan
    * and an IO-bound one at 100 TB). Codes live under `pq_codes`,
    * partitioned by the SAME `c_bucket` as the store and cluster-sorted
    * within, so a probe prunes code files exactly as it prunes vector
    * files; the (m·ksub)-row codebook sidecar is bounded model state.
    * Training is [[pqCodebooks]]'s fixed-point Lloyd step — replayable
    * in SQL, and parquet round-trips the double centroids bit-exactly,
    * so search through the sidecar equals [[pqTopK]] over the same
    * corpus restricted to the probed clusters.
    *
    * The PQ sidecar's three artifacts — codebook, flavor marker, codes
    * — must change TOGETHER: any live mix of old and new (old codes
    * under a new flavor marker, old codes under a new codebook) serves
    * silently wrong distances. They are dataDirs of the store manifest
    * committed inside ONE [[StoreSwap.transact]] — a single manifest
    * rename publishes the whole triple, and every flavored read
    * resolves codebook, meta, and codes AT ONE PINNED STORE VERSION
    * ([[pqPin]]), so a reader racing the rewrite sees the old or the
    * new TRIPLE, never a mix. The codebook and meta carry a constant
    * `part=0` partition column (the manifest reader infers partition
    * columns from dir names; harmless to every consumer).
    *
    * @param opqIters 0 (default) keeps the structured Walsh–Hadamard
    *                  rotation when `rotate` is set; > 0 TRAINS an OPQ
    *                  rotation instead ([[trainOpqRotation]], that many
    *                  alternating-minimization iterations over a
    *                  bounded seeded sample) and records the matrix in
    *                  `pq_meta` so search/ingest/pinned reads apply the
    *                  exact matrix the codes were encoded with.
    *                  MEASURED AND REJECTED as the default (round 15,
    *                  OpqProbe at sf10, 50k vectors, recall@5 vs exact,
    *                  three geometries): at 12 bits every flavor is
    *                  quantization-floor-bound (≤7%) with OPQ edging WH
    *                  by 1-2 points; at 64 bits — where ADC actually
    *                  discriminates — the TRAINED rotation LOSES to the
    *                  structured WH (redundant 20% vs 25%, independent
    *                  15% vs 22%, composed level at 7%), at ~1.2-1.6×
    *                  sidecar-write cost (the 8192-row driver sample
    *                  undertrains ksub=256 subquantizer geometry the
    *                  rotation is fit against). So `rotate = true`
    *                  keeps the WH default and this knob is the
    *                  documented experiment lever; full numbers in
    *                  BENCH_sf10.json ("probe":"opq"). */
  def writePqSidecar(spark: SparkSession, path: String, idCol: String,
                     vecCol: String, m: Int, dsub: Int, ksub: Int,
                     residual: Boolean = false,
                     rotate: Boolean = false,
                     opqIters: Int = 0): Unit =
    StoreSwap.transact(spark, path) {
    val (df, buckets) = readStandingStore(spark, path)
    val opq: Option[Seq[Seq[Double]]] =
      if (!rotate || opqIters <= 0) None
      else {
        // train on a bounded, DETERMINISTIC sample of the encode input
        // (pre-rotation): hash-picked ids, sorted before collect so the
        // driver-side row order (hence the k-means picks) replays
        val (pre, preCol) =
          pqEncInput(spark, path, df, vecCol, residual, rotate = false,
            m * dsub)
        val total = pre.count()
        val every = math.max(1L, total / 8192L)
        val sample = pre
          .select(col(idCol).as("__sid"),
            col(preCol).cast("array<double>").as("__sv"))
          .filter(pmod(xxhash64(col("__sid")), lit(every)) === 0L)
          .orderBy(col("__sid"))
          .collect().map(_.getSeq[Double](1).toArray)
        Some(trainOpqRotation(sample, m, dsub, ksub, opqIters))
      }
    val (enc, encCol) =
      pqEncInput(spark, path, df, vecCol, residual, rotate, m * dsub, opq)
    val cents = pqCodebooks(enc, idCol, encCol, m, dsub, ksub)
      .localCheckpoint(true) // m·ksub rows — bounded model state
    // the encoding FLAVOR is a property of the sidecar, recorded with
    // it — search and ingest auto-detect instead of trusting callers
    // to pass a matching flag forever. The trained rotation (if any)
    // rides in the same row: it must version and pin WITH the codes.
    val meta0 = spark.range(1).select(lit(residual).as("residual"),
      lit(rotate).as("rotated"))
    val meta = opq.fold(meta0)(mat =>
      meta0.withColumn("opq_rotation", typedlit(mat)))
    val codes = packedCodes(enc, cents, idCol, encCol, m, dsub)
      .withColumn("c_bucket",
        pmod(col("cluster"), lit(buckets.toLong)).cast("int"))
    // the three artifacts publish in the ONE manifest rename of this
    // transaction: a crash anywhere inside leaves the previous triple
    // fully live
    StoreSwap.overwriteDir(spark, path, "pq_codebook", "part",
      cents.withColumn("part", lit(0)), Seq(col("sub"), col("cid")))
    StoreSwap.overwriteDir(spark, path, "pq_meta", "part",
      meta.withColumn("part", lit(0)), Seq(col("residual")))
    StoreSwap.overwriteDir(spark, path, "pq_codes", "c_bucket",
      codes, Seq(col("cluster"), col("id")))
  }

  /** What the PQ layer quantizes: the raw vector (vanilla PQ) or the
    * vector MINUS ITS COARSE CENTROID (IVF-residual — the offset the
    * coarse index already encodes is removed, so the subquantizers
    * spend their bits on the remainder; at equal bits recall improves
    * wherever the coarse clustering captures real structure). The
    * residual is exact double arithmetic (float widened, centroid
    * already double), so the DuckDB oracle replays it bit-for-bit. */
  private def pqEncInput(spark: SparkSession, path: String, df: DataFrame,
                         vecCol: String, residual: Boolean,
                         rotate: Boolean, d: Int,
                         opq: Option[Seq[Seq[Double]]] = None)
      : (DataFrame, String) = {
    val (rdf, rcol) =
      if (!residual) (df, vecCol)
      else {
        val cb = codebookDf(spark, path)
          .select(col("cid").as("__ccid"), col("cent").as("__ccent"))
        (df.join(broadcast(cb), col("cluster") === col("__ccid"))
          .withColumn("__enc",
            zip_with(col(vecCol).cast("array<double>"), col("__ccent"),
              (a, b) => a - b))
          .drop("__ccid", "__ccent"), "__enc")
      }
    if (!rotate) (rdf, rcol)
    else (applyRot(rdf, rcol, "__rot", d, opq), "__rot")
  }

  /** 1/√2, the per-stage butterfly normalizer of [[whtRotate]] — a
    * double literal, identical on both engines. */
  private val InvSqrt2 = 0.7071067811865476

  /** Deterministic ±1 per dimension index (an LCG bit — replayable
    * integer arithmetic): the sign-flip half of the structured
    * rotation, which keeps the Walsh basis from aligning with any
    * fixed coordinate structure in the data. */
  private def whtSign(x: Column, i: Column): Column =
    when(shiftright(i.cast("long") * lit(1103515245L) + lit(12345L), 16)
           .bitwiseAND(lit(1L)) === 0L, x.cast("double"))
      .otherwise(-x.cast("double"))

  /** One Walsh–Hadamard butterfly stage at stride `h` over a BOUND
    * column (never an inline expression tree — each of the d output
    * elements reads the previous stage twice, so an unbound operand
    * would duplicate the whole upstream subtree 2d× per stage). */
  private def whtStage(prev: Column, h: Int): Column =
    transform(prev, (x, i) =>
      when(i.bitwiseAND(lit(h)) === 0,
        (x + element_at(prev, i + lit(h + 1))) * lit(InvSqrt2))
        .otherwise(
          (element_at(prev, i - lit(h - 1)) - x) * lit(InvSqrt2)))

  /** Structured orthogonal rotation of a d-dim vector column —
    * deterministic sign flips followed by the full Walsh–Hadamard
    * transform (log2 d butterfly stages, 1/√2-normalized): the
    * OPQ-style rung of the PQ layer. An orthogonal R preserves L2
    * distances, so ADC over rotated codes still estimates original
    * distances — but the transform spreads per-dimension variance
    * evenly across PQ subspaces, so no subquantizer's bits are wasted
    * on a near-constant slice when the data is anisotropic (q217
    * measures the recall delta). Pure double arithmetic in a fixed
    * per-element order (two loads, one add/sub, one multiply), so the
    * DuckDB oracle replays it bit-for-bit. Each stage materializes as
    * its own projection; cost is d·log2(d) flops per vector, encode
    * and query side only (codes and search are unchanged). */
  private[graft] def whtRotate(df: DataFrame, inCol: String,
                               outCol: String, d: Int): DataFrame = {
    require(d > 0 && (d & (d - 1)) == 0,
      s"rotation needs power-of-two dims, got $d")
    var cur = df.withColumn(outCol,
      transform(col(inCol), (x, i) => whtSign(x, i)))
    var h = 1
    while (h < d) {
      cur = cur.withColumn(outCol, whtStage(col(outCol), h))
      h <<= 1
    }
    cur
  }

  /** TRAINED OPQ rotation (alternating minimization, driver-local,
    * seeded): iterate [rotate sample → per-subspace k-means →
    * reconstruct → orthogonal-Procrustes re-fit of R] for `iters`
    * rounds, returning the d×d orthogonal matrix that minimizes the
    * sample's quantization error ‖X·Rᵀ − X̂‖²_F. The Procrustes step is
    * the closed form R = V·Uᵀ from the SVD of A = Xᵀ·X̂ (maximizes
    * trace(R·A) over orthogonal R). Runs on a bounded driver-side
    * sample (the model is d² doubles; the data never leaves the
    * cluster beyond the sample), uses breeze's SVD (ships with
    * Spark). Deterministic for a fixed sample order and seed. */
  private[graft] def trainOpqRotation(sample: Array[Array[Double]],
                                      m: Int, dsub: Int, ksub: Int,
                                      iters: Int,
                                      seed: Long = 41L): Seq[Seq[Double]] = {
    import breeze.linalg.{svd, DenseMatrix, DenseVector}
    val d = m * dsub
    require(sample.nonEmpty && sample.head.length == d,
      s"OPQ sample must be non-empty ${d}-dim rows")
    val n = sample.length
    val x = DenseMatrix(sample.map(r => DenseVector(r)): _*) // n×d
    var r = DenseMatrix.eye[Double](d)
    // seeded LCG for k-means init picks — replayable, library-free
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    for (_ <- 0 until math.max(1, iters)) {
      val y = x * r.t // n×d rotated rows (row i = (R·x_i)ᵀ)
      val recon = DenseMatrix.zeros[Double](n, d)
      for (s <- 0 until m) {
        val lo = s * dsub
        val ys = Array.tabulate(n)(i =>
          Array.tabulate(dsub)(j => y(i, lo + j)))
        // Lloyd's k-means, seeded init from LCG-picked sample rows
        var st = lcg(seed + s)
        val k = math.min(ksub, n)
        val cents = Array.tabulate(k) { _ =>
          st = lcg(st)
          ys(((st >>> 33) % n).toInt).clone()
        }
        def nearest(row: Array[Double]): Int = {
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < k) {
            var dd = 0.0; var j = 0
            while (j < dsub) {
              val t = row(j) - cents(c)(j); dd += t * t; j += 1
            }
            if (dd < bd) { bd = dd; best = c }
            c += 1
          }
          best
        }
        for (_ <- 0 until 5) {
          val sums = Array.fill(k)(new Array[Double](dsub))
          val cnts = new Array[Int](k)
          var i = 0
          while (i < n) {
            val c = nearest(ys(i)); cnts(c) += 1
            var j = 0
            while (j < dsub) { sums(c)(j) += ys(i)(j); j += 1 }
            i += 1
          }
          var c = 0
          while (c < k) {
            if (cnts(c) > 0) {
              var j = 0
              while (j < dsub) { cents(c)(j) = sums(c)(j) / cnts(c); j += 1 }
            }
            c += 1
          }
        }
        var i = 0
        while (i < n) {
          val c = nearest(ys(i))
          var j = 0
          while (j < dsub) { recon(i, lo + j) = cents(c)(j); j += 1 }
          i += 1
        }
      }
      val a = x.t * recon // d×d
      val svd.SVD(u, _, vt) = svd(a)
      r = (vt.t * u.t) // V·Uᵀ — maximizes trace(R·A)
    }
    Seq.tabulate(d)(i => Seq.tabulate(d)(j => r(i, j)))
  }

  /** Rotate a vector column by an explicit orthogonal matrix (the
    * trained-OPQ twin of [[whtRotate]]): out[i] = Σ_j R[i][j]·v[j].
    * d² multiply-adds per vector, encode and query side only. */
  private[graft] def matRotate(df: DataFrame, inCol: String,
                               outCol: String,
                               mat: Seq[Seq[Double]]): DataFrame =
    df.withColumn(outCol,
      transform(typedlit(mat), rrow =>
        aggregate(zip_with(rrow, col(inCol).cast("array<double>"),
          (a, b) => a * b), lit(0.0), (acc, v) => acc + v)))

  /** The sidecar's rotation, applied to `inCol`: the TRAINED matrix
    * when the sidecar carries one (`opq_rotation` in pq_meta), else
    * the structured sign-flipped Walsh–Hadamard. */
  private def applyRot(df: DataFrame, inCol: String, outCol: String,
                       d: Int,
                       opq: Option[Seq[Seq[Double]]]): DataFrame =
    opq match {
      case Some(mat) => matRotate(df, inCol, outCol, mat)
      case None => whtRotate(df, inCol, outCol, d)
    }

  /** The sidecar's encoding flavor — (residual, rotated, trained OPQ
    * matrix), recorded by [[writePqSidecar]] in `pq_meta`; absent
    * marker = vanilla, absent `rotated` column = unrotated (sidecars
    * written before each flavor existed), absent/null `opq_rotation`
    * column = structured WH rotation. The matrix rides IN pq_meta so
    * it versions and pins WITH the codes it describes — a re-trained
    * rotation can never be applied to a pinned version's codes. */
  private def pqFlavor(spark: SparkSession, path: String,
                       pin: Option[Int] = None)
      : (Boolean, Boolean, Option[Seq[Seq[Double]]]) = {
    // every flavored read/mutation funnels through here; the marker
    // resolves at the same pinned version as the codes it describes
    val effPin = pin.orElse(pqPin(spark, path))
    if (effPin.isEmpty) return (false, false, None)
    val meta = pqDirDf(spark, path, "pq_meta", "part", effPin)
    val row = meta.head
    val opq =
      if (!meta.columns.contains("opq_rotation")) None
      else Option(row.getAs[scala.collection.Seq[
          scala.collection.Seq[Double]]]("opq_rotation"))
        .map(_.map(_.toSeq).toSeq) // Spark hands back mutable ArraySeq
    (row.getAs[Boolean]("residual"),
      meta.columns.contains("rotated") && row.getAs[Boolean]("rotated"),
      opq)
  }

  /** Encode vectors against a PQ codebook relation into ONE row per
    * vector — (id, cluster, codes: array<int>, sub-ordered). The packed
    * layout is what makes the code scan beat the float scan on CPU as
    * well as bytes: the per-candidate ADC becomes one m-entry fold
    * instead of an m-row join + hash aggregation. */
  private def packedCodes(df: DataFrame, cents: DataFrame, idCol: String,
                          vecCol: String, m: Int,
                          dsub: Int): DataFrame =
    pqSubvectors(df, idCol, vecCol, m, dsub)
      .join(broadcast(cents), "sub")
      .withColumn("d2", sqDistCols(col("sv"), col("cent")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("mn.cid").as("cid")))),
        e => e.getField("cid").cast("int")).as("codes"))
      .join(df.select(col(idCol).as("id"), col("cluster")), "id")
      .select(col("id"), col("cluster"), col("codes"))

  /** Absorb a delta batch into the PQ sidecar — the ingest half of the
    * serving layout: the delta's codes are encoded against the FROZEN
    * persisted PQ codebook (training is NOT re-run — the codes of the
    * standing corpus stay valid, exactly the settled-membership
    * invariant the incremental dedup flow commits to) and appended to
    * the same `c_bucket` partitions the store append touched. Cost is
    * |delta|·m·ksub distance folds plus a delta-footprint write; the
    * codebook-drift audit (q178) is the governance signal for when a
    * re-train ([[writePqSidecar]], which rewrites all codes) is due.
    * `delta` must carry (idCol, vecCol, `cluster`) — the coarse
    * assignment [[appendToStandingStore]] already requires. */
  def appendPqCodes(spark: SparkSession, path: String, delta: DataFrame,
                    idCol: String, vecCol: String, m: Int,
                    dsub: Int): Unit = StoreSwap.transact(spark, path) {
    val buckets = StoreSwap.bucketCount(spark, path)
    // a residual/rotated sidecar's deltas must be encoded the same way
    // — the flavor travels with the sidecar, not the caller. Pin the
    // codebook and flavor to ONE version.
    val pin = pqPin(spark, path)
    val pqcb = pqDirDf(spark, path, "pq_codebook", "part", pin)
    val (residual, rotated, opq) = pqFlavor(spark, path, pin)
    val (enc, encCol) =
      pqEncInput(spark, path, delta, vecCol, residual, rotated, m * dsub,
        opq)
    val coded = packedCodes(enc, pqcb, idCol, encCol, m, dsub)
      .withColumn("c_bucket",
        pmod(col("cluster"), lit(buckets.toLong)).cast("int"))
    StoreSwap.appendDir(spark, path, "pq_codes", "c_bucket", coded,
      Seq(col("cluster"), col("id")))
  }

  /** IVF-PQ top-k over the partitioned store — coarse probing decides
    * WHICH clusters to scan ([[probeClusters]] against the persisted
    * coarse codebook), and the scan itself reads only the PQ CODE
    * sidecar (bucket-dir + row-group pruned, like
    * [[readStandingStorePruned]]); the full float vectors are never
    * opened at query time. Per query the cost is an m·ksub distance
    * TABLE (computed against the reloaded PQ codebook — bit-equal to
    * training-time values) plus one small-int lookup-and-add per
    * candidate code, the asymmetric-distance arithmetic of [[pqTopK]]
    * verbatim: the fixed sub-order sum makes even the double `adc`
    * engine-exact, so the DuckDB oracle replays it to the last bit.
    * Returns (query_id, rank, neighbor_id, adc) — adc ASCENDING (it is
    * a distance, not a similarity). */
  def pqTopKStore(spark: SparkSession, storePath: String,
                  queries: DataFrame, idCol: String, vecCol: String,
                  m: Int, dsub: Int, k: Int, nProbe: Int): DataFrame = {
    val coarse = readCodebook(spark, storePath)
    require(nProbe >= 1 && nProbe <= coarse.length,
      "need 1 <= nProbe <= nlist")
    val probes = probeRows(queries, idCol, vecCol,
        probeClusters(_, coarse, nProbe))
      .select(col("query_id"), col("qc").cast("long").as("qc"))
    pqAdcOverStore(spark, storePath, queries, probes, idCol, vecCol,
      m, dsub, k)
  }

  /** [[pqTopKStore]] with the probe lists built through the √k ladder —
    * the PQ search at PRODUCTION k: the flat variant ranks all nlist
    * coarse centroids per query, which at k ∝ n is the measured wall of
    * the 1000-query probe tier (StoreLifecycleProbe: the flat PQ scan
    * ties the flat FLOAT scan because both pay the same probe-list
    * ranking, while the laddered float search runs ~1.6× faster). This
    * ranks ceil(√nlist) supers then only kept supers' children, exactly
    * [[ivfTopKStoreTwoLevel]]'s discipline; the store must have been
    * assigned through the same ladder. Approximate exactly as the
    * laddered float search (q185 audits the trade). */
  def pqTopKStoreTwoLevel(spark: SparkSession, storePath: String,
                          queries: DataFrame, idCol: String,
                          vecCol: String, m: Int, dsub: Int, k: Int,
                          sProbe: Int, nProbe: Int): DataFrame = {
    val coarse = readCodebook(spark, storePath)
    val (supers, children) = superQuantize(coarse)
    val probes = probeRows(queries, idCol, vecCol,
        probeClustersTwoLevel(_, supers, children, sProbe, nProbe))
      .select(col("query_id"), col("qc").cast("long").as("qc"))
    pqAdcOverStore(spark, storePath, queries, probes, idCol, vecCol,
      m, dsub, k)
  }

  /** Shared ADC tail of the store PQ searches: pruned PACKED-code scan
    * over the probed clusters, per-query distance TABLE (m×ksub
    * doubles, sub- then cid-ordered nested array) against the reloaded
    * sidecar codebook, and a per-candidate literal sum
    * `((t₀+t₁)+t₂)+t₃` — the same left-associated fixed sub order as
    * [[pqTopK]]'s conditional-sum reduce, so the ADC stays engine-exact
    * while the scan stays ONE row per candidate: no m-row blowup, no
    * per-pair hash aggregation, everything inside whole-stage codegen
    * except the windowed top-k. The table rows are maps keyed by cid
    * (a base-restricted training seeds a SPARSE cid set — q200). */
  private def pqAdcOverStore(spark: SparkSession, storePath: String,
                             queries: DataFrame, probes: DataFrame,
                             idCol: String, vecCol: String, m: Int,
                             dsub: Int, k: Int): DataFrame = {
    StoreSwap.open(spark, storePath)
    // materialized once: the probe-list ranking is the measured wall of
    // large query batches, and the collects below would otherwise
    // re-rank every query a second time inside the broadcast join
    val probesM = probes.localCheckpoint(true) // |queries|·nProbe rows
    // BROADCAST BUDGET: the query side of the ADC join (per-query
    // m×ksub distance maps × the probe rows) is broadcast while it fits
    // `graft.pq.maxBroadcastMb` (default 64). A batch over the budget
    // runs ONE pass with the distance tables SHUFFLED instead: both
    // sides exchange on the cluster key and the ADC join runs as a
    // shuffled hash/sort-merge join, so cost scales with (codes + query
    // tables). Measured (round 12 probe, 200k-vector store): the
    // shuffle already beat a serial loop of budget-sized broadcast
    // chunks at TWO chunks (39.8 vs 48.9 s at 100k queries).
    val pin = pqPin(spark, storePath)
    val (residual, rotated, opq) = pqFlavor(spark, storePath, pin)
    val targetBytes = math.max(1.0,
      GraftConf.PqMaxBroadcastMb(spark) * 1024 * 1024)
    val ksub = pqDirDf(spark, storePath, "pq_codebook", "part", pin)
      .count() / m
    // BOTH flavors broadcast one m×ksub distance map per PROBE row —
    // the vanilla side builds one map per query but joins it onto
    // probesM before broadcasting, duplicating it into every probe row
    // (a distinct-query count would undercount by nProbe× and blow the
    // budget)
    val rowBytes = m * ksub * 32L + 256L
    val broadcastTables = probesM.count() * rowBytes <= targetBytes
    val buckets = StoreSwap.bucketCount(spark, storePath, pin)
    val probed = probesM.select(col("qc")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val tb = probed.map(bucketOf(_, buckets)).distinct
    val pqcb = pqDirDf(spark, storePath, "pq_codebook", "part", pin)
    val codes = pqDirDf(spark, storePath, "pq_codes", "c_bucket", pin)
      .filter(col("c_bucket").isin(tb: _*) &&
        col("cluster").isin(probed: _*))
      .select(col("id").as("nid"), col("codes"), col("cluster"))
    val broadcastSide = if (!residual) {
      // a rotated sidecar's distance tables come from the ROTATED query
      // (codes were trained/encoded in rotated space; R orthogonal, so
      // ADC there estimates original-space distances)
      val (qin, qcol) =
        if (!rotated) (queries.select(col(idCol), col(vecCol)), vecCol)
        else (applyRot(queries.select(col(idCol), col(vecCol)), vecCol,
          "__rot", m * dsub, opq), "__rot")
      val dts = pqSubvectors(qin, idCol, qcol, m, dsub)
        .join(broadcast(pqcb), "sub")
        .withColumn("d2", sqDistCols(col("sv"), col("cent")))
        .groupBy(col("id"), col("sub"))
        // keyed by cid, not position: a base-restricted training seeds a
        // SPARSE cid set (q200), so positional lookup would misalign
        .agg(map_from_entries(collect_list(struct(col("cid"), col("d2"))))
          .as("row"))
        .groupBy(col("id"))
        .agg(map_from_entries(collect_list(struct(col("sub"), col("row"))))
          .as("dts"))
        .select(col("id").as("query_id"), col("dts"))
      probesM.join(dts, "query_id")
    } else {
      // IVF-residual: codes encode (vector − its coarse centroid), so
      // the distance table is PER (query, probed cluster) — the query's
      // residual against THAT cluster's centroid, the standard IVF-ADC
      // arithmetic. Same broadcast footprint as the vanilla side
      // (|queries|·nProbe rows, one m×ksub map each); the extra cost is
      // nProbe distance-table builds per query instead of one, all
      // bounded model-state joins.
      // the coarse codebook at the SAME pinned version as the PQ triple
      // (a refit racing this read must not mix its new centroids with
      // the pinned codes)
      val cb = codebookDf(spark, storePath, pin)
        .select(col("cid").as("__ccid"), col("cent").as("__ccent"))
      val qres0 = probesM
        .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
          "query_id")
        .join(broadcast(cb), col("qc") === col("__ccid"))
        .withColumn("rv",
          zip_with(col("qv").cast("array<double>"), col("__ccent"),
            (a, b) => a - b))
        .select(col("query_id"), col("qc"), col("rv"))
      // rotated+residual: the rotation applies to the RESIDUAL, matching
      // the encode side's order (residualize, then rotate)
      val qres =
        if (!rotated) qres0
        else applyRot(qres0, "rv", "rv", m * dsub, opq)
      val subs = array((0 until m).map { s =>
        struct(lit(s).as("sub"), slice(col("rv"), s * dsub + 1, dsub).as("sv"))
      }: _*)
      qres.select(col("query_id"), col("qc"), explode(subs).as("e"))
        .select(col("query_id"), col("qc"), col("e.sub").as("sub"),
          col("e.sv").as("sv"))
        .join(broadcast(pqcb), "sub")
        .withColumn("d2", sqDistCols(col("sv"), col("cent")))
        .groupBy(col("query_id"), col("qc"), col("sub"))
        .agg(map_from_entries(collect_list(struct(col("cid"), col("d2"))))
          .as("row"))
        .groupBy(col("query_id"), col("qc"))
        .agg(map_from_entries(collect_list(struct(col("sub"), col("row"))))
          .as("dts"))
    }
    val adc = codes
      .join(if (broadcastTables) broadcast(broadcastSide)
            else broadcastSide, // over budget: shuffle both sides on
                                // the cluster key (see above)
        col("cluster") === col("qc"))
      .filter(col("query_id") =!= col("nid"))
      .withColumn("adc", (0 until m).map(s =>
          element_at(element_at(col("dts"), lit(s)),
            element_at(col("codes"), s + 1).cast("long")))
        .reduce(_ + _))
    OrderStats.topKPer(adc, col("query_id"), k)(col("adc"), col("nid"))
      .select(col("query_id"), col("rank"), col("nid").as("neighbor_id"),
        col("adc"))
  }

  /** COMPACT the partitioned standing store — the maintenance job that
    * undoes append fragmentation: every micro-batch append leaves one
    * more file per touched bucket, and a year of daily ingest would
    * leave hundreds of small files whose per-file open cost eats the
    * pruning win. Buckets holding more than `maxFilesPerBucket` data
    * files are re-written as one cluster-sorted file each; contents are
    * unchanged by construction. The rewrite goes through
    * [[StoreSwap.stagedRewrite]]: the compacted buckets are staged to
    * disk and published by one manifest commit, so a crash never
    * leaves a bucket half-compacted and nothing is pinned in executor
    * memory. Returns the bucket ids compacted. */
  def compactStandingStore(spark: SparkSession, path: String,
                           maxFilesPerBucket: Int = 4): Seq[Int] = {
    require(maxFilesPerBucket >= 1, "need maxFilesPerBucket >= 1")
    StoreSwap.open(spark, path)
    val frag = fragBuckets(spark, path, "data", "c_bucket",
      maxFilesPerBucket)
    if (frag.isEmpty) return Seq.empty
    val (df, _) = readStandingStore(spark, path)
    val slice = df.filter(col("c_bucket").isin(frag: _*))
    StoreSwap.stagedRewrite(spark, path, "c_bucket", frag, slice,
      Seq(col("cluster")))
    frag
  }

  /** Buckets of `$path/$dataDir` holding more than `maxFiles` data
    * files — the shared fragmentation detector of both compactors.
    * Each bucket's files are counted ACROSS its generations (appends
    * add a gen per batch — the fragmentation is the gen list). */
  private def fragBuckets(spark: SparkSession, path: String,
                          dataDir: String, partCol: String,
                          maxFiles: Int): Seq[Int] = {
    val conf = spark.sessionState.newHadoopConf()
    StoreSwap.latestSnapshot(spark, path, dataDir).toSeq.flatMap {
      case (_, entries) => entries.toSeq.flatMap { case (d, gens) =>
        d.stripPrefix(partCol + "=").toIntOption.filter { _ =>
          gens.map { g =>
            val p = new org.apache.hadoop.fs.Path(
              s"$path/$dataDir.gens/g$g/$d")
            val fs = p.getFileSystem(conf)
            if (fs.exists(p)) fs.listStatus(p)
              .count(_.getPath.getName.startsWith("part-"))
            else 0
          }.sum > maxFiles
        }
      }
    }.sorted
  }

  /** Compact the PQ code sidecar's append-fragmented buckets — the
    * codes fragment exactly like the data files (one more file per
    * touched bucket per [[appendPqCodes]] batch) and their per-file
    * open cost eats the probe-pruning win the same way. Same detection
    * and staged-rewrite discipline as [[compactStandingStore]]; a no-op
    * (empty) when the store has no sidecar. */
  def compactPqCodes(spark: SparkSession, path: String,
                     maxFilesPerBucket: Int = 4): Seq[Int] = {
    require(maxFilesPerBucket >= 1, "need maxFilesPerBucket >= 1")
    StoreSwap.open(spark, path)
    val frag = fragBuckets(spark, path, "pq_codes", "c_bucket",
      maxFilesPerBucket)
    if (frag.isEmpty) return Seq.empty
    val slice = StoreSwap.readDir(spark, path, "pq_codes", "c_bucket")
      .filter(col("c_bucket").isin(frag: _*))
    StoreSwap.stagedRewrite(spark, path, "c_bucket", frag, slice,
      Seq(col("cluster"), col("id")), "pq_codes")
    frag
  }

  /** DELETE-BY-ID from the partitioned standing store — the
    * right-to-be-forgotten lifecycle a standing corpus must support
    * without a full rewrite. Two passes: (1) a column-pruned semi-join
    * scan finds which `c_bucket` partition directories contain any of
    * the ids (driver state = the touched bucket list, ≤ `buckets`
    * ints); (2) ONLY those buckets are re-written without the deleted
    * rows, through [[StoreSwap.stagedRewrite]] — untouched buckets'
    * files are never opened for the rewrite and never replaced (the
    * spec asserts their listings are byte-identical), the kept slice is
    * staged to disk (nothing pinned in executor memory), and the
    * rewrite is all-or-nothing behind one manifest commit: a crash at
    * any point leaves the store untouched, so "forgotten" rows can
    * never resurrect. A bucket the delete empties entirely leaves the
    * manifest. `ids` is a DataFrame (an anti-join, not a driver
    * literal), so the delete set itself scales. Returns the
    * number of rows deleted. */
  def deleteFromStandingStore(spark: SparkSession, path: String,
                              ids: DataFrame,
                              idCol: String): Long = StoreSwap.transact(
      spark, path) {
    val (df, buckets) = readStandingStore(spark, path)
    val idSet = ids.select(col(idCol)).distinct()
    val touched = df.join(idSet, Seq(idCol), "left_semi")
      .select(col("c_bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return 0L
    val slice = df.filter(col("c_bucket").isin(touched: _*))
    val kept = slice.join(idSet, Seq(idCol), "left_anti")
    val before = slice.count()
    // the sidecar's codes leave in the same commit as the rows
    dropPqCodes(spark, path, touched,
      c => c.join(idSet.select(col(idCol).as("id")), Seq("id"), "left_anti"))
    before - StoreSwap.stagedRewrite(spark, path, "c_bucket", touched,
      kept, Seq(col("cluster")))
  }

  /** [[appendPqCodes]] with m/dsub derived from the persisted sidecar
    * codebook — a no-op when the store has no sidecar. Used by the
    * lifecycle mutations (refit) that must keep codes consistent
    * without carrying the PQ geometry in their signatures. */
  private def refreshPqCodes(spark: SparkSession, path: String,
                             df: DataFrame, idCol: String,
                             vecCol: String): Unit = {
    if (!StoreSwap.dirExists(spark, path, "pq_codebook")) return
    val geo = StoreSwap.readDir(spark, path, "pq_codebook", "part")
      .agg(max(col("sub")).as("m1"), max(size(col("cent"))).as("d")).head
    appendPqCodes(spark, path,
      df.select(col(idCol), col(vecCol), col("cluster")),
      idCol, vecCol, m = geo.getInt(0) + 1, dsub = geo.getInt(1))
  }

  /** Rewrite the PQ code sidecar's `touched` buckets keeping only
    * `keep(slice)`'s rows — a no-op when the store has no sidecar. The
    * codes share the store's bucket derivation (cluster mod buckets),
    * so the data rewrite's touched list applies verbatim. */
  private def dropPqCodes(spark: SparkSession, path: String,
                          touched: Seq[Int],
                          keep: DataFrame => DataFrame): Unit = {
    if (!StoreSwap.dirExists(spark, path, "pq_codes")) return
    val slice = StoreSwap.readDir(spark, path, "pq_codes", "c_bucket")
      .filter(col("c_bucket").isin(touched: _*))
    StoreSwap.stagedRewrite(spark, path, "c_bucket", touched, keep(slice),
      Seq(col("cluster"), col("id")), "pq_codes")
  }

  /** DELETE whole clusters from the partitioned store. Unlike the
    * by-id delete, the touched buckets are DERIVED (cluster mod
    * buckets) — no discovery scan at all; only those buckets are read
    * and rewritten without the doomed clusters' rows, with the same
    * staged, crash-atomic rewrite (and emptied-bucket handling) as
    * [[deleteFromStandingStore]]. Returns rows removed. */
  def deleteClustersFromStore(spark: SparkSession, path: String,
                              clusters: Set[Long]): Long = StoreSwap.transact(
      spark, path) {
    if (clusters.isEmpty) return 0L
    val (df, buckets) = readStandingStore(spark, path)
    val touched = clusters.map(bucketOf(_, buckets)).toSeq.sorted
    val slice = df.filter(col("c_bucket").isin(touched: _*))
    val kept = slice.filter(!col("cluster").isin(clusters.toSeq: _*))
    val before = slice.count()
    dropPqCodes(spark, path, touched,
      c => c.filter(!col("cluster").isin(clusters.toSeq: _*)))
    before - StoreSwap.stagedRewrite(spark, path, "c_bucket", touched,
      kept, Seq(col("cluster")))
  }

  /** IN-PLACE drift refit of the partitioned store — what a standing
    * corpus DOES with a [[codebookDrift]] report, without rewriting the
    * corpus: the drifted clusters' members are read through the pruned
    * path (their buckets only), re-clustered among themselves at the
    * k ∝ n discipline, written back under FRESH cluster ids (appended
    * past the codebook's maximum — ids are never reused, so readers
    * holding the old codebook can detect retirement), and the persisted
    * codebook becomes survivors ∪ refit. Undrifted clusters keep their
    * ids AND their files: cost tracks the drifted slice, not the
    * corpus. Semantics differ deliberately from [[refitDriftedClusters]]
    * (which re-assigns the whole corpus against the merged codebook and
    * renumbers): here membership of undrifted clusters is SETTLED — the
    * same invariant the incremental dedup flow already commits to.
    * The whole sequence (cluster delete, append, code refresh, codebook
    * write) is ONE store transaction: a crash anywhere before its
    * manifest rename leaves the store at its pre-refit version, and a
    * re-run with the same `drifted` set is a clean refit.
    * Returns the fresh (cid, centroid) entries. */
  def refitStoreDriftedClusters(spark: SparkSession, path: String,
                                idCol: String, vecCol: String,
                                drifted: Set[Long],
                                targetClusterSize: Long = 50,
                                iters: Int = 2): Seq[(Long, Seq[Double])] = {
    if (drifted.isEmpty) return Seq.empty
    // the whole delete→append→re-encode→codebook sequence publishes as
    // ONE manifest rename ([[StoreSwap.transact]]): a reader racing the
    // refit sees the pre-refit store or the finished one — never the
    // window where the drifted members are deleted but their
    // re-clustered rows not yet appended
    StoreSwap.transact(spark, path) {
      refitLocked(spark, path, idCol, vecCol, drifted,
        targetClusterSize, iters)
    }
  }

  private def refitLocked(spark: SparkSession, path: String,
                          idCol: String, vecCol: String,
                          drifted: Set[Long], targetClusterSize: Long,
                          iters: Int): Seq[(Long, Seq[Double])] = {
    val cb = readCodebookIds(spark, path)
    // read before the delete: the files it lists are the pre-delete
    // generations, which stay on disk until the transaction publishes
    val members = readStandingStorePruned(spark, path, drifted.toSeq)
    val nMem = members.count()
    if (nMem == 0L) return Seq.empty
    val nextId = cb.map(_._1).max + 1
    val kRefit = math.max(1L,
      (nMem + targetClusterSize - 1) / targetClusterSize).toInt
    val refit = trainCentroids(members, idCol, vecCol, kRefit, iters)
    val fresh = refit.zipWithIndex.map { case (c, i) => (nextId + i, c) }
    val reassigned = members
      .withColumn("cluster",
        assignCluster(col(vecCol), refit).cast("long") + lit(nextId))
    deleteClustersFromStore(spark, path, drifted) // drops sidecar codes too
    appendToStandingStore(reassigned
      .select(col(idCol), col(vecCol), col("cluster"), col("nrm")),
      path, "cluster")
    // codebook BEFORE the code refresh: a residual sidecar re-encodes
    // against the coarse codebook, which must already hold the fresh
    // cids or the encode's centroid join silently drops every refit
    // member. The refit members are re-encoded against the FROZEN PQ
    // codebook (its geometry didn't move — only coarse ids did)
    writeCodebookIds(spark, path,
      cb.filterNot { case (cid, _) => drifted(cid) } ++ fresh)
    refreshPqCodes(spark, path, reassigned, idCol, vecCol)
    fresh
  }

  /** The daily-flow entry point over the PARTITIONED store: collect the
    * delta's touched clusters (≤ |delta| longs — batch-bounded driver
    * state), open only their buckets, and run the prepped core. This is
    * [[semDedupIncrementalPrepped]]'s `pruneBaseByDeltaClusters` made
    * physical: per-batch base I/O tracks the DELTA's cluster footprint,
    * not the corpus size. `deltaAssigned` must already carry
    * (idCol, vecCol, deltaClusterCol, deltaNrmCol) and should be
    * materialized by the caller (it is referenced by the collect and
    * both joins). */
  def semDedupIncrementalStore(spark: SparkSession, storePath: String,
                               deltaAssigned: DataFrame,
                               idCol: String, vecCol: String,
                               deltaClusterCol: String, deltaNrmCol: String,
                               minCos: Double): DataFrame = {
    val touched = deltaAssigned
      .select(col(deltaClusterCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val base = readStandingStorePruned(spark, storePath, touched, "cluster")
    semDedupIncrementalPrepped(base, deltaAssigned, idCol, vecCol,
      "cluster", "nrm", deltaClusterCol, deltaNrmCol, minCos)
  }

  /** CODEBOOK-DRIFT AUDIT — the governance check a standing corpus runs
    * before trusting [[semDedupIncremental]] for another month: retrain
    * the quantizer on base + accumulated deltas and measure, per
    * STANDING cluster, how coherently its members re-assign under the
    * fresh codebook. Centroid ids of two independently-trained
    * codebooks are not comparable, so coherence is measured
    * label-free: `n_modal` = the largest block of the standing
    * cluster's members that lands together in ONE retrained cluster
    * (`stable_ppm` = its ppm share). A cluster whose members scatter
    * (low stable_ppm, high n_new_clusters) is where the standing
    * quantizer has drifted off the data — re-cluster there first.
    *
    * Cost: both assignments are codegen'd literal argmins fused in one
    * corpus scan; the audit aggregate is two map-side-combined
    * groupBys on ≤ k·k' then ≤ k rows. All outputs are exact integers,
    * so the oracle (q178) replays both trainings and the audit
    * verbatim. */
  def codebookDrift(corpus: DataFrame, idCol: String, vecCol: String,
                    standing: Seq[Seq[Double]],
                    retrained: Seq[Seq[Double]]): DataFrame = {
    val assigned = corpus
      .withColumn("__std", assignCluster(col(vecCol), standing).cast("long"))
      .withColumn("__new", assignCluster(col(vecCol), retrained).cast("long"))
    val pairCounts = assigned.groupBy(col("__std"), col("__new"))
      .agg(count(lit(1)).cast("long").as("n"))
    pairCounts.groupBy(col("__std").as("cluster"))
      .agg(sum(col("n")).cast("long").as("n_vectors"),
        count(lit(1)).cast("long").as("n_new_clusters"),
        max(col("n")).cast("long").as("n_modal"))
      .withColumn("stable_ppm", expr("(1000000 * n_modal) div n_vectors"))
      .orderBy(col("cluster"))
  }

  /** DRIFT-TRIGGERED PARTIAL REFIT — what a deployment actually does
    * with a [[codebookDrift]] report: clusters whose stable_ppm fell
    * below the threshold are re-clustered, the rest of the standing
    * codebook survives untouched. The refit trains ONLY on the drifted
    * clusters' members (k' = ceil(|members|/targetClusterSize), the
    * same k ∝ n discipline), so its cost tracks the drift, not the
    * corpus; the merged codebook is the surviving standing centroids
    * (in standing order) followed by the refit centroids (in training
    * order). Returns the corpus re-assigned against the merged
    * codebook. A full retrain moves EVERY cluster id and forces a full
    * standing-store rewrite; the partial refit keeps undrifted
    * clusters' ids stable so their store partitions stay valid —
    * at 100 TB that is the difference between rewriting the corpus and
    * rewriting the drifted slice. */
  def refitDriftedClusters(corpus: DataFrame, idCol: String, vecCol: String,
                           standing: Seq[Seq[Double]],
                           driftedClusters: Set[Long],
                           targetClusterSize: Long = 50,
                           iters: Int = 2): DataFrame = {
    val survivors = standing.indices
      .filterNot(i => driftedClusters(i.toLong)).map(standing)
    val merged =
      if (driftedClusters.isEmpty) standing
      else {
        val members = corpus
          .withColumn("__std",
            assignCluster(col(vecCol), standing).cast("long"))
          .filter(col("__std").isin(driftedClusters.toSeq: _*))
          .select(col(idCol), col(vecCol))
        val nMem = members.count()
        val kRefit = math.max(1L,
          (nMem + targetClusterSize - 1) / targetClusterSize).toInt
        survivors ++ trainCentroids(members, idCol, vecCol, kRefit, iters)
      }
    corpus.withColumn("cluster",
      assignCluster(col(vecCol), merged).cast("long"))
  }

  /** [[semDedupAuto]] with the codebook trained on a BOUNDED SAMPLE —
    * the next rung of the scale ladder the auto variant's scaladoc
    * documents: centroids are means, so a uniform sample estimates
    * them, and training cost drops from n·k to |sample|·k per pass
    * while the (single) full-corpus assignment and the linear dedup
    * pair space are unchanged. `trainSample` must be a deterministic
    * predicate (id-hash mod, not rand()) so runs reproduce; the sample
    * must contain ≥ k vectors (the trainer's seed requirement). q172
    * value-gates this exact path, sample predicate and all. */
  def semDedupAutoSampled(corpus: DataFrame, idCol: String, vecCol: String,
                          minCos: Double, trainSample: Column,
                          targetClusterSize: Long = 1000,
                          iters: Int = 2): DataFrame = {
    val n = corpus.count()
    val k = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
    val cents = trainCentroids(corpus.filter(trainSample), idCol, vecCol,
      k, iters)
    semDedup(corpus, idCol, vecCol, cents, minCos)
  }

  /** [[knnGraph]] with the cluster structure LEARNED at
    * corpus-proportional granularity — the production configuration of
    * the mutual-kNN graph (a FIXED label/cluster set makes the blocked
    * pair space Σ|cluster|² quadratic as the corpus outgrows it; a
    * codebook of ceil(n / targetClusterSize) centroids keeps expected
    * cluster size constant, so the pair space stays ~n·targetClusterSize,
    * linear in n). Codebook trained by the deterministic, fixed-point
    * [[trainCentroids]]; assignment is a codegen'd projection. This is
    * the path the sf10 probe measures and q169 value-gates. */
  def knnGraphAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   targetClusterSize: Long = 1000,
                   iters: Int = 2): DataFrame = {
    val n = emb.count()
    val nClusters =
      math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
    val cents = trainCentroids(emb, idCol, vecCol, nClusters, iters)
    knnGraph(
      emb.withColumn("__cluster",
        assignCluster(col(vecCol), cents).cast("long")),
      idCol, vecCol, "__cluster", k)
  }

  /** Symmetric int8 quantization of an embedding column — the memory move
    * that makes billion-scale ANN fit executor RAM (4× smaller than
    * float32, 8× than float64; recall loss is bounded by the ≤1/254
    * per-component relative error). Adds `q_scale` (per-vector max |v|,
    * double) and `q_vec` (array<int> in [-127, 127]); `q_scale = 0`
    * (all-zero vector) quantizes to zeros. Every step is closed-form
    * IEEE-double arithmetic (`floor(v·127/m + 0.5)` — floor-based
    * half-up rounding, not a mode-dependent `round()`), so a SQL oracle
    * replays the quantization bit-exactly (q119). Dequantized value =
    * `q · m / 127`. */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val m = array_max(transform(v, x => abs(x.cast("double"))))
    df.withColumn("q_scale", m)
      .withColumn("q_vec",
        when(col("q_scale") === 0d, transform(v, _ => lit(0)))
          .otherwise(transform(v, x =>
            floor(x.cast("double") * lit(127d) / col("q_scale") + lit(0.5d))
              .cast("int"))))
  }

  /** Ordered squared-L2 between two array COLUMNS (vs [[squaredDist]]'s
    * literal second operand): zip preserves element order and the fold
    * is left-associative, so the double result is bit-identical across
    * engines and partitionings. */
  def sqDistCols(x: Column, y: Column): Column =
    aggregate(zip_with(x.cast("array<double>"), y,
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)

  /** (id, sub, sv): each vector split into `m` contiguous `dsub`-wide
    * subvectors — product quantization's decomposition. */
  def pqSubvectors(df: DataFrame, idCol: String, vecCol: String,
                   m: Int, dsub: Int): DataFrame = {
    val subs = array((0 until m).map { s =>
      struct(lit(s).as("sub"), slice(col(vecCol), s * dsub + 1, dsub).as("sv"))
    }: _*)
    df.select(col(idCol).as("id"), explode(subs).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
  }

  /** Product-quantization codebooks, trained FULLY RELATIONALLY — the
    * codebook never touches the driver. Per subspace: seed with the
    * subvectors of ids `< ksub` (a FILTER, not a top-k — the
    * driver-generated corpora have 0-based contiguous ids; a corpus with
    * sparse ids must remap first or it seeds short), run one Lloyd step
    * where assignment is
    * an argmin over the broadcast (m·ksub)-row centroid relation and the
    * re-estimated means use the [[labelCentroidRows]] fixed-point trick
    * (`round(v·2^scaleBits)` summed as longs — associative, so the
    * distributed sum is bit-identical under any partitioning and exactly
    * replayable in SQL). A cluster that loses all members keeps its
    * seed centroid. Per-(sub,cid) array assembly buffers ≤ dsub entries.
    *
    * @return (sub, cid, cent: array<double>) — m·ksub rows. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, dsub: Int, ksub: Int,
                  scaleBits: Int = 20): DataFrame = {
    val q = (1L << scaleBits).toDouble
    val sv = pqSubvectors(corpus, idCol, vecCol, m, dsub)
    val init = sv.filter(col("id") < ksub)
      .select(col("sub"), col("id").cast("long").as("cid"),
        col("sv").cast("array<double>").as("cent"))
    val a0 = sv.join(broadcast(init), "sub")
      .withColumn("d2", sqDistCols(col("sv"), col("cent")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .select(col("id"), col("sub"), col("mn.cid").as("cid"))
    val means = sv.join(a0, Seq("id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(sum(round(col("v").cast("double") * lit(q)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("sub"), col("cid"), col("pos"),
        (col("s").cast("double") / col("n").cast("double") / lit(q)).as("c"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("tcent"))
    init.join(means, Seq("sub", "cid"), "left")
      .select(col("sub"), col("cid"),
        coalesce(col("tcent"), col("cent")).as("cent"))
  }

  /** PQ asymmetric-distance top-k: the corpus is stored as m small
    * centroid codes (here 4×8 = 32·log₂8 bits/vector vs 64 floats), and
    * each query scans codes via an m·ksub distance TABLE instead of full
    * float vectors — the memory-bandwidth compression a billion-vector
    * scan runs (pair with IVF probing to also prune candidates; this
    * operator isolates the ADC arithmetic). The per-pair distance sums
    * the m table entries in fixed sub order, so even the double `adc` is
    * engine-exact. Codebook relation is eagerly checkpointed (m·ksub
    * rows — bounded model state) so the three consumers don't re-run
    * training. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, m: Int, dsub: Int, ksub: Int,
             k: Int): DataFrame = {
    val cents = pqCodebooks(corpus, idCol, vecCol, m, dsub, ksub)
      .localCheckpoint(true)
    val codes = pqSubvectors(corpus, idCol, vecCol, m, dsub)
      .join(broadcast(cents), "sub")
      .withColumn("d2", sqDistCols(col("sv"), col("cent")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .select(col("id").as("nid"), col("sub"), col("mn.cid").as("cid"))
    val qdt = pqSubvectors(queries, idCol, vecCol, m, dsub)
      .join(broadcast(cents), "sub")
      .withColumn("d2", sqDistCols(col("sv"), col("cent")))
      .select(col("id").as("query_id"), col("sub"), col("cid"), col("d2"))
    val sums = (0 until m).map(s =>
      sum(when(col("sub") === s, col("d2")).otherwise(lit(0.0))).as(s"s$s"))
    val adc = codes.join(broadcast(qdt), Seq("sub", "cid"))
      .filter(col("query_id") =!= col("nid"))
      .groupBy(col("query_id"), col("nid"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("adc", (0 until m).map(s => col(s"s$s")).reduce(_ + _))
    OrderStats.topKPer(adc, col("query_id"), k)(col("adc"), col("nid"))
      .select(col("query_id"), col("rank"), col("nid").as("neighbor_id"),
        col("adc"))
  }
}
