package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-lifecycle wall-times at the TRUE k ∝ n tier
  * (`Test/runMain graft.StoreLifecycleProbe`): every q187-q192
  * mechanism exercised once against the ScaleGen sf10 corpus
  * (200k vectors, k = 4000, buckets = 64) — build, small-batch pruned
  * judgment, keeper append, 1%-of-ids delete, compaction, 8-cluster
  * in-place refit, and a 10-query ANN search from disk. The claim
  * under measurement: every mutation's cost tracks its own footprint
  * (batch, ids' buckets, fragmented buckets, drifted slice, probed
  * clusters), never the corpus.
  */
object StoreLifecycleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // candidate-id pushdown (Dedup.lshJudgeChunk): let bounded IN
      // lists reach the parquet reader as OR-of-equals so id-sorted
      // files page-skip, instead of the default-10 cutoff
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity

    val dir = "/tmp/graft_sf10"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "embeddings.parquet"))) {
      println(s"""{"probe":"store_lifecycle","skipped":"no $dir"}""")
      spark.stop(); return
    }
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).cache()
    val n = base.count()
    val k = ((n + 49) / 50).toInt
    val m = math.max(1L, n / math.max(2L * k, 2000L))
    val cents = Similarity.trainCentroids(
      base.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0),
      "vec_id", "embedding", k, iters = 1)
    val (supers, children) = Similarity.superQuantize(cents)
    def assignedTwoLevel(df: DataFrame) = df
      .withColumn("cluster",
        Similarity.assignClusterTwoLevel(col("embedding"), supers,
          children).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))

    def t(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft-lc-").resolve("standing").toString

    val buildSec = t {
      Similarity.writeStandingStore(assignedTwoLevel(base), store,
        "cluster", buckets = 64)
      Similarity.writeCodebook(spark, store, cents)
    }
    // 32-row batch: scaled twins of ids 0,7,14,...
    val batch = assignedTwoLevel(
      base.filter(col("vec_id") % 7 === 0).limit(32)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), v => v * lit(1.5f)).as("embedding")))
      .cache()
    batch.count()
    var verdicts: DataFrame = null
    val judgeSec = t {
      verdicts = Similarity.semDedupIncrementalStore(spark, store, batch,
        "vec_id", "embedding", "cluster", "nrm", minCos = 0.99)
        .localCheckpoint(true)
    }
    val nKept = verdicts.filter(col("keep")).count()
    val appendSec = t {
      Similarity.appendToStandingStore(
        batch.join(verdicts.filter(col("keep")).select("vec_id"), "vec_id")
          .select(col("vec_id"), col("embedding"), col("cluster"),
            col("nrm")),
        store, "cluster")
    }
    // compact BEFORE the 1% delete: the delete's ids land in every
    // bucket, so its rewrite would incidentally coalesce the append
    // fragmentation and compaction would (correctly) find nothing
    var nCompacted = 0
    val compactSec = t {
      nCompacted = Similarity.compactStandingStore(spark, store,
        maxFilesPerBucket = 1).length
    }
    val deleteSec = t {
      Similarity.deleteFromStandingStore(spark, store,
        base.filter(col("vec_id") % 100 === 7).select("vec_id"), "vec_id")
    }
    val live = Similarity.readStandingStore(spark, store)._1
      .select(col("cluster")).distinct().orderBy(col("cluster"))
      .limit(8).collect().map(_.getLong(0)).toSet
    var nFresh = 0
    val refitSec = t {
      nFresh = Similarity.refitStoreDriftedClusters(spark, store,
        "vec_id", "embedding", live, targetClusterSize = 50,
        iters = 1).length
    }
    val queries = base.filter(col("vec_id") < 10)
    var searchRows = 0L
    val searchSec = t {
      searchRows = Similarity.ivfTopKStore(spark, store, queries,
        "vec_id", "embedding", k = 5, nProbe = 4).count()
    }
    // the ladder search: at 10 queries both variants are plan-literal
    // dominated; the ladder's n·2√k-vs-n·k arithmetic win needs a
    // query batch large enough that per-row ranking dominates
    var search2Rows = 0L
    val search2Sec = t {
      search2Rows = Similarity.ivfTopKStoreTwoLevel(spark, store, queries,
        "vec_id", "embedding", k = 5, sProbe = 8, nProbe = 4).count()
    }
    val bigQueries = base.filter(col("vec_id") < 1000)
    val searchBigFlatSec = t {
      Similarity.ivfTopKStore(spark, store, bigQueries,
        "vec_id", "embedding", k = 5, nProbe = 4).count()
    }
    val searchBigLadderSec = t {
      Similarity.ivfTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", k = 5, sProbe = 8, nProbe = 4).count()
    }
    // PQ sidecar at the tier (q199/q200 mechanisms): one-shot train +
    // full-corpus encode, frozen-codebook delta encode, and the
    // code-scan ADC search for the same 1000-query batch the float
    // scans above ran — the bytes-per-candidate claim in wall time
    val pqWriteSec = t {
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8)
    }
    val pqAppendSec = t {
      Similarity.appendPqCodes(spark, store,
        batch.join(verdicts.filter(col("keep")).select("vec_id"), "vec_id")
          .select(col("vec_id"), col("embedding"), col("cluster")),
        "vec_id", "embedding", m = 4, dsub = 16)
    }
    val pqSearchBigSec = t {
      Similarity.pqTopKStore(spark, store, bigQueries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 4).count()
    }
    val pqSearchBigLadderSec = t {
      Similarity.pqTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 8,
        nProbe = 4).count()
    }
    // PQ ranking fidelity at PRODUCTION parameters (same probe lists on
    // both sides, so this isolates the code-distance distortion — the
    // probe trade itself is q185's audit): top-5 overlap of the
    // PQ-ladder vs the float-ladder search over the same 1000 queries
    val pqTop = Similarity.pqTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 8,
        nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val flTop = Similarity.ivfTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", k = 5, sProbe = 8, nProbe = 4)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    val flCount = flTop.count()
    val overlapPct =
      if (flCount == 0) 0L
      else pqTop.join(flTop, pqTop("query_id") === flTop("q2") &&
        pqTop("neighbor_id") === flTop("n2")).count() * 100 / flCount
    // 100k-QUERY tier: bcRows·rowBytes ≈ 128 MB at m=4/ksub=8 exceeds
    // the 64 MB default broadcast budget, so this runs pqAdcOverStore's
    // SHUFFLED pass at real batch scale — the production shape for bulk
    // near-dup scoring
    var search100kRows = 0L
    val pqSearch100kSec = t {
      search100kRows = Similarity.pqTopKStoreTwoLevel(spark, store,
        base.filter(col("vec_id") < 100000), "vec_id", "embedding",
        m = 4, dsub = 16, k = 5, sProbe = 8, nProbe = 4).count()
    }
    // 1M-QUERY tier: 5× the corpus under shifted ids ⇒ ~5 GB of
    // distance tables, ~80× the 64 MB budget — the shuffled pass at
    // bulk-scoring scale
    val q1m = (0 until 5).map { i =>
      base.select((col("vec_id") + lit(i.toLong * 10000000L))
        .as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
    var search1mRows = 0L
    val pqSearch1mSec = t {
      search1mRows = Similarity.pqTopKStoreTwoLevel(spark, store, q1m,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 8,
        nProbe = 4).count()
    }
    // fidelity is a PARAMETER choice: re-encode at a production-grade
    // geometry (m=8 subs × 256 codes = 64 bits/vector vs the toy
    // 4×8 = 12 bits) and re-measure — near-uniform random vectors are
    // PQ's worst case, so this is the floor a real corpus improves on
    val pqWrite256Sec = t {
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 8, dsub = 8, ksub = 256)
    }
    val pqSearch256Sec = t {
      Similarity.pqTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", m = 8, dsub = 8, k = 5, sProbe = 8,
        nProbe = 4).count()
    }
    val pqTop256 = Similarity.pqTopKStoreTwoLevel(spark, store,
        bigQueries, "vec_id", "embedding", m = 8, dsub = 8, k = 5,
        sProbe = 8, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val overlap256Pct =
      if (flCount == 0) 0L
      else pqTop256.join(flTop, pqTop256("query_id") === flTop("q2") &&
        pqTop256("neighbor_id") === flTop("n2")).count() * 100 / flCount
    // VERSIONED-TRIPLE tier (round 14): the sidecar write + search
    // through the store manifest — writePqSidecar commits codebook/
    // meta/codes inside ONE StoreSwap.transact manifest rename and
    // pqTopKStoreTwoLevel resolves all three at one pinned version
    // (pqPin). `unifyMigrateSec` is the open of a store already on the
    // manifest (the protocol check); the two writes are the first and
    // the steady-state reader-atomic rewrite a production store runs.
    val unifyMigrateSec = t { graft.operators.StoreSwap.open(spark, store) }
    val pqWriteUnifiedCutoverSec = t {
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8)
    }
    val pqWriteUnifiedSec = t {
      Similarity.writePqSidecar(spark, store, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8)
    }
    // proof the searches below resolve through the pinned triple: the
    // triple is present in the store manifest
    val pqUnifiedVersioned = graft.operators.StoreSwap
      .snapshot(spark, store).exists("pq_meta")
    val pqSearchUnifiedSec = t {
      Similarity.pqTopKStoreTwoLevel(spark, store, bigQueries,
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, sProbe = 8,
        nProbe = 4).count()
    }
    val pqSearchUnified100kSec = t {
      Similarity.pqTopKStoreTwoLevel(spark, store,
        base.filter(col("vec_id") < 100000), "vec_id", "embedding",
        m = 4, dsub = 16, k = 5, sProbe = 8, nProbe = 4).count()
    }
    // UNIFIED GC AT TIER SCALE: `graft.store.snapshotKeep` bounds the
    // retained window and EVERY commit GCs expired manifests plus the
    // generation dirs they alone referenced. Recorded: wall of 4
    // 100-row appends at keep = 2 (each commit carries one expired
    // version's gen reclamation at sf10 store sizes — GC cost rides
    // the mutation, so this is how a production store pays it), the
    // OLDEST retained version still reading exactly the rows it held
    // when live, and the refusal for a GC'd version (a reader must
    // never get a partial or aliased snapshot).
    import graft.operators.StoreSwap
    spark.conf.set("graft.store.snapshotKeep", "2")
    val gcC0 = Similarity.readStandingStore(spark, store)._1.count()
    val gcAppends4Sec = t {
      (1 to 4).foreach { i =>
        Similarity.appendToStandingStore(
          assignedTwoLevel(base.filter(col("vec_id") < 100)
            .select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
              col("embedding")))
            .select(col("vec_id"), col("embedding"), col("cluster"),
              col("nrm")),
          store, "cluster")
      }
    }
    val gcVs = StoreSwap.snapshotVersions(spark, store)
    // oldest retained = 2 appends in: base + 200 rows, byte-exact
    val gcRetainedIntact = gcVs.size == 3 &&
      StoreSwap.snapshot(spark, store, Some(gcVs.head)).read("data", "c_bucket").count() ==
        gcC0 + 200
    val gcRefusalOk =
      try {
        StoreSwap.snapshot(spark, store, Some(gcVs.head - 1)).read("data", "c_bucket")
        false
      } catch {
        case e: RuntimeException =>
          Option(e.getMessage).exists(_.contains("snapshotKeep"))
      }
    spark.conf.unset("graft.store.snapshotKeep")

    // RESIDUAL RUNG on CLUSTERED geometry — the realistic recall curve
    // (q210's regime at tier scale): 256 planted centers + 0.15× noise
    // derived from the corpus itself, ONE store, four sidecar flavors
    // (vanilla/residual × 12/64 bits per vector), each measured as
    // recall@5 against the exact float ranking of the same 1000
    // queries. The near-uniform tiers above are PQ's floor; this is
    // the curve a real corpus sits on, and where the residual rung's
    // bits-vs-recall knob actually operates.
    val nClus = math.min(n, 50000L)
    val centers = base.filter(col("vec_id") < 256)
      .select(col("vec_id").as("gid"), col("embedding").as("ce"))
    val clus = base.filter(col("vec_id") < nClus)
      .join(broadcast(centers),
        pmod(col("vec_id"), lit(256L)) === col("gid"))
      .select(col("vec_id"),
        zip_with(col("ce").cast("array<double>"),
          col("embedding").cast("array<double>"),
          (c, nz) => c + nz * lit(0.15)).as("embedding"))
      .cache()
    clus.count()
    val ccents = Similarity.trainCentroids(clus, "vec_id", "embedding",
      256, iters = 1)
    val cstore = java.nio.file.Files
      .createTempDirectory("graft-lc-clus-").resolve("standing").toString
    Similarity.writeStandingStore(
      clus.withColumn("cluster",
          Similarity.assignCluster(col("embedding"), ccents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      cstore, "cluster", buckets = 64)
    Similarity.writeCodebook(spark, cstore, ccents)
    val cq = clus.filter(col("vec_id") < 1000)
    val exTop = Similarity.bruteForceTopK(cq, clus, "vec_id", "embedding",
        k = 5)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      .localCheckpoint(true)
    val exCount = exTop.count()
    def recallAt(mm: Int, ds: Int, ks: Int, res: Boolean): (Double, Long) = {
      val w = t {
        Similarity.writePqSidecar(spark, cstore, "vec_id", "embedding",
          mm, ds, ks, res)
      }
      val top = Similarity.pqTopKStore(spark, cstore, cq,
          "vec_id", "embedding", mm, ds, k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val r = if (exCount == 0) 0L
        else top.join(exTop, top("query_id") === col("q2") &&
          top("neighbor_id") === col("n2")).count() * 100 / exCount
      (w, r)
    }
    val (cw12v, rec12v) = recallAt(4, 16, 8, res = false)
    val (cw12r, rec12r) = recallAt(4, 16, 8, res = true)
    val (cw64v, rec64v) = recallAt(8, 8, 256, res = false)
    val (cw64r, rec64r) = recallAt(8, 8, 256, res = true)
    // ROTATION RUNG on REDUNDANT-DIMS geometry (q217's regime at tier
    // scale): dimension j = e[j mod 16] + 0.05·e[j], so every
    // subquantizer slice carries a copy of the same 16 variables —
    // plain PQ's four codes are redundant, the rotated codes compose.
    // Same store, plain vs rotated at 12 bits, recall@5 vs exact.
    val red = graft.operators.SelectionQueries
      .redundantCorpus(spark, dir) // q217's exact transform — one copy
      .filter(col("vec_id") < nClus)
      .cache()
    red.count()
    val rcents = Similarity.trainCentroids(red, "vec_id", "embedding",
      256, iters = 1)
    val rstore = java.nio.file.Files
      .createTempDirectory("graft-lc-red-").resolve("standing").toString
    Similarity.writeStandingStore(
      red.withColumn("cluster",
          Similarity.assignCluster(col("embedding"), rcents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      rstore, "cluster", buckets = 64)
    Similarity.writeCodebook(spark, rstore, rcents)
    val rq = red.filter(col("vec_id") < 1000)
    val rexTop = Similarity.bruteForceTopK(rq, red, "vec_id", "embedding",
        k = 5)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      .localCheckpoint(true)
    val rexCount = rexTop.count()
    def redRecallAt(mm: Int, ds: Int, ks: Int,
                    rot: Boolean): (Double, Long) = {
      val w = t {
        Similarity.writePqSidecar(spark, rstore, "vec_id", "embedding",
          mm, ds, ks, residual = false, rotate = rot)
      }
      val top = Similarity.pqTopKStore(spark, rstore, rq,
          "vec_id", "embedding", mm, ds, k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val r = if (rexCount == 0) 0L
        else top.join(rexTop, top("query_id") === col("q2") &&
          top("neighbor_id") === col("n2")).count() * 100 / rexCount
      (w, r)
    }
    val (rw12p, rrec12p) = redRecallAt(4, 16, 8, rot = false)
    val (rw12r, rrec12r) = redRecallAt(4, 16, 8, rot = true)
    val (rw64p, rrec64p) = redRecallAt(8, 8, 256, rot = false)
    val (rw64r, rrec64r) = redRecallAt(8, 8, 256, rot = true)
    // COMPOSED rotated-residual tier — the geometry a production store
    // actually serves: CLUSTERED (coarse structure the residual rung
    // removes) AND cross-sub REDUNDANT (correlation the rotation rung
    // decorrelates). The four flavors at equal 12 bits answer whether
    // the stack composes — recorded honestly either way (q218 gates
    // the stack's exactness; this is its recall evidence).
    val cr = clus.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          element_at(col("embedding"), pmod(i, lit(16)) + 1)
            + x * lit(0.05)).as("embedding"))
      .cache()
    cr.count()
    val crcents = Similarity.trainCentroids(cr, "vec_id", "embedding",
      256, iters = 1)
    val crstore = java.nio.file.Files
      .createTempDirectory("graft-lc-cr-").resolve("standing").toString
    Similarity.writeStandingStore(
      cr.withColumn("cluster",
          Similarity.assignCluster(col("embedding"), crcents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding"))),
      crstore, "cluster", buckets = 64)
    Similarity.writeCodebook(spark, crstore, crcents)
    val crq = cr.filter(col("vec_id") < 1000)
    val crexTop = Similarity.bruteForceTopK(crq, cr, "vec_id",
        "embedding", k = 5)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      .localCheckpoint(true)
    val crexCount = crexTop.count()
    def crRecallAt(res: Boolean, rot: Boolean): Long = {
      Similarity.writePqSidecar(spark, crstore, "vec_id", "embedding",
        m = 4, dsub = 16, ksub = 8, residual = res, rotate = rot)
      val top = Similarity.pqTopKStore(spark, crstore, crq,
          "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      if (crexCount == 0) 0L
      else top.join(crexTop, top("query_id") === col("q2") &&
        top("neighbor_id") === col("n2")).count() * 100 / crexCount
    }
    val crPlain = crRecallAt(res = false, rot = false)
    val crRes = crRecallAt(res = true, rot = false)
    val crRot = crRecallAt(res = false, rot = true)
    val crBoth = crRecallAt(res = true, rot = true)
    println(f"""{"probe":"store_lifecycle","n":$n,"k":$k,""" +
      f""""build_sec":$buildSec%.2f,"judge_batch32_sec":$judgeSec%.2f,""" +
      f""""n_kept":$nKept,"append_sec":$appendSec%.2f,""" +
      f""""delete_1pct_sec":$deleteSec%.2f,""" +
      f""""compact_sec":$compactSec%.2f,"n_compacted":$nCompacted,""" +
      f""""refit8_sec":$refitSec%.2f,"n_fresh":$nFresh,""" +
      f""""search10_sec":$searchSec%.2f,"search_rows":$searchRows,""" +
      f""""search10_two_level_sec":$search2Sec%.2f,""" +
      f""""search_two_level_rows":$search2Rows,""" +
      f""""search1000_flat_sec":$searchBigFlatSec%.2f,""" +
      f""""search1000_two_level_sec":$searchBigLadderSec%.2f,""" +
      f""""pq_write_sec":$pqWriteSec%.2f,""" +
      f""""pq_append_sec":$pqAppendSec%.2f,""" +
      f""""pq_search1000_sec":$pqSearchBigSec%.2f,""" +
      f""""pq_search1000_two_level_sec":$pqSearchBigLadderSec%.2f,""" +
      f""""pq_vs_float_ladder_overlap_pct":$overlapPct,""" +
      f""""pq_search100k_auto_sec":$pqSearch100kSec%.2f,""" +
      f""""pq_search100k_rows":$search100kRows,""" +
      f""""pq_search1m_shuffle_sec":$pqSearch1mSec%.2f,""" +
      f""""pq_search1m_rows":$search1mRows,""" +
      f""""pq256_write_sec":$pqWrite256Sec%.2f,""" +
      f""""pq256_search1000_two_level_sec":$pqSearch256Sec%.2f,""" +
      f""""pq256_vs_float_ladder_overlap_pct":$overlap256Pct,""" +
      f""""unify_migrate_sec":$unifyMigrateSec%.2f,""" +
      f""""pq_unified_write_cutover_sec":$pqWriteUnifiedCutoverSec%.2f,""" +
      f""""pq_unified_write_sec":$pqWriteUnifiedSec%.2f,""" +
      f""""pq_unified_versioned":$pqUnifiedVersioned,""" +
      f""""pq_unified_search1000_sec":$pqSearchUnifiedSec%.2f,""" +
      f""""pq_unified_search100k_sec":$pqSearchUnified100kSec%.2f,""" +
      f""""gc_appends4_keep2_sec":$gcAppends4Sec%.2f,""" +
      f""""gc_versions_retained":${gcVs.size},""" +
      f""""gc_retained_intact":$gcRetainedIntact,""" +
      f""""gc_refusal_ok":$gcRefusalOk,""" +
      f""""clus_n":$nClus,""" +
      f""""clus_recall12_vanilla_pct":$rec12v,""" +
      f""""clus_recall12_residual_pct":$rec12r,""" +
      f""""clus_recall64_vanilla_pct":$rec64v,""" +
      f""""clus_recall64_residual_pct":$rec64r,""" +
      f""""clus_pq_write12_sec":$cw12v%.2f,""" +
      f""""clus_pq_write12_residual_sec":$cw12r%.2f,""" +
      f""""clus_pq_write64_sec":$cw64v%.2f,""" +
      f""""clus_pq_write64_residual_sec":$cw64r%.2f,""" +
      f""""red_recall12_plain_pct":$rrec12p,""" +
      f""""red_recall12_rotated_pct":$rrec12r,""" +
      f""""red_recall64_plain_pct":$rrec64p,""" +
      f""""red_recall64_rotated_pct":$rrec64r,""" +
      f""""red_pq_write12_sec":$rw12p%.2f,""" +
      f""""red_pq_write12_rotated_sec":$rw12r%.2f,""" +
      f""""red_pq_write64_sec":$rw64p%.2f,""" +
      f""""red_pq_write64_rotated_sec":$rw64r%.2f,""" +
      f""""composed_recall12_plain_pct":$crPlain,""" +
      f""""composed_recall12_residual_pct":$crRes,""" +
      f""""composed_recall12_rotated_pct":$crRot,""" +
      f""""composed_recall12_rotated_residual_pct":$crBoth}""")
    spark.stop()
  }
}
