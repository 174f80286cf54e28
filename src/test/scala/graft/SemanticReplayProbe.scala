package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale record for [[graft.operators.Similarity.semanticJudgeStoreAt]]
  * (`Test/runMain graft.SemanticReplayProbe`) — q229's mechanism at the
  * sf10 tier: a 1000-vector delta judged AS OF a pinned unified version
  * (codebook + members from one manifest) against 20k and 200k standing
  * corpora, after a post-pin member append AND codebook refit, compared
  * with the live prepped judgment of the same delta. The claim: the
  * pinned read keeps the live path's bucket/cluster pruning, so as-of
  * judgment stays ~flat per 10× standing like the live one (both are
  * delta-footprint: two cluster equi-joins whose left side is the
  * delta). k ∝ n (k = n/50) as in production, sample-trained. */
object SemanticReplayProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Similarity, StoreSwap}

    val dir = "/tmp/graft_sf10"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "embeddings.parquet"))) {
      println(s"""{"probe":"semantic_replay","skipped":"no $dir"}""")
      spark.stop(); return
    }
    def t(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def min2(body: => Unit): Double = math.min(t(body), t(body))
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).cache()
    val n = all.count()
    val small = all.filter(col("vec_id") % 10 === 3).cache()
    val nSmall = small.count()
    // the judged delta and the post-pin mutations, shared by both tiers
    val delta = all.filter(col("vec_id") % 200 === 7)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), v => v * lit(1.5f)).as("embedding"))
      .cache()
    val nDelta = delta.count()
    val append2 = all.filter(col("vec_id") % 100 === 13)
      .select((col("vec_id") + 20000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))

    spark.conf.set("graft.store.snapshotKeep", "8")
    def runTier(corpus: DataFrame): (Double, Double, Double, Long) = {
      val nC = corpus.count()
      val k = ((nC + 49) / 50).toInt
      val m = math.max(1L, nC / math.max(2L * k, 2000L))
      val cents = Similarity.trainCentroids(
        corpus.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0),
        "vec_id", "embedding", k, iters = 1)
      def assigned(df: DataFrame) = df
        .withColumn("cluster",
          Similarity.assignCluster(col("embedding"), cents).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding")))
      val store = java.nio.file.Files
        .createTempDirectory("graft-srp-").resolve("standing").toString
      val buildSec = t {
        Similarity.writeStandingStore(assigned(corpus), store, "cluster",
          buckets = 64)
        Similarity.writeCodebook(spark, store, cents)
      }
      val v0 = Similarity.standingStoreVersions(spark, store).last
      // post-pin: members appended AND the codebook refit (both must
      // stay invisible to the pinned judgment)
      Similarity.appendToStandingStore(assigned(append2), store, "cluster")
      Similarity.writeCodebook(spark, store,
        Similarity.trainCentroids(
          corpus.filter(pmod(xxhash64(col("vec_id")), lit(m * 2)) === 0),
          "vec_id", "embedding", k + 7, iters = 1))
      val asofSec = min2 {
        Similarity.semanticJudgeStoreAt(spark, store, delta, "vec_id",
          "embedding", v0, minCos = 0.99,
          pruneBaseByDeltaClusters = true).count()
      }
      // the live comparison point: same delta, prepped against the
      // LIVE store through the file-pruned path (the daily flow)
      val dAssigned = delta
        .withColumn("cluster",
          Similarity.assignClusterIds(col("embedding"),
            Similarity.readCodebookIds(spark, store)).cast("long"))
        .withColumn("nrm", Similarity.norm(col("embedding")))
        .localCheckpoint(true)
      val liveSec = min2 {
        Similarity.semDedupIncrementalStore(spark, store, dAssigned,
          "vec_id", "embedding", "cluster", "nrm", minCos = 0.99).count()
      }
      (buildSec, asofSec, liveSec, nC)
    }
    val (bS, aS, lS, _) = runTier(small)
    val (bF, aF, lF, _) = runTier(all)
    spark.conf.unset("graft.store.snapshotKeep")
    println(f"""{"probe":"semantic_replay","n":$n,"n_small":$nSmall,""" +
      f""""n_delta":$nDelta,""" +
      f""""build_small_sec":$bS%.2f,"build_full_sec":$bF%.2f,""" +
      f""""asof_small_sec":$aS%.2f,"asof_full_sec":$aF%.2f,""" +
      f""""live_small_sec":$lS%.2f,"live_full_sec":$lF%.2f}""")
    spark.stop()
  }
}
