package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Component timings for the partitioned-store read path
  * (`Test/runMain graft.StoreReadProbe`): where do the seconds go when
  * a pruned read loses to a full scan? Times, against the sf10 tier:
  * full unpartitioned read, full partitioned read, pruned partitioned
  * read (32 clusters), the touched-cluster collect, and the bucket-count
  * read.
  */
object StoreReadProbe {
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
      println(s"""{"probe":"store_read","skipped":"no $dir"}""")
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
    val assignedBase = base
      .withColumn("cluster",
        Similarity.assignClusterTwoLevel(col("embedding"), supers,
          children).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val plain = java.nio.file.Files
      .createTempDirectory("graft-srp-").resolve("plain").toString
    assignedBase.repartitionByRange(col("cluster"))
      .sortWithinPartitions(col("cluster"))
      .write.mode("overwrite").parquet(plain)
    val pstore = java.nio.file.Files
      .createTempDirectory("graft-srp-").resolve("part").toString
    Similarity.writeStandingStore(assignedBase, pstore, "cluster", 64)

    def t(tag: String)(body: => Long): Unit = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val r = body
        (System.nanoTime() - t0) / 1e9 -> r
      }
      println(f"$tag%-34s min=${reps.map(_._1).min}%.2fs rows=${reps.head._2}")
    }

    val touched = (0 until 32).map(_.toLong * 7)  // 32 scattered clusters
    t("full plain read")(spark.read.parquet(plain).count())
    t("full plain read+agg") {
      spark.read.parquet(plain)
        .agg(sum(col("nrm"))).collect(); 0L
    }
    t("full partitioned read")(Similarity.readStandingStore(spark, pstore)._1.count())
    t("pruned partitioned read") {
      Similarity.readStandingStorePruned(spark, pstore, touched).count()
    }
    t("pruned read + vec materialize") {
      Similarity.readStandingStorePruned(spark, pstore, touched)
        .agg(sum(Similarity.norm(col("embedding")))).collect(); 0L
    }
    t("plain read, cluster isin filter") {
      spark.read.parquet(plain)
        .filter(col("cluster").isin(touched: _*)).count()
    }
    t("bucket count read")(StoreSwap.bucketCount(spark, pstore).toLong)
    spark.stop()
  }
}
