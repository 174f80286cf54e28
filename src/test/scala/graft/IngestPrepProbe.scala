package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Ad-hoc probe (Test/runMain graft.IngestPrepProbe [sfDir]): where the
  * streaming LSH-ingest gate's prepare wall goes — shared-store build,
  * clone, per-batch serve (lshJudgeStore) vs absorb (the three merges),
  * and the final judgment — so the "prepare IS the gate" bill is
  * attributed instead of read as one number. */
object IngestPrepProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ingestprep] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
        val docs = graft.Tables.documents(spark, dir)
    val standing = docs.select(col("doc_id"), col("text"))
    def shifted(mod: Int, shift: Long, pat: String) =
      standing.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + shift).as("doc_id"),
          regexp_replace(col("text"), pat, "").as("text"))
    val delta1 = shifted(3, 100000L, "^\\S+\\s+")
    val base = t("shared-store build (first call only)") {
      ScaleQueries.sharedTextStore(spark, dir)
    }
    val store = t("clone")(Fixtures.cloneDir(base, "graft-probe212-"))
    val halves = Seq(delta1.filter(col("doc_id") % 2 === 0),
      delta1.filter(col("doc_id") % 2 =!= 0))
    halves.zipWithIndex.foreach { case (b0, i) =>
      val b = b0.cache()
      b.count()
      t(s"batch$i serve (lshJudgeStore)") {
        Dedup.lshJudgeStore(spark, store, standing, b, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      t(s"batch$i sig merge") {
        Dedup.mergeIntoSignatureStore(spark, store,
          Dedup.minhashSignatures(b, "doc_id", "text"), "doc_id")
      }
      t(s"batch$i shingle merge") {
        Dedup.mergeShinglesIntoStore(spark, store, b, "doc_id", "text")
      }
      t(s"batch$i band merge") {
        Dedup.mergeIntoBandIndex(spark, store, b.select(col("doc_id")),
          "doc_id")
      }
      b.unpersist()
    }
    val delta2 = shifted(5, 200000L, "^\\S+\\s+\\S+\\s+")
    val judged = t("final judge plan") {
      Dedup.lshJudgeStore(spark, store, standing.unionByName(delta1),
        delta2, "doc_id", "text").orderBy(col("id_a"), col("id_b"))
    }
    t("final judge exec") {
      judged.write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
