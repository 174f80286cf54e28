package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale records for the round-13 gates' mechanisms
  * (`Test/runMain graft.StoreCdcProbe`): signature-store CDC (q226's
  * `signatureStoreDiff`) and historical judgment replay (q227's
  * `lshJudgeStoreAt`) at the sf10 tier (500k docs), each against a
  * 1/10th store with the IDENTICAL mutation set, so the flatness claim
  * is read directly: CDC cost must track the MUTATION FOOTPRINT
  * (changed buckets only — the probe asserts the untouched-bucket
  * zero-file property at scale), and the as-of judgment must stay
  * ~flat per 10× standing like the live judge.
  *
  * The mutation docs are drawn from ids ≡ 3 (mod 10) so the SAME
  * documents exist in both corpora (the small corpus is `doc_id % 10
  * = 3`), and bucket-targeted mod 640 so each mutation class lands in
  * ONE of the 64 `d_bucket`s: inserts in bucket 3, updates in 13,
  * forgets in 23 — 3 touched buckets of 64, the shape where manifest
  * pruning is visible.
  */
object StoreCdcProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup

    val dir = "/tmp/graft_sf10"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "documents.parquet"))) {
      println(s"""{"probe":"store_cdc","skipped":"no $dir"}""")
      spark.stop(); return
    }
    def t(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).cache()
    val n = docs.count()
    val small = docs.filter(col("doc_id") % 10 === 3).cache()
    val nSmall = small.count()

    // identical mutation sets for both stores (ids ≡ 3 mod 10 — in
    // both corpora; bucket-targeted mod 640)
    val insertSrc = docs.filter(col("doc_id") % 640 === 3)
    val inserts = insertSrc
      .select((col("doc_id") + 10000000L).as("doc_id"), // 1e7 ≡ 0 (mod 64)
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      .cache()
    val nInserts = inserts.count()
    val updates = docs.filter(col("doc_id") % 640 === 13)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
      .cache()
    val nUpdates = updates.count()
    val forgets = docs.filter(col("doc_id") % 640 === 23)
      .select(col("doc_id")).cache()
    val nForgets = forgets.count()
    // the as-of judged batch: near-dups of a third id class
    val judged = docs.filter(col("doc_id") % 640 === 103)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      .cache()
    val nJudged = judged.count()

    spark.conf.set("graft.store.snapshotKeep", "8")

    /** Build a unified store over `corpus`, apply the mutation set,
      * and measure: (build, v0, vLive, cdcSec, cdcRows, cdcFiles,
      * leakFiles, noopCdcSec, judgeAsofSec, judgeLiveSec). */
    def runTier(corpus: DataFrame): (Double, Double, Long, Long, Long,
        Double, Double, Double) = {
      val store = java.nio.file.Files
        .createTempDirectory("graft-cdc-").resolve("sigs").toString
      val buildSec = t {
        Dedup.writeSignatureStore(
          Dedup.minhashSignatures(corpus, "doc_id", "text"),
          store, "doc_id", buckets = 64)
        Dedup.writeBandIndex(spark, store, "doc_id", bands = 8)
        Dedup.writeShingleSidecar(spark, store, corpus, "doc_id", "text")
      }
      val v0 = Dedup.signatureStoreVersions(spark, store).last
      // inserts ride the composed exactly-once ingest (ONE txn
      // version); updates likewise (MIN-merge moves their sigs);
      // forgets go through the staged forget
      Dedup.ingestBatchIntoStore(spark, store, inserts, "doc_id", "text",
        batchId = Some(0L))
      Dedup.ingestBatchIntoStore(spark, store, updates, "doc_id", "text",
        batchId = Some(1L))
      Dedup.forgetDocsFromSignatureStore(spark, store, forgets, "doc_id")
      val live = Dedup.signatureStoreVersions(spark, store).last
      var cdcRows = 0L
      var cdcFiles = 0L
      var leakFiles = 0L
      var cdcSec = t {
        val diff = Dedup.signatureStoreDiff(spark, store, "doc_id",
          v0, live)
        diff.write.format("noop").mode("overwrite").save()
        cdcRows = diff.count()
        val files = diff.inputFiles
        cdcFiles = files.length.toLong
        // the zero-file property AT SCALE: only buckets 3/13/23 were
        // mutated, so no input file may come from any other bucket
        leakFiles = files.count(f => !f.contains("d_bucket=3/") &&
          !f.contains("d_bucket=13/") && !f.contains("d_bucket=23/"))
          .toLong
      }
      // min-of-2 for the CDC wall too (same cold-first rationale)
      cdcSec = math.min(cdcSec, t {
        Dedup.signatureStoreDiff(spark, store, "doc_id", v0, live)
          .write.format("noop").mode("overwrite").save()
      })
      // a diff between identical versions is metadata-only
      val noopCdcSec = t {
        Dedup.signatureStoreDiff(spark, store, "doc_id", live, live)
          .write.format("noop").mode("overwrite").save()
      }
      // min-of-2 like Bench: the first execution pays JIT/codegen and
      // file-listing caches — the r14 first-cut record read the as-of
      // judge 1.28x over live mostly from running cold-first
      def min2(body: => Unit): Double = math.min(t(body), t(body))
      val judgeAsofSec = min2 {
        Dedup.lshJudgeStoreAt(spark, store, judged, "doc_id", "text",
          v0).count()
      }
      val judgeLiveSec = min2 {
        Dedup.lshJudgeStore(spark, store, corpus, judged,
          "doc_id", "text").count()
      }
      (buildSec, cdcSec, cdcRows, cdcFiles, leakFiles, noopCdcSec,
        judgeAsofSec, judgeLiveSec)
    }

    val (bS, cdcS, rowsS, filesS, leakS, noopS, asofS, liveS) =
      runTier(small)
    val (bF, cdcF, rowsF, filesF, leakF, noopF, asofF, liveF) =
      runTier(docs)
    spark.conf.unset("graft.store.snapshotKeep")

    println(f"""{"probe":"store_cdc","n_docs":$n,"n_small":$nSmall,""" +
      f""""n_inserts":$nInserts,"n_updates":$nUpdates,""" +
      f""""n_forgets":$nForgets,"n_judged":$nJudged,""" +
      f""""build_small_sec":$bS%.2f,"build_full_sec":$bF%.2f,""" +
      f""""cdc_small_sec":$cdcS%.2f,"cdc_full_sec":$cdcF%.2f,""" +
      f""""cdc_small_rows":$rowsS,"cdc_full_rows":$rowsF,""" +
      f""""cdc_small_files":$filesS,"cdc_full_files":$filesF,""" +
      f""""cdc_small_leak_files":$leakS,"cdc_full_leak_files":$leakF,""" +
      f""""cdc_noop_small_sec":$noopS%.2f,"cdc_noop_full_sec":$noopF%.2f,""" +
      f""""judge_asof_small_sec":$asofS%.2f,""" +
      f""""judge_asof_full_sec":$asofF%.2f,""" +
      f""""judge_live_small_sec":$liveS%.2f,""" +
      f""""judge_live_full_sec":$liveF%.2f}""")
    spark.stop()
  }
}
