package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Band-index lifecycle wall-times at the 100× tier
  * (`Test/runMain graft.BandIndexProbe`): the q205-q207 mechanisms
  * against the ScaleGen sf10 documents corpus (500k docs, 16-hash
  * signatures, 8 bands, 64 buckets) — signature-store build, index
  * build, a 500-doc near-dup delta judged through the index, the
  * delta's merge into store + index, and a 1%-of-docs forget through
  * both. The claim under measurement: judgment and mutation cost track
  * the DELTA's footprint (its band buckets, its doc buckets, its
  * candidates), never the standing corpus — the only corpus-scale
  * passes are the two builds.
  */
object BandIndexProbe {
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
    import graft.operators.Dedup

    val dir = "/tmp/graft_sf10"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "documents.parquet"))) {
      println(s"""{"probe":"band_index","skipped":"no $dir"}""")
      spark.stop(); return
    }
    def t(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).cache()
    val n = docs.count()
    val store = java.nio.file.Files
      .createTempDirectory("graft-bip-").resolve("sigs").toString

    val sigBuildSec = t {
      Dedup.writeSignatureStore(
        Dedup.minhashSignatures(docs, "doc_id", "text"),
        store, "doc_id", buckets = 64)
    }
    val idxBuildSec = t {
      Dedup.writeBandIndex(spark, store, "doc_id", bands = 8)
    }
    // the sidecar-less twin: judging through it takes the text fallback
    val storeText = graft.operators.Fixtures.cloneDir(store, "graft-bip-")
    val shBuildSec = t {
      Dedup.writeShingleSidecar(spark, store, docs, "doc_id", "text")
    }
    // 500-doc near-dup delta: first token dropped, ids shifted
    val delta = docs.filter(col("doc_id") % 1000 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      .cache()
    val nDelta = delta.count()
    var nPairs = 0L
    val judgeSec = t {
      nPairs = Dedup.lshJudgeStore(spark, store, docs, delta,
        "doc_id", "text").count()
    }
    // JUDGE-FLATNESS TIER — the round-12 claim: with the shingle
    // sidecar, judging a fixed delta is DOC-FOOTPRINT (band-pruned
    // index read + candidate-bucket sidecar read), so its cost must
    // stay ~flat as the standing corpus grows 10×. Build a 1/10th
    // store beside the full one, judge the SAME delta through both
    // paths at both sizes: sidecar ~flat, text-fallback ~linear (it
    // re-derives standing shingles from corpus text per batch).
    val small = docs.filter(col("doc_id") % 10 === 3).cache()
    val nSmall = small.count()
    val store10 = java.nio.file.Files
      .createTempDirectory("graft-bip-").resolve("sigs10").toString
    Dedup.writeSignatureStore(
      Dedup.minhashSignatures(small, "doc_id", "text"),
      store10, "doc_id", buckets = 64)
    Dedup.writeBandIndex(spark, store10, "doc_id", bands = 8)
    val store10Text = graft.operators.Fixtures.cloneDir(store10, "graft-bip-")
    Dedup.writeShingleSidecar(spark, store10, small, "doc_id", "text")
    val textTwin = Map(store -> storeText, store10 -> store10Text)
    def judgeVia(path: String, standing: org.apache.spark.sql.DataFrame,
                 d: org.apache.spark.sql.DataFrame,
                 sidecar: Boolean): Double =
      t { Dedup.lshJudgeStore(spark, if (sidecar) path else textTwin(path),
        standing, d, "doc_id", "text").count() }
    val judgeSide10 = judgeVia(store10, small, delta, sidecar = true)
    val judgeSideFull = judgeVia(store, docs, delta, sidecar = true)
    val judgeText10 = judgeVia(store10, small, delta, sidecar = false)
    val judgeTextFull = judgeVia(store, docs, delta, sidecar = false)
    // the CONTINUOUS-BATCH tier: 100 docs stay under PushdownCap on
    // both rungs (800 band values, ≲1000 candidate ids), so the index
    // scan page-skips to the colliding rows and the sidecar scan to
    // the candidate docs — the shape whose per-batch flatness the
    // pushdowns exist for (big deltas amortize the scans instead)
    val micro = docs.filter(col("doc_id") % 5000 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      .cache()
    val nMicro = micro.count()
    val judgeMicro10 = judgeVia(store10, small, micro, sidecar = true)
    val judgeMicroFull = judgeVia(store, docs, micro, sidecar = true)
    val sigMergeSec = t {
      Dedup.mergeIntoSignatureStore(spark, store,
        Dedup.minhashSignatures(delta, "doc_id", "text"), "doc_id")
    }
    val shMergeSec = t {
      Dedup.mergeShinglesIntoStore(spark, store, delta, "doc_id", "text")
    }
    val idxMergeSec = t {
      Dedup.mergeIntoBandIndex(spark, store,
        delta.select(col("doc_id")), "doc_id")
    }
    // CHANGED-doc re-ingest + TARGETED REPAIR (the op that replaces
    // the full index rebuild for stale rows): 500 standing docs get
    // new text, their signatures MIN-merge to new values, the index
    // merge leaves their old rows stale, and the reindex removes
    // exactly them through the per-doc inventory — doc-footprint
    // prepended tokens ADD shingles so the MIN-merge actually moves
    // the signatures (a token drop would leave them unchanged)
    val changed = docs.filter(col("doc_id") % 1000 === 1)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
      .cache()
    val nChanged = changed.count()
    val sigMerge2Sec = t {
      Dedup.mergeIntoSignatureStore(spark, store,
        Dedup.minhashSignatures(changed, "doc_id", "text"), "doc_id")
    }
    val idxMerge2Sec = t {
      Dedup.mergeIntoBandIndex(spark, store,
        changed.select(col("doc_id")), "doc_id")
    }
    var nStale = 0L
    val reindexSec = t {
      nStale = Dedup.reindexDocsInBandIndex(spark, store,
        changed.select(col("doc_id")), "doc_id")
    }
    val doomed = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id"))
    var idxForgotten = 0L
    val idxForgetSec = t {
      idxForgotten = Dedup.forgetFromBandIndex(spark, store, doomed,
        "doc_id")
    }
    val sigForgetSec = t {
      Dedup.forgetDocsFromSignatureStore(spark, store, doomed, "doc_id")
    }
    println(f"""{"probe":"band_index","n_docs":$n,"n_delta":$nDelta,""" +
      f""""sig_build_sec":$sigBuildSec%.2f,""" +
      f""""idx_build_sec":$idxBuildSec%.2f,""" +
      f""""shingle_build_sec":$shBuildSec%.2f,""" +
      f""""judge_sec":$judgeSec%.2f,"n_pairs":$nPairs,""" +
      f""""n_standing_small":$nSmall,""" +
      f""""judge_sidecar_small_sec":$judgeSide10%.2f,""" +
      f""""judge_sidecar_full_sec":$judgeSideFull%.2f,""" +
      f""""judge_textfallback_small_sec":$judgeText10%.2f,""" +
      f""""judge_textfallback_full_sec":$judgeTextFull%.2f,""" +
      f""""n_micro":$nMicro,""" +
      f""""judge_micro_sidecar_small_sec":$judgeMicro10%.2f,""" +
      f""""judge_micro_sidecar_full_sec":$judgeMicroFull%.2f,""" +
      f""""sig_merge_sec":$sigMergeSec%.2f,""" +
      f""""shingle_merge_sec":$shMergeSec%.2f,""" +
      f""""idx_merge_sec":$idxMergeSec%.2f,""" +
      f""""n_changed":$nChanged,""" +
      f""""sig_merge_changed_sec":$sigMerge2Sec%.2f,""" +
      f""""idx_merge_changed_sec":$idxMerge2Sec%.2f,""" +
      f""""reindex_sec":$reindexSec%.2f,"n_stale_removed":$nStale,""" +
      f""""idx_forget_1pct_sec":$idxForgetSec%.2f,""" +
      f""""idx_forgotten_rows":$idxForgotten,""" +
      f""""sig_forget_1pct_sec":$sigForgetSec%.2f}""")
    spark.stop()
  }
}
