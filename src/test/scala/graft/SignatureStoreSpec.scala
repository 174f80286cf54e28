package graft

import graft.operators.{Dedup, Fixtures, StoreSwap}
import org.apache.spark.sql.functions._

/** Partitioned minhash-signature store (q196/q197's machinery):
  * bucket-local merge, idempotent re-ingest, derived-bucket forget. */
class SignatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs() = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "pack my box with five dozen liquor jugs"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "sphinx of black quartz judge my vow"),
    (8L, "how vexingly quick daft zebras jump")
  ).toDF("doc_id", "text")

  private def sigs(df: org.apache.spark.sql.DataFrame) =
    Dedup.minhashSignatures(df, "doc_id", "text", n = 3, numHashes = 4)

  /** Each live bucket of `dataDir` → the files of its generations.
    * Generations are immutable, so an unchanged listing proves the
    * bucket was not rewritten. */
  private def listFiles(path: String,
                        dataDir: String): Map[String, Seq[String]] =
    StoreSwap.snapshot(spark, path).entriesOf(dataDir).toSeq
      .collect { case (b, gens) if b.startsWith("d_bucket=") =>
        b -> gens.flatMap(g =>
          new java.io.File(s"$path/$dataDir.gens/g$g/$b").listFiles()
            .map(f => s"g$g/${f.getName}")).sorted
      }.toMap

  test("merge is bucket-local and re-ingest is idempotent") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    // standing: docs 0,1,3 → buckets 0,1,3 (mod 8)
    Dedup.writeSignatureStore(sigs(docs().filter(col("doc_id") < 4 &&
      col("doc_id") =!= 2L)), path, "doc_id", buckets = 8)
    val before = listFiles(path, "data")
    // delta: new doc 2 (bucket 2), new doc 8 (bucket 0 — shared with
    // doc 0), and a RE-LOAD of doc 1 (identical text → identical sigs)
    val touched = Dedup.mergeIntoSignatureStore(spark, path,
      sigs(docs().filter(col("doc_id") === 2L || col("doc_id") === 8L ||
        col("doc_id") === 1L)), "doc_id")
    assert(touched == Seq(0, 1, 2))
    val after = listFiles(path, "data")
    // bucket 3 (doc 3, untouched by the delta) keeps its exact listing
    assert(after("d_bucket=3") == before("d_bucket=3"))
    // the store equals the from-scratch whole-corpus signatures —
    // including the idempotent re-load of doc 1
    val got = StoreSwap.snapshot(spark, path).read("data", "d_bucket")
      .select("doc_id", "k", "mh").orderBy("doc_id", "k").collect().toSeq
    val want = sigs(docs()).orderBy("doc_id", "k").collect().toSeq
    assert(got == want)
  }

  test("forget derives buckets from ids and drops emptied directories") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id", buckets = 8)
    val before = listFiles(path, "data")
    // forget docs 2 and 3: buckets 2 and 3; bucket 2 holds only doc 2
    val n = Dedup.forgetDocsFromSignatureStore(spark, path,
      Seq(2L, 3L).toDF("doc_id"), "doc_id")
    assert(n == 8) // 2 docs x 4 hashes
    val after = listFiles(path, "data")
    assert(!after.contains("d_bucket=2"), "emptied bucket dir survived")
    assert(after("d_bucket=0") == before("d_bucket=0"))
    assert(after("d_bucket=1") == before("d_bucket=1"))
    val got = StoreSwap.snapshot(spark, path).read("data", "d_bucket")
      .select("doc_id", "k", "mh").orderBy("doc_id", "k").collect().toSeq
    val want = sigs(docs().filter(col("doc_id") =!= 2L &&
      col("doc_id") =!= 3L)).orderBy("doc_id", "k").collect().toSeq
    assert(got == want)
  }

  test("chunked lshJudgeStore under a tiny broadcast budget equals single-chunk") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    val standing = docs()
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    // exact copies of the standing docs under shifted ids — every one
    // must judge as a near-dup of its original
    val delta = standing.select((col("doc_id") + 100L).as("doc_id"),
      col("text"))
    def run() = Dedup.lshJudgeStore(spark, path, standing, delta,
        "doc_id", "text", n = 3, numHashes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val single = run()
    assert(single.nonEmpty)
    // ~840-byte budget forces multiple chunks for the 5-doc delta
    spark.conf.set("graft.lsh.maxBroadcastMb", "0.0008")
    try assert(run() == single)
    finally spark.conf.unset("graft.lsh.maxBroadcastMb")
    // an unparsable or non-positive budget is a named error, never a
    // silent fall-back to the default
    for ((key, bad) <- Seq("graft.lsh.maxBroadcastMb" -> "lots",
        "graft.lsh.maxBroadcastMb" -> "-2")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(key) &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("band-index directory granularity is layout-only: judge and merge verdicts invariant") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    val standing = docs()
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    val delta = standing.select((col("doc_id") + 100L).as("doc_id"),
      col("text"))
    def run() = Dedup.lshJudgeStore(spark, path, standing, delta,
        "doc_id", "text", n = 3, numHashes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val at8 = run()
    assert(at8.nonEmpty)
    // rebuild FINER (128 bsig dirs) — bands_meta records the layout so
    // judgments and later mutations derive the same bb_bucket
    spark.conf.set("graft.lsh.bandIndexBuckets", "128")
    try Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    finally spark.conf.unset("graft.lsh.bandIndexBuckets")
    assert(run() == at8)
    // a granularity that is not a positive integer is a named error,
    // not a silent switch to the auto layout
    for (bad <- Seq("0", "fine")) {
      spark.conf.set("graft.lsh.bandIndexBuckets", bad)
      try {
        val e = intercept[IllegalArgumentException](
          Dedup.writeBandIndex(spark, path, "doc_id", bands = 2))
        assert(e.getMessage.contains("graft.lsh.bandIndexBuckets") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset("graft.lsh.bandIndexBuckets")
    }
    assert(run() == at8)
    // a post-rebuild merge derives the RECORDED granularity (not the
    // session conf, which is unset again) and the judge still agrees
    val more = Seq((50L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    Dedup.mergeIntoSignatureStore(spark, path, sigs(more), "doc_id")
    Dedup.mergeIntoBandIndex(spark, path, more.select("doc_id"), "doc_id")
    // doc 101 (copy of doc 1) now also pairs with doc 50 (the grown
    // corpus feeds text-fallback verification — no sidecar here)
    val afterMerge = Dedup.lshJudgeStore(spark, path,
        standing.unionByName(more), delta, "doc_id", "text",
        n = 3, numHashes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(afterMerge.exists(p => p._1 == 50L && p._2 == 101L),
      afterMerge.toString)
  }

  test("auto band-index granularity follows the measured crossover") {
    // BandLayoutProbe r14: the store bucket count is the measured best
    // at the 50k and 500k tiers; finer layouts only win once per-dir
    // row mass amortizes the listing constant (~125k docs/dir, i.e.
    // ≥500M docs for 4096 dirs). The auto rule must reproduce exactly
    // those calls — and stay a power-of-two, capped, past crossover.
    assert(Dedup.autoBandIndexBuckets(64, 50000L) == 64)
    assert(Dedup.autoBandIndexBuckets(64, 500000L) == 64)
    assert(Dedup.autoBandIndexBuckets(16, 60000L) == 16)
    assert(Dedup.autoBandIndexBuckets(64, 500000000L) == 4096)
    assert(Dedup.autoBandIndexBuckets(64, 5000000000L) == 65536)
    assert(Dedup.autoBandIndexBuckets(64, 1000000000000L) == 65536)
    // just past the store-bucket point: next power of two
    assert(Dedup.autoBandIndexBuckets(64, 64L * 125000 + 125000) == 128)
  }

  test("sidecar-verified judgment equals text-fallback judgment (and never reads standing text)") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    val standing = docs()
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    val delta = standing.select((col("doc_id") + 100L).as("doc_id"),
      col("text"))
    def run(st: org.apache.spark.sql.DataFrame) =
      Dedup.lshJudgeStore(spark, path, st, delta,
        "doc_id", "text", n = 3, numHashes = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val viaText = run(standing) // no sidecar yet: text fallback
    assert(viaText.nonEmpty)
    Dedup.writeShingleSidecar(spark, path, standing, "doc_id", "text",
      n = 3)
    // standingDocs is IGNORED with the sidecar present — hand the judge
    // deliberately corrupted standing text to prove verification reads
    // the sidecar buckets, then check the verdicts match the text run
    val corrupted = standing.select(col("doc_id"),
      lit("corrupted corrupted corrupted").as("text"))
    assert(run(corrupted) == viaText)
  }

  test("shingle sidecar merge replaces per doc, bucket-locally; forget drops its rows") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id", buckets = 8)
    Dedup.writeShingleSidecar(spark, path, docs(), "doc_id", "text", n = 3)
    val before = listFiles(path, "shingles")
    // re-ingest doc 0 with CHANGED text: REPLACE semantics — the
    // sidecar must hold exactly the new text's hashes (the signature
    // store, by contrast, MIN-merges to the union)
    val changed = docs().filter(col("doc_id") === 0L)
      .select(col("doc_id"), lit("totally different words now").as("text"))
    val touched = Dedup.mergeShinglesIntoStore(spark, path, changed,
      "doc_id", "text")
    assert(touched == Seq(0))
    val after = listFiles(path, "shingles")
    assert(after("d_bucket=1") == before("d_bucket=1"))
    assert(after("d_bucket=3") == before("d_bucket=3"))
    val got = StoreSwap.snapshot(spark, path).read("shingles", "d_bucket")
      .filter(col("id") === 0L).select("x")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = Dedup.docShingles(changed, "doc_id", "text", 3)
      .select(Dedup.polyHash(col("sh")).as("x")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "sidecar must mirror CURRENT text, not the union")
    // forget: the signature forget drops the sidecar rows in the same
    // mutation
    Dedup.forgetDocsFromSignatureStore(spark, path,
      Seq(0L).toDF("doc_id"), "doc_id")
    assert(StoreSwap.snapshot(spark, path).read("shingles", "d_bucket")
      .filter(col("id") === 0L).count() == 0, "sidecar rows survived forget")
  }

  test("judgment fails fast on an incomplete shingle sidecar instead of dropping verdicts") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    val standing = docs()
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    // sidecar misses doc 0 — a candidate doc without verification rows
    Dedup.writeShingleSidecar(spark, path,
      standing.filter(col("doc_id") =!= 0L), "doc_id", "text", n = 3)
    val delta = standing.filter(col("doc_id") === 0L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val e = intercept[RuntimeException] {
      Dedup.lshJudgeStore(spark, path, standing, delta,
        "doc_id", "text", n = 3, numHashes = 4).collect()
    }
    assert(e.getMessage.contains("incomplete"))
  }

  test("forget removes a changed-signature doc's STALE band rows via the inventory") {
    val path = Fixtures.tempDir("graft-sigstore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    // re-ingest doc 0 with PREPENDED text: its signature MIN-merges to
    // new values, and the index merge leaves old + fresh rows
    val changed = docs().filter(col("doc_id") === 0L)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
    Dedup.mergeIntoSignatureStore(spark, path,
      Dedup.minhashSignatures(changed, "doc_id", "text",
        n = 3, numHashes = 4), "doc_id")
    Dedup.mergeIntoBandIndex(spark, path,
      changed.select(col("doc_id")), "doc_id")
    val rowsForDoc0 = StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
      .filter(col("id") === 0L).count()
    assert(rowsForDoc0 > 2, // > bands ⇒ stale rows present
      s"fixture vacuous: doc 0 has only $rowsForDoc0 band rows")
    // the forget must find the stale rows too — their buckets are NOT
    // derivable from the current signature, only from the inventory
    val removed = Dedup.forgetFromBandIndex(spark, path,
      Seq(0L).toDF("doc_id"), "doc_id")
    assert(removed == rowsForDoc0)
    assert(StoreSwap.snapshot(spark, path).read("bands", "bb_bucket")
      .filter(col("id") === 0L).count() == 0, "stale band rows survived")
    assert(StoreSwap.snapshot(spark, path).read("bands_inv", "d_bucket")
      .filter(col("id") === 0L).count() == 0, "inventory rows survived")
  }
}
