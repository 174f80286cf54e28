package graft

import graft.operators.{Dedup, Fixtures, StoreSwap}
import org.apache.spark.graft.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-pass store ingest ([[Dedup.ingestBatchIntoStore]]): the same
  * store content as the three public merges run one after another, in
  * a bounded number of Spark jobs, with every layout constant resolved
  * from the manifest the read pins. */
class StoreIngestSpec extends SparkSpec {
  import spark.implicits._

  private val words = ("alpha beta gamma delta epsilon zeta eta theta iota" +
    " kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi" +
    " omega").split(" ")

  /** A deterministic doc of `len` words drawn from `words` by `seed`. */
  private def text(seed: Long, len: Int = 12): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(len)(words(r.nextInt(words.length))).mkString(" ")
  }

  private def corpus(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, text(i))).toDF("doc_id", "text")

  /** A text store over `standing`: `buckets` doc buckets, an 8-band
    * index over 16 hashes, a shingle sidecar. */
  private def textStore(standing: DataFrame, buckets: Int): String = {
    val path = Fixtures.tempDir("graft-ingest-").resolve("s").toString
    Dedup.writeSignatureStore(
      Dedup.minhashSignatures(standing, "doc_id", "text", n = 3,
        numHashes = 16), path, "doc_id", buckets = buckets)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 8)
    Dedup.writeShingleSidecar(spark, path, standing, "doc_id", "text",
      n = 3)
    path
  }

  private val dataDirs = Seq("data" -> "d_bucket", "shingles" -> "d_bucket",
    "bands" -> "bb_bucket", "bands_inv" -> "d_bucket")

  private def content(path: String, dataDir: String,
                      partCol: String): Seq[Seq[Any]] = {
    val df = StoreSwap.readDir(spark, path, dataDir, partCol)
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
  }

  test("one-pass ingest equals the three public merges, bit for bit") {
    val standing = corpus(0L until 12L)
    val (onePass, merges) = (textStore(standing, 4), textStore(standing, 4))
    val batches = Seq(
      Seq[(Long, String)](
        (100L, text(100)), (100L, text(200)), // repeated within the batch
        (101L, ""),                           // new doc, no shingles
        (7L, ""),                             // stored doc emptied
        (3L, text(300)),                      // stored doc, changed text
        (0L, text(0)),                        // stored doc, same text
        (102L, text(102))),
      Seq[(Long, String)](
        (100L, text(400)),                    // re-ingested again
        (5L, text(500)), (103L, text(103)), (104L, "alpha beta")))
      .map(_.toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (batch, i) =>
      Dedup.ingestBatchIntoStore(spark, onePass, batch, "doc_id", "text",
        batchId = Some(i.toLong), n = 3, numHashes = 16)
      Dedup.mergeIntoSignatureStore(spark, merges,
        Dedup.minhashSignatures(batch, "doc_id", "text", n = 3,
          numHashes = 16), "doc_id")
      Dedup.mergeShinglesIntoStore(spark, merges, batch, "doc_id", "text")
      Dedup.mergeIntoBandIndex(spark, merges, batch.select("doc_id"),
        "doc_id")
    }
    dataDirs.foreach { case (d, p) =>
      assert(content(onePass, d, p) == content(merges, d, p),
        s"$d differs between the one-pass ingest and the three merges")
    }
    // and both equal the merge laws computed from the texts: signatures
    // are the per-(doc, k) MIN over every text a doc was ingested with,
    // the sidecar holds each doc's shingles of its latest batch
    val all = (standing +: batches).reduce(_ unionByName _)
    assert(content(onePass, "data", "d_bucket") ==
      Dedup.minhashSignatures(all, "doc_id", "text", n = 3, numHashes = 16)
        .withColumn("d_bucket", pmod(col("doc_id"), lit(4L)).cast("int"))
        .orderBy("doc_id", "k", "mh", "d_bucket")
        .collect().map(_.toSeq).toSeq)
    val latest = batches.foldLeft(standing) { (cur, b) =>
      cur.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(b)
    }
    val shingles = latest
      .select(col("doc_id").as("id"),
        explode(Dedup.shingleHashArr(col("text"), 3, poly = true)).as("x"))
      .distinct()
      .withColumn("d_bucket", pmod(col("id"), lit(4L)).cast("int"))
    assert(content(onePass, "shingles", "d_bucket") ==
      shingles.orderBy("id", "x", "d_bucket").collect().map(_.toSeq).toSeq)
    assert(!content(onePass, "shingles", "d_bucket").exists(r =>
      r.head == 7L || r.head == 101L), "an emptied doc kept sidecar rows")
  }

  test("a 60-doc micro-batch ingests in at most 25 Spark jobs, a judgment in at most 17") {
    val path = textStore(corpus(0L until 240L), 4)
    val dir = Fixtures.tempDir("graft-ingest-batch-")
    // near-duplicates of stored docs (their first word dropped) and new docs
    (0L until 60L).map(i =>
        if (i % 2 == 0) (1000L + i, text(i * 3).split(" ").tail.mkString(" "))
        else (1000L + i, text(1000L + i)))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir.resolve("batch").toString)
    (0L until 8L).map(i => (5000L + i, text(i * 5)))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir.resolve("probes").toString)
    val batch = spark.read.parquet(dir.resolve("batch").toString)
    val probes = spark.read.parquet(dir.resolve("probes").toString)
    val (_, ingestJobs) = Bus.jobsOf(spark.sparkContext)(
      Dedup.ingestBatchIntoStore(spark, path, batch, "doc_id", "text",
        batchId = Some(0L)))
    assert(ingestJobs.size <= 25,
      s"${ingestJobs.size} jobs: ${ingestJobs.mkString("; ")}")
    val (judged, judgeJobs) = Bus.jobsOf(spark.sparkContext)(
      Dedup.lshJudgeStore(spark, path, batch, probes, "doc_id", "text")
        .collect())
    assert(judgeJobs.size <= 17,
      s"${judgeJobs.size} jobs: ${judgeJobs.mkString("; ")}")
    assert(judged.nonEmpty, "weak scenario: the probes matched nothing")
    info(s"ingest ${ingestJobs.size} jobs, judgment ${judgeJobs.size} jobs")
  }

  test("time travel reads the bucket count recorded at the pinned version") {
    val path = Fixtures.tempDir("graft-ingest-").resolve("tt").toString
    val sigs = Dedup.minhashSignatures(corpus(0L until 6L), "doc_id",
      "text", n = 3, numHashes = 16)
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      Dedup.writeSignatureStore(sigs, path, "doc_id", buckets = 4)
      val vOld = Dedup.signatureStoreVersions(spark, path).last
      Dedup.writeSignatureStore(sigs, path, "doc_id", buckets = 8)
      assert(Dedup.readSignatureStoreAt(spark, path, vOld)._2 == 4)
      assert(Dedup.readSignatureStore(spark, path)._2 == 8)
      assert(Dedup.readSignatureStoreAt(spark, path, vOld)._1
        .filter(col("d_bucket") >= 4).isEmpty,
        "the pinned rows are not the 4-bucket layout")
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("a store whose manifests predate recorded layout constants reads them from its sidecars") {
    val standing = corpus(0L until 12L)
    val path = textStore(standing, 4)
    val probes = corpus(Seq(3L, 40L)).select(
      (col("doc_id") + 500L).as("doc_id"), col("text"))
    def judge() = Dedup.lshJudgeStore(spark, path, standing, probes,
        "doc_id", "text")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val before = judge()
    assert(before.nonEmpty, "weak scenario: the probes matched nothing")
    // a protocol-1 store from before the constants moved into the
    // manifest: they live only in the sidecars
    LegacyStores.textStoreSidecars(spark, path, buckets = 4, bands = 8,
      rowsPerBand = 2, idxBuckets = 4, shingleN = 3)
    LegacyStores.protocol1(path, _.startsWith("#meta:"))
    assert(StoreSwap.storeMetaAt(spark, path, "buckets").isEmpty)
    val v1 = Dedup.signatureStoreVersions(spark, path).last
    // open upgrades it in one version, seeding the constants
    StoreSwap.open(spark, path)
    assert(Dedup.signatureStoreVersions(spark, path).last == v1 + 1)
    Seq("buckets" -> 4L, "shingles.n" -> 3L, "bands.b" -> 8L,
        "bands.r" -> 2L, "bands.idx" -> 4L, "protocol" -> 2L).foreach {
      case (name, v) => assert(
        StoreSwap.storeMetaAt(spark, path, name).contains(Seq(v)), name)
    }
    StoreSwap.open(spark, path)
    assert(Dedup.signatureStoreVersions(spark, path).last == v1 + 1,
      "a second open published a version")
    // the sidecars are not read any more
    Seq("meta", "bands_meta", "shingles_meta").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/$d")))
    assert(Dedup.readSignatureStore(spark, path)._2 == 4)
    assert(judge() == before)
    Dedup.ingestBatchIntoStore(spark, path, corpus(Seq(50L)), "doc_id",
      "text", n = 3, numHashes = 16)
    assert(Dedup.readSignatureStore(spark, path)._1
      .filter(col("doc_id") === 50L).count() == 16)
  }
}
