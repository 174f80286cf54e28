package graft

import graft.operators.{Dedup, Fixtures, StoreSwap}
import org.apache.spark.sql.functions._

/** The store manifest's reader guarantees ([[StoreSwap]]): every
  * commit renames ONE manifest file over immutable generation dirs, so
  * a reader that resolved a manifest always sees a complete store — old
  * or new, never mid-swap — and keeps its resolved dirs through the GC
  * grace window (`graft.store.snapshotKeep` prior manifests). */
class VersionedStoreSpec extends SparkSpec {
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

  /** Read a RESOLVED snapshot by its entries — what a reader that
    * loaded the manifest just before a mutation holds. */
  private def readResolved(path: String, dataDir: String,
                           entries: Map[String, Seq[Long]]) = {
    val byGen = entries.toSeq.flatMap { case (d, gs) => gs.map(_ -> d) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    byGen.map { case (g, ds) =>
      spark.read.option("basePath", s"$path/$dataDir.gens/g$g")
        .parquet(ds.map { case (_, d) => s"$path/$dataDir.gens/g$g/$d" }: _*)
    }.reduce(_ unionByName _)
  }

  private def sigRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "k", "mh").orderBy("doc_id", "k").collect().toSeq

  test("a snapshot resolved before a mutation stays complete through it") {
    val path = Fixtures.tempDir("graft-vstore-").resolve("s").toString
    val standing = docs().filter(col("doc_id") < 4 && col("doc_id") =!= 2L)
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id",
      buckets = 8)
    assert(StoreSwap.snapshotVersions(spark, path) == Seq(0))
    val (v0, entries0) = StoreSwap.latestSnapshot(spark, path, "data").get
    // the pre-mutation reader's view, fully materialized for comparison
    val before = sigRows(readResolved(path, "data", entries0))
    assert(before == sigRows(sigs(standing)))
    // mutation: merge a delta (rewrites the touched doc buckets)
    Dedup.mergeIntoSignatureStore(spark, path,
      sigs(docs().filter(col("doc_id") === 2L || col("doc_id") === 8L)),
      "doc_id")
    val (v1, entries1) = StoreSwap.latestSnapshot(spark, path, "data").get
    assert(v1 == v0 + 1)
    // the OLD resolved snapshot is still complete and byte-identical —
    // its gen dirs were not touched by the commit (grace window)
    assert(sigRows(readResolved(path, "data", entries0)) == before,
      "pre-mutation snapshot changed under a committed mutation")
    // the NEW snapshot holds the merged store exactly
    assert(sigRows(readResolved(path, "data", entries1)) ==
      sigRows(sigs(docs())))
    // and the production read path resolves to the same
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) ==
      sigRows(sigs(docs())))
  }

  test("GC keeps the grace window: one prior manifest survives, older gens are reclaimed") {
    val path = Fixtures.tempDir("graft-vstore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id",
      buckets = 8)
    // two mutations: forget doc 8 (bucket 0 rewritten), then forget
    // doc 3 (bucket 3 rewritten) — v0's touched gen-0 dirs become
    // unreferenced once v0's manifest ages out of the window
    Dedup.forgetDocsFromSignatureStore(spark, path,
      Seq(8L).toDF("doc_id"), "doc_id")
    Dedup.forgetDocsFromSignatureStore(spark, path,
      Seq(3L).toDF("doc_id"), "doc_id")
    val vd = java.nio.file.Paths.get(path, "_v")
    val listing = java.nio.file.Files.list(vd)
    val manifests = try listing.toArray.map(_.toString)
      .filter { p => // skip the local FS's hidden .crc checksum twins
        val name = p.substring(p.lastIndexOf('/') + 1)
        name.startsWith("store.v")
      }.sorted.toSeq finally listing.close()
    assert(manifests.size == 2, // latest + one prior (snapshotKeep = 1)
      s"expected a 2-manifest grace window, got $manifests")
    // every gen a kept manifest references must exist; the store reads
    // back exactly the post-forget signatures
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) ==
      sigRows(sigs(docs().filter(col("doc_id") =!= 8L &&
        col("doc_id") =!= 3L))))
    val (_, entriesPrev) =
      StoreSwap.latestSnapshot(spark, path, "data").get
    readResolved(path, "data", entriesPrev).count() // dirs all readable
  }

  test("a crashed versioned commit (gen dir, no manifest) is invisible and reclaimed") {
    val path = Fixtures.tempDir("graft-vstore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id",
      buckets = 8)
    val wantV0 = sigRows(Dedup.readSignatureStore(spark, path)._1)
    val (v0, _) = StoreSwap.latestSnapshot(spark, path, "data").get
    // simulate a mutator that staged and renamed its generation in but
    // died before the manifest rename: readers must not see it
    val orphan = java.nio.file.Paths.get(path, "data.gens", s"g${v0 + 1}",
      "d_bucket=0")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk.txt"), "not parquet")
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) == wantV0,
      "an uncommitted generation leaked into reads")
    // the next mutation reclaims the orphan and commits cleanly
    Dedup.forgetDocsFromSignatureStore(spark, path,
      Seq(8L).toDF("doc_id"), "doc_id")
    assert(!java.nio.file.Files.exists(orphan.resolve("junk.txt")),
      "orphan generation survived the next commit")
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) ==
      sigRows(sigs(docs().filter(col("doc_id") =!= 8L))))
  }

  test("versioned embedding store: append extends generations, delete replaces, compact folds") {
    import graft.operators.Similarity
    def vecs() = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(j => (i + j).toFloat), i % 4, 1.0))
      .toDF("vec_id", "embedding", "cluster", "nrm")
    val path = Fixtures.tempDir("graft-vstore-").resolve("emb").toString
    Similarity.writeStandingStore(vecs().filter(col("vec_id") < 10),
      path, "cluster", buckets = 4)
    val (v0, e0) = StoreSwap.latestSnapshot(spark, path, "data").get
    // APPEND = a new generation ADDED to the touched buckets' gen
    // lists — never a rewrite of standing files
    Similarity.appendToStandingStore(vecs().filter(col("vec_id") >= 10),
      path, "cluster")
    val (v1, e1) = StoreSwap.latestSnapshot(spark, path, "data").get
    assert(v1 == v0 + 1)
    assert(e1.values.exists(_.length == 2),
      "append did not extend any bucket's generation list")
    // a reader snapshotted pre-append keeps its complete 10-row view
    assert(readResolved(path, "data", e0).count() == 10)
    assert(Similarity.readStandingStore(spark, path)._1.count() == 20)
    // DELETE = a rewrite: touched buckets collapse back to one gen
    val n = Similarity.deleteFromStandingStore(spark, path,
      Seq(0L, 1L).toDF("vec_id"), "vec_id")
    assert(n == 2)
    val (_, e2) = StoreSwap.latestSnapshot(spark, path, "data").get
    assert(e2("c_bucket=0").length == 1 && e2("c_bucket=1").length == 1,
      "delete rewrite did not replace the touched buckets' gen lists")
    assert(Similarity.readStandingStore(spark, path)._1.count() == 18)
    // COMPACT folds every multi-generation bucket to one gen
    val folded = Similarity.compactStandingStore(spark, path,
      maxFilesPerBucket = 1)
    assert(folded.nonEmpty, "cross-generation fragmentation undetected")
    val (_, e3) = StoreSwap.latestSnapshot(spark, path, "data").get
    assert(e3.values.forall(_.length == 1))
    val got = Similarity.readStandingStore(spark, path)._1
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (2L until 20L).toSeq)
  }

  test("time-travel: a retained version reads the exact historical state; a GC'd one fails fast") {
    import graft.operators.Similarity
    def vecs(lo: Long, hi: Long) = (lo until hi).map(i =>
      (i, Seq.tabulate(4)(j => (i + j).toFloat), i % 4, 1.0))
      .toDF("vec_id", "embedding", "cluster", "nrm")
    val path = Fixtures.tempDir("graft-vstore-").resolve("emb").toString
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      Similarity.writeStandingStore(vecs(0, 10), path, "cluster",
        buckets = 4)
      val v0 = Similarity.standingStoreVersions(spark, path).last
      Similarity.appendToStandingStore(vecs(10, 20), path, "cluster")
      val v1 = Similarity.standingStoreVersions(spark, path).last
      Similarity.deleteFromStandingStore(spark, path,
        Seq(0L, 1L, 15L).toDF("vec_id"), "vec_id")
      def idsAt(v: Int) = Similarity.readStandingStoreAt(spark, path, v)
        ._1.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(idsAt(v0) == (0L until 10L).toSeq)
      assert(idsAt(v1) == (0L until 20L).toSeq)
      assert(Similarity.readStandingStore(spark, path)._1.count() == 17)
      // schema equality: the snapshot read is a full store read
      assert(Similarity.readStandingStoreAt(spark, path, v0)._1.columns
        .sorted.toSeq ==
        Similarity.readStandingStore(spark, path)._1.columns.sorted.toSeq)
    } finally spark.conf.unset("graft.store.snapshotKeep")
    // default keep (1): a third mutation ages v0 out — reading it
    // must fail naming the retained window, not return partial data
    Similarity.appendToStandingStore(vecs(20, 22), path, "cluster")
    Similarity.appendToStandingStore(vecs(22, 24), path, "cluster")
    val retained = Similarity.standingStoreVersions(spark, path)
    assert(retained.size == 2, s"grace window should retain 2, got $retained")
    val ex = intercept[RuntimeException] {
      Similarity.readStandingStoreAt(spark, path, 0)._1.count()
    }
    assert(ex.getMessage.contains("no retained manifest"), ex.getMessage)
  }

  test("exactly-once ledger: a replayed batchId is skipped without evaluating the batch") {
    import graft.operators.Similarity
    def vecs(lo: Long, hi: Long) = (lo until hi).map(i =>
      (i, Seq.tabulate(4)(j => (i + j).toFloat), i % 4, 1.0))
      .toDF("vec_id", "embedding", "cluster", "nrm")
    val path = Fixtures.tempDir("graft-vstore-").resolve("emb").toString
    Similarity.writeStandingStore(vecs(0, 8), path, "cluster",
      buckets = 4)
    Similarity.appendToStandingStore(vecs(8, 12), path, "cluster",
      batchId = Some(0L))
    Similarity.appendToStandingStore(vecs(12, 16), path, "cluster",
      batchId = Some(1L))
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(0L, 1L))
    // a rewrite BETWEEN batches must not lose the ledger — a crash
    // after it would otherwise re-admit an already-applied batch
    Similarity.deleteFromStandingStore(spark, path,
      Seq(2L).toDF("vec_id"), "vec_id")
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(0L, 1L))
    // the redelivered batch is POISONED: evaluating it throws, so the
    // skip must happen from the ledger alone (no staging write)
    val boom = org.apache.spark.sql.functions.udf { (i: Long) =>
      sys.error("redelivered batch was evaluated"); i
    }
    val poisoned = vecs(8, 12).withColumn("vec_id", boom(col("vec_id")))
    Similarity.appendToStandingStore(poisoned, path, "cluster",
      batchId = Some(0L))
    val got = Similarity.readStandingStore(spark, path)._1
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 16L).toSeq.filterNot(_ == 2L)))
    // a FRESH id still lands
    Similarity.appendToStandingStore(vecs(16, 18), path, "cluster",
      batchId = Some(2L))
    assert(Similarity.readStandingStore(spark, path)._1.count() == 17)
    // a store in the legacy on-disk layout migrates at its first open
    // and is exactly-once from its first batch on
    val legacy = Fixtures.tempDir("graft-vstore-").resolve("leg").toString
    LegacyStores.standingStore(vecs(0, 4), legacy, "cluster", 4)
    Similarity.appendToStandingStore(vecs(4, 6), legacy, "cluster",
      batchId = Some(0L))
    Similarity.appendToStandingStore(poisoned, legacy, "cluster",
      batchId = Some(0L))
    assert(StoreSwap.committedBatches(spark, legacy, "data") == Set(0L))
    assert(Similarity.readStandingStore(spark, legacy)._1.count() == 6)
  }

  test("store diff: manifest-pruned CDC detects insert/delete/update and reads only changed buckets") {
    import graft.operators.Similarity
    def vec(i: Long, cl: Long) =
      (i, Seq.tabulate(4)(j => (i + j).toFloat), cl, 1.0)
    def df(rows: (Long, Seq[Float], Long, Double)*) =
      rows.toDF("vec_id", "embedding", "cluster", "nrm")
    val path = Fixtures.tempDir("graft-vstore-").resolve("emb").toString
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      // buckets = 4 and cluster = id % 4 ⇒ bucket b holds cluster b
      Similarity.writeStandingStore(
        df((0L until 10L).map(i => vec(i, i % 4)): _*), path,
        "cluster", buckets = 4)
      val v0 = Similarity.standingStoreVersions(spark, path).last
      // insert: two rows into cluster 1 (bucket 1)
      Similarity.appendToStandingStore(
        df(vec(10L, 1L), vec(11L, 1L)), path, "cluster")
      // delete: id 0 (bucket 0)
      Similarity.deleteFromStandingStore(spark, path,
        Seq(0L).toDF("vec_id"), "vec_id")
      // update: id 5 moves cluster 1 → 2 (what a refit does) — the
      // store mutation is delete + re-append under the new cluster
      Similarity.deleteFromStandingStore(spark, path,
        Seq(5L).toDF("vec_id"), "vec_id")
      Similarity.appendToStandingStore(df(vec(5L, 2L)), path, "cluster")
      val live = Similarity.standingStoreVersions(spark, path).last
      val diff = Similarity.standingStoreDiff(spark, path, v0, live)
      val got = diff.orderBy("change", "vec_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("delete", 0L, 0L), ("insert", 10L, 1L),
        ("insert", 11L, 1L), ("update", 5L, 2L)))
      // bucket 3's generation list is identical in both manifests, so
      // the diff plan must not read a single file of it
      assert(diff.inputFiles.nonEmpty &&
        !diff.inputFiles.exists(_.contains("c_bucket=3")),
        s"diff read an unchanged bucket:\n${diff.inputFiles.mkString("\n")}")
      // identical versions diff to nothing without reading anything
      assert(Similarity.standingStoreDiff(spark, path, live, live)
        .count() == 0)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("composed text ingest: acked batch skips unevaluated; crash before ack re-runs idempotently") {
    val path = Fixtures.tempDir("graft-vstore-").resolve("s").toString
    val standing = docs().filter(col("doc_id") < 4 && col("doc_id") =!= 2L)
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id",
      buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    Dedup.writeShingleSidecar(spark, path, standing, "doc_id", "text",
      n = 3)
    val delta = docs().filter(col("doc_id") === 2L || col("doc_id") === 8L)
    // "crash" between the merges and the ack: the merges already ran…
    Dedup.mergeIntoSignatureStore(spark, path, sigs(delta), "doc_id")
    Dedup.mergeShinglesIntoStore(spark, path, delta, "doc_id", "text")
    Dedup.mergeIntoBandIndex(spark, path,
      delta.select(col("doc_id")), "doc_id")
    assert(StoreSwap.committedBatches(spark, path, "data").isEmpty)
    val preIngest = Dedup.signatureStoreVersions(spark, path).last
    val afterCrash = sigRows(Dedup.readSignatureStore(spark, path)._1)
    // the text twin of readStandingStoreAt: a retained version reads
    // the same complete snapshot the live read sees at that version
    assert(sigRows(Dedup.readSignatureStoreAt(spark, path, preIngest)._1)
      == afterCrash)
    // …redelivery re-runs all three idempotently, then acks
    Dedup.ingestBatchIntoStore(spark, path, delta, "doc_id", "text",
      batchId = Some(0L), n = 3, numHashes = 4)
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(0L))
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) == afterCrash,
      "idempotent re-run changed the store")
    // a SECOND redelivery of the acked batch is skipped without
    // evaluating the batch at all
    val boom = org.apache.spark.sql.functions.udf { (s: String) =>
      sys.error("redelivered batch was evaluated"); s
    }
    Dedup.ingestBatchIntoStore(spark, path,
      delta.withColumn("text", boom(col("text"))), "doc_id", "text",
      batchId = Some(0L), n = 3, numHashes = 4)
    // a store in the legacy layout migrates at open and acks its first
    // batch like any other
    val legacy = Fixtures.tempDir("graft-vstore-").resolve("leg").toString
    LegacyStores.signatureStore(sigs(standing), legacy, "doc_id", 8)
    Dedup.ingestBatchIntoStore(spark, legacy, delta, "doc_id", "text",
      batchId = Some(0L), n = 3, numHashes = 4)
    assert(StoreSwap.committedBatches(spark, legacy, "data") == Set(0L))
    Dedup.ingestBatchIntoStore(spark, legacy,
      delta.withColumn("text", boom(col("text"))), "doc_id", "text",
      batchId = Some(0L), n = 3, numHashes = 4)
    assert(sigRows(Dedup.readSignatureStore(spark, legacy)._1) ==
      sigRows(sigs(standing.unionByName(delta))))
  }

  test("full text lifecycle on a versioned store matches the legacy store") {
    // a store that starts in the legacy on-disk layout (migrated at
    // its first open) and a store created on the manifest run the same
    // lifecycle to the same verdicts and content
    def lifecycle(legacyLayout: Boolean): (Seq[Any], Seq[Any]) = {
      val path = Fixtures.tempDir("graft-vstore-").resolve("s").toString
      val standing = docs()
      if (legacyLayout)
        LegacyStores.signatureStore(sigs(standing), path, "doc_id", 8)
      else
        Dedup.writeSignatureStore(sigs(standing), path, "doc_id",
          buckets = 8)
      Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
      Dedup.writeShingleSidecar(spark, path, standing, "doc_id", "text",
        n = 3)
      val delta1 = standing.filter(col("doc_id") <= 1L)
        .select((col("doc_id") + 100L).as("doc_id"), col("text"))
      Dedup.mergeIntoSignatureStore(spark, path, sigs(delta1), "doc_id")
      Dedup.mergeShinglesIntoStore(spark, path, delta1, "doc_id", "text")
      Dedup.mergeIntoBandIndex(spark, path,
        delta1.select(col("doc_id")), "doc_id")
      val doomed = Seq(3L).toDF("doc_id")
      Dedup.forgetFromBandIndex(spark, path, doomed, "doc_id")
      Dedup.forgetDocsFromSignatureStore(spark, path, doomed, "doc_id")
      val delta2 = standing.select((col("doc_id") + 200L).as("doc_id"),
        col("text"))
      val verdicts = Dedup.lshJudgeStore(spark, path,
          standing.unionByName(delta1), delta2, "doc_id", "text",
          n = 3, numHashes = 4)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      val store = sigRows(Dedup.readSignatureStore(spark, path)._1)
      (verdicts, store)
    }
    val legacy = lifecycle(legacyLayout = true)
    val vsn = lifecycle(legacyLayout = false)
    assert(vsn._1 == legacy._1, "verdicts diverged across commit protocols")
    assert(vsn._2 == legacy._2, "store content diverged across commit protocols")
    assert(vsn._1.nonEmpty)
  }
}
