package graft

import graft.operators.{Dedup, Fixtures, Similarity, StoreSwap}
import org.apache.spark.sql.functions._

/** The store manifest ([[StoreSwap]]): one `store.v<N>` manifest
  * spanning every dataDir, so composed multi-dataDir mutations commit
  * with ONE rename ([[StoreSwap.transact]]) and any retained version is
  * a CONSISTENT snapshot of the whole store — bands, sidecar, and
  * signatures together, which is what makes historical judgment replay
  * ([[Dedup.lshJudgeStoreAt]]) exact. Older on-disk layouts
  * ([[LegacyStores]]) migrate once, at [[StoreSwap.open]]. */
class UnifiedStoreSpec extends SparkSpec {
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

  private def sigRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "k", "mh").orderBy("doc_id", "k").collect().toSeq

  private def judgeRows(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").orderBy("id_a", "id_b").collect().toSeq

  /** A fully built text store (data + bands + sidecar) over
    * `standing`. */
  private def buildUnified(standing: org.apache.spark.sql.DataFrame): String = {
    val path = Fixtures.tempDir("graft-ustore-").resolve("s").toString
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    Dedup.writeShingleSidecar(spark, path, standing, "doc_id", "text",
      n = 3)
    path
  }

  private def versions(path: String) = StoreSwap.snapshotVersions(spark, path)

  /** Every dataDir of a built text store rewritten in the LEGACY layout
    * under `path` (live partition dirs, its layout constants in sidecar
    * metas). */
  private def legacyTextStore(built: String, path: String): Unit = {
    Seq("data" -> "d_bucket", "bands" -> "bb_bucket",
        "bands_inv" -> "d_bucket", "shingles" -> "d_bucket").foreach {
      case (d, pc) => LegacyStores.partitionDir(
        StoreSwap.readDir(spark, built, d, pc), path, d, pc)
    }
    def constant(name: String) =
      StoreSwap.layoutConstant(spark, built, name).get.toInt
    LegacyStores.textStoreSidecars(spark, path, constant("buckets"),
      constant("bands.b"), constant("bands.r"), constant("bands.idx"),
      constant("shingles.n"))
  }

  private def embCorpus() = (0L until 40L).map(i =>
    (i, Seq.tabulate(4)(j => ((i * 7 % 13) + j).toFloat)))
    .toDF("vec_id", "embedding")

  private def embAssigned(cents: Seq[Seq[Double]]) = embCorpus()
    .withColumn("cluster",
      Similarity.assignCluster(col("embedding"), cents).cast("long"))
    .withColumn("nrm", Similarity.norm(col("embedding")))

  private def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq

  test("unify is content-invariant and idempotent; later mutations commit unified") {
    val standing = docs().filter(col("doc_id") < 4)
    val built = buildUnified(standing)
    // every older on-disk layout migrates at the first open: the rows a
    // read made BEFORE migration saw, the ledger, and (for the embedding
    // store) the codebook and the PQ triple all survive; a second open
    // changes nothing; the next mutation bumps the one store version
    def checkOpen(path: String, open: () => Unit): Int = {
      open()
      val v0 = versions(path)
      assert(v0.nonEmpty, s"$path: migration published no manifest")
      open()
      assert(versions(path) == v0, "a second open changed the store")
      v0.last
    }
    def legacyDir(path: String, d: String) =
      assert(!new java.io.File(s"$path/$d").exists,
        s"$path/$d: a partition dir stayed live after migration")

    // (1) a legacy signature store: live data/bands/bands_inv/shingles
    val sigPath = Fixtures.tempDir("graft-ustore-").resolve("sig").toString
    legacyTextStore(built, sigPath)
    val preSigs = sigRows(spark.read.parquet(sigPath + "/data"))
    val preBands = rows(spark.read.parquet(sigPath + "/bands"),
      "id", "band", "bsig")
    val v1 = checkOpen(sigPath, () => Dedup.unifySignatureStore(spark, sigPath))
    Seq("data", "bands", "bands_inv", "shingles").foreach(legacyDir(sigPath, _))
    assert(sigRows(Dedup.readSignatureStore(spark, sigPath)._1) == preSigs)
    assert(preSigs == sigRows(sigs(standing)))
    assert(rows(StoreSwap.readDir(spark, sigPath, "bands", "bb_bucket"),
      "id", "band", "bsig") == preBands)
    // the band layout constants were seeded into the migration manifest
    assert(StoreSwap.storeMetaAt(spark, sigPath, "bands.b", Some(v1))
      .contains(Seq(2L)))
    Dedup.mergeIntoSignatureStore(spark, sigPath,
      sigs(docs().filter(col("doc_id") === 8L)), "doc_id")
    assert(versions(sigPath).last == v1 + 1)
    assert(sigRows(Dedup.readSignatureStore(spark, sigPath)._1) ==
      sigRows(sigs(docs().filter(col("doc_id") < 4 || col("doc_id") === 8L))))

    // (2) a legacy store with a committed-but-unapplied _pending_swap:
    // bucket 0 is restaged with docs 0 and 8, bucket 3 emptied — the
    // read before migration is the legacy roll-forward's result
    val swapPath = Fixtures.tempDir("graft-ustore-").resolve("swap").toString
    LegacyStores.signatureStore(sigs(standing), swapPath, "doc_id", 8)
    val staged = sigs(docs().filter(col("doc_id").isin(0L, 8L)))
      .withColumn("d_bucket", pmod(col("doc_id"), lit(8L)).cast("int"))
    LegacyStores.pendingSwap(swapPath, "d_bucket", Seq(0), Seq(3), staged)
    val preSwap = sigRows(spark.read.parquet(swapPath + "/data")
      .filter(!col("d_bucket").isin(0, 3)).unionByName(staged))
    checkOpen(swapPath, () => Dedup.readSignatureStore(spark, swapPath))
    Seq("_pending_swap", ".staging", "data").foreach(legacyDir(swapPath, _))
    assert(sigRows(Dedup.readSignatureStore(spark, swapPath)._1) == preSwap)
    assert(preSwap == sigRows(sigs(docs().filter(col("doc_id").isin(0L, 1L, 2L, 8L)))))

    // (3) a per-dataDir versioned store whose data carries a #batches
    // ledger: the ledger survives, namespaced, and the store numbering
    // starts above the per-dataDir version
    val pdPath = Fixtures.tempDir("graft-ustore-").resolve("pd").toString
    LegacyStores.signatureStore(sigs(standing), pdPath, "doc_id", 8)
    LegacyStores.perDataDirVersioned(pdPath, "data", 3, batches = Seq(5L, 6L))
    val prePd = sigRows(spark.read.parquet(pdPath + "/data.gens/g3"))
    val vPd = checkOpen(pdPath, () => Dedup.unifySignatureStore(spark, pdPath))
    assert(vPd > 3, s"store numbering must start above v3: $vPd")
    assert(sigRows(Dedup.readSignatureStore(spark, pdPath)._1) == prePd)
    assert(StoreSwap.committedBatches(spark, pdPath, "data") == Set(5L, 6L))
    assert(!new java.io.File(s"$pdPath/_v/data.v3").exists,
      "the per-dataDir manifest family was not retired")
    Dedup.ingestBatchIntoStore(spark, pdPath,
      docs().filter(col("doc_id") === 8L), "doc_id", "text",
      batchId = Some(5L), n = 3, numHashes = 4)
    assert(versions(pdPath).last == vPd, "a migrated ledger lost batch 5")

    // (4) a legacy embedding store with a write-once codebook, a PQ
    // triple, and a committed-but-unapplied _pending_pq re-flavoring
    // it to rotated
    val cents = Similarity.trainCentroids(embCorpus(), "vec_id",
      "embedding", 2, 2)
    def refStore(rotate: Boolean): String = {
      val p = Fixtures.tempDir("graft-ustore-").resolve("ref").toString
      Similarity.writeStandingStore(embAssigned(cents), p, "cluster",
        buckets = 8)
      Similarity.writeCodebook(spark, p, cents)
      Similarity.writePqSidecar(spark, p, "vec_id", "embedding",
        m = 2, dsub = 2, ksub = 4, rotate = rotate)
      p
    }
    val (plain, rotated) = (refStore(false), refStore(true))
    val embPath = Fixtures.tempDir("graft-ustore-").resolve("emb").toString
    LegacyStores.standingStore(embAssigned(cents), embPath, "cluster", 8)
    LegacyStores.flatDir(
      StoreSwap.readDir(spark, plain, "codebook", "part").drop("part"),
      embPath, "codebook")
    LegacyStores.pqTriple(spark, plain, embPath)
    LegacyStores.pqTriple(spark, rotated, embPath, pending = true)
    val preData = rows(spark.read.parquet(embPath + "/data"),
      "vec_id", "cluster")
    val preCodes = rows(
      StoreSwap.readDir(spark, rotated, "pq_codes", "c_bucket"),
      "id", "cluster", "codes")
    checkOpen(embPath, () => StoreSwap.open(spark, embPath))
    legacyDir(embPath, "_pending_pq")
    assert(rows(Similarity.readStandingStore(spark, embPath)._1,
      "vec_id", "cluster") == preData)
    assert(Similarity.readCodebook(spark, embPath) == cents)
    assert(rows(StoreSwap.readDir(spark, embPath, "pq_codes", "c_bucket"),
      "id", "cluster", "codes") == preCodes)
    assert(StoreSwap.readDir(spark, embPath, "pq_meta", "part")
      .head.getAs[Boolean]("rotated"), "the pending re-flavor was lost")
    def served(p: String) = rows(Similarity.pqTopKStore(spark, p,
        embCorpus().filter(col("vec_id") === 1L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 5, nProbe = 2), "query_id", "rank", "neighbor_id")
    assert(served(embPath) == served(rotated))
  }

  test("transact publishes a composed ingest (3 merges + ack) as ONE version; failure leaves the pre-txn state") {
    val standing = docs().filter(col("doc_id") < 4 && col("doc_id") =!= 2L)
    val path = buildUnified(standing)
    val preV = versions(path).last
    val preSigs = sigRows(Dedup.readSignatureStore(spark, path)._1)
    // a txn that fails mid-way must leave EVERY dataDir at the pre-txn
    // version — the first merge had already staged and recorded
    val boom = intercept[RuntimeException] {
      StoreSwap.transact(spark, path) {
        Dedup.mergeIntoSignatureStore(spark, path,
          sigs(docs().filter(col("doc_id") === 2L)), "doc_id")
        sys.error("boom")
      }
    }
    assert(boom.getMessage.contains("boom"))
    assert(versions(path).last == preV,
      "failed txn bumped the store version")
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) == preSigs,
      "failed txn changed visible data")
    // the composed exactly-once ingest commits as ONE version bump,
    // with the ledger ack in the SAME manifest
    val delta = docs().filter(col("doc_id") === 2L || col("doc_id") === 8L)
    Dedup.ingestBatchIntoStore(spark, path, delta, "doc_id", "text",
      batchId = Some(7L), n = 3, numHashes = 4)
    val postV = versions(path).last
    assert(postV == preV + 1,
      s"composed ingest took ${postV - preV} commits, wanted 1")
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(7L))
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) ==
      sigRows(sigs(docs())))
    // redelivery of the acked batch is skipped without a version bump
    Dedup.ingestBatchIntoStore(spark, path, delta, "doc_id", "text",
      batchId = Some(7L), n = 3, numHashes = 4)
    assert(versions(path).last == postV)
  }

  test("historical judgment replays bit-exactly from a pinned unified version") {
    val standing = docs().filter(col("doc_id") =!= 2L)
    val path = buildUnified(standing)
    val probe = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "totally unrelated content nothing matches"))
      .toDF("doc_id", "text")
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      val v0 = versions(path).last
      val liveVerdict = judgeRows(Dedup.lshJudgeStore(spark, path,
        standing, probe, "doc_id", "text", n = 3, numHashes = 4))
      // mutate the store: ingest doc 2 (a dup of doc 0) — the LIVE
      // judgment of the probe changes (new partner), the PINNED one
      // must not
      Dedup.ingestBatchIntoStore(spark, path,
        docs().filter(col("doc_id") === 2L), "doc_id", "text",
        n = 3, numHashes = 4)
      val liveAfter = judgeRows(Dedup.lshJudgeStore(spark, path,
        docs(), probe, "doc_id", "text", n = 3, numHashes = 4))
      assert(liveAfter != liveVerdict,
        "mutation should have changed the live verdict (weak scenario)")
      val replay = judgeRows(Dedup.lshJudgeStoreAt(spark, path,
        probe, "doc_id", "text", v0, n = 3, numHashes = 4))
      assert(replay == liveVerdict,
        "pinned replay diverged from the verdict at that version")
      // a per-dataDir versioned layout migrates at open; its version
      // numbers never alias a store version — asOf one of them fails
      // fast with the cutover message instead of replaying signatures
      // without their bands
      val perDir = Fixtures.tempDir("graft-ustore-").resolve("pd").toString
      legacyTextStore(path, perDir)
      Seq("data", "bands", "bands_inv", "shingles").foreach(d =>
        LegacyStores.perDataDirVersioned(perDir, d, 0))
      val ex = intercept[RuntimeException] {
        Dedup.lshJudgeStoreAt(spark, perDir, probe, "doc_id", "text",
          0, n = 3, numHashes = 4)
      }
      assert(ex.getMessage.contains("cutover"), ex.getMessage)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("a full overwrite carries the exactly-once ledger (no post-rewrite re-apply)") {
    // ADVICE r12: versionedOverwrite rebuilt entries from empty and
    // silently dropped #batches — a batch redelivered after a
    // mid-stream full rewrite was re-applied. Both protocols must
    // carry the ledger through replaceAll commits.
    def vecs(a: Long, b: Long) = (a until b).map(i =>
      (i, Seq.tabulate(4)(j => (i + j).toFloat), i % 4, 1.0))
      .toDF("vec_id", "embedding", "cluster", "nrm")
    val path = Fixtures.tempDir("graft-ustore-").resolve("emb").toString
    Similarity.writeStandingStore(vecs(0, 8), path, "cluster",
      buckets = 4)
    Similarity.appendToStandingStore(vecs(8, 10), path, "cluster",
      batchId = Some(3L))
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(3L))
    // the mid-stream full rewrite (a refit's writeStandingStore)
    Similarity.writeStandingStore(vecs(0, 10), path, "cluster",
      buckets = 4)
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(3L),
      "full overwrite dropped the exactly-once ledger")
    // redelivery after the rewrite must still be a no-op
    Similarity.appendToStandingStore(vecs(8, 10), path, "cluster",
      batchId = Some(3L))
    assert(Similarity.readStandingStore(spark, path)._1.count() == 10)
  }

  test("unified PQ sidecar: the triple commits in ONE rename and a pinned reader never sees a mix") {
    def corpus() = embCorpus()
    val cents = Similarity.trainCentroids(corpus(), "vec_id", "embedding",
      2, 2)
    val path = Fixtures.tempDir("graft-ustore-").resolve("pq").toString
    Similarity.writeStandingStore(embAssigned(cents), path, "cluster",
      buckets = 8)
    Similarity.writeCodebook(spark, path, cents)
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
        m = 2, dsub = 2, ksub = 4)
      // the triple is versioned now — no legacy live dirs, no pending
      // marker protocol
      Seq("pq_codebook", "pq_meta", "pq_codes").foreach { d =>
        assert(!new java.io.File(s"$path/$d").exists, s"legacy $d dir")
      }
      val v0 = versions(path).last
      val servedV0 = Similarity.pqTopKStore(spark, path,
          corpus().filter(col("vec_id") === 1L), "vec_id", "embedding",
          m = 2, dsub = 2, k = 5, nProbe = 2)
        .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(servedV0.nonEmpty)
      // FULL triple rewrite under a different flavor = ONE version bump
      Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
        m = 2, dsub = 2, ksub = 4, residual = true)
      val v1 = versions(path).last
      assert(v1 == v0 + 1,
        s"triple rewrite took ${v1 - v0} commits, wanted 1")
      // the OLD triple stays resolvable AS A TRIPLE at v0: flavor,
      // codebook, and codes from the same pinned manifest
      val oldMeta = StoreSwap.readVersionedAt(spark, path, "pq_meta",
        "part", v0).head
      assert(!oldMeta.getAs[Boolean]("residual"))
      assert(StoreSwap.readVersionedAt(spark, path, "pq_codes",
        "c_bucket", v0).count() == 40)
      val newMeta = StoreSwap.readVersionedAt(spark, path, "pq_meta",
        "part", v1).head
      assert(newMeta.getAs[Boolean]("residual"))
      // the live search serves the new flavor end-to-end
      assert(Similarity.pqTopKStore(spark, path,
          corpus().filter(col("vec_id") === 1L), "vec_id", "embedding",
          m = 2, dsub = 2, k = 5, nProbe = 2).count() == 5)
      // a triple rewrite that CRASHES mid-way publishes NOTHING — the
      // live triple stays the residual one in full (no mixed state
      // for any reader, which is the reader-atomicity claim in its
      // crash form)
      import spark.implicits._
      intercept[RuntimeException] {
        StoreSwap.transact(spark, path) {
          StoreSwap.overwriteDir(spark, path, "pq_meta", "part",
            Seq((false, false, 0)).toDF("residual", "rotated", "part"),
            Seq(col("residual")))
          sys.error("crash between meta and codes")
        }
      }
      assert(versions(path).last == v1)
      val liveMeta = StoreSwap.readDir(spark, path, "pq_meta", "part").head
      assert(liveMeta.getAs[Boolean]("residual"),
        "a crashed triple rewrite leaked a partial artifact")
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("pre-migration version numbers fail fast with the cutover message (never alias)") {
    val standing = docs().filter(col("doc_id") < 4)
    val path = Fixtures.tempDir("graft-ustore-").resolve("cut").toString
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      // a per-dataDir layout at v1: pre-migration history has the
      // version numbers 0 and 1 a user could remember
      LegacyStores.signatureStore(
        sigs(docs().filter(col("doc_id") < 4 || col("doc_id") === 8L)),
        path, "doc_id", 8)
      LegacyStores.perDataDirVersioned(path, "data", 1)
      Dedup.unifySignatureStore(spark, path)
      val unifiedVs = versions(path)
      assert(unifiedVs.head > 1,
        s"unified numbering must start above pre-migration versions:" +
          s" $unifiedVs")
      // the pre-migration v0/v1 must not resolve to ANY snapshot —
      // fail fast, cutover named, runbook included
      Seq(0, 1).foreach { v =>
        val ex = intercept[RuntimeException] {
          StoreSwap.readVersionedAt(spark, path, "data", "d_bucket", v)
        }
        assert(ex.getMessage.contains("cutover"), ex.getMessage)
        assert(ex.getMessage.contains("Runbook"), ex.getMessage)
      }
      // the live unified read is intact
      assert(Dedup.readSignatureStore(spark, path)._1
        .select("doc_id").distinct().count() == 5)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("a crashed migration's completed live->g0 rename is adopted, not orphaned") {
    val standing = docs().filter(col("doc_id") < 4)
    val before = sigRows(sigs(standing))
    val path = Fixtures.tempDir("graft-ustore-").resolve("crash").toString
    LegacyStores.signatureStore(sigs(standing), path, "doc_id", 8)
    // simulate the predecessor's crash window: the live->g0 rename
    // completed but store.v<N> was never written — a re-run must adopt
    // g0 as the dataDir's state, not commit a manifest without it
    val live = new java.io.File(s"$path/data")
    val g0 = new java.io.File(s"$path/data.gens/g0")
    assert(g0.getParentFile.mkdirs())
    assert(live.renameTo(g0))
    Dedup.unifySignatureStore(spark, path)
    assert(versions(path).nonEmpty)
    assert(!new java.io.File(s"$path/data").exists)
    assert(sigRows(Dedup.readSignatureStore(spark, path)._1) == before,
      "re-run after the crashed migration orphaned the dataDir's data")
  }

  test("unified ledgers are namespaced per dataDir: overlapping batch ids don't alias") {
    val path = buildUnified(docs().filter(col("doc_id") < 4))
    StoreSwap.ackBatch(spark, path, "data", 5L)
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(5L))
    assert(StoreSwap.committedBatches(spark, path, "bands").isEmpty,
      "a batch acked into data's stream aliased into bands' ledger")
    // the same id's FIRST delivery to another dataDir's stream must
    // commit (pre-fix it was silently skipped as a replay)
    StoreSwap.ackBatch(spark, path, "bands", 5L)
    assert(StoreSwap.committedBatches(spark, path, "bands") == Set(5L))
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(5L))
  }

  test("the one-time PQ cutover keeps legacy dirs for in-flight readers; the next rewrite retires them") {
    val cents = Similarity.trainCentroids(embCorpus(), "vec_id",
      "embedding", 2, 2)
    val ref = Fixtures.tempDir("graft-ustore-").resolve("ref").toString
    Similarity.writeStandingStore(embAssigned(cents), ref, "cluster",
      buckets = 8)
    Similarity.writeCodebook(spark, ref, cents)
    Similarity.writePqSidecar(spark, ref, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4)
    // a LEGACY store whose PQ sidecar lives in live dirs
    val path = Fixtures.tempDir("graft-ustore-").resolve("pqcut").toString
    LegacyStores.standingStore(embAssigned(cents), path, "cluster", 8)
    LegacyStores.flatDir(
      StoreSwap.readDir(spark, ref, "codebook", "part").drop("part"),
      path, "codebook")
    LegacyStores.pqTriple(spark, ref, path)
    def legacyDirs() = Seq("pq_codebook", "pq_meta", "pq_codes")
      .filter(d => new java.io.File(s"$path/$d").exists)
    assert(legacyDirs().size == 3)
    // the migration at open recommits the triple as versioned dataDirs
    // but must NOT delete the legacy dirs — a reader that resolved them
    // just before the commit may still be scanning
    def serve() = Similarity.pqTopKStore(spark, path,
        embCorpus().filter(col("vec_id") === 1L), "vec_id", "embedding",
        m = 2, dsub = 2, k = 5, nProbe = 2)
    assert(serve().count() == 5)
    assert(legacyDirs().size == 3,
      "migration deleted legacy dirs under a possible reader")
    assert(StoreSwap.dirExists(spark, path, "pq_codes"))
    // the NEXT rewrite retires them (pre-migration readers are gone)
    Similarity.writePqSidecar(spark, path, "vec_id", "embedding",
      m = 2, dsub = 2, ksub = 4)
    assert(legacyDirs().isEmpty, "stale legacy dirs survived a rewrite")
    assert(serve().count() == 5)
  }

  test("signature-store CDC: doc-level insert/update/delete, unchanged buckets never read") {
    // buckets = 8 and ids 0,1,2,3,8 ⇒ d_bucket = doc_id % 8: doc 1 in
    // bucket 1 stays untouched by every mutation below
    val standing = docs()
    val path = Fixtures.tempDir("graft-ustore-").resolve("cdc").toString
    Dedup.writeSignatureStore(sigs(standing), path, "doc_id", buckets = 8)
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      val v0 = Dedup.signatureStoreVersions(spark, path).last
      // insert: a new doc (id 16 → bucket 0)
      Dedup.mergeIntoSignatureStore(spark, path,
        sigs(Seq((16L, "entirely new content for the feed"))
          .toDF("doc_id", "text")), "doc_id")
      // update: doc 3 gains shingles (prepend) — MIN-merge changes mh
      Dedup.mergeIntoSignatureStore(spark, path,
        sigs(Seq((3L, "zzz qqq xyz sphinx of black quartz judge my vow"))
          .toDF("doc_id", "text")), "doc_id")
      // delete: doc 8 forgotten
      Dedup.forgetDocsFromSignatureStore(spark, path,
        Seq(8L).toDF("doc_id"), "doc_id")
      val live = Dedup.signatureStoreVersions(spark, path).last
      val diff = Dedup.signatureStoreDiff(spark, path, "doc_id", v0, live)
      val got = diff.orderBy("change", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("delete", 8L), ("insert", 16L), ("update", 3L)))
      assert(diff.inputFiles.nonEmpty &&
        !diff.inputFiles.exists(_.contains("d_bucket=1")),
        s"diff read an unchanged bucket:\n${diff.inputFiles.mkString("\n")}")
      assert(Dedup.signatureStoreDiff(spark, path, "doc_id", live, live)
        .count() == 0)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("unified GC enforces the retention window: retained versions stay whole, GC'd ones refuse, orphan gens reclaimed") {
    val standing = docs().filter(col("doc_id") < 4)
    val path = buildUnified(standing)
    spark.conf.set("graft.store.snapshotKeep", "2")
    try {
      def mut(id: Long): Unit = Dedup.ingestBatchIntoStore(spark, path,
        docs().filter(col("doc_id") === 8L)
          .select((col("doc_id") + id).as("doc_id"), col("text")),
        "doc_id", "text", n = 3, numHashes = 4)
      (1L to 5L).foreach(mut)
      val vs = versions(path)
      assert(vs.size == 3, s"keep=2 must retain keep+1 versions: $vs")
      // every retained version resolves to a COMPLETE snapshot with
      // the expected doc population (v grows by one ingested doc each)
      // the oldest retained version is the 3rd mutation (4 base docs
      // + 3 ingested); each newer retained version adds one more
      vs.foreach { v =>
        val n = StoreSwap.readVersionedAt(spark, path, "data",
          "d_bucket", v).select("doc_id").distinct().count()
        assert(n == 7 + (v - vs.head), s"v$v resolved to $n docs")
      }
      // a GC'd version refuses with the retention runbook, never a
      // partial or aliased snapshot
      val ex = intercept[RuntimeException] {
        StoreSwap.readVersionedAt(spark, path, "data", "d_bucket",
          vs.head - 1)
      }
      assert(ex.getMessage.contains("snapshotKeep"), ex.getMessage)
      // generation dirs no retained manifest references are reclaimed:
      // every on-disk gen of `data` must be referenced by SOME kept
      // manifest
      val referenced = vs.flatMap(v =>
        StoreSwap.snapshotEntriesAt(spark, path, "data", v).values.flatten)
        .toSet
      val onDisk = new java.io.File(s"$path/data.gens").listFiles()
        .map(_.getName.stripPrefix("g").toLong).toSet
      assert(onDisk.subsetOf(referenced),
        s"orphan generations survived GC: ${onDisk -- referenced}")
      // a retention value that is not a non-negative integer fails the
      // commit loudly, before anything is staged — never a silent 1
      Seq("eight", "-1").foreach { bad =>
        spark.conf.set("graft.store.snapshotKeep", bad)
        val e = intercept[IllegalArgumentException](mut(9L))
        assert(e.getMessage.contains("graft.store.snapshotKeep") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      assert(versions(path) == vs, "a refused commit changed the store")
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("a store unified before the ledger was namespaced keeps its exactly-once window") {
    // ADVICE r14: committedBatches read ONLY the namespaced
    // '#batches:<dataDir>' key — a store whose manifest still carries
    // the pre-namespacing store-wide '#batches' silently lost its
    // ledger on upgrade and re-applied a redelivered batch. Such a
    // store is protocol 1; the upgrade to protocol 2 splits the ledger.
    val standing = docs().filter(col("doc_id") < 4)
    val path = buildUnified(standing)
    Dedup.ingestBatchIntoStore(spark, path,
      docs().filter(col("doc_id") === 8L), "doc_id", "text",
      batchId = Some(7L), n = 3, numHashes = 4)
    // rewrite the latest manifest to the PRE-NAMESPACING layout
    def latestManifest() = new java.io.File(s"$path/_v").listFiles()
      .filter(_.getName.startsWith("store.v"))
      .maxBy(_.getName.stripPrefix("store.v").toInt)
    val mf = latestManifest()
    val body = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(body.contains("#batches:data|"), body)
    java.nio.file.Files.write(mf.toPath,
      body.replace("#batches:data|", "#batches|").getBytes("UTF-8"))
    // the raw rewrite invalidates Hadoop LocalFileSystem's checksum
    // sidecar; drop it (a real pre-namespacing store's crc matches)
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
    LegacyStores.protocol1(path)
    // the upgrade gives every dataDir the store-wide window as its own
    StoreSwap.open(spark, path)
    val upgraded = java.nio.file.Files.readAllLines(latestManifest().toPath)
    assert(!upgraded.contains("#batches|7"), upgraded)
    Seq("data", "bands", "bands_inv", "shingles").foreach(d =>
      assert(upgraded.contains(s"#batches:$d|7"), upgraded))
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(7L))
    val preV = versions(path).last
    // a redelivered pre-upgrade batch is skipped, not re-applied
    Dedup.ingestBatchIntoStore(spark, path,
      docs().filter(col("doc_id") === 8L), "doc_id", "text",
      batchId = Some(7L), n = 3, numHashes = 4)
    assert(versions(path).last == preV,
      "redelivered batch was re-applied after the namespacing upgrade")
    // the first post-upgrade ack extends the window (union, not
    // replacement)
    Dedup.ingestBatchIntoStore(spark, path,
      docs().filter(col("doc_id") === 2L), "doc_id", "text",
      batchId = Some(8L), n = 3, numHashes = 4)
    assert(StoreSwap.committedBatches(spark, path, "data") == Set(7L, 8L))
    // and batch 7 redelivery is STILL a no-op after the migration
    val v2 = versions(path).last
    Dedup.ingestBatchIntoStore(spark, path,
      docs().filter(col("doc_id") === 8L), "doc_id", "text",
      batchId = Some(7L), n = 3, numHashes = 4)
    assert(versions(path).last == v2)
  }

  test("a non-local return unwinding a dirty txn fails loudly instead of dropping the work") {
    // ADVICE r14: a body's early `return` after the first mutation
    // unwound transact WITHOUT publishing — the caller believed the
    // mutation committed; the manifest silently stayed at the pre-txn
    // version. Dirty unwinds must be loud.
    val standing = docs().filter(col("doc_id") < 4)
    val path = buildUnified(standing)
    val preV = versions(path).last
    def bad(): Unit =
      StoreSwap.transact(spark, path) {
        Dedup.mergeIntoSignatureStore(spark, path,
          sigs(docs().filter(col("doc_id") === 8L)), "doc_id")
        if (standing != null) return // caller bug: dirty non-local exit
        ()
      }
    val ex = intercept[RuntimeException](bad())
    assert(ex.getMessage.contains("non-local return"), ex.getMessage)
    assert(versions(path).last == preV,
      "dirty non-local return published anyway")
    // an early return BEFORE any mutation stays allowed (the
    // documented empty-work pattern)
    def ok(): Int =
      StoreSwap.transact(spark, path) {
        if (standing != null) return 5
        0
      }
    assert(ok() == 5)
    assert(versions(path).last == preV)
  }

  test("historical replay resolves the band layout from the pinned manifest, not the live sidecar") {
    // ADVICE r14: lshJudgeStore(asOf) derived delta bb_buckets from
    // the LIVE bands_meta — a rebuild under a different
    // graft.lsh.bandIndexBuckets inside the retention window made
    // replays prune to the wrong index dirs and silently drop
    // candidates.
    val standing = docs().filter(col("doc_id") =!= 2L)
    val path = buildUnified(standing)
    spark.conf.set("graft.store.snapshotKeep", "8")
    try {
      val v0 = versions(path).last
      // the index build recorded the layout in the manifest: bands=2,
      // r=2, idxBuckets=store buckets=8
      assert(StoreSwap.storeMetaAt(spark, path, "bands.b", Some(v0))
        .contains(Seq(2L)))
      assert(StoreSwap.storeMetaAt(spark, path, "bands.r", Some(v0))
        .contains(Seq(2L)))
      assert(StoreSwap.storeMetaAt(spark, path, "bands.idx", Some(v0))
        .contains(Seq(8L)))
      val probe = Seq(
        (100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "totally unrelated content nothing matches"))
        .toDF("doc_id", "text")
      val liveV0 = judgeRows(Dedup.lshJudgeStore(spark, path, standing,
        probe, "doc_id", "text", n = 3, numHashes = 4))
      assert(liveV0.nonEmpty, "weak scenario: probe matched nothing")
      // rebuild the index under a DIFFERENT directory layout
      spark.conf.set("graft.lsh.bandIndexBuckets", "3")
      try Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
      finally spark.conf.unset("graft.lsh.bandIndexBuckets")
      assert(StoreSwap.storeMetaAt(spark, path, "bands.idx")
        .contains(Seq(3L)))
      // live serves under the new layout
      assert(judgeRows(Dedup.lshJudgeStore(spark, path, standing, probe,
        "doc_id", "text", n = 3, numHashes = 4)) == liveV0)
      // the pinned replay derives delta buckets under the OLD layout
      // (from the v0 manifest) — under the live layout the colliding
      // band rows would be pruned away
      assert(judgeRows(Dedup.lshJudgeStoreAt(spark, path, probe,
        "doc_id", "text", v0, n = 3, numHashes = 4)) == liveV0,
        "pinned replay used the post-rebuild layout")
      // a pinned version WITHOUT a layout record predates the index
      // build: fail fast
      val p2 = Fixtures.tempDir("graft-ustore-").resolve("nl").toString
      val s2 = docs().filter(col("doc_id") < 4)
      Dedup.writeSignatureStore(sigs(s2), p2, "doc_id", buckets = 8)
      Dedup.writeShingleSidecar(spark, p2, s2, "doc_id", "text", n = 3)
      // no index yet: no record
      val u0 = versions(p2).last
      Dedup.writeBandIndex(spark, p2, "doc_id", bands = 2) // records
      val ex = intercept[IllegalArgumentException] {
        Dedup.lshJudgeStoreAt(spark, p2, probe, "doc_id", "text", u0,
          n = 3, numHashes = 4)
      }
      assert(ex.getMessage.contains("did not exist at that version"),
        ex.getMessage)
    } finally spark.conf.unset("graft.store.snapshotKeep")
  }

  test("unifyStandingStore cleans a stale legacy codebook dir left by a crash after the versioned commit") {
    // a legacy codebook dir next to a versioned codebook — left by a
    // migration (kept for in-flight readers) or by a crash — is never
    // read, and the next codebook write retires it
    val cents = Similarity.trainCentroids(embCorpus(), "vec_id",
      "embedding", 2, 2)
    val path = Fixtures.tempDir("graft-ustore-").resolve("cbcr").toString
    Similarity.writeStandingStore(embAssigned(cents), path, "cluster",
      buckets = 4)
    Similarity.writeCodebook(spark, path, cents)
    val before = Similarity.readCodebook(spark, path)
    val legacy = new java.io.File(s"$path/codebook")
    assert(!legacy.exists(), "the codebook write left a legacy dir")
    spark.range(1).select(lit(99L).as("cid"),
        array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)).as("cent"))
      .write.parquet(s"$path/codebook")
    assert(Similarity.readCodebook(spark, path) == before,
      "a stale legacy codebook dir was read")
    Similarity.writeCodebook(spark, path, cents) // the next rewrite
    assert(!legacy.exists(),
      "the rewrite left the stale legacy codebook dir in place")
    assert(Similarity.readCodebook(spark, path) == before,
      "cleanup damaged the versioned codebook")
  }
}
