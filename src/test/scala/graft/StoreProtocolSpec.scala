package graft

import graft.operators.{Dedup, Fixtures, StoreSwap}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store protocol 2 ([[StoreSwap.Protocol]]): every manifest records the
  * protocol, a newer one is refused, and [[StoreSwap.open]] upgrades an
  * older store once. Failures are injected through [[FaultFs]], a file
  * system registered in the session conf only — which also shows that
  * the store resolves its files through the session's Hadoop conf. */
class StoreProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def docs() = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "pack my box with five dozen liquor jugs"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "sphinx of black quartz judge my vow"),
    (8L, "how vexingly quick daft zebras jump")
  ).toDF("doc_id", "text")

  private def sigs(df: DataFrame) =
    Dedup.minhashSignatures(df, "doc_id", "text", n = 3, numHashes = 4)

  private def standing() = docs().filter(col("doc_id") < 4)

  private def probes() = Seq(
    (100L, "the quick brown fox jumps over the lazy dog"),
    (101L, "totally unrelated content nothing matches")).toDF("doc_id", "text")

  /** A text store (signatures, band index, shingle sidecar) over
    * `standing` at `path`. */
  private def build(path: String): Unit = {
    Dedup.writeSignatureStore(sigs(standing()), path, "doc_id", buckets = 4)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    Dedup.writeShingleSidecar(spark, path, standing(), "doc_id", "text",
      n = 3)
  }

  private def judge(path: String) =
    Dedup.lshJudgeStore(spark, path, standing(), probes(), "doc_id", "text",
        n = 3, numHashes = 4)
      .select("id_a", "id_b").orderBy("id_a", "id_b").collect().toSeq

  private def ingest(path: String, batchId: Long): Unit =
    Dedup.ingestBatchIntoStore(spark, path, docs().filter(col("doc_id") === 8L),
      "doc_id", "text", batchId = Some(batchId), n = 3, numHashes = 4)

  private def content(path: String, dataDir: String, partCol: String) =
    StoreSwap.readDir(spark, path, dataDir, partCol).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  private def versions(path: String) = StoreSwap.snapshotVersions(spark, path)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** A fresh store location on [[FaultFs]]: (store path, local path). */
  private def faultPath(): (String, String) = {
    val local = Fixtures.tempDir("graft-protocol-").resolve("s").toString
    ("faultfs://" + local, local)
  }

  private def withFaultFs[T](body: => T): T =
    withConf("fs.faultfs.impl" -> classOf[FaultFs].getName,
      "fs.faultfs.impl.disable.cache" -> "true") {
      try body finally FaultFs.failRenameTo.set(null)
    }

  private def isManifest(name: String) = name.startsWith("store.v")

  test("a manifest of a newer protocol is refused by open, reads and commits; the store is unchanged") {
    val path = Fixtures.tempDir("graft-protocol-").resolve("s").toString
    build(path)
    val mf = new java.io.File(s"$path/_v").listFiles()
      .filter(f => isManifest(f.getName))
      .maxBy(_.getName.stripPrefix("store.v").toInt)
    val body = java.nio.file.Files.readString(mf.toPath)
    assert(body.contains("#meta:protocol|2"), body)
    // what a protocol-3 writer leaves: its manifest, not our marker
    java.nio.file.Files.writeString(mf.toPath,
      body.replace("#meta:protocol|2", "#meta:protocol|3"))
    new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
    new java.io.File(s"$path/_v/_protocol2").delete()
    new java.io.File(s"$path/_v/._protocol2.crc").delete()
    def files() = {
      val root = java.nio.file.Paths.get(path)
      val walk = java.nio.file.Files.walk(root)
      try walk.toArray.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
        .sorted.toSeq
      finally walk.close()
    }
    val before = files()
    def refused(what: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains(path) && e.getMessage.contains("protocol 3") &&
        e.getMessage.contains("protocol 2"), s"$what: ${e.getMessage}")
    }
    refused("open")(StoreSwap.open(spark, path))
    refused("read")(Dedup.readSignatureStore(spark, path))
    refused("readDir")(StoreSwap.readDir(spark, path, "data", "d_bucket"))
    refused("merge")(Dedup.mergeIntoSignatureStore(spark, path,
      sigs(docs().filter(col("doc_id") === 8L)), "doc_id"))
    refused("transact")(StoreSwap.transact(spark, path) {
      StoreSwap.putStoreMeta(spark, path, Map("x" -> Seq(1L)))
    })
    assert(files() == before, "a refused store was changed")
    assert(java.nio.file.Files.readString(mf.toPath).contains("#meta:protocol|3"))
  }

  test("a protocol-1 band index without an inventory is upgraded; forget then removes a changed doc's stale rows") {
    val path = Fixtures.tempDir("graft-protocol-").resolve("inv").toString
    Dedup.writeSignatureStore(sigs(docs()), path, "doc_id", buckets = 8)
    Dedup.writeBandIndex(spark, path, "doc_id", bands = 2)
    // re-ingest doc 0 with PREPENDED text: its signature MIN-merges to
    // new values, and the index merge leaves old + fresh rows
    val changed = docs().filter(col("doc_id") === 0L)
      .select(col("doc_id"),
        concat(lit("zzz qqq xyz "), col("text")).as("text"))
    Dedup.mergeIntoSignatureStore(spark, path, sigs(changed), "doc_id")
    Dedup.mergeIntoBandIndex(spark, path,
      changed.select(col("doc_id")), "doc_id")
    def doc0(dataDir: String, partCol: String) =
      StoreSwap.readDir(spark, path, dataDir, partCol)
        .filter(col("id") === 0L).count()
    val rowsForDoc0 = doc0("bands", "bb_bucket")
    assert(rowsForDoc0 > 2, // > bands ⇒ stale rows present
      s"fixture vacuous: doc 0 has only $rowsForDoc0 band rows")
    // a band index written before the inventory existed
    LegacyStores.protocol1(path, _.startsWith("bands_inv/"))
    assert(!StoreSwap.dirExists(spark, path, "bands_inv"))
    val v = versions(path).last
    StoreSwap.open(spark, path)
    assert(versions(path).last == v + 1)
    assert(doc0("bands_inv", "d_bucket") == rowsForDoc0,
      "the upgrade did not derive the inventory from the index")
    // the forget must find the stale rows too — their buckets are NOT
    // derivable from the current signature, only from the inventory
    val removed = Dedup.forgetFromBandIndex(spark, path,
      Seq(0L).toDF("doc_id"), "doc_id")
    assert(removed == rowsForDoc0)
    assert(doc0("bands", "bb_bucket") == 0, "stale band rows survived")
    assert(doc0("bands_inv", "d_bucket") == 0, "inventory rows survived")
  }

  test("a signature store is built, ingested and judged through the session's Hadoop conf") {
    // a scheme registered only in the session conf, uncached, so a
    // store that builds its own Configuration cannot resolve it
    val reference = Fixtures.tempDir("graft-protocol-").resolve("ref").toString
    build(reference)
    ingest(reference, 0L)
    val local = Fixtures.tempDir("graft-protocol-").resolve("s").toString
    val path = "sessionfs://" + local
    withConf("fs.sessionfs.impl" -> classOf[SessionOnlyFs].getName,
      "fs.sessionfs.impl.disable.cache" -> "true") {
      build(path)
      ingest(path, 0L)
      assert(StoreSwap.committedBatches(spark, path, "data") == Set(0L))
      Seq("data" -> "d_bucket", "bands" -> "bb_bucket",
          "bands_inv" -> "d_bucket", "shingles" -> "d_bucket").foreach {
        case (d, pc) => assert(content(path, d, pc) ==
          content(reference, d, pc), d)
      }
      val judged = judge(path)
      assert(judged.nonEmpty, "weak scenario: the probes matched nothing")
      assert(judged == judge(reference))
    }
  }

  test("a failed upgrade rename leaves the protocol-1 store as it was; the next open upgrades it") {
    withFaultFs {
      val (path, local) = faultPath()
      build(path)
      val before = judge(path)
      assert(before.nonEmpty, "weak scenario: the probes matched nothing")
      // protocol 1 with a band index older than its inventory, so the
      // upgrade stages an inventory generation before its rename
      LegacyStores.protocol1(local, _.startsWith("bands_inv/"))
      val vs = versions(path)
      val data = content(path, "data", "d_bucket")
      val bands = content(path, "bands", "bb_bucket")
      FaultFs.failRenameTo.set(name => isManifest(name))
      intercept[RuntimeException](StoreSwap.open(spark, path))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(versions(path) == vs)
      assert(new java.io.File(s"$local/_v/_open").exists &&
        !new java.io.File(s"$local/_v/_protocol2").exists)
      assert(content(path, "data", "d_bucket") == data)
      assert(content(path, "bands", "bb_bucket") == bands)
      assert(!StoreSwap.dirExists(spark, path, "bands_inv"))
      val orphans = new java.io.File(s"$local/bands_inv.gens").list().toSeq
      assert(orphans.nonEmpty)
      StoreSwap.open(spark, path)
      assert(versions(path).last == vs.last + 1)
      assert(new java.io.File(s"$local/_v/_protocol2").exists &&
        !new java.io.File(s"$local/_v/_open").exists)
      assert(judge(path) == before)
      val live = new java.io.File(s"$local/bands_inv.gens").list().toSeq
      assert(live.nonEmpty && live.intersect(orphans).isEmpty,
        s"orphan inventory generations survived: ${live.intersect(orphans)}")
    }
  }

  test("a failed ingest commit rename leaves the store and its ledger at the pre-batch version") {
    val reference = Fixtures.tempDir("graft-protocol-").resolve("ref").toString
    build(reference)
    ingest(reference, 3L)
    withFaultFs {
      val (path, _) = faultPath()
      build(path)
      val v0 = versions(path).last
      val data = content(path, "data", "d_bucket")
      FaultFs.failRenameTo.set(name => isManifest(name))
      intercept[RuntimeException](ingest(path, 3L))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(versions(path).last == v0)
      assert(StoreSwap.committedBatches(spark, path, "data").isEmpty)
      assert(content(path, "data", "d_bucket") == data)
      // the redelivered batch applies, once
      ingest(path, 3L)
      assert(versions(path).last == v0 + 1)
      assert(StoreSwap.committedBatches(spark, path, "data") == Set(3L))
      ingest(path, 3L)
      assert(versions(path).last == v0 + 1, "an acked batch was re-applied")
      Seq("data" -> "d_bucket", "bands" -> "bb_bucket",
          "bands_inv" -> "d_bucket", "shingles" -> "d_bucket").foreach {
        case (d, pc) => assert(content(path, d, pc) ==
          content(reference, d, pc), d)
      }
    }
  }

  test("open on a protocol-2 store makes one file-system call") {
    withFaultFs {
      val (path, _) = faultPath()
      build(path)
      StoreSwap.open(spark, path)
      FaultFs.calls.set(0)
      StoreSwap.open(spark, path)
      assert(FaultFs.calls.get == 1, s"${FaultFs.calls.get} calls")
    }
  }
}

/** The local file system under the `faultfs:` scheme, a
  * `FilterFileSystem` over the raw local one, for tests that register it
  * in the session conf. It counts calls ([[FaultFs.calls]]) and fails
  * the next rename whose destination name [[FaultFs.failRenameTo]]
  * accepts (returning false, as a failed Hadoop rename does). */
class FaultFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
}) {
  import FaultFs._
  override def getScheme: String = "faultfs"
  override def getFileStatus(p: Path): FileStatus = {
    calls.incrementAndGet(); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    calls.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    calls.incrementAndGet(); super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); super.mkdirs(p, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls.incrementAndGet()
    val fail = failRenameTo.get
    if (fail != null && fail(dst.getName) && failRenameTo.compareAndSet(fail, null))
      false
    else super.rename(src, dst)
  }
}

object FaultFs {
  val calls = new java.util.concurrent.atomic.AtomicLong
  /** The next rename to a destination name this accepts fails; null
    * when no failure is armed. */
  val failRenameTo =
    new java.util.concurrent.atomic.AtomicReference[String => Boolean](null)
}
