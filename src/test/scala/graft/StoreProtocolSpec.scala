package graft

import graft.operators.{Dedup, Fixtures, StoreSwap}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Store protocol 2 ([[StoreSwap.Protocol]]) is the floor: every
  * manifest records the protocol, a store's first commit writes the
  * protocol marker, and [[StoreSwap.open]] refuses every other layout —
  * an older one or a newer one — without touching it. Failures are
  * injected through [[FaultFs]], a file system registered in the session
  * conf only — which also shows that the store resolves its files
  * through the session's Hadoop conf. */
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
    StoreSwap.snapshot(spark, path).read(dataDir, partCol).collect()
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
    refused("readDir")(StoreSwap.snapshot(spark, path).read("data", "d_bucket"))
    refused("merge")(Dedup.mergeIntoSignatureStore(spark, path,
      sigs(docs().filter(col("doc_id") === 8L)), "doc_id"))
    refused("transact")(StoreSwap.transact(spark, path) {
      StoreSwap.putStoreMeta(spark, path, Map("x" -> Seq(1L)))
    })
    assert(files() == before, "a refused store was changed")
    assert(java.nio.file.Files.readString(mf.toPath).contains("#meta:protocol|3"))
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

  /** Every file and dir under `local`, relative to it, sorted. */
  private def tree(local: String): Seq[String] = {
    val root = Paths.get(local)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString)
      .toSeq.sorted
    finally walk.close()
  }

  /** A store directory of an older graft at a fresh path: `files`
    * (relative path → content) written as they are. */
  private def oldStore(files: (String, String)*): String = {
    val path = Fixtures.tempDir("graft-protocol-").resolve("old").toString
    files.foreach { case (f, body) =>
      val p = Paths.get(path, f)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    path
  }

  /** `open`, a live and a pinned read and two commits of `path` each
    * raise the named refusal, which lists `entry`; no file of the store
    * changes. */
  private def refusedUntouched(path: String, entry: String): Unit = {
    val before = tree(path)
    def refused(what: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains(s"store $path is not a protocol-2 store") &&
        e.getMessage.contains(entry) &&
        e.getMessage.contains("graft reads only protocol-2 stores"),
        s"$what: ${e.getMessage}")
    }
    refused("open")(StoreSwap.open(spark, path))
    refused("read")(Dedup.readSignatureStore(spark, path))
    refused("pinned read")(Dedup.readSignatureStoreAt(spark, path, 0))
    refused("merge")(Dedup.mergeIntoSignatureStore(spark, path,
      sigs(docs().filter(col("doc_id") === 8L)), "doc_id"))
    refused("transact")(StoreSwap.transact(spark, path) {
      StoreSwap.putStoreMeta(spark, path, Map("x" -> Seq(1L)))
    })
    assert(tree(path) == before, "a refused store was changed")
  }

  private val part = "part-00000.snappy.parquet"

  test("a pre-manifest store (live bucket dirs, meta, a pending swap) is refused untouched") {
    refusedUntouched(oldStore(
      s"data/d_bucket=0/$part" -> "", s"data/d_bucket=2/$part" -> "",
      s"meta/$part" -> "", s".staging/d_bucket=2/$part" -> "",
      "_pending_swap" -> "d_bucket\n2\n9\ndata"), "_pending_swap")
  }

  test("a store of per-dataDir manifests is refused untouched") {
    refusedUntouched(oldStore(
      s"data.gens/g3/d_bucket=0/$part" -> "",
      "_v/data.v3" -> "d_bucket=0|3"), "_v/data.v3")
  }

  test("a protocol-1 store (_v/_open, no protocol entry) is refused untouched") {
    refusedUntouched(oldStore(
      s"data.gens/g0/d_bucket=0/$part" -> "", "_v/_open" -> "",
      "_v/store.v0" -> "#meta:buckets|8\ndata/d_bucket=0|0"), "_v/_open")
  }

  test("a store with a store-wide #batches ledger is refused untouched") {
    refusedUntouched(oldStore(
      s"data.gens/g0/d_bucket=0/$part" -> "",
      "_v/store.v1" -> "#batches|5,6\ndata/d_bucket=0|0"), "_v/store.v1")
  }

  test("a new store whose first commit fails is not refused, and open on it writes nothing; the retry commits v0") {
    val reference = Fixtures.tempDir("graft-protocol-").resolve("ref").toString
    build(reference)
    def write(path: String): Unit =
      Dedup.writeSignatureStore(sigs(standing()), path, "doc_id", buckets = 4)
    withFaultFs {
      // the commit failed at its store.v0 rename, after the marker
      val (path, local) = faultPath()
      FaultFs.failRenameTo.set(name => name == "store.v0")
      intercept[RuntimeException](write(path))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(versions(path).isEmpty)
      val orphans = new java.io.File(s"$local/data.gens").list().toSeq
      assert(orphans.nonEmpty, "the failed commit staged no generation")
      FaultFs.writes.set(0)
      StoreSwap.open(spark, path)
      assert(FaultFs.writes.get == 0, s"open made ${FaultFs.writes.get} writes")
      write(path)
      assert(versions(path) == Seq(0))
      assert(content(path, "data", "d_bucket") ==
        content(reference, "data", "d_bucket"))
      assert(new java.io.File(s"$local/data.gens").list().toSeq
        .intersect(orphans).isEmpty, "the orphan generation survived")
      // a crash before the marker leaves only the lease, stale by now
      val (leased, leasedLocal) = faultPath()
      val lp = Paths.get(leasedLocal, "_writer_lease")
      Files.createDirectories(lp.getParent)
      Files.writeString(lp, "dead-writer@gone")
      Files.setLastModifiedTime(lp, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - StoreSwap.DefaultLeaseStaleMs - 1000))
      FaultFs.writes.set(0)
      StoreSwap.open(spark, leased)
      assert(FaultFs.writes.get == 0, s"open made ${FaultFs.writes.get} writes")
      write(leased)
      assert(versions(leased) == Seq(0))
    }
  }

  test("src/main spells no file name of a pre-protocol-2 store layout") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources under ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val names = Seq("_pending_swap", "_pending_pq", ".staging-", "_v/_open",
      "shingles_meta", "bands_meta")
    val offences = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      names.filter(src.contains).map(n => s"$f: spells $n")
    }
    assert(offences.isEmpty, offences.mkString("\n"))
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

  test("a store read, a pinned read, a judgment and a table load each resolve one manifest") {
    withFaultFs {
      val (path, _) = faultPath()
      build(path)
      val (table, _) = faultPath()
      graft.sinks.ParquetTable.store(spark, docs(), table,
        graft.pipeline.Config.DbConfig())
      /** (file-system calls, listings of `_v`, manifest reads) of `op`. */
      def resolves(op: => Any): (Long, Long, Long) = {
        FaultFs.calls.set(0)
        FaultFs.byName.clear()
        op
        def named(what: String => Boolean) = FaultFs.byName.asScala
          .collect { case (k, n) if what(k) => n.get }.sum
        (FaultFs.calls.get, named(_ == "listStatus _v"),
          named(_.startsWith("open store.v")))
      }
      val read = resolves(Dedup.readSignatureStore(spark, path))
      val live = versions(path).last
      val pinned = resolves(Dedup.readSignatureStoreAt(spark, path, live))
      val load = resolves(graft.sinks.ParquetTable.load(spark, table))
      val judged = resolves(Dedup.lshJudgeStore(spark, path, standing(), probes(),
        "doc_id", "text", n = 3, numHashes = 4))
      val stored = resolves(graft.sinks.ParquetTable.store(spark, docs(), table,
        graft.pipeline.Config.DbConfig(keepContent = true)))
      // one listing of _v and one manifest read each (readSignatureStore
      // made 16 calls when it resolved the manifest twice)
      assert(Seq(read, pinned, load) == Seq((13L, 1L, 1L), (13L, 1L, 1L), (8L, 1L, 1L)),
        s"read $read, pinned $pinned, load $load")
      // a judgment takes its bucket count, band layout, shingle width and
      // three dataDirs from one manifest (45 calls when each resolved it)
      assert((judged._2, judged._3) == (1L, 1L), s"judged $judged")
      // a commit lists _v for its base version, its next generation and
      // its GC, and reads the retained manifests; the row count it
      // returns reads no manifest
      assert((stored._2, stored._3) == (3L, 4L), s"stored $stored")
    }
  }

  test("a dead holder's lease is broken on the local file system only") {
    withFaultFs {
      val (path, local) = faultPath()
      graft.sinks.ParquetTable.store(spark, docs(), path, graft.pipeline.Config.DbConfig())
      val lp = Paths.get(local, "_writer_lease")
      val host = java.lang.management.ManagementFactory.getRuntimeMXBean.getName.split("@", 2)(1)
      val dead = new ProcessBuilder("true").start()
      dead.waitFor()
      val token = s"${dead.pid}@$host#killed"
      Files.writeString(lp, token)
      // through FaultFs, a stand-in for a shared file system, the pid is
      // not checked: the lease holds until it is stale
      val e = intercept[RuntimeException](graft.sinks.ParquetTable.store(spark, docs(), path,
        graft.pipeline.Config.DbConfig(keepContent = true)))
      assert(e.getMessage.contains("writer lease") && e.getMessage.contains(token), e.getMessage)
      assert(Files.readString(lp) == token)
      // the same store through the local file system: broken, and the load commits
      graft.sinks.ParquetTable.store(spark, docs(), local,
        graft.pipeline.Config.DbConfig(keepContent = true))
      assert(!Files.exists(lp))
      assert(graft.sinks.ParquetTable.load(spark, path).count() == 2 * docs().count())
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
  * in the session conf. It counts calls ([[FaultFs.calls]]), the
  * creates, deletes, mkdirs and renames among them ([[FaultFs.writes]])
  * and the reads by file name ([[FaultFs.byName]]),
  * and fails the next rename whose destination name
  * [[FaultFs.failRenameTo]] accepts (returning false, as a failed Hadoop
  * rename does). */
class FaultFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
}) {
  import FaultFs._
  override def getScheme: String = "faultfs"
  private def count(op: String, p: Path): Unit = {
    calls.incrementAndGet()
    byName.computeIfAbsent(s"$op ${p.getName}", _ => new AtomicLong).incrementAndGet()
  }
  override def getFileStatus(p: Path): FileStatus = {
    count("getFileStatus", p); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    count("listStatus", p); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    count("open", p); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet(); writes.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    calls.incrementAndGet(); writes.incrementAndGet(); super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); writes.incrementAndGet(); super.mkdirs(p, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls.incrementAndGet(); writes.incrementAndGet()
    val fail = failRenameTo.get
    if (fail != null && fail(dst.getName) && failRenameTo.compareAndSet(fail, null))
      false
    else super.rename(src, dst)
  }
}

object FaultFs {
  val calls = new AtomicLong
  val writes = new AtomicLong
  /** Reads by "<op> <file name>" (getFileStatus, listStatus, open). */
  val byName = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  /** The next rename to a destination name this accepts fails; null
    * when no failure is armed. */
  val failRenameTo =
    new java.util.concurrent.atomic.AtomicReference[String => Boolean](null)
}
