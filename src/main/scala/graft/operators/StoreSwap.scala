package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import graft.sinks.ParquetFooters
import scala.util.control.NonFatal

/** The ONE commit protocol of graft: of the partitioned standing stores
  * ([[Similarity.writeStandingStore]]'s embedding store and
  * [[Dedup.writeSignatureStore]]'s minhash store, with their codebook,
  * PQ sidecar, band index and shingle sidecar) and of the tables
  * ([[graft.sinks.ParquetTable]]: a store with one one-bucket dataDir,
  * see [[writeTable]]).
  *
  * A store is a set of dataDirs (`data`, `bands`, `codebook`,
  * `pq_codes`, …), each laid out as IMMUTABLE generation dirs
  * `$path/<dataDir>.gens/g<G>/<partCol>=<b>/part-*.parquet`, plus ONE
  * versioned manifest family `$path/_v/store.v<N>`. A manifest lists
  * every live bucket of every dataDir as `<dataDir>/<partDir>|gens`
  * (the generations holding that bucket's files — a set, so appends
  * stay O(delta)), plus reserved `#` entries: the per-dataDir
  * exactly-once batch ledgers and versioned model/layout constants.
  * Layout constants (a store's bucket count, its shingle sidecar's
  * width, its band layout) live ONLY there: [[Snapshot.layoutConstant]] resolves
  * them from the manifest a reader already holds, with no Spark job.
  *
  * '''Commit.''' Every mutation — a bucket rewrite, an append, a full
  * overwrite, a ledger ack — runs inside [[transact]]: its rows are
  * STAGED under `$path/.staging` (Spark never lists dot-dirs), renamed
  * in as a fresh generation (an orphan if the process dies here —
  * inert, reclaimed by a later commit's GC), and its entry updates
  * accumulate in the open transaction. The transaction publishes with
  * ONE rename of manifest v+1 into `_v` — the single commit point. A
  * composed mutation (ingest = signature merge + shingle merge + band
  * merge + ack, a refit, a PQ triple rewrite) is one transaction, so
  * one rename publishes all of it. There is no roll-forward: the
  * manifest exists (commit complete) or it doesn't (store unchanged).
  *
  * '''Read.''' A reader resolves one manifest (one file read = an
  * atomic snapshot of the WHOLE store) and lists only the generation
  * dirs it references, so a concurrent commit is invisible to it: old
  * snapshot until the rename, new one after, never a missing bucket.
  * Any retained version is a consistent snapshot of every dataDir —
  * what historical judgment replay pins. GC unlinks only generations
  * no manifest of the `graft.store.snapshotKeep` grace window (default
  * 1 prior version) references.
  *
  * '''Protocol.''' Every manifest records the store protocol as the
  * reserved entry `#meta:protocol|2` ([[Protocol]]), and a store's
  * first commit writes the `_v/_protocol2` marker before anything else.
  * Protocol 2 is the floor: as with Delta's `minProtocolVersion`, a
  * reader refuses what it cannot read instead of carrying every older
  * reader. Every commit here calls [[open]] first, which on a
  * protocol-2 store is one `exists` call, of the marker; a read sees the
  * marker in the listing of `_v` it makes anyway and calls [[open]] only
  * when it is missing. A store directory without the marker — a
  * protocol-1 store, or a layout from before the store manifest — and a
  * manifest above protocol 2 are refused with a named
  * `IllegalStateException` before anything is touched.
  *
  * Directory renames are atomic on HDFS-semantics filesystems (HDFS,
  * local, ABFS); on raw S3 they are copy+delete, where a production
  * deployment should put the store behind a table format instead.
  * Mutators are SINGLE-WRITER by contract, enforced: every mutation
  * runs under [[withLease]], and a second simultaneous mutator of the
  * same store path fails fast instead of clobbering the staging dir.
  */
object StoreSwap {
  /** The Hadoop conf of the store operation this thread runs
    * ([[operation]]); null outside one. */
  private val opConf = new ThreadLocal[Configuration]

  /** Run `body` as one store operation: the session's Hadoop conf is
    * resolved once for all of it. Each resolution copies the conf, and
    * one commit makes dozens of file-system calls. */
  private def operation[T](spark: SparkSession)(body: => T): T =
    if (opConf.get != null) body
    else {
      opConf.set(spark.sessionState.newHadoopConf())
      try body finally opConf.remove()
    }

  /** The session's Hadoop conf — the conf Spark's own parquet reads and
    * writes of the store use. */
  private def hadoopConf(spark: SparkSession): Configuration =
    Option(opConf.get).getOrElse(spark.sessionState.newHadoopConf())

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(hadoopConf(spark))

  private def staging(path: String) = new Path(path + "/.staging")
  private def lease(path: String) = new Path(path + "/_writer_lease")
  /** Name prefix of the lease's release tombstones ([[withLease]]). */
  private val LeaseTomb = ".lease-tomb-"
  private def versionsDir(path: String) = new Path(path + "/_v")

  /** Store paths whose lease THIS thread currently holds — composite
    * mutations (a refit is delete + append + code refresh + codebook
    * write) re-enter [[withLease]] freely; a DIFFERENT thread or
    * process hits the lease file and fails fast instead. */
  private val heldByThread =
    new ThreadLocal[scala.collection.mutable.Set[String]] {
      override def initialValue() = scala.collection.mutable.Set.empty[String]
    }

  /** Default age past which a lease is presumed abandoned by a crashed
    * writer and broken (1 h — far beyond any single mutation here). */
  val DefaultLeaseStaleMs: Long = 60L * 60 * 1000

  /** This JVM as a lease names its holder: `<pid>@<host>`. */
  private val ThisJvm =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName

  /** The lease tokens this JVM holds now ([[withLease]]). */
  private val liveTokens = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Whether the lease `token` (`<pid>@<host>#<id>`) was left by a holder
    * that is gone: this JVM, which holds no such lease, or another JVM of
    * this host that no longer runs — a driver killed mid-commit. Asked
    * only of a lease on the local file system: a pid and a host name name
    * a process of this machine only where no other machine shares the
    * store. Any other lease ages out after `staleMs`. */
  private def holderGone(token: String): Boolean = {
    val (jvm, self) = (token.takeWhile(_ != '#'), ThisJvm.split("@", 2))
    jvm.split("@", 2) match {
      case Array(pid, host) if self.length == 2 && host == self(1) =>
        if (jvm == ThisJvm) !liveTokens.contains(token)
        else pid.toLongOption.exists(p =>
          !java.lang.ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
      case _ => false
    }
  }

  /** Run `body` holding `path`'s WRITER LEASE — the stores are
    * single-mutator by contract: two concurrent mutators would
    * overwrite each other's staging dir and race the manifest rename.
    * The lease file (`$path/_writer_lease`) is created
    * create-if-absent; a second mutator fails fast with an error
    * naming the holder rather than corrupting state. A lease older
    * than `staleMs`, or a local one whose holder is gone ([[holderGone]]:
    * a driver of this host killed mid-commit), is presumed crashed and
    * broken (a crashed writer's staged generations are unreferenced
    * orphans the next commit reclaims). Reentrant per thread, so
    * composite mutations acquire once. Best-effort on filesystems without atomic
    * create-if-absent semantics (raw S3) — there, front the store
    * with a real lock service or table format. The stale-break itself
    * has a delete/create race window (two writers that both judged the
    * same lease stale can both acquire); the lease is a fail-fast
    * guard for the documented single-mutator contract, not a
    * distributed lock — schedule mutations externally. */
  def withLease[T](spark: SparkSession, path: String,
                   staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    if (heldByThread.get.contains(path)) return body
    val lp = lease(path)
    val fs = fsOf(spark, lp)
    def readLease(): String =
      try {
        val in = fs.open(lp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch { case _: java.io.IOException => "<unreadable>" }
    if (fs.exists(lp)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lp).getModificationTime
      val local = fs match {
        case _: LocalFileSystem | _: RawLocalFileSystem => true
        case _ => false
      }
      if (age >= staleMs || (local && holderGone(readLease())))
        fs.delete(lp, false) // crashed holder
    }
    // the token is unique per acquisition, not just per process: if THIS
    // writer's lease is stale-broken by another mutator mid-run, release
    // must NOT delete the new holder's lease (that would cascade a third
    // mutator into the overlap the lease exists to prevent)
    val token = s"$ThisJvm#${java.util.UUID.randomUUID()}"
    liveTokens.add(token)
    val acquired =
      try {
        val out = fs.create(lp, false) // atomic create-if-absent
        try out.write(s"$token\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!acquired) {
      liveTokens.remove(token)
      sys.error(s"store $path is already being mutated (writer lease held" +
        s" by ${readLease()}); stores are single-mutator — serialize" +
        s" mutations externally, or break a dead writer's lease by" +
        s" deleting $lp")
    }
    heldByThread.get += path
    try body
    finally {
      heldByThread.get -= path
      try release(fs, path, lp, token, readLease _)
      finally liveTokens.remove(token)
    }
  }

  private def release(fs: FileSystem, path: String, lp: Path, token: String,
                      readLease: () => String): Unit = {
    // release only a lease we still own — ours may have been
    // stale-broken and replaced while we ran past staleMs. The check
    // is rename-then-verify, not read-then-delete: a successor that
    // stale-breaks and rewrites the lease BETWEEN a read and a delete
    // would have its fresh lease deleted, re-opening the overlap the
    // token exists to prevent. Rename atomically captures whatever
    // file is at the lease path; only a tombstone that verifies as
    // OURS is deleted — a successor's is renamed back intact.
    if (fs.exists(lp) && readLease() == token) {
      val tomb = new Path(s"$path/$LeaseTomb${java.util.UUID.randomUUID()}")
      if (fs.rename(lp, tomb)) {
        val captured =
          try {
            val in = fs.open(tomb)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          } catch { case _: java.io.IOException => "<unreadable>" }
        if (captured == token) fs.delete(tomb, false)
        else if (!fs.rename(tomb, lp)) fs.delete(tomb, false)
        // rename-back can only fail if a THIRD writer re-created the
        // lease meanwhile; dropping the orphaned tombstone then is the
        // documented best-effort bound of this fail-fast guard
      }
    }
  }

  // ---- open = the protocol floor -----------------------------------------

  /** The manifest family name — reserved; no dataDir may be called
    * this. */
  private val StoreFamily = "store"

  /** The store protocol this build reads and writes, recorded in every
    * manifest as `#meta:protocol`. One integer: graft has one reader
    * and one writer, so there is no reader/writer split and no feature
    * set. A manifest above it is refused ([[readManifest]]). */
  val Protocol: Int = 2

  private val ProtocolKey = storeMetaKey("protocol")

  /** Written by a store's first commit ([[transact]]), before anything
    * else; its presence is all [[open]] checks. */
  private def protocolMarker(path: String) =
    new Path(s"$path/_v/_protocol$Protocol")

  /** Make sure `path` is a store this build reads, before any read or
    * write of it (every commit here calls it first, and every read of a
    * store without the marker; inside an open [[transact]] it is free).
    * On a protocol-2 store this is one `exists` call, of its marker. A
    * missing path, or one that holds only the writer lease (a first
    * commit that crashed before writing the marker), is a store not yet
    * created: its first commit creates it. Anything else is refused with
    * a named `IllegalStateException` that lists what the path holds — a
    * protocol-1 store, a layout from before the store manifest, or a
    * directory that is not a store. A manifest of a newer protocol is
    * refused as such ([[readManifest]]). `open` never writes and never
    * takes the lease. */
  def open(spark: SparkSession, path: String): Unit = {
    if (activeTxn.get.contains(path)) return
    val marker = protocolMarker(path)
    val fs = fsOf(spark, marker)
    if (fs.exists(marker)) return
    def names(p: Path) = children(fs, p).map(_.getName).sorted
    val found = names(new Path(path))
      .filterNot(n => n == lease(path).getName || n.startsWith(LeaseTomb))
    if (found.isEmpty) return
    // read first: a newer protocol's manifest is refused as such
    latest(fs, manifests(fs, path))
    val listed = found.flatMap(n =>
      if (n == "_v") names(versionsDir(path)).map("_v/" + _) else Seq(n))
    throw new IllegalStateException(s"store $path is not a protocol-" +
      s"$Protocol store: it has no _v/_protocol$Protocol marker and holds" +
      s" ${listed.mkString(", ")}. graft reads only protocol-$Protocol" +
      " stores; rebuild this one from its source data with its store" +
      " writer")
  }

  // ---- transactions ----------------------------------------------------

  /** An open commit: entry updates accumulate here and publish as ONE
    * manifest rename when [[transact]] closes. */
  private final class Txn(val baseV: Int,
                          var entries: Map[String, Seq[Long]]) {
    var dirty: Boolean = false
  }
  private val activeTxn =
    new ThreadLocal[scala.collection.mutable.Map[String, Txn]] {
      override def initialValue() =
        scala.collection.mutable.Map.empty[String, Txn]
    }

  /** Run `body` as ONE commit of the store under its writer lease:
    * every mutation inside it (staged rewrites, appends, overwrites,
    * ledger acks, metadata — across ANY of the store's dataDirs)
    * accumulates into one pending entry map that publishes as a single
    * `store.v<N+1>` manifest rename when `body` returns. A crash or
    * exception anywhere inside leaves the store AT ITS PRE-TXN VERSION
    * — the staged generation dirs are unreferenced orphans reclaimed
    * by the next commit's GC. Mutations inside the txn read their own
    * pending writes (a composed ingest's band merge reads the
    * signatures its first step merged); other threads keep resolving
    * the committed manifest. Reentrant. Bodies with an early `return`:
    * safe only before the first mutation — a non-local return
    * unwinding a dirty txn fails loudly instead of dropping the work. */
  def transact[T](spark: SparkSession, path: String)(body: => T): T =
    operation(spark)(withLease(spark, path) {
      if (activeTxn.get.contains(path)) body
      else {
        open(spark, path)
        // a bad retention value must fail BEFORE anything is staged
        val keep = GraftConf.SnapshotKeep(spark)
        val fs = fsOf(spark, versionsDir(path))
        val (baseV, entries) = latest(fs, manifests(fs, path))
          .getOrElse((-1, Map.empty[String, Seq[Long]]))
        // a new store is on the protocol before anything is staged, so a
        // crash of its first commit leaves a store [[open]] accepts
        if (baseV < 0) fs.create(protocolMarker(path), true).close()
        val t = new Txn(baseV, entries)
        activeTxn.get(path) = t
        val result =
          try body
          catch {
            // A real exception ABORTS the txn by design (pre-txn
            // version stays published; staged gens are orphans). A
            // CONTROL throw — a non-local `return` in the body — is
            // different: the caller believes it completed normally,
            // so silently dropping accumulated mutations would be
            // data loss. Safe only before the first mutation; a dirty
            // txn unwinding this way is a caller bug — fail loudly.
            case e: scala.util.control.ControlThrowable if t.dirty =>
              activeTxn.get.remove(path)
              sys.error(s"non-local return unwound an OPEN DIRTY store" +
                s" transaction on $path without publishing — restructure" +
                " the body to if/else (early returns are safe only" +
                " before the first manifest mutation)")
            case e: Throwable =>
              activeTxn.get.remove(path)
              throw e
          }
        activeTxn.get.remove(path)
        if (t.dirty) publish(spark, fs, path, t, keep)
        result
      }
    })

  /** The commit point: manifest baseV+1, recording [[Protocol]], then
    * GC. */
  private def publish(spark: SparkSession, fs: FileSystem, path: String,
                      t: Txn, keep: Int): Unit = {
    writeManifest(fs, path, t.baseV + 1,
      t.entries + (ProtocolKey -> Seq(Protocol.toLong)))
    gc(fs, path, keep)
  }

  // ---- commits -----------------------------------------------------------

  /** Crash-atomic rewrite of the `touched` buckets of `$path/$dataDir`.
    * `slice` must be the full replacement content for those buckets and
    * carry `partCol`; buckets of `touched` absent from `slice` are
    * emptied (they leave the manifest). Returns the staged row count
    * (= rows the touched buckets hold after the commit), read from
    * parquet metadata, so callers can derive deleted-row counts without
    * evaluating `slice` twice. */
  def stagedRewrite(spark: SparkSession, path: String, partCol: String,
                    touched: Seq[Int], slice: DataFrame,
                    sortCols: Seq[Column],
                    dataDir: String = "data"): Long = transact(spark, path) {
    val touchedDirs = touched.map(b => s"$dataDir/$partCol=$b").toSet
    val conf = hadoopConf(spark)
    stageAndCommit(spark, path, dataDir, Some(partCol), slice, sortCols) {
      (all, staged) => (all -- touchedDirs) ++ staged
    }.fold(0L)(g => ParquetFooters.rowCount(conf,
      ParquetFooters.files(conf, g).map(_.getPath)))
  }

  /** Full write of a store dataDir: the whole relation becomes the
    * dataDir's only generation, replacing every prior bucket entry
    * (reserved entries — the batch ledgers — carry through, so a
    * mid-stream full rewrite can't re-apply a redelivered batch).
    * Readers snapshotted on the old manifest keep their gens through
    * the grace window. */
  def overwriteDir(spark: SparkSession, path: String, dataDir: String,
                   partCol: String, df: DataFrame,
                   sortCols: Seq[Column]): Unit = transact(spark, path) {
    stageAndCommit(spark, path, dataDir, Some(partCol), df, sortCols)(
      replaceAll(dataDir))
  }

  private def replaceAll(dataDir: String)
      : (Map[String, Seq[Long]], Map[String, Seq[Long]]) => Map[String, Seq[Long]] =
    (all, staged) => all.filter { case (k, _) => !k.startsWith(dataDir + "/") } ++ staged

  /** APPEND a delta to a store dataDir: the staged delta becomes a new
    * generation ADDED to its buckets' generation lists (reads union a
    * bucket's gens) — delta-footprint (untouched buckets' files never
    * open).
    * @param batchId idempotent-replay key for streaming ingest: the id
    *                is recorded in the SAME manifest rename that
    *                publishes the data, so "rows visible" and "batch
    *                acknowledged" cannot diverge across a crash — and a
    *                redelivered batch (Structured Streaming's
    *                at-least-once foreachBatch contract after an
    *                unacknowledged epoch) is detected by
    *                [[committedBatches]] and skipped WITHOUT evaluating
    *                the DataFrame. That makes the sink exactly-once
    *                end-to-end. */
  def appendDir(spark: SparkSession, path: String, dataDir: String,
                partCol: String, df: DataFrame,
                sortCols: Seq[Column],
                batchId: Option[Long] = None): Unit = transact(spark, path) {
    if (batchId.exists(committedBatches(spark, path, dataDir).contains))
      return // replayed micro-batch: already durably committed
    stageAndCommit(spark, path, dataDir, Some(partCol), df, sortCols)(
      addGeneration _)
    batchId.foreach(recordBatch(path, dataDir, _))
  }

  private def addGeneration(all: Map[String, Seq[Long]],
                            staged: Map[String, Seq[Long]]): Map[String, Seq[Long]] =
    all ++ staged.map { case (d, g) => d -> (all.getOrElse(d, Seq.empty) ++ g) }

  // ---- tables ----------------------------------------------------------------

  /** The one bucket of a table's dataDir: a generation's rows sit in
    * `<dataDir>.gens/g<G>/rows/`. */
  private val TableBucket = "rows"

  /** Commit `df` into the TABLE dataDir `dataDir` of `path` — a dataDir of
    * one bucket, with no partition column. `df` is written as its plan
    * partitions it: no exchange, no sort, as many files as a plain
    * parquet write of it. With `append` it becomes one more generation of
    * the dataDir (readers union them); otherwise the dataDir's only
    * generation. */
  def writeTable(spark: SparkSession, path: String, dataDir: String,
                 df: DataFrame, append: Boolean): Unit = transact(spark, path) {
    stageAndCommit(spark, path, dataDir, None, df, Nil)(
      if (append) addGeneration _ else replaceAll(dataDir))
  }

  /** Record `batchId` as committed into `dataDir`'s stream WITHOUT
    * publishing data — the ack of a composed mutation
    * ([[Dedup.ingestBatchIntoStore]]'s three merges), riding the same
    * manifest rename as the merges when called inside their
    * [[transact]]. */
  def ackBatch(spark: SparkSession, path: String, dataDir: String,
               batchId: Long): Unit = transact(spark, path) {
    if (!committedBatches(spark, path, dataDir).contains(batchId))
      recordBatch(path, dataDir, batchId)
  }

  private def recordBatch(path: String, dataDir: String, id: Long): Unit =
    update(path) { all =>
      val bk = unifiedBatchesKey(dataDir)
      all + (bk -> (all.getOrElse(bk, Seq.empty) :+ id).distinct
        .takeRight(BatchLedgerKeep))
    }

  /** Fold `f` into the open transaction's entries (callers run inside
    * [[transact]]). */
  private def update(path: String)
                    (f: Map[String, Seq[Long]] => Map[String, Seq[Long]]): Unit = {
    val t = activeTxn.get.getOrElse(path,
      sys.error(s"store $path: commit outside a transaction"))
    t.entries = f(t.entries)
    t.dirty = true
  }

  /** Stage `df` partitioned by `partCol` (a table's one bucket when
    * None), rename the staged buckets in as a fresh generation of
    * `dataDir`, and fold `remap(entries, stagedEntries)` into the open
    * transaction. Returns the new generation's directory; None when `df`
    * filled no bucket. A `df` already hash-partitioned on `partCol` (a
    * merge that repartitioned before aggregating) keeps that one
    * exchange: the planner drops the repartition below as redundant. */
  private def stageAndCommit(spark: SparkSession, path: String,
                             dataDir: String, partCol: Option[String],
                             df: DataFrame, sortCols: Seq[Column])
                            (remap: (Map[String, Seq[Long]],
                              Map[String, Seq[Long]]) => Map[String, Seq[Long]]): Option[Path] = {
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    if (fs.exists(stg)) fs.delete(stg, true) // orphan of a crashed commit
    writeStaged(spark, fs, stg) {
      partCol match {
        case Some(pc) =>
          df.repartition(col(pc)).sortWithinPartitions(sortCols: _*)
            .write.partitionBy(pc).parquet(stg.toString)
        case None => df.write.parquet(new Path(stg, TableBucket).toString)
      }
    }
    val buckets = partCol match {
      case Some(pc) => fs.listStatus(stg)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(pc + "="))
        .map(_.getPath.getName).toSeq
      case None => Seq(TableBucket)
    }
    val t = activeTxn.get()(path)
    val gen =
      if (buckets.isEmpty) None
      else {
        val g = nextGen(fs, path, dataDir, t.entries)
        val gDir = new Path(s"$path/$dataDir.gens/g$g")
        fs.mkdirs(gDir.getParent)
        if (fs.exists(gDir)) fs.delete(gDir, true)
        if (!fs.rename(stg, gDir))
          sys.error(s"could not commit staged generation $gDir")
        Some(g -> gDir)
      }
    update(path)(remap(_, gen.fold(Map.empty[String, Seq[Long]]) { case (g, _) =>
      buckets.map(b => s"$dataDir/$b" -> Seq(g)).toMap }))
    gen.map(_._2)
  }

  /** Run `write`, the Spark write of the staging dir `stg`. Spark fails a
    * job at its first failed task while sibling tasks may still be
    * writing (and the committer's abort races them), so when the write
    * fails, `stg` is deleted only after every task of its jobs has ended
    * ([[StagingTasks]]): a failed commit leaves no file behind in the
    * store. The write's failure stays the one thrown; a wait that gives
    * up is attached to it as suppressed. */
  private def writeStaged(spark: SparkSession, fs: FileSystem, stg: Path)
                         (write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tasks = new StagingTasks(s"graft-staging-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(tasks)
    try {
      sc.addJobTag(tasks.tag)
      try write catch { case e: Exception =>
        sc.removeJobTag(tasks.tag)
        try {
          if (!tasks.awaitIdle(sc, StagingWaitMs))
            e.addSuppressed(new IllegalStateException(s"tasks of the failed" +
              s" write of $stg were still running after ${StagingWaitMs / 1000}" +
              " s; it was deleted anyway, and a file they write later is an" +
              " orphan the next commit's staging replaces"))
          fs.delete(stg, true)
        } catch { case NonFatal(c) => e.addSuppressed(c) }
        throw e
      } finally sc.removeJobTag(tasks.tag)
    } finally sc.removeSparkListener(tasks)
  }

  /** How long a failed staging write waits for its last task. */
  private val StagingWaitMs = 60000L

  /** The running tasks of the jobs tagged `tag`, counted from the
    * listener bus: registered before the write, it sees every job and
    * task of it start and end. */
  private final class StagingTasks(val tag: String) extends SparkListener {
    private val barrierTag = tag + "-barrier"
    private var jobs = Set.empty[Int]
    private var ended = Set.empty[Int]
    private var stages = Set.empty[Int]
    private var running = 0
    private var barrier = false

    private def tagged(e: SparkListenerJobStart, t: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(t))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (tagged(e, tag)) { jobs += e.jobId; stages ++= e.stageIds }
      if (tagged(e, barrierTag)) barrier = true
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { if (jobs(e.jobId)) ended += e.jobId }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      synchronized { if (stages(e.stageId)) running += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { if (stages(e.stageId)) running -= 1 }

    private def idle = synchronized { barrier && jobs == ended && running == 0 }

    /** Wait, at most `ms`, until every tagged job has ended and every one
      * of its tasks with it; false if it timed out. The listener bus
      * delivers events in the order they are posted, and the scheduler
      * posts the start of every task it launched before it fails the job.
      * So once the bus has delivered a job without partitions run after
      * the failure (Spark posts its start from this thread), the listener
      * has seen every tagged job and task start: one not seen yet cannot
      * pass for finished. */
    def awaitIdle(sc: SparkContext, ms: Long): Boolean = {
      sc.addJobTag(barrierTag)
      try sc.emptyRDD[Int].count() finally sc.removeJobTag(barrierTag)
      val deadline = System.currentTimeMillis() + ms
      while (!idle && System.currentTimeMillis() < deadline) Thread.sleep(5)
      idle
    }
  }

  /** Next free generation number for `dataDir` — strictly above every
    * gen any RETAINED manifest references, the open transaction
    * references, or that exists on disk (orphans of crashed commits
    * must not be reused while a reader could still list them). */
  private def nextGen(fs: FileSystem, path: String, dataDir: String,
                      current: Map[String, Seq[Long]]): Long = {
    val pfx = dataDir + "/"
    def gensOf(m: Map[String, Seq[Long]]) =
      m.collect { case (k, gs) if k.startsWith(pfx) => gs }.flatten
    val fromManifests = manifests(fs, path)
      .flatMap { case (_, p) => gensOf(readManifest(fs, p)) }
    val fromDisk = children(fs, new Path(s"$path/$dataDir.gens"))
      .flatMap(_.getName.stripPrefix("g").toLongOption)
    (fromManifests ++ gensOf(current) ++ fromDisk).foldLeft(-1L)(math.max) + 1
  }

  /** Drop manifests beyond the grace window, then, PER dataDir the
    * kept manifests reference, delete unreferenced generation dirs. */
  private def gc(fs: FileSystem, path: String, keep: Int): Unit = {
    val all = manifests(fs, path)
    all.dropRight(keep + 1).foreach { case (_, p) => fs.delete(p, false) }
    val kept = all.takeRight(keep + 1).map { case (_, p) => readManifest(fs, p) }
    // NOTE: each manifest map must be flattened to a Seq BEFORE
    // collecting (dataDir, gens) pairs — collect on a Map would key the
    // result by dataDir and silently keep ONE bucket's gens per dir
    val byDir = kept.flatMap(_.toSeq.collect {
        case (k, gs) if !isReservedKey(k) && k.contains("/") =>
          (k.substring(0, k.indexOf("/")), gs)
      })
      .groupBy(_._1).map { case (d, xs) => d -> xs.flatMap(_._2).toSet }
    byDir.foreach { case (d, live) =>
      children(fs, new Path(s"$path/$d.gens"))
        .filter(p => p.getName.startsWith("g") &&
          p.getName.stripPrefix("g").toLongOption.exists(!live.contains(_)))
        .foreach(p => fs.delete(p, true))
    }
  }

  /** Record model/layout constants as a reserved `#meta:<name>` entry
    * of the manifest, so the constants VERSION WITH the data they
    * describe: a historical (as-of) reader resolves them from the
    * pinned manifest, never from a live sidecar a later rebuild may
    * have rewritten under different constants (e.g. the band index's
    * `idx_buckets` layout — delta bucket ids computed under a new
    * layout against band rows written under an old one silently drop
    * candidates). Folds into an open [[transact]] (one rename with the
    * mutation it describes) or publishes its own manifest version.
    * Entries carry forward across later commits until overwritten.
    * CAUTION: manifest values serialize as a SORTED multiset (they are
    * generation SETS everywhere else) — an ORDERED tuple must be
    * stored as one single-value entry per component name. */
  def putStoreMeta(spark: SparkSession, path: String,
                   meta: Map[String, Seq[Long]]): Unit =
    transact(spark, path) {
      update(path)(_ ++ meta.map { case (n, vs) => storeMetaKey(n) -> vs })
    }

  // ---- reads ---------------------------------------------------------------

  /** The entries THIS thread currently sees: an open txn's pending view
    * (read-your-own-writes — a composed mutation's later steps read its
    * earlier steps' commits) or the latest manifest. */
  private def view(spark: SparkSession,
                   path: String): Option[(Int, Map[String, Seq[Long]])] =
    activeTxn.get.get(path) match {
      case Some(t) => Some((t.baseV, t.entries))
      case None =>
        val (fs, all) = openManifests(spark, path)
        latest(fs, all)
    }

  /** The newest of `all` (from [[manifests]]) and its entries. */
  private def latest(fs: FileSystem, all: Seq[(Int, Path)])
      : Option[(Int, Map[String, Seq[Long]])] =
    all.lastOption.map { case (v, p) => (v, readManifest(fs, p)) }

  /** Streaming batch ids already committed into `dataDir`'s stream —
    * the tail window of [[BatchLedgerKeep]] most-recent ids, read from
    * the current view (one file read, atomic with the data it
    * acknowledges). */
  def committedBatches(spark: SparkSession, path: String,
                       dataDir: String): Set[Long] =
    view(spark, path)
      .flatMap(_._2.get(unifiedBatchesKey(dataDir)))
      .fold(Set.empty[Long])(_.toSet)

  /** ONE resolution of the store's manifest, from which every read of an
    * operation is taken: the current view (this thread's open
    * transaction, else the latest manifest: one listing of `_v` and one
    * manifest read), or the retained manifest `version`. Its dataDirs,
    * layout constants and table files all come from that one version,
    * whatever commits meanwhile. A `version` outside the retained window
    * fails fast, naming the window. */
  def snapshot(spark: SparkSession, path: String,
               version: Option[Int] = None): Snapshot =
    version match {
      case Some(v) => new Snapshot(spark, path, v, retainedManifest(spark, path, v),
        pinned = true)
      case None =>
        val (v, entries) = view(spark, path).getOrElse((-1, Map.empty[String, Seq[Long]]))
        new Snapshot(spark, path, v, entries, pinned = false)
    }

  /** A resolved manifest ([[snapshot]]) — `version`, -1 for a store
    * with none yet; reads from it touch only the immutable generation
    * dirs it references. */
  final class Snapshot private[StoreSwap] (spark: SparkSession, path: String,
                                           val version: Int,
                                           entries: Map[String, Seq[Long]],
                                           pinned: Boolean) {
    /** `dataDir`'s bucketDir → generations entries — the metadata a
      * manifest-pruned diff compares: generations are immutable once
      * committed, so two versions' entries being EQUAL for a bucket
      * proves its files (hence rows) are byte-identical without opening
      * them. */
    def entriesOf(dataDir: String): Map[String, Seq[Long]] =
      sliceDataDir(entries, dataDir)

    /** Whether `dataDir` holds any bucket. */
    def exists(dataDir: String): Boolean = entriesOf(dataDir).nonEmpty

    /** `dataDir`, restricted to `buckets` when given: only the immutable
      * generation dirs this manifest references, so the plan never lists
      * the live tree and a later commit is invisible to it. A pinned
      * version listed by [[snapshotVersions]] is fully readable (GC keeps
      * a retained manifest's generations as long as the manifest). Filters
      * on `partCol` prune files (the partition column infers from the dir
      * names). */
    def read(dataDir: String, partCol: String,
             buckets: Option[Seq[Int]] = None): DataFrame = {
      val e = entriesOf(dataDir)
      if (!pinned && e.isEmpty)
        sys.error(s"$path/$dataDir has no committed manifest entry — not a" +
          " store dataDir (or never written)")
      readEntries(spark, path, dataDir, partCol, e, buckets)
    }

    /** The raw `#meta:<name>` record; None when the manifest predates the
      * first [[putStoreMeta]] of this name. */
    def storeMeta(name: String): Option[Seq[Long]] =
      entries.get(storeMetaKey(name))

    /** THE resolver of a store's LAYOUT CONSTANTS — the bucket count
      * (`buckets`), the shingle sidecar's width (`shingles.n`), the band
      * layout (`bands.b`, `bands.r`, `bands.idx`): the `#meta:` entry of
      * this manifest (None when the store has no such artifact, e.g. no
      * band index). The writer of an artifact records its constants in
      * the same commit as the data ([[putStoreMeta]]), so this is a
      * manifest lookup and runs no Spark job. A PINNED manifest without
      * the constant fails with a named `IllegalArgumentException`: the
      * artifact did not exist at that version. */
    def layoutConstant(name: String): Option[Long] = {
      if (pinned && !entries.contains(storeMetaKey(name)))
        throw new IllegalArgumentException(s"$path v$version records no layout" +
          s" constant `$name`: the artifact it describes did not exist at" +
          " that version (it was built later). Re-pin at a version from" +
          " after it was built")
      storeMeta(name).map {
        case Seq(v) => v
        case vs => sys.error(s"$path: layout constant $name holds" +
          s" ${vs.size} values")
      }
    }

    /** The store's bucket count. */
    def bucketCount: Int = layoutConstant(BucketsKey).getOrElse(
      sys.error(s"$path records no bucket count — not a store (write it" +
        " with its store writer first)")).toInt

    /** The parquet files of the table dataDir `dataDir` ([[writeTable]]),
      * oldest generation first; empty when it was never written. */
    def tableFiles(dataDir: String): Seq[FileStatus] = {
      val conf = hadoopConf(spark)
      tableDirs(dataDir).flatMap(d => ParquetFooters.files(conf, new Path(d)))
    }

    /** The rows of the table dataDir `dataDir`, summed from its files'
      * footers on the driver (no Spark job). */
    def tableRows(dataDir: String): Long =
      ParquetFooters.rowCount(hadoopConf(spark), tableFiles(dataDir).map(_.getPath))

    /** The table dataDir `dataDir` ([[writeTable]]): every generation in
      * one scan, planned with the schema from one footer (a parquet read
      * without a schema runs a Spark job to infer one). */
    def readTable(dataDir: String): DataFrame = {
      val dirs = tableDirs(dataDir)
      if (dirs.isEmpty)
        sys.error(s"$path/$dataDir has no committed manifest entry — no" +
          " table there (or never written)")
      val reader = spark.read
      footerSchema(hadoopConf(spark), new Path(dirs.head), None)
        .fold(reader)(reader.schema).parquet(dirs: _*)
    }

    private def tableDirs(dataDir: String): Seq[String] =
      entriesOf(dataDir).get(TableBucket).toSeq.flatten.sorted
        .map(g => s"$path/$dataDir.gens/g$g/$TableBucket")
  }

  /** Record the store's bucket count — its writer's part of the commit
    * that lays the data out in that many buckets. */
  def putBucketCount(spark: SparkSession, path: String, buckets: Int): Unit =
    putStoreMeta(spark, path, Map(BucketsKey -> Seq(buckets.toLong)))

  private val BucketsKey = "buckets"

  /** The RETAINED manifest versions of the store, ascending — the
    * time-travel horizon. Commits GC manifests beyond the
    * `graft.store.snapshotKeep` grace window, so this is a sliding
    * window ending at the live version, not unbounded history; raise
    * the knob BEFORE the mutations whose pre-states must stay
    * readable. */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Int] =
    openManifests(spark, path)._2.map(_._1)

  /** Every entry of the retained manifest `version`, or a fail-fast
    * error naming the retained window. */
  private def retainedManifest(spark: SparkSession, path: String,
                               version: Int): Map[String, Seq[Long]] = {
    val (fs, all) = openManifests(spark, path)
    val p = all.collectFirst { case (v, mp) if v == version => mp }
      .getOrElse(sys.error(s"$path has no retained manifest" +
        s" v$version — retained: ${all.map(_._1).mkString(",")} (raise" +
        " graft.store.snapshotKeep before mutating to widen the" +
        " time-travel window)"))
    readManifest(fs, p)
  }

  private def readEntries(spark: SparkSession, path: String,
                          dataDir: String, partCol: String,
                          entries: Map[String, Seq[Long]],
                          buckets: Option[Seq[Int]]): DataFrame = {
    val groups = snapshotDirs(path, dataDir, entries, partCol, buckets)
    val conf = hadoopConf(spark)
    if (groups.isEmpty) {
      // bucket-pruned read with no surviving bucket: empty relation
      // with the store's schema (from any live dir; a store with NO
      // entries at all has no schema to offer)
      val any = snapshotDirs(path, dataDir, entries, partCol, None)
      require(any.nonEmpty, s"$path/$dataDir snapshot is empty")
      return readGeneration(spark, conf, any.head._1, any.head._2.take(1),
        partCol).filter(lit(false))
    }
    groups.map { case (base, dirs) =>
      readGeneration(spark, conf, base, dirs, partCol)
    }.reduce(_ unionByName _)
  }

  /** One generation's bucket dirs as a DataFrame, planned with the
    * schema of one of its files' footers: a parquet read without a
    * schema runs a Spark job to infer one, and a store read is planned
    * several times per commit. */
  private def readGeneration(spark: SparkSession, conf: Configuration,
                             base: String, dirs: Seq[String],
                             partCol: String): DataFrame = {
    val reader = spark.read.option("basePath", base)
    footerSchema(conf, new Path(dirs.head), Some(partCol))
      .fold(reader)(reader.schema).parquet(dirs: _*)
  }

  /** The schema Spark infers for the bucket dir `dir` (`<partCol>=<b>`,
    * or a table's bucket when `partCol` is None): the row schema Spark
    * writes into every file's footer, plus the int partition column. None
    * when that is not there to take (no file, a footer without Spark's
    * schema, a non-int partition value) — the read then infers as usual. */
  private def footerSchema(conf: Configuration, dir: Path,
                           partCol: Option[String]): Option[StructType] =
    if (partCol.exists(pc => dir.getName.stripPrefix(pc + "=").toIntOption.isEmpty)) None
    else ParquetFooters.files(conf, dir).headOption
      .flatMap(f => ParquetFooters.sparkSchema(conf, f.getPath))
      .map(s => partCol.fold(s)(s.add(_, IntegerType)))

  /** Resolved leaf-dir paths of a snapshot, grouped by generation (one
    * group per basePath for partition-column inference), restricted to
    * `buckets` when given. */
  private def snapshotDirs(path: String, dataDir: String,
                           entries: Map[String, Seq[Long]],
                           partCol: String,
                           buckets: Option[Seq[Int]]): Seq[(String, Seq[String])] = {
    val want = buckets.map(_.map(b => s"$partCol=$b").toSet)
    entries.toSeq
      .filter { case (d, _) => want.forall(_.contains(d)) }
      .flatMap { case (d, gens) => gens.map(g => g -> d) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, ds) =>
        (s"$path/$dataDir.gens/g$g",
          ds.map { case (_, d) => s"$path/$dataDir.gens/g$g/$d" }.sorted)
      }
  }

  // ---- manifest files --------------------------------------------------------

  /** Ledger key for one dataDir's batch stream: the manifest is
    * store-wide, so the dataDir goes INTO the key — independent streams
    * with overlapping batch ids never alias. */
  private def unifiedBatchesKey(dataDir: String): String =
    s"#batches:$dataDir"

  private def storeMetaKey(name: String): String = s"#meta:$name"

  /** How many trailing batch ids the ledger retains. Structured
    * Streaming redelivers at most the batches after the last epoch the
    * sink acknowledged — in practice the immediately preceding one —
    * so a short tail is ample; a bounded ledger keeps the manifest
    * O(buckets), not O(stream lifetime). */
  val BatchLedgerKeep: Int = 64

  /** Manifest entry keys starting with `#` are RESERVED metadata (batch
    * ledgers, model constants), not bucket directories. Reads and
    * generation GC skip them. */
  private def isReservedKey(k: String): Boolean = k.startsWith("#")

  /** A dataDir's slice of the store entries: its buckets, keyed by the
    * bare partDir. */
  private def sliceDataDir(all: Map[String, Seq[Long]],
                           dataDir: String): Map[String, Seq[Long]] = {
    val pfx = dataDir + "/"
    all.collect { case (k, v) if k.startsWith(pfx) => k.stripPrefix(pfx) -> v }
  }

  /** The entries of directory `dir`; none when it does not exist. */
  private def children(fs: FileSystem, dir: Path): Seq[Path] =
    try fs.listStatus(dir).toSeq.map(_.getPath)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Parsed store manifests, ascending by version. */
  private def manifests(fs: FileSystem, path: String): Seq[(Int, Path)] =
    manifestsIn(children(fs, versionsDir(path)))

  private def manifestsIn(files: Seq[Path]): Seq[(Int, Path)] = {
    val prefix = StoreFamily + ".v"
    files.filter(_.getName.startsWith(prefix))
      .flatMap(p => p.getName.stripPrefix(prefix).toIntOption.map(_ -> p))
      .sortBy(_._1)
  }

  /** [[manifests]] for a read: the one listing of `_v` also shows the
    * protocol marker, so a protocol-2 store pays no separate [[open]]
    * check, and any other store goes through it. */
  private def openManifests(spark: SparkSession,
                            path: String): (FileSystem, Seq[(Int, Path)]) = {
    val fs = fsOf(spark, versionsDir(path))
    val files = children(fs, versionsDir(path))
    if (!files.exists(_.getName == protocolMarker(path).getName))
      open(spark, path)
    (fs, manifestsIn(files))
  }

  /** Manifest values are LONGS: generation numbers fit comfortably in
    * Int, but the batch ledgers share this value slot and Structured
    * Streaming batch ids are unbounded longs — a stream past 2^31
    * batches must keep committing, not throw. A manifest of a protocol
    * above [[Protocol]] raises an `IllegalStateException` naming it,
    * before any caller reads or writes by it. */
  private def readManifest(fs: FileSystem, p: Path): Map[String, Seq[Long]] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val entries = body.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(dir, gens) = line.split("\\|", 2)
      dir -> gens.split(",").toSeq.map(_.toLong)
    }.toMap
    entries.get(ProtocolKey).map(_.max).filter(_ > Protocol).foreach { found =>
      throw new IllegalStateException(s"store manifest $p is at protocol" +
        s" $found; this build supports protocol $Protocol and below, and" +
        " does not read or write it")
    }
    entries
  }

  private def writeManifest(fs: FileSystem, path: String, v: Int,
                            entries: Map[String, Seq[Long]]): Unit = {
    fs.mkdirs(versionsDir(path))
    val tmp = new Path(path + s"/_v/.$StoreFamily.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (d, gs) => s"$d|${gs.sorted.mkString(",")}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(path + s"/_v/$StoreFamily.v$v")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      sys.error(s"could not commit manifest $dst — concurrent mutator?")
  }
}
