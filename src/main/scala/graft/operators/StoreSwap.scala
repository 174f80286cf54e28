package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sinks.ParquetFooters

/** The ONE commit protocol of the partitioned standing stores
  * ([[Similarity.writeStandingStore]]'s embedding store and
  * [[Dedup.writeSignatureStore]]'s minhash store, with their codebook,
  * PQ sidecar, band index and shingle sidecar).
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
  * width, its band layout) live ONLY there: [[layoutConstant]] resolves
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
  * reserved entry `#meta:protocol|2` ([[Protocol]]). Every read and
  * write refuses a manifest above it with a named
  * `IllegalStateException` instead of misreading it. Every store entry
  * point calls [[open]] first; on a protocol-2 store that is one
  * `exists` call, of the `_v/_protocol2` marker. Anything older is
  * upgraded ONCE, under the writer lease, by one manifest rename:
  *  - a protocol-1 store (the `_v/_open` marker, manifests without the
  *    entry);
  *  - a layout from before the manifest: the legacy in-place bucket
  *    swap (`$path/data/d_bucket=…` with a `_pending_swap` manifest),
  *    per-dataDir `_v/<dataDir>.v<N>` manifests, a write-once
  *    `codebook` dir, or a PQ triple swapped behind `_pending_pq`.
  *    Pending legacy swaps roll forward, partition dirs are renamed in
  *    as generation 0, per-dataDir manifest state is adopted, and the
  *    codebook / PQ triple are recommitted as versioned dataDirs.
  * The upgrade seeds the layout constants the old stores kept in
  * one-row parquet sidecars (`meta`, `shingles_meta`, `bands_meta`),
  * splits a store-wide batch ledger per dataDir and derives a missing
  * band inventory. Only [[open]] knows what an older store looks like;
  * reads and merges assume protocol 2.
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

  /** Run `body` holding `path`'s WRITER LEASE — the stores are
    * single-mutator by contract: two concurrent mutators would
    * overwrite each other's staging dir and race the manifest rename.
    * The lease file (`$path/_writer_lease`) is created
    * create-if-absent; a second mutator fails fast with an error
    * naming the holder rather than corrupting state. A lease older
    * than `staleMs` is presumed crashed and broken (a crashed
    * writer's staged generations are unreferenced orphans the next
    * commit reclaims). Reentrant per thread, so composite mutations
    * acquire once. Best-effort on filesystems without atomic
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
    if (fs.exists(lp)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lp).getModificationTime
      if (age >= staleMs) fs.delete(lp, false) // crashed holder
    }
    // the token is unique per acquisition, not just per process: if THIS
    // writer's lease is stale-broken by another mutator mid-run, release
    // must NOT delete the new holder's lease (that would cascade a third
    // mutator into the overlap the lease exists to prevent)
    val token =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}" +
        s"#${java.util.UUID.randomUUID()}"
    def readLease(): String =
      try {
        val in = fs.open(lp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch { case _: java.io.IOException => "<unreadable>" }
    val acquired =
      try {
        val out = fs.create(lp, false) // atomic create-if-absent
        try out.write(s"$token\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!acquired)
      sys.error(s"store $path is already being mutated (writer lease held" +
        s" by ${readLease()}); stores are single-mutator — serialize" +
        s" mutations externally, or break a dead writer's lease by" +
        s" deleting $lp")
    heldByThread.get += path
    try body
    finally {
      heldByThread.get -= path
      // release only a lease we still own — ours may have been
      // stale-broken and replaced while we ran past staleMs. The check
      // is rename-then-verify, not read-then-delete: a successor that
      // stale-breaks and rewrites the lease BETWEEN a read and a delete
      // would have its fresh lease deleted, re-opening the overlap the
      // token exists to prevent. Rename atomically captures whatever
      // file is at the lease path; only a tombstone that verifies as
      // OURS is deleted — a successor's is renamed back intact.
      if (fs.exists(lp) && readLease() == token) {
        val tomb = new Path(path + s"/.lease-tomb-${java.util.UUID.randomUUID()}")
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
  }

  /** The holder string of a LIVE lease on `path` owned by another
    * thread/process, or None when the path is mutable by this caller
    * (no lease, our own reentrant lease, or a stale one). */
  private def foreignLiveLease(spark: SparkSession, path: String,
                               staleMs: Long = DefaultLeaseStaleMs): Option[String] = {
    if (heldByThread.get.contains(path)) return None
    val lp = lease(path)
    val fs = fsOf(spark, lp)
    if (!fs.exists(lp)) return None
    try {
      val st = fs.getFileStatus(lp)
      if (System.currentTimeMillis() - st.getModificationTime >= staleMs)
        None // stale — the next mutator will break it
      else {
        val in = fs.open(lp)
        val holder =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(holder)
      }
    } catch {
      case _: java.io.IOException => None // vanished between exists and read
    }
  }

  // ---- open = protocol check + one-time upgrade ------------------------

  /** The manifest family name — reserved; no dataDir may be called
    * this. */
  private val StoreFamily = "store"

  /** The store protocol this build reads and writes, recorded in every
    * manifest as `#meta:protocol`. One integer: graft has one reader
    * and one writer, so there is no reader/writer split and no feature
    * set. A manifest above it is refused ([[readManifest]]). */
  val Protocol: Int = 2

  private val ProtocolKey = storeMetaKey("protocol")

  /** Written once a store is on [[Protocol]] (created fresh or
    * upgraded); its presence is all [[open]] checks. */
  private def protocolMarker(path: String) =
    new Path(s"$path/_v/_protocol$Protocol")

  /** Legacy partition dirs migrated by RENAME into generation 0. */
  private val LegacyDataDirs = Seq("data", "bands", "bands_inv", "shingles")

  /** Legacy model dirs migrated by COPY into a versioned dataDir (the
    * flat ones gain the constant `part=0` partition column the
    * versioned reader infers). Their legacy dirs are left in place for
    * readers that resolved them before the migration commit; the next
    * full rewrite of the artifact ([[overwriteDir]]) retires them. */
  private val LegacyModelDirs = Seq("codebook", "pq_codebook", "pq_meta",
    "pq_codes")

  /** Make `path` a store of [[Protocol]] before any read or write of
    * it. On a store that already is one, this is one `exists` call. A
    * nonexistent path is left alone (its first commit creates it). An
    * older store is upgraded ONCE, under the writer lease, and one
    * manifest rename publishes the lot:
    *  - a layout from before the manifest is migrated first: a
    *    `_pending_swap` or `_pending_pq` committed by a crashed legacy
    *    writer is rolled forward, partition dirs are renamed in as
    *    generation 0 (or a per-dataDir manifest's latest state is
    *    adopted), and the codebook and PQ triple are recommitted as
    *    versioned dataDirs. The first manifest is numbered ABOVE every
    *    per-dataDir version, so an old version number fails fast
    *    ([[readVersionedAt]]'s cutover message) instead of aliasing a
    *    later snapshot;
    *  - then [[upgrade]] brings the entries to protocol 2.
    * A crash before the rename leaves the old store, which the next
    * open upgrades again (a completed live→g0 rename is adopted, not
    * lost; a staged generation is an orphan the commit reclaims). A
    * store of a newer protocol is refused before anything is touched. */
  def open(spark: SparkSession, path: String): Unit = {
    if (activeTxn.get.contains(path)) return
    val marker = protocolMarker(path)
    val fs = fsOf(spark, marker)
    if (fs.exists(marker) || !fs.exists(new Path(path))) return
    foreignLiveLease(spark, path).foreach { holder =>
      sys.error(s"store $path needs its one-time upgrade but a writer" +
        s" holds a live lease ($holder) — the writer is mid-commit; retry" +
        " after it releases instead of racing its roll-forward")
    }
    withLease(spark, path) {
      if (!fs.exists(marker)) migrate(spark, fs, path)
    }
  }

  private def migrate(spark: SparkSession, fs: FileSystem,
                      path: String): Unit = {
    val keep = GraftConf.SnapshotKeep(spark)
    // read first: a newer protocol's manifest is refused untouched
    val current = latest(fs, path)
    rollForwardSwap(fs, path)
    rollForwardPq(fs, path)
    (staging(path) +: LegacyModelDirs.map(d => new Path(s"$path/.staging-$d")))
      .foreach(p => if (fs.exists(p)) fs.delete(p, true)) // pre-commit orphans
    val t = current match {
      case Some((v, entries)) => new Txn(v, entries)
      case None =>
        val (startV, entries) = adoptDataDirs(fs, path)
        new Txn(startV - 1, entries)
    }
    activeTxn.get(path) = t
    try {
      LegacyModelDirs.foreach { d =>
        val live = new Path(s"$path/$d")
        if (fs.exists(live) && !hasBuckets(t.entries, d)) {
          val partCol = fs.listStatus(live).map(_.getPath.getName)
            .find(_.contains("=")).map(_.takeWhile(_ != '='))
          val df = spark.read.parquet(live.toString)
          stageAndCommit(spark, path, d, partCol.getOrElse("part"),
            if (partCol.isEmpty) df.withColumn("part", lit(0)) else df,
            Seq.empty)(replaceAll(d))
        }
      }
      if (t.entries.nonEmpty && !t.entries.contains(ProtocolKey))
        upgrade(spark, fs, path, t)
    } finally activeTxn.get.remove(path)
    if (t.dirty) publish(spark, fs, path, t, keep)
    // retire the per-dataDir manifest families (also the cleanup path
    // after a crash between the commit above and these lines)
    (LegacyDataDirs ++ LegacyModelDirs).foreach { d =>
      manifests(fs, path, d).foreach { case (_, p) => fs.delete(p, false) }
    }
    fs.mkdirs(versionsDir(path))
    fs.create(protocolMarker(path), true).close()
    fs.delete(new Path(path + "/_v/_open"), false) // protocol 1's marker
  }

  /** Bring a protocol-1 (or just migrated) store's entries, the open
    * transaction `t`, to protocol 2; the publish records the protocol.
    *  1. Each layout constant the manifest lacks is seeded from its
    *     legacy sidecar ([[LegacySidecars]]). A band layout recorded
    *     without `bands.idx` predates the directory-granularity knob:
    *     its directories follow the store's bucket count.
    *  2. A store-wide `#batches` ledger (written before ledgers were
    *     per dataDir) becomes the ledger of every dataDir holding
    *     buckets that has none of its own, and the store-wide key goes.
    *  3. A band index without its per-doc inventory gets one, derived
    *     from the index by [[Dedup.writeBandInventory]] — the code its
    *     writer runs. */
  private def upgrade(spark: SparkSession, fs: FileSystem, path: String,
                      t: Txn): Unit = {
    LegacySidecars.foreach { case (name, (file, column)) =>
      val sidecar = new Path(s"$path/$file")
      if (!t.entries.contains(storeMetaKey(name)) && fs.exists(sidecar)) {
        val df = spark.read.parquet(sidecar.toString)
        if (df.columns.contains(column)) t.entries += storeMetaKey(name) ->
          Seq(df.select(col(column).cast("long")).head.getLong(0))
      }
    }
    val (bandsB, bandsIdx) = (storeMetaKey("bands.b"), storeMetaKey("bands.idx"))
    if (t.entries.contains(bandsB) && !t.entries.contains(bandsIdx))
      t.entries.get(storeMetaKey(BucketsKey))
        .foreach(b => t.entries += bandsIdx -> b)
    t.entries.get(BatchesKey).foreach { ids =>
      val dirs = t.entries.keys.filter(k => !isReservedKey(k) && k.contains("/"))
        .map(k => unifiedBatchesKey(k.takeWhile(_ != '/'))).toSet
      t.entries = t.entries - BatchesKey ++
        dirs.filterNot(t.entries.contains).map(_ -> ids)
    }
    t.dirty = true
    if (hasBuckets(t.entries, "bands") && !hasBuckets(t.entries, "bands_inv"))
      Dedup.writeBandInventory(spark, path, bucketCount(spark, path))
  }

  /** The legacy partition dirs' state as the first manifest's entries:
    * a per-dataDir manifest family's latest version (its ledger
    * namespaced per dataDir), else the live dir renamed in as g0. The
    * returned start version lies above every per-dataDir version. */
  private def adoptDataDirs(fs: FileSystem,
                            path: String): (Int, Map[String, Seq[Long]]) = {
    var all = Map.empty[String, Seq[Long]]
    var startV = 0
    LegacyDataDirs.foreach { d =>
      val perDir = manifests(fs, path, d)
      if (perDir.nonEmpty) {
        startV = math.max(startV, perDir.last._1 + 1)
        val e = readManifest(fs, perDir.last._2)
        all ++= e.collect {
          case (k, gs) if !isReservedKey(k) => s"$d/$k" -> gs
        }
        // each dataDir tracked its OWN batch stream pre-migration;
        // keep them namespaced so overlapping batch ids from
        // independent streams can't alias into one store-wide ledger
        e.get(BatchesKey).foreach(ids => all += unifiedBatchesKey(d) -> ids)
      } else {
        val live = new Path(s"$path/$d")
        val g0 = new Path(s"$path/$d.gens/g0")
        if (fs.exists(live)) {
          fs.mkdirs(g0.getParent)
          if (fs.exists(g0)) fs.delete(g0, true) // crashed predecessor
          if (!fs.rename(live, g0))
            sys.error(s"could not migrate $live to $g0")
        }
        // adopt g0 whether THIS run renamed it or a crashed predecessor
        // did (rename done, manifest not yet written) — skipping a
        // live-less g0 would commit a manifest without the dataDir
        if (fs.exists(g0))
          all ++= fs.listStatus(g0)
            .filter(s => s.isDirectory && s.getPath.getName.contains("="))
            .map(s => s"$d/${s.getPath.getName}" -> Seq(0L))
      }
    }
    (startV, all)
  }

  /** Roll forward a legacy `_pending_swap` a crashed writer committed
    * but did not apply: swap each surviving staged bucket into the live
    * dir (one rename each), drop emptied buckets, clear the manifest.
    * Idempotent — an absent staged bucket was already swapped. */
  private def rollForwardSwap(fs: FileSystem, path: String): Unit = {
    val mf = new Path(path + "/_pending_swap")
    if (!fs.exists(mf)) return
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split("\n", -1) finally in.close()
    val partCol = lines(0)
    def ints(s: String): Seq[Int] =
      if (s.isEmpty) Seq.empty else s.split(",").toSeq.map(_.toInt)
    val dataDir = if (lines.length > 3 && lines(3).nonEmpty) lines(3)
      else "data"
    ints(lines(1)).foreach { b =>
      val src = new Path(s"$path/.staging/$partCol=$b")
      val dst = new Path(s"$path/$dataDir/$partCol=$b")
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(src, dst)) sys.error(s"bucket swap failed: $dst")
      }
    }
    ints(lines(2)).foreach { b =>
      val dst = new Path(s"$path/$dataDir/$partCol=$b")
      if (fs.exists(dst)) fs.delete(dst, true)
    }
    fs.delete(mf, false)
  }

  /** Roll forward a legacy PQ triple swap committed behind
    * `_pending_pq`: each staged artifact replaces its live dir. */
  private def rollForwardPq(fs: FileSystem, path: String): Unit = {
    val mark = new Path(path + "/_pending_pq")
    if (!fs.exists(mark)) return
    Seq("pq_codebook", "pq_meta", "pq_codes").foreach { d =>
      val stg = new Path(s"$path/.staging-$d")
      val live = new Path(s"$path/$d")
      if (fs.exists(stg)) {
        if (fs.exists(live)) fs.delete(live, true)
        if (!fs.rename(stg, live)) sys.error(s"sidecar swap failed: $live")
      }
    }
    fs.delete(mark, false)
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
        val (baseV, entries) = latest(fs, path)
          .getOrElse((-1, Map.empty[String, Seq[Long]]))
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
    writeManifest(fs, path, StoreFamily, t.baseV + 1,
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
    stageAndCommit(spark, path, dataDir, partCol, slice, sortCols) {
      (all, staged) => (all -- touchedDirs) ++ staged
    }
  }

  /** Full write of a store dataDir: the whole relation becomes the
    * dataDir's only generation, replacing every prior bucket entry
    * (reserved entries — the batch ledgers — carry through, so a
    * mid-stream full rewrite can't re-apply a redelivered batch).
    * Readers snapshotted on the old manifest keep their gens through
    * the grace window. A legacy live dir of the same name, kept by the
    * migration for in-flight readers, is retired here. */
  def overwriteDir(spark: SparkSession, path: String, dataDir: String,
                   partCol: String, df: DataFrame,
                   sortCols: Seq[Column]): Unit = transact(spark, path) {
    val live = new Path(s"$path/$dataDir")
    val fs = fsOf(spark, live)
    if (fs.exists(live)) fs.delete(live, true)
    stageAndCommit(spark, path, dataDir, partCol, df, sortCols)(
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
    stageAndCommit(spark, path, dataDir, partCol, df, sortCols) {
      (all, staged) => all ++ staged.map { case (d, g) =>
        d -> (all.getOrElse(d, Seq.empty) ++ g) }
    }
    batchId.foreach(recordBatch(path, dataDir, _))
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

  /** Stage `df` partitioned by `partCol`, rename the staged buckets in
    * as a fresh generation of `dataDir`, and fold `remap(entries,
    * stagedEntries)` into the open transaction. Returns the staged row
    * count, summed from the staged files' parquet footers on the driver
    * (no Spark job). A `df` already hash-partitioned on `partCol` (a
    * merge that repartitioned before aggregating) keeps that one
    * exchange: the planner drops the repartition below as redundant. */
  private def stageAndCommit(spark: SparkSession, path: String,
                             dataDir: String, partCol: String,
                             df: DataFrame, sortCols: Seq[Column])
                            (remap: (Map[String, Seq[Long]],
                              Map[String, Seq[Long]]) => Map[String, Seq[Long]]): Long = {
    val stg = staging(path)
    val fs = fsOf(spark, stg)
    if (fs.exists(stg)) fs.delete(stg, true) // orphan of a crashed commit
    df.repartition(col(partCol))
      .sortWithinPartitions(sortCols: _*)
      .write.partitionBy(partCol).parquet(stg.toString)
    val buckets = fs.listStatus(stg)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName).toSeq
    val kept = ParquetFooters.rowCount(hadoopConf(spark), stg)
    val t = activeTxn.get()(path)
    val staged =
      if (buckets.isEmpty) Map.empty[String, Seq[Long]]
      else {
        val g = nextGen(fs, path, dataDir, t.entries)
        val gDir = new Path(s"$path/$dataDir.gens/g$g")
        fs.mkdirs(gDir.getParent)
        if (fs.exists(gDir)) fs.delete(gDir, true)
        if (!fs.rename(stg, gDir))
          sys.error(s"could not commit staged generation $gDir")
        buckets.map(b => s"$dataDir/$b" -> Seq(g)).toMap
      }
    update(path)(remap(_, staged))
    kept
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
    val fromManifests = manifests(fs, path, StoreFamily)
      .flatMap { case (_, p) => gensOf(readManifest(fs, p)) }
    val root = new Path(s"$path/$dataDir.gens")
    val fromDisk =
      if (fs.exists(root)) fs.listStatus(root).toSeq
        .flatMap(s => s.getPath.getName.stripPrefix("g").toLongOption)
      else Seq.empty[Long]
    (fromManifests ++ gensOf(current) ++ fromDisk).foldLeft(-1L)(math.max) + 1
  }

  /** Drop manifests beyond the grace window, then, PER dataDir the
    * kept manifests reference, delete unreferenced generation dirs. */
  private def gc(fs: FileSystem, path: String, keep: Int): Unit = {
    manifests(fs, path, StoreFamily).dropRight(keep + 1)
      .foreach { case (_, p) => fs.delete(p, false) }
    val kept = manifests(fs, path, StoreFamily).map { case (_, p) =>
      readManifest(fs, p) }
    // NOTE: each manifest map must be flattened to a Seq BEFORE
    // collecting (dataDir, gens) pairs — collect on a Map would key the
    // result by dataDir and silently keep ONE bucket's gens per dir
    val byDir = kept.flatMap(_.toSeq.collect {
        case (k, gs) if !isReservedKey(k) && k.contains("/") =>
          (k.substring(0, k.indexOf("/")), gs)
      })
      .groupBy(_._1).map { case (d, xs) => d -> xs.flatMap(_._2).toSet }
    byDir.foreach { case (d, live) =>
      val root = new Path(s"$path/$d.gens")
      if (fs.exists(root))
        fs.listStatus(root)
          .map(_.getPath)
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
      case None => latest(fsOf(spark, versionsDir(path)), path)
    }

  private def latest(fs: FileSystem,
                     path: String): Option[(Int, Map[String, Seq[Long]])] =
    manifests(fs, path, StoreFamily).lastOption
      .map { case (v, p) => (v, readManifest(fs, p)) }

  /** Streaming batch ids already committed into `dataDir`'s stream —
    * the tail window of [[BatchLedgerKeep]] most-recent ids, read from
    * the current view (one file read, atomic with the data it
    * acknowledges). A store-wide ledger of protocol 1 was split per
    * dataDir by the upgrade ([[open]]). */
  def committedBatches(spark: SparkSession, path: String,
                       dataDir: String): Set[Long] =
    view(spark, path)
      .flatMap(_._2.get(unifiedBatchesKey(dataDir)))
      .fold(Set.empty[Long])(_.toSet)

  /** The entries of the retained manifest `version`, or of the current
    * view when it is None; `what` names the dataDir or constant asked
    * for in the error. */
  private def entriesAt(spark: SparkSession, path: String, what: String,
                        version: Option[Int]): Map[String, Seq[Long]] =
    version.fold(view(spark, path).fold(Map.empty[String, Seq[Long]])(_._2))(
      retainedManifest(spark, path, what, _))

  /** The raw `#meta:<name>` record at a retained manifest `version`, or
    * the current view when `version` is None. None when the manifest
    * predates the first [[putStoreMeta]] of this name. Readers of
    * layout constants use [[layoutConstant]]. */
  def storeMetaAt(spark: SparkSession, path: String, name: String,
                  version: Option[Int] = None): Option[Seq[Long]] =
    entriesAt(spark, path, name, version).get(storeMetaKey(name))

  /** THE resolver of a store's LAYOUT CONSTANTS — the bucket count
    * (`buckets`), the shingle sidecar's width (`shingles.n`), the band
    * layout (`bands.b`, `bands.r`, `bands.idx`): the `#meta:` entry of
    * the current view (None when the store has no such artifact, e.g.
    * no band index), or of the pinned manifest `version`. The writer of
    * an artifact records its constants in the same commit as the data
    * ([[putStoreMeta]]), and the upgrade ([[open]]) seeded those of
    * older stores, so this is a manifest lookup and runs no Spark job.
    * A PINNED manifest without the constant fails with a named
    * `IllegalArgumentException`: either the version predates the
    * store's upgrade to protocol 2 (a protocol-1 manifest did not
    * always record the constants), or the artifact did not exist at
    * that version. */
  def layoutConstant(spark: SparkSession, path: String, name: String,
                     version: Option[Int] = None): Option[Long] = {
    val key = storeMetaKey(name)
    val entries = entriesAt(spark, path, name, version)
    version.filterNot(_ => entries.contains(key)).foreach { v =>
      throw new IllegalArgumentException(s"$path v$v records no layout" +
        s" constant `$name`: " + (
        if (!entries.contains(ProtocolKey))
          "the version predates the store's upgrade to protocol" +
            s" $Protocol, and its constants were not recorded before it." +
            " Re-pin at a version from after the upgrade"
        else "the artifact it describes did not exist at that version" +
          " (it was built later). Re-pin at a version from after it was" +
          " built"))
    }
    entries.get(key).map {
      case Seq(v) => v
      case vs => sys.error(s"$path: layout constant $name holds" +
        s" ${vs.size} values")
    }
  }

  /** The store's bucket count at `version`, or the current view. */
  def bucketCount(spark: SparkSession, path: String,
                  version: Option[Int] = None): Int =
    layoutConstant(spark, path, BucketsKey, version).getOrElse(
      sys.error(s"$path records no bucket count — not a store (write it" +
        " with its store writer first)")).toInt

  /** Record the store's bucket count — its writer's part of the commit
    * that lays the data out in that many buckets. */
  def putBucketCount(spark: SparkSession, path: String, buckets: Int): Unit =
    putStoreMeta(spark, path, Map(BucketsKey -> Seq(buckets.toLong)))

  private val BucketsKey = "buckets"

  /** Where stores written before the layout constants moved into the
    * manifest kept each one: a one-row parquet sidecar under the store
    * path, and its column. Read only by the upgrade ([[open]]). */
  private val LegacySidecars: Map[String, (String, String)] = Map(
    BucketsKey -> ("meta", "buckets"),
    "shingles.n" -> ("shingles_meta", "n"),
    "bands.b" -> ("bands_meta", "bands"),
    "bands.r" -> ("bands_meta", "rows_per_band"),
    "bands.idx" -> ("bands_meta", "idx_buckets"))

  /** The current (version, bucketDir → gens) view of `dataDir` — its
    * slice of the store manifest — or None when the dataDir holds no
    * bucket ("never written"). Inside an open [[transact]] the txn's
    * pending view is returned. */
  def latestSnapshot(spark: SparkSession, path: String,
                     dataDir: String): Option[(Int, Map[String, Seq[Long]])] =
    view(spark, path)
      .map { case (v, all) => (v, sliceDataDir(all, dataDir)) }
      .filter(_._2.nonEmpty)

  /** Whether `dataDir` holds any bucket in the current view. */
  def dirExists(spark: SparkSession, path: String,
                dataDir: String): Boolean =
    latestSnapshot(spark, path, dataDir).isDefined

  /** Snapshot read of `dataDir` — resolves the current view ONCE
    * (atomic), reads only the referenced immutable dirs. The plan never
    * lists the live tree, so a concurrent mutation is invisible to it.
    * Filters on `partCol` prune files (the partition column infers
    * from the dir names). */
  def readDir(spark: SparkSession, path: String, dataDir: String,
              partCol: String): DataFrame = {
    val (_, entries) = latestSnapshot(spark, path, dataDir).getOrElse(
      sys.error(s"$path/$dataDir has no committed manifest entry — not a" +
        " store dataDir (or never written)"))
    readEntries(spark, path, dataDir, partCol, entries, None)
  }

  /** The RETAINED manifest versions of the store, ascending — the
    * time-travel horizon. Commits GC manifests beyond the
    * `graft.store.snapshotKeep` grace window, so this is a sliding
    * window ending at the live version, not unbounded history; raise
    * the knob BEFORE the mutations whose pre-states must stay
    * readable. */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Int] =
    manifests(fsOf(spark, versionsDir(path)), path, StoreFamily).map(_._1)

  /** A retained manifest `version`'s entries, or a fail-fast error
    * naming the retained window (and, for versions below it, the
    * migration cutover). */
  private def manifestAt(spark: SparkSession, path: String,
                         dataDir: String,
                         version: Int): Map[String, Seq[Long]] =
    sliceDataDir(retainedManifest(spark, path, dataDir, version), dataDir)

  /** Every entry of the retained manifest `version`; `what` names the
    * dataDir or constant asked for in the error. */
  private def retainedManifest(spark: SparkSession, path: String,
                               what: String,
                               version: Int): Map[String, Seq[Long]] = {
    val fs = fsOf(spark, versionsDir(path))
    val all = manifests(fs, path, StoreFamily)
    val p = all.collectFirst { case (v, mp) if v == version => mp }
      .getOrElse {
        val hint =
          if (all.headOption.exists(version < _._1))
            " — it was either GC'd past graft.store.snapshotKeep or" +
              " PREDATES this store's migration cutover (per-dataDir" +
              " history does not carry across migration; the first" +
              " migrated manifest is numbered above every older version" +
              " so old numbers fail here instead of aliasing. Runbook:" +
              " restore from archive or re-run the producing mutation)"
          else
            " (raise graft.store.snapshotKeep before mutating to widen" +
              " the time-travel window)"
        sys.error(s"$path/$what has no retained manifest" +
          s" v$version — retained: ${all.map(_._1).mkString(",")}" + hint)
      }
    readManifest(fs, p)
  }

  /** TIME-TRAVEL read: the snapshot of `dataDir` AS OF committed
    * `version` — same single-manifest-resolution guarantee as
    * [[readDir]], against a historical manifest. The generations a
    * retained manifest references are kept by GC exactly as long as the
    * manifest itself, so a version listed by [[snapshotVersions]] is
    * fully readable. Reading a GC'd version fails fast naming the
    * retained window. */
  def readVersionedAt(spark: SparkSession, path: String, dataDir: String,
                      partCol: String, version: Int,
                      buckets: Option[Seq[Int]] = None): DataFrame =
    readEntries(spark, path, dataDir, partCol,
      manifestAt(spark, path, dataDir, version), buckets)

  /** The bucket-dir → generation-list entries of `dataDir` at a
    * RETAINED manifest version — the metadata
    * a manifest-pruned diff compares: generations are immutable once
    * committed, so two versions' entries being EQUAL for a bucket
    * proves its files (hence rows) are byte-identical without opening
    * them. */
  def snapshotEntriesAt(spark: SparkSession, path: String,
                        dataDir: String,
                        version: Int): Map[String, Seq[Long]] =
    manifestAt(spark, path, dataDir, version)

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
    footerSchema(conf, new Path(dirs.head), partCol)
      .fold(reader)(reader.schema).parquet(dirs: _*)
  }

  /** The schema Spark infers for the bucket dir `dir` (`<partCol>=<b>`):
    * the row schema Spark writes into every file's footer, plus the int
    * partition column. None when that is not there to take (no file, a
    * footer without Spark's schema, a non-int partition value) — the
    * read then infers as usual. */
  private def footerSchema(conf: Configuration, dir: Path,
                           partCol: String): Option[StructType] = {
    if (dir.getName.stripPrefix(partCol + "=").toIntOption.isEmpty)
      return None
    ParquetFooters.files(conf, dir).headOption
      .flatMap(ParquetFooters.sparkSchema(conf, _))
      .map(_.add(partCol, IntegerType))
  }

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

  private val BatchesKey = "#batches"

  /** Ledger key for one dataDir's batch stream: the manifest is
    * store-wide, so the dataDir goes INTO the key — independent streams
    * with overlapping batch ids never alias. */
  private def unifiedBatchesKey(dataDir: String): String =
    s"$BatchesKey:$dataDir"

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

  private def hasBuckets(all: Map[String, Seq[Long]], dataDir: String): Boolean =
    all.keys.exists(_.startsWith(dataDir + "/"))

  /** A dataDir's slice of the store entries: its buckets, keyed by the
    * bare partDir. */
  private def sliceDataDir(all: Map[String, Seq[Long]],
                           dataDir: String): Map[String, Seq[Long]] = {
    val pfx = dataDir + "/"
    all.collect { case (k, v) if k.startsWith(pfx) => k.stripPrefix(pfx) -> v }
  }

  /** Parsed manifests of `family`, ascending by version. */
  private def manifests(fs: FileSystem, path: String,
                        family: String): Seq[(Int, Path)] = {
    val vd = versionsDir(path)
    if (!fs.exists(vd)) return Seq.empty
    val prefix = family + ".v"
    fs.listStatus(vd).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(p => p.getName.stripPrefix(prefix).toIntOption.map(_ -> p))
      .sortBy(_._1)
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

  private def writeManifest(fs: FileSystem, path: String, family: String,
                            v: Int, entries: Map[String, Seq[Long]]): Unit = {
    fs.mkdirs(versionsDir(path))
    val tmp = new Path(path + s"/_v/.${family}.v$v.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (d, gs) => s"$d|${gs.sorted.mkString(",")}" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(path + s"/_v/$family.v$v")
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      sys.error(s"could not commit manifest $dst — concurrent mutator?")
  }
}
