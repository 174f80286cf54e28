package graft.sinks

import graft.operators.MergeOps
import graft.pipeline.Config._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{Path => HPath}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Parquet-backed "table" with the reference's sink contract (SURVEY.md
  * §2.5 K3-K6, K8): conflict strategies (append / upsert-last-wins /
  * delete-insert / update-only), optional truncate (`keepContent=false` →
  * overwrite, K4), and an atomic commit: the new table version is written
  * to a temp directory and swapped in with a rename — readers see the old
  * or the new version, never a partial one (the reference's
  * transaction-per-load, `Wrap.pm:346-417`, re-expressed for files; on a
  * real deployment the same contract comes from Iceberg/Delta-style table
  * formats or a JDBC transaction).
  *
  * Incoming rows must carry an ordering column when the strategy is
  * `Upsert` — statement order resolves last-wins like the reference's
  * per-row loop (`Wrap/DB.pm:386-412`).
  */
object ParquetTable {

  def load(spark: SparkSession, table: String): DataFrame = {
    recoverCrash(Paths.get(table).toAbsolutePath)
    val reader = spark.read
    footerSchema(spark, Paths.get(table)).fold(reader)(reader.schema).parquet(table)
  }

  /** The schema a read of `table` would infer, from one part file's
    * footer: a parquet read without a schema runs a Spark job to infer
    * one. None for a partitioned layout (its partition columns come from
    * the directory names) and for a footer without Spark's schema. */
  private def footerSchema(spark: SparkSession, table: Path): Option[StructType] = {
    if (!Files.isDirectory(table)) return None
    val s = Files.list(table)
    val visible = try s.toArray.map(_.asInstanceOf[Path]).toSeq.filterNot { p =>
      val name = p.getFileName.toString
      name.startsWith("_") || name.startsWith(".")
    } finally s.close()
    if (visible.exists(Files.isDirectory(_))) None
    else visible.find(_.getFileName.toString.endsWith(".parquet"))
      .flatMap(f => ParquetFooters.sparkSchema(spark.sessionState.newHadoopConf(),
        new HPath(f.toUri)))
  }

  def exists(table: String): Boolean = {
    val p = Paths.get(table)
    recoverCrash(p.toAbsolutePath)
    Files.exists(p) && {
      val s = Files.list(p)
      try s.findFirst().isPresent finally s.close()
    }
  }

  /** Heal the one crash window the two-rename swap leaves open: a crash
    * after the live table moved to `.old-graft` but before `.tmp-graft`
    * moved in leaves NO table at `path`. Every entry point (load / exists
    * / store / atomicOverwrite / compact) probes for that state and
    * restores the retired version — so the externally visible contract
    * stays "old version or new version, never nothing", with the heal
    * deferred to the next touch instead of a manual operation. A leftover
    * `.old-graft` NEXT TO a live table is the post-commit crash tail
    * (harmless — the next swap deletes it); only the orphaned case
    * restores. */
  private def recoverCrash(tablePath: Path): Unit = {
    val old = tablePath.resolveSibling(tablePath.getFileName.toString + ".old-graft")
    if (!Files.exists(tablePath) && Files.exists(old))
      try Files.move(old, tablePath, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // two concurrent touches both saw the orphaned state; the loser's
        // move fails AFTER the winner healed — benign iff a live table
        // now exists. Re-throw only when the table is still missing.
        case _: java.io.IOException if Files.exists(tablePath) => ()
      }
  }

  /** Store `incoming` into `table` under the configured strategy; the whole
    * store is atomic (temp-dir + swap). `ordCol` orders the incoming batch
    * for last-wins resolution. */
  def store(spark: SparkSession, incoming: DataFrame, table: String,
            db: DbConfig, ordCol: String = "_lineno"): Unit = {
    db.strategy match {
      case Upsert(_) | InsertIgnoreDups(_) =>
        MergeOps.requireExactOrder(incoming, ordCol)
      case _ =>
    }
    val withId0 = db.addID.foldLeft(incoming) { case (df, (k, v)) => df.withColumn(k, lit(v)) }
    // order-sensitive resolution (upsert last-wins, ignore-dups
    // first-wins) needs the ordering column; batches that lack one get
    // partition-stable arrival order (matches the reference's
    // statement-order contract for a single batch)
    val withId = db.strategy match {
      case (Upsert(_) | InsertIgnoreDups(_)) if !withId0.columns.contains(ordCol) =>
        withId0.withColumn(ordCol, monotonically_increasing_id())
      case _ => withId0
    }
    val target = if (exists(table) && db.keepContent) Some(load(spark, table)) else None

    val merged: DataFrame = (target, db.strategy) match {
      case (None, _) =>
        // empty/truncated target: still resolve duplicates within the batch
        db.strategy match {
          case Upsert(keys) if withId.columns.contains(ordCol) =>
            if (db.incrementalStore)
              MergeOps.upsertIncremental(withId.limit(0), withId, keys, ordCol)
            else
              MergeOps.upsertLastWins(withId.limit(0), withId, keys, ordCol)
          case InsertIgnoreDups(keys) if withId.columns.contains(ordCol) =>
            MergeOps.insertIgnoreDups(withId.limit(0).drop(ordCol), withId,
              keys, ordCol)
          case _ => withId.drop(ordCol)
        }
      case (Some(t), Append) => t.unionByName(withId.drop(ordCol), allowMissingColumns = true)
      case (Some(t), Upsert(keys)) =>
        // target rows are "older" than every incoming row
        val tOrd = t.withColumn(ordCol, lit(Long.MinValue))
        if (db.incrementalStore)
          MergeOps.upsertIncremental(tOrd, withId, keys, ordCol)
        else
          MergeOps.upsertLastWins(tOrd, withId, keys, ordCol)
      case (Some(t), InsertIgnoreDups(keys)) =>
        MergeOps.insertIgnoreDups(t, withId, keys, ordCol)
      case (Some(t), DeleteInsert(selector)) =>
        MergeOps.deleteInsert(t, withId.drop(ordCol), selector)
      case (Some(t), UpdateOnly(keys, valueCols)) =>
        MergeOps.updateOnly(t, withId.drop(ordCol), keys, valueCols)
    }

    if (db.noTransaction) {
      merged.write.mode(SaveMode.Overwrite).parquet(table)
    } else {
      atomicOverwrite(merged, table)
    }
  }

  /** Small-file compaction: rewrite the table into ~`targetBytes` files
    * (streaming micro-batch loads and frequent merges fragment a table
    * into thousands of small files, which at 100 TB turns every scan into
    * a listing/open storm). File count = ceil(current bytes /
    * targetBytes); the rewrite reuses the atomic temp-dir swap, so
    * readers never see a partial table. Content is unchanged — only the
    * physical layout. */
  def compact(spark: SparkSession, table: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val tablePath = Paths.get(table).toAbsolutePath
    recoverCrash(tablePath)
    require(Files.exists(tablePath), s"no table at $table")
    val totalBytes = Files.walk(tablePath).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val data = load(spark, table).repartition(nFiles)
    atomicOverwrite(data, table)
  }

  /** [[compact]] for the hive-partitioned layout: each partition
    * directory is compacted independently (file count from its own
    * bytes), preserving the directory structure that partition pruning
    * depends on. Partitions compact one atomic swap at a time, so a
    * reader sees each partition either fully old or fully new — and at
    * 1000 executors the per-partition rewrites are independent jobs that
    * could run concurrently. */
  def compactPartitioned(spark: SparkSession, table: String,
                         targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val root = Paths.get(table).toAbsolutePath
    require(Files.exists(root), s"no table at $table")
    val listed = {
      val s = Files.list(root)
      try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
    }
    listed
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .foreach(p => compact(spark, p.toString, targetBytes))
  }

  /** Partitioned table layout: writes `df` hive-partitioned by
    * `partitionCols` so scans with partition predicates prune directories
    * instead of reading them (`PartitionFilters` in the scan node) — the
    * layout every 100 TB fact table needs. Dynamic partition overwrite
    * replaces only the partitions present in `df` (the partition-level
    * analog of delete-before-insert, K3's idempotent-reload contract). */
  def storePartitioned(spark: SparkSession, df: DataFrame, table: String,
                       partitionCols: Seq[String],
                       overwritePartitions: Boolean = true): Unit = {
    val mode = if (overwritePartitions) SaveMode.Overwrite else SaveMode.Append
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode(mode).partitionBy(partitionCols: _*).parquet(table)
    finally prev.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
  }

  private def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
  }

  /** Atomic overwrite of `path` with `df` via the write-new → retire-old
    * → rename-in swap (K8) — safe when `df`'s plan still READS `path`
    * (read-modify-write tables like the streaming sketch store).
    *
    * Crash windows: the new version is fully materialized under
    * `.tmp-graft` before any rename touches the live table, so a crash
    * during the (long) write loses nothing. The only exposed window is
    * between the two renames — live table retired to `.old-graft`, tmp
    * not yet moved in — which [[recoverCrash]] heals on the next touch of
    * any entry point by restoring the retired version. */
  def atomicOverwrite(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tablePath = Paths.get(path).toAbsolutePath
    recoverCrash(tablePath)
    val tmp = tablePath.resolveSibling(tablePath.getFileName.toString + ".tmp-graft")
    val old = tablePath.resolveSibling(tablePath.getFileName.toString + ".old-graft")
    deleteRecursively(tmp)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    deleteRecursively(old)
    if (Files.exists(tablePath)) Files.move(tablePath, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, tablePath, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }
}
