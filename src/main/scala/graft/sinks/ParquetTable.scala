package graft.sinks

import graft.operators.{MergeOps, StoreSwap}
import graft.pipeline.Config._
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed "table" with the reference's sink contract (SURVEY.md
  * §2.5 K3-K6, K8): conflict strategies (append / upsert-last-wins /
  * delete-insert / update-only), optional truncate (`keepContent=false` →
  * overwrite, K4), and an atomic commit — the reference's
  * transaction-per-load (`Wrap.pm:346-417`), re-expressed for files.
  *
  * A table is a [[StoreSwap]] store with one dataDir, `data`, of one
  * bucket ([[StoreSwap.writeTable]]), so it commits like every store: the
  * new rows are staged and renamed in as a fresh generation, and one
  * manifest rename publishes the new version. Readers see the old or the
  * new version, never a partial one, on any file system a store works on,
  * and a failed store (a load's severity-2 abort in its write job) leaves
  * every file of the table as it was. An Append that keeps content stages
  * only the batch, as one more generation; every other store stages the
  * whole merged table as the dataDir's only generation. A directory that
  * is not such a store (a plain parquet directory) is refused by
  * [[StoreSwap.open]].
  *
  * Incoming rows must carry an ordering column when the strategy is
  * `Upsert` — statement order resolves last-wins like the reference's
  * per-row loop (`Wrap/DB.pm:386-412`).
  */
object ParquetTable {

  /** The table's one dataDir. */
  private val DataDir = "data"

  /** The table's current rows, read from one resolution of its manifest
    * and planned with one footer's schema (no Spark job). */
  def load(spark: SparkSession, table: String): DataFrame =
    StoreSwap.snapshot(spark, table).readTable(DataDir)

  def exists(spark: SparkSession, table: String): Boolean =
    StoreSwap.snapshot(spark, table).exists(DataDir)

  /** The parquet files of the table's current version. */
  def files(spark: SparkSession, table: String): Seq[FileStatus] =
    StoreSwap.snapshot(spark, table).tableFiles(DataDir)

  /** Store `incoming` into `table` under the configured strategy, as one
    * [[StoreSwap.transact]]. `ordCol` orders the incoming batch for
    * last-wins resolution. Returns the rows of the version it commits,
    * summed from its files' footers (no Spark job). */
  def store(spark: SparkSession, incoming: DataFrame, table: String,
            db: DbConfig, ordCol: String = "_lineno"): Long = {
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
    StoreSwap.transact(spark, table) {
      val current = StoreSwap.snapshot(spark, table)
      val target =
        if (db.keepContent && current.exists(DataDir)) Some(current.readTable(DataDir))
        else None
      (target, db.strategy) match {
        case (Some(t), Append) if sameLayout(t, withId.drop(ordCol)) =>
          StoreSwap.writeTable(spark, table, DataDir, withId.drop(ordCol), append = true)
        case _ =>
          StoreSwap.writeTable(spark, table, DataDir,
            merged(target, withId, db, ordCol), append = false)
      }
      StoreSwap.snapshot(spark, table).tableRows(DataDir)
    }
  }

  /** Whether `batch` has the table `t`'s columns, in its order, with its
    * types: only then is an Append staged as one more generation.
    * Otherwise the table is rewritten as their union by name, so the
    * stored generations always share one schema. */
  private def sameLayout(t: DataFrame, batch: DataFrame): Boolean = {
    def layout(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString)
    layout(batch) == layout(t)
  }

  /** The table's whole new content: `target` (the kept table, if any)
    * merged with the batch under `db`'s strategy. */
  private def merged(target: Option[DataFrame], withId: DataFrame, db: DbConfig,
                     ordCol: String): DataFrame =
    (target, db.strategy) match {
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

  /** Small-file compaction: rewrite the table into ~`targetBytes` files
    * (streaming micro-batch loads, appends and frequent merges fragment a
    * table into many small files, which turns every scan into a
    * listing/open storm). File count = ceil(the current version's parquet
    * bytes / targetBytes); the rewrite is one commit, so readers never
    * see a partial table. Content is unchanged — only the physical
    * layout. */
  def compact(spark: SparkSession, table: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    require(exists(spark, table), s"no table at $table")
    StoreSwap.transact(spark, table) {
      val current = StoreSwap.snapshot(spark, table)
      val totalBytes = current.tableFiles(DataDir).map(_.getLen).sum
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      StoreSwap.writeTable(spark, table, DataDir,
        current.readTable(DataDir).repartition(nFiles), append = false)
    }
  }
}
