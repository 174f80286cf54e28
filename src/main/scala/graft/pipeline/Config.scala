package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Load configuration model mirroring the reference's 4-hash config tree
  * (`DB`/`File`/`FTP`/`process`, key schema `Wrap/Common.pm:21-202`) as
  * typed case classes, plus the cascading merge semantics of
  * `setupConfigMerge` (`Wrap/Common.pm:349-367`):
  *
  *   site config → common (script) → per-load, with CLI-style overrides
  *   mergeable at the global and per-load levels; later layers win.
  */
object Config {

  /** Conflict strategy of the table sink (SURVEY.md §2.5 K3). */
  sealed trait StoreStrategy
  case object Append extends StoreStrategy
  /** Insert-or-update by primary key, last row wins (`Wrap/DB.pm:386-412`). */
  case class Upsert(primkey: Seq[String]) extends StoreStrategy
  /** Delete target rows matching incoming keys, then insert
    * (`Wrap/DB.pm:337-347`). */
  case class DeleteInsert(selector: Seq[String]) extends StoreStrategy
  /** Update-only by key; unmatched update rows dropped (`Wrap/DB.pm:453-508`). */
  case class UpdateOnly(primkey: Seq[String], valueCols: Seq[String]) extends StoreStrategy
  /** Plain insert that silently skips keys already present
    * (`ignoreDuplicateErrs`, `Wrap/DB.pm:403`): the reference swallows
    * duplicate-key errors row by row, so the FIRST occurrence of a key —
    * in the target, else in batch order — survives. */
  case class InsertIgnoreDups(primkey: Seq[String]) extends StoreStrategy

  /** Sink-side target column: coercion class from the type name like the
    * reference reads `column_info` TYPE_NAME (`Wrap/DB.pm:192-217`).
    * @param size VARCHAR width; 0 = unbounded. Overflow is severity 2 →
    *             load abort (`Wrap/DB.pm:305-308`). */
  case class TargetColumn(name: String, typeName: String, size: Int = 0,
                          identity: Boolean = false)

  case class DbConfig(
      table: String = "",
      targetSchema: Seq[TargetColumn] = Nil,
      strategy: StoreStrategy = Append,
      keepContent: Boolean = false,      // false → truncate before load (K4)
      addID: Map[String, String] = Map.empty, // constant ID columns (T10)
      cutoffYr2000: Int = 60,
      debugKeyIndicator: String = "",
      /** `incrementalStore` (`Wrap/DB.pm:318`): on Upsert, a NULL
        * incoming field leaves the target's existing value untouched
        * instead of overwriting it — the reference skips undef fields
        * when building the per-row statement. */
      incrementalStore: Boolean = false)

  case class ProcessConfig(
      skipHolidays: String = "",          // calendar, or "1" → default AT
      skipWeekends: Boolean = false,
      skipForFirstBusinessDate: String = "",
      holidaysDefault: String = "AT",
      plannedUntil: String = "",          // HHMM cutoff; empty = one-shot
      retrySecondsErr: Int = 60,
      retrySecondsPlanned: Int = 300,
      redoFile: Boolean = false,
      ignoreNoTest: Boolean = false)

  /** Typed re-expression of the reference's eval-hook surface (SURVEY.md
    * §2.8): arbitrary Perl cannot be honored; each hook slot takes Scala. */
  case class LoadHooks(
      /** `firstLineProc`: sees the raw first line, returns pipeline
        * variables to broadcast as literal columns. */
      firstLine: Option[String => Map[String, String]] = None,
      /** `addtlProcessing` keyed by column (`"*"` = every column). */
      fieldHooks: Map[String, Column => Column] = Map.empty,
      /** `lineProcessing`: whole-DataFrame transform; gets `_prev` struct
        * (previous row per file, W1) when `needPrevRow`. */
      rowHook: Option[DataFrame => DataFrame] = None,
      needPrevRow: Boolean = false,
      /** `postReadProcessing` / `postDumpProcessing`. */
      postRead: DataFrame => DataFrame = identity,
      postDump: Option[() => Unit] = None)

  /** Generic map-merge with the reference's precedence (later wins). */
  def cascade(layers: Map[String, Any]*): Map[String, Any] =
    layers.foldLeft(Map.empty[String, Any])(_ ++ _)

  /** `checkHash`-style validation (`Wrap/Common.pm:223-240`): unknown keys
    * are configuration errors. */
  def validateKeys(given: Map[String, Any], permitted: Set[String],
                   section: String): Either[String, Unit] = {
    val unknown = given.keySet.diff(permitted)
    if (unknown.isEmpty) Right(())
    else Left(s"unknown config key(s) in $section: ${unknown.toSeq.sorted.mkString(", ")}")
  }
}
