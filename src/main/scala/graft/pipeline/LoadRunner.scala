package graft.pipeline

import graft.pipeline.Config._
import graft.sinks.ParquetTable
import graft.sources.{TextFormat, TextSource, XlsSource, XlsxFormat, XlsxSource, XmlFormat, XmlSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The import pipeline end-to-end (SURVEY.md §3.1): staged files → format
  * dispatch → field/row hooks (with optional previous-row context) →
  * catalog-driven coercion → conflict-strategy store, atomically. A load
  * is one pass: read → hooks → coerce → merge → write is one Catalyst
  * plan that the store's write job runs, with the error sample and the
  * severity-2 abort tapped inside it; only acquisition and the commit are
  * driver-side.
  */
object LoadRunner {

  sealed trait SourceSpec
  case class TextSpec(fmt: TextFormat) extends SourceSpec
  case class XlsxSpec(fmt: XlsxFormat) extends SourceSpec
  /** Legacy BIFF8 workbooks (S3) — same format spec as xlsx. */
  case class XlsSpec(fmt: XlsxFormat) extends SourceSpec
  case class XmlSpec(fmt: XmlFormat) extends SourceSpec

  case class Load(
      source: SourceSpec,
      db: DbConfig,
      hooks: LoadHooks = LoadHooks(),
      process: ProcessConfig = ProcessConfig())

  case class LoadResult(rows: Long, errors: Seq[String], stored: Boolean)

  /** Read staged paths through the configured source (`readFileData`
    * dispatch, `Wrap.pm:312-331`). */
  def read(spark: SparkSession, paths: Seq[String], load: Load): DataFrame =
    load.source match {
      case TextSpec(fmt) => TextSource.read(spark, paths, fmt)
      case XlsxSpec(fmt) => XlsxSource.read(spark, paths, fmt)
      case XlsSpec(fmt)  => XlsSource.read(spark, paths, fmt)
      case XmlSpec(fmt)  => XmlSource.read(spark, paths, fmt)
    }

  /** Apply the hook pipeline (SURVEY.md §2.8) to an ingest DataFrame. */
  def applyHooks(spark: SparkSession, df0: DataFrame, load: Load,
                 firstLineValue: Option[String]): DataFrame = {
    var df = df0
    // firstLineProc → broadcast literal columns (T6)
    for (hook <- load.hooks.firstLine; line <- firstLineValue;
         (k, v) <- hook(line)) df = df.withColumn(k, lit(v))
    // per-field hooks (T4): "*" applies to every declared column
    val dataCols = df.columns.filterNot(c => c == "_file" || c == "_lineno")
    load.hooks.fieldHooks.foreach {
      case ("*", fn) => dataCols.foreach(c => df = df.withColumn(c, fn(col(c))))
      case (c, fn) if df.columns.contains(c) => df = df.withColumn(c, fn(col(c)))
      case _ =>
    }
    // row hook (T5), optionally with previous-row struct (W1): lag over
    // file order — one shuffle on _file, matching the reference's
    // per-file sequential semantics
    if (load.hooks.needPrevRow) {
      val w = Window.partitionBy(col("_file")).orderBy(col("_lineno"))
      df = df.withColumn("_prev", lag(struct(dataCols.map(col): _*), 1).over(w))
    }
    load.hooks.rowHook.foreach(fn => df = fn(df))
    df.drop("_prev")
  }

  /** Full run: read → hooks → coerce → store, in one pass: the store's
    * own job parses, coerces and writes the batch (nothing is cached). An
    * [[ErrorSample]] taps the coerced batch before any merge shuffle; the
    * result's errors are the first 100 in partition order. The first
    * severity-2 error a task meets fails that job before the store commits
    * anything, and `run` throws it as an `IllegalStateException`. With
    * several severity-2 errors in different files it names the first in
    * whichever task failed, not necessarily the first in partition order. */
  def run(spark: SparkSession, paths: Seq[String], load: Load,
          table: String): LoadResult = {
    val firstLine = load.hooks.firstLine.flatMap { _ =>
      load.source match {
        case TextSpec(fmt) => Some(TextSource.firstLine(spark, paths.head, fmt))
        case _ => None
      }
    }
    val hooked = applyHooks(spark, read(spark, paths, load), load, firstLine)
    val schema = load.db.targetSchema
    val errors = new ErrorSample
    val toStore =
      if (schema.isEmpty) hooked.drop("_file")
      else {
        spark.sparkContext.register(errors, "graft load errors")
        val tapped = SchemaCoercion(hooked, schema, load.db.cutoffYr2000)
          .filter(ErrorSample.tap(col("_errors"), errors))
        val keep = schema.filterNot(_.identity).map(_.name).filter(tapped.columns.contains)
        if (keep.nonEmpty) tapped.select((keep.map(col) :+ col("_lineno")): _*)
        else tapped.drop("_file", "_errors")
      }
    val n =
      try ParquetTable.store(spark, toStore, table, load.db)
      catch {
        case e: Exception =>
          throw ErrorSample.severity2(e).fold[Throwable](e)(new IllegalStateException(_, e))
      }
    LoadResult(n, errors.value, stored = true)
  }
}
