package graft.pipeline

import graft.pipeline.Config._
import graft.sinks.{ParquetFooters, ParquetTable}
import graft.sources.{TextFormat, TextSource, XlsSource, XlsxFormat, XlsxSource, XmlFormat, XmlSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The import pipeline end-to-end (SURVEY.md §3.1): staged files → format
  * dispatch → field/row hooks (with optional previous-row context) →
  * catalog-driven coercion → conflict-strategy store, atomically. The
  * declarative middle (read → hooks → coerce) stays one Catalyst plan;
  * only acquisition and the commit are driver-side.
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

  /** Errors a [[LoadResult]] reports: the first ones in scan order. */
  private val ErrorSample = 100

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

  /** Full run: read → hooks → coerce → severity gate → store. */
  def run(spark: SparkSession, paths: Seq[String], load: Load,
          table: String): LoadResult = {
    val firstLine = load.hooks.firstLine.flatMap { _ =>
      load.source match {
        case TextSpec(fmt) => Some(TextSource.firstLine(spark, paths.head, fmt))
        case _ => None
      }
    }
    val ingest = read(spark, paths, load)
    val hooked = applyHooks(spark, ingest, load, firstLine)
    val coerced =
      if (load.db.targetSchema.nonEmpty) SchemaCoercion(hooked, load.db.targetSchema)
      else hooked.withColumn("_errors", array().cast("array<string>"))

    // cache: the error job and the store read the same plan once. One
    // job over every row builds the cache and returns, per partition, its
    // first 100 errors and its first severity-2 error (string overflow,
    // the abort rides the same `_errors` channel — no width-scan job).
    // In partition order, the first 100 are the sample and the first
    // severity-2 error aborts the load.
    val materialized = coerced.cache()
    val perPartition = materialized.select(col("_errors"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val sample = Vector.newBuilder[String]
        var sampled = 0
        var sev2: Option[String] = None
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val es = r.getArray(0)
          for (i <- 0 until es.numElements()) {
            val e = es.getUTF8String(i).toString
            if (sampled < ErrorSample) { sample += e; sampled += 1 }
            if (sev2.isEmpty && e.startsWith(SchemaCoercion.Severity2Prefix))
              sev2 = Some(e)
          }
        }
        Iterator((sample.result(), sev2))
      }.collect()
    val errors = perPartition.iterator.flatMap(_._1).take(ErrorSample).toSeq
    val sev2 = perPartition.iterator.flatMap(_._2).nextOption()
    sev2.foreach { msg =>
      materialized.unpersist()
      throw new IllegalStateException(msg)
    }
    val keep = load.db.targetSchema.filterNot(_.identity).map(_.name)
      .filter(materialized.columns.contains)
    val toStore =
      if (keep.nonEmpty) materialized.select((keep.map(col) :+ col("_lineno")): _*)
      else materialized.drop("_file", "_errors")
    ParquetTable.store(spark, toStore, table, load.db)
    val n = ParquetFooters.rowCount(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(table))
    materialized.unpersist()
    LoadResult(n, errors, stored = true)
  }
}
