package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.v2.GraftDataSourceV2

/** A parsed source format, the one thing a graft DSv2 scan
  * ([[graft.sources.v2.GraftDataSourceV2.scan]]) needs to read a file:
  * the scan yields `(_file, _lineno, columns…)`. */
trait SourceFormat {
  def columns: Seq[String]
}

/** Declarative text-file format — the engine's `LoadConfig.File` subset for
  * delimited / quoted-CSV / fixed-width text (SURVEY.md §2.1 S1/S2,
  * reference `Wrap/File.pm:12-140`).
  *
  * @param header        declared source columns (`format_header`)
  * @param targetHeader  renamed target columns (`format_targetheader`);
  *                      empty → header
  * @param sep           separator; a plain string, or a regex when
  *                      `sepIsRegex` (the reference passes the raw string to
  *                      Perl `split`, where metacharacters make it a regex)
  * @param quoted        quoted-CSV mode (`format_quotedcsv`, Text::CSV
  *                      semantics: quotes only where needed)
  * @param skip          skip the first k lines (`format_skip` integer form)
  * @param skipUntil     or skip until a line matches this regex, inclusive
  *                      (`format_skip` string form)
  * @param poslen        fixed-width (start,end) byte offsets per column
  *                      (`format_poslen`; `format_sep => "fix..."`)
  * @param eol           record-separator regex (`format_eol`)
  * @param encoding      file charset (the reference re-encodes cp1252,
  *                      `Wrap/File.pm:79`)
  * @param allowLinefeedInData CRLF-only records so bare LFs survive inside
  *                      values (`format_allowLinefeedInData`)
  * @param thousandSep / decimalSep  locale separators for
  *                      `normalizeNumerics` (`Wrap/File.pm:445`)
  * @param dropEmptyFirstField  reference drops rows with an empty first
  *                      field when no row hook is configured
  *                      (`Wrap/File.pm:127`)
  */
case class TextFormat(
    header: Seq[String],
    targetHeader: Seq[String] = Nil,
    sep: String = "\t",
    sepIsRegex: Boolean = false,
    quoted: Boolean = false,
    skip: Int = 0,
    skipUntil: Option[String] = None,
    poslen: Seq[(Int, Int)] = Nil,
    eol: String = "\r?\n",
    encoding: String = "UTF-8",
    allowLinefeedInData: Boolean = false,
    thousandSep: String = ",",
    decimalSep: String = ".",
    normalizeNumerics: Boolean = true,
    dropEmptyFirstField: Boolean = true) extends SourceFormat {
  def targets: Seq[String] = if (targetHeader.nonEmpty) targetHeader else header
  def columns: Seq[String] = targets
  def isFixedWidth: Boolean = poslen.nonEmpty
}

/** Order-faithful text scan: each input file becomes `(_file, _lineno,
  * columns…)` rows with the reference's skip/split/trim/normalize pipeline.
  *
  * [[read]] is the `graft-text` scan of the format
  * ([[graft.sources.v2.GraftDataSourceV2.textProjected]] is the one
  * implementation of the [[TextFormat]] law): one task per file parses,
  * numbers and cleans its lines — the reference's per-file line index
  * (`Wrap/File.pm:102,109`, SURVEY.md §4.2) with no exchange and no sort.
  * For loads that don't need line fidelity, the plain splittable CSV
  * reader path (`readCsv`) scales to arbitrarily large single files; both
  * return the same schema.
  */
object TextSource {

  /** Column-metadata marker: the ordering column is a split-order
    * surrogate, unusable for last-wins upsert resolution. */
  val OrderSurrogateKey = "graft_order_surrogate"

  /** Line-faithful read: one task per file, right for the reference's
    * many-medium-files shape; use [[readCsv]] for huge single files.
    * `_file` predicates, `_lineno` upper bounds and column pruning reach
    * the parser. */
  def read(spark: SparkSession, paths: Seq[String], fmt: TextFormat): DataFrame =
    GraftDataSourceV2.scan(spark,
      if (fmt.isFixedWidth) "graft-fixed" else "graft-text", paths, fmt)

  /** Splittable CSV path for huge files: Spark's native reader (predicate
    * pushdown, parallel splits) — same column contract, but `_lineno` is a
    * within-partition order surrogate, NOT file order across splits. It is
    * tagged with [[TextSource.OrderSurrogateKey]] column metadata, and
    * [[graft.sinks.ParquetTable.store]] rejects it as an Upsert ordering
    * column — last-wins against a surrogate would silently depend on split
    * planning. Use [[read]] (exact file order) for upsert loads, or
    * Append/DeleteInsert strategies here. */
  def readCsv(spark: SparkSession, paths: Seq[String], fmt: TextFormat): DataFrame = {
    val schema = StructType(fmt.header.map(StructField(_, StringType)))
    val base = spark.read
      .schema(schema)
      .option("sep", fmt.sep)
      .option("encoding", fmt.encoding)
      .option("header", "false")
      .csv(paths: _*)
    val renamed = fmt.header.zip(fmt.targets).foldLeft(base) {
      case (df, (h, t)) if h != t => df.withColumnRenamed(h, t)
      case (df, _) => df
    }
    val surrogateMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(TextSource.OrderSurrogateKey, true).build()
    val outCols = input_file_name().as("_file") +:
      monotonically_increasing_id().as("_lineno", surrogateMeta) +:
      fmt.targets.map(col)
    renamed.select(outCols: _*)
  }

  /** First line of a file (for `firstLineProc`-style hooks,
    * `Wrap/File.pm:77-83`): decoded and split into records by the law,
    * read on the driver, to be broadcast as a literal into the load. */
  def firstLine(spark: SparkSession, path: String, fmt: TextFormat): String =
    GraftDataSourceV2.records(
      GraftDataSourceV2.readBytes(path, spark.sessionState.newHadoopConf()), fmt).head
}
