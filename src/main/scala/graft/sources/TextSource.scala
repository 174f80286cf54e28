package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.plans.GraftExtensions

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
    dropEmptyFirstField: Boolean = true) {
  def targets: Seq[String] = if (targetHeader.nonEmpty) targetHeader else header
  def isFixedWidth: Boolean = poslen.nonEmpty
}

/** Order-faithful text scan: each input file becomes `(_file, _lineno,
  * columns…)` rows with the reference's skip/split/trim/normalize pipeline.
  *
  * Implementation is per-file (Spark `binaryFile` source + JVM-charset
  * decode + regex record split): a file is one row until its lines are
  * exploded, so the skip prefix, the empty-line drop and the 1-based line
  * numbers are all computed inside that row — the reference's per-file
  * line index (`Wrap/File.pm:102,109`, SURVEY.md §4.2) with no exchange
  * and no sort. For loads that don't need line fidelity, the plain
  * splittable CSV reader path (`readCsv`) scales to arbitrarily large
  * single files; both return the same schema.
  */
object TextSource {

  /** Column-metadata marker: the ordering column is a split-order
    * surrogate, unusable for last-wins upsert resolution. */
  val OrderSurrogateKey = "graft_order_surrogate"

  /** A `binaryFile` row's content as its array of raw lines. Spark 4's
    * `decode()` whitelists charsets (no windows-1252 without a legacy
    * conf), so the bytes go through the JVM charset: one call per file. */
  private def rawLines(fmt: TextFormat): Column = {
    val decodeUdf = udf((b: Array[Byte]) =>
      new String(b, java.nio.charset.Charset.forName(fmt.encoding)))
    val recSep = if (fmt.allowLinefeedInData) "\r\n" else fmt.eol
    split(decodeUdf(col("content")), recSep)
  }

  /** Line-faithful read (binaryFile path). Each file is parsed, numbered
    * and cleaned in the scan stage, one task per file — right for the
    * reference's many-medium-files shape; use [[readCsv]] for huge single
    * files. */
  def read(spark: SparkSession, paths: Seq[String], fmt: TextFormat): DataFrame = {
    val files = spark.read.format("binaryFile").load(paths: _*)
      .select(col("path").as("_file"), rawLines(fmt).as("_lines"))

    // drop the skip prefix (k lines, or up to and incl. the first
    // matching line) and the empty lines by raw line index `i`; the
    // filter feeds posexplode directly — exploding a column would let the
    // optimizer infer a non-empty filter on it and push the whole
    // per-file expression below the projection
    val (withSkip, kept) = fmt.skipUntil match {
      case Some(pattern) =>
        // 1-based index of the first match, 0 when none: a column of its
        // own, so it is computed once per file, not once per line
        val at = col("_at")
        (files.withColumn("_at",
            array_position(transform(col("_lines"), _.rlike(pattern)), true)),
          filter(col("_lines"), (l, i) => l =!= "" && at > 0 && i >= at))
      case None =>
        (files, filter(col("_lines"), (l, i) => l =!= "" && i >= fmt.skip))
    }
    val numbered = withSkip.select(col("_file"),
      posexplode(kept).as(Seq("_pos", "_raw")))

    // field extraction
    val fields: Seq[Column] =
      if (fmt.isFixedWidth) {
        fmt.poslen.map { case (start, end) =>
          substring(col("_raw"), start + 1, end - start)
        }
      } else if (fmt.quoted) {
        val schema = StructType(fmt.header.map(StructField(_, StringType)))
        // escape = quote char: Text::CSV semantics (doubled "" inside a
        // quoted field is a literal quote) — Spark's default escape is
        // backslash, which would pass `"a ""b"" c"` through unparsed
        val parsed = from_csv(col("_raw"), schema,
          Map("sep" -> fmt.sep, "escape" -> "\""))
        fmt.header.map(h => parsed.getField(h))
      } else {
        val sepRegex = if (fmt.sepIsRegex) fmt.sep else java.util.regex.Pattern.quote(fmt.sep)
        val arr = split(col("_raw"), sepRegex)
        // a short line's missing fields are NULL (element_at throws
        // under ANSI)
        fmt.header.indices.map(i => try_element_at(arr, lit(i + 1)))
      }

    // trim + locale normalization (Wrap/File.pm:454-456), rename to target
    val cleaned = fields.zip(fmt.targets).map { case (f, name) =>
      val t = trim(f)
      val n = if (fmt.normalizeNumerics)
        GraftExtensions.normalize_numerics(t, fmt.thousandSep, fmt.decimalSep)
      else t
      n.as(name)
    }

    // 1-based per-file line numbers in file order
    val projected = numbered.select(
      col("_file") +: (col("_pos") + 1).cast("long").as("_lineno") +: cleaned: _*)
    if (fmt.dropEmptyFirstField)
      projected.filter(coalesce(col(fmt.targets.head), lit("")) =!= "")
    else projected
  }

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
    * `Wrap/File.pm:77-83`): decoded and split like [[read]], extracted
    * driver-side, to be broadcast as a literal into the load. */
  def firstLine(spark: SparkSession, path: String, fmt: TextFormat): String =
    spark.read.format("binaryFile").load(path)
      .select(rawLines(fmt).getItem(0))
      .head().getString(0)
}
