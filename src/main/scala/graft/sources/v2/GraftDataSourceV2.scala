package graft.sources.v2

import graft.functions.Coerce
import graft.sources.{ExcelRows, SourceFormat, TextFormat, XlsSource, XlsxFormat, XlsxSource, XmlFormat, XmlSource}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, LessThan, LessThanOrEqual, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 registration for the engine's custom file formats
  * (SURVEY.md §2.1 S1-S5 as *table providers*):
  *
  * {{{
  * spark.read.format("graft-xlsx").option("header", "a,b")
  *   .option("worksheetId", "1").load(path)
  * spark.read.format("graft-xls")  ... // BIFF8
  * spark.read.format("graft-xml").option("xpathRecordLevel", "//r")
  *   .option("xpath.a", "key").load(path)
  * spark.read.format("graft-fixed").option("poslen", "0-3,3-7").load(path)
  * }}}
  *
  * Why DSv2 rather than the object API alone: Catalyst's column pruning
  * reaches the scan ([[GraftScanBuilder]] implements
  * `SupportsPushDownRequiredColumns`), so a 2-column projection over a
  * 40-column workbook only pays per-cell conversion for 2 columns, an XML
  * query only evaluates the XPaths it selects, and a fixed-width scan only
  * substrings requested spans.
  *
  * Scale shape: one [[InputPartition]] per file (these container formats
  * are not splittable — parallelism is across files, the reference's
  * many-medium-files model, `Wrap/File.pm:154-187`). Readers stream bytes
  * through Hadoop `FileSystem`, so any cluster filesystem works; readers
  * resolve it from the session's Hadoop conf, shipped with the scan.
  *
  * Each format has one reader: the object entries `TextSource.read`,
  * `XlsxSource.read`, `XlsSource.read` and `XmlSource.read` are
  * [[GraftDataSourceV2.scan]]s of their format (`graft-text`/`graft-fixed`
  * are the one implementation of the [[TextFormat]] law).
  *
  * All schemas are `(_file string, _lineno long, <declared>string…)`
  * — identical to the classic paths; coercion stays a downstream concern
  * ([[graft.pipeline.SchemaCoercion]]).
  */
object GraftDataSourceV2 {

  /** Option map with case-insensitive simple keys but case-PRESERVING
    * prefixed keys (`xpath.<col>`, `ns.<prefix>` name columns/prefixes). */
  final case class Opts(lower: Map[String, String], exact: Map[String, String]) {
    def get(k: String): Option[String] = lower.get(k.toLowerCase)
    def apply(k: String): String = get(k).getOrElse(
      throw new IllegalArgumentException(s"missing required option '$k'"))
    def getOrElse(k: String, d: String): String = get(k).getOrElse(d)
    def prefixed(prefix: String): Map[String, String] = exact.collect {
      case (k, v) if k.length > prefix.length &&
        k.substring(0, prefix.length).equalsIgnoreCase(prefix) =>
        k.substring(prefix.length) -> v
    }
  }

  def opts(m: util.Map[String, String]): Opts = {
    val exact = m.asScala.toMap
    Opts(exact.map { case (k, v) => k.toLowerCase -> v }, exact)
  }

  def csvList(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  def intList(s: String): Seq[Int] = csvList(s).map(_.toInt)
  def poslenList(s: String): Seq[(Int, Int)] = csvList(s).map { p =>
    p.split("-").map(_.trim) match {
      case Array(a, b) => (a.toInt, b.toInt)
      case _ => throw new IllegalArgumentException(s"bad poslen entry '$p'")
    }
  }

  def excelFormat(o: Opts): XlsxFormat = XlsxFormat(
    header = csvList(o("header")),
    targetHeader = o.get("targetHeader").map(csvList).getOrElse(Nil),
    worksheet = o.get("worksheet"),
    worksheetId = o.get("worksheetId").map(_.toInt),
    skip = o.getOrElse("skip", "0").toInt,
    headerColumns = o.get("headerColumns").map(intList).getOrElse(Nil),
    dateColumns = o.get("dateColumns").map(intList).getOrElse(Nil),
    stopOnEmptyValueColumn = o.get("stopOnEmptyValueColumn").map(_.toInt),
    thousandSep = o.getOrElse("thousandSep", ","),
    decimalSep = o.getOrElse("decimalSep", "."),
    normalizeNumerics = o.getOrElse("normalizeNumerics", "true").toBoolean)

  def xmlFormat(o: Opts): XmlFormat = XmlFormat(
    header = o.get("header").map(csvList)
      .getOrElse(o.prefixed("xpath.").keys.toSeq.sorted),
    xpathRecordLevel = o("xpathRecordLevel"),
    fieldXpath = o.prefixed("xpath."),
    namespaces = o.prefixed("ns."),
    thousandSep = o.getOrElse("thousandSep", ","),
    decimalSep = o.getOrElse("decimalSep", "."),
    normalizeNumerics = o.getOrElse("normalizeNumerics", "true").toBoolean)

  /** A `graft-text` / `graft-fixed` option map as its [[TextFormat]];
    * `graft-fixed` requires `poslen`, `graft-text` ignores it. */
  def textFormat(kind: String, o: Opts): TextFormat = TextFormat(
    header = csvList(o("header")),
    targetHeader = o.get("targetHeader").map(csvList).getOrElse(Nil),
    sep = o.getOrElse("sep", "\t"),
    sepIsRegex = o.getOrElse("sepIsRegex", "false").toBoolean,
    quoted = o.getOrElse("quoted", "false").toBoolean,
    skip = o.getOrElse("skip", "0").toInt,
    skipUntil = o.get("skipUntil"),
    poslen = if (kind == "graft-fixed") poslenList(o("poslen")) else Nil,
    eol = o.getOrElse("eol", "\r?\n"),
    encoding = o.getOrElse("encoding", "UTF-8"),
    allowLinefeedInData = o.getOrElse("allowLinefeedInData", "false").toBoolean,
    thousandSep = o.getOrElse("thousandSep", ","),
    decimalSep = o.getOrElse("decimalSep", "."),
    normalizeNumerics = o.getOrElse("normalizeNumerics", "true").toBoolean,
    dropEmptyFirstField = o.getOrElse("dropEmptyFirstField", "true").toBoolean)

  /** A provider's option map as its parsed format. */
  def formatOf(kind: String, o: Opts): SourceFormat = kind match {
    case "graft-xml" => xmlFormat(o)
    case "graft-fixed" | "graft-text" => textFormat(kind, o)
    case _ => excelFormat(o)
  }

  def fullSchema(kind: String, o: Opts): StructType = schemaOf(formatOf(kind, o).columns)

  /** `(_file, _lineno, columns…)`, the columns all strings. */
  def schemaOf(columns: Seq[String]): StructType = StructType(
    StructField("_file", StringType) +: StructField("_lineno", LongType) +:
      columns.map(StructField(_, StringType)))

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `load(paths…)` → `paths` JSON array; `load(path)` → `path`. */
  def inputPaths(o: Opts): Seq[String] = {
    val multi = o.get("paths").toSeq
      .flatMap(js => json.readValue(js, classOf[Array[String]]).toSeq)
    val single = o.get("path").toSeq
    val all = multi ++ single
    if (all.isEmpty) throw new IllegalArgumentException("no path given to load()")
    all
  }

  // ---- the TextFormat law: graft-text, graft-fixed and TextSource.read ----

  /** Spark-`trim` parity: strip ' ' only (Java `trim` also strips
    * control chars). */
  def trimSpaces(s: String): String = {
    var i = 0; var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** Minimal quoted-CSV line split (Text::CSV semantics: quotes only where
    * needed, doubled quote inside a quoted field = literal quote). `sep`
    * is a literal string here. */
  def splitQuoted(line: String, sep: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = line.length
    while (i <= n) { // one field per iteration
      if (i == n) { out += ""; i += 1 } // sep at EOL → trailing empty field
      else if (line.charAt(i) == '"') {
        // quoted field: scan to the closing quote ("" = literal ")
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (!closed && j < n) {
          val c = line.charAt(j)
          if (c == '"') {
            if (j + 1 < n && line.charAt(j + 1) == '"') { sb.append('"'); j += 2 }
            else { closed = true; j += 1 }
          } else { sb.append(c); j += 1 }
        }
        out += sb.toString
        i = if (j < n && line.startsWith(sep, j)) j + sep.length else n + 1
      } else {
        val next = line.indexOf(sep, i)
        if (next < 0) { out += line.substring(i); i = n + 1 }
        else { out += line.substring(i, next); i = next + sep.length }
      }
    }
    out.toIndexedSeq
  }

  /** `Pattern.split(line, -1)` of the quoted, non-empty `sep`, without
    * the regex engine. */
  def splitLiteral(line: String, sep: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var at = line.indexOf(sep)
    while (at >= 0) {
      out += line.substring(from, at)
      from = at + sep.length
      at = line.indexOf(sep, from)
    }
    out += line.substring(from)
    out.toArray
  }

  /** A file's raw records: its bytes decoded in the format's charset
    * (the JVM charset, so cp1252 works), split on the record separator —
    * CRLF alone under `allowLinefeedInData`, so bare LFs stay inside
    * values. Empty records are kept; the parse drops them. */
  def records(content: Array[Byte], fmt: TextFormat): Array[String] =
    new String(content, java.nio.charset.Charset.forName(fmt.encoding))
      .split(if (fmt.allowLinefeedInData) "\r\n" else fmt.eol, -1)

  /** A file's bytes, through the Hadoop FileSystem `conf` resolves. */
  def readBytes(path: String, conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** The object readers' scan: the `kind` table of the parsed `fmt`
    * itself, so a text header stays verbatim where a `header` option
    * would be split and trimmed. It is planned like a
    * `spark.read.format(kind)` load, pushdowns included. */
  def scan(spark: SparkSession, kind: String, paths: Seq[String],
           fmt: SourceFormat): DataFrame = {
    val table = new GraftFormatTable(kind, schemaOf(fmt.columns),
      Map("paths" -> json.writeValueAsString(paths.toArray)).asJava, Some(fmt))
    GraftColumnBridge.ofRows(spark, DataSourceV2Relation.create(table, None, None))
  }

  /** Which pushed filters this source can exploit, and how:
    *
    *  - `_file` predicates (equality, IN, prefix/suffix/contains) prune
    *    the driver-side FILE LISTING — the DSv2 analogue of partition
    *    pruning. A staging directory of thousands of drop files queried
    *    for one file plans one input partition, not thousands.
    *  - `_lineno` upper bounds (`=`, `<`, `<=`) stop the text/fixed
    *    parser EARLY — a header-probe query over multi-GB drop files
    *    parses k lines per file instead of all of them.
    *
    * Every accepted filter is ALSO returned as a residual for Spark to
    * re-evaluate (the pruning is sufficient for `_file` and upper-bound
    * `_lineno`, but re-checking costs one codegen'd comparison and keeps
    * the contract trivially safe — e.g. `_lineno = 5` prunes to the
    * first 5 lines, the residual selects the 5th). */
  def acceptsFilter(kind: String, f: Filter): Boolean = f match {
    case EqualTo("_file", _: String) => true
    case In("_file", vs) => vs.forall(_.isInstanceOf[String])
    case StringStartsWith("_file", _) | StringEndsWith("_file", _) |
         StringContains("_file", _) => true
    case EqualTo("_lineno", _: Number) | LessThan("_lineno", _: Number) |
         LessThanOrEqual("_lineno", _: Number) =>
      kind == "graft-text" || kind == "graft-fixed"
    case _ => false
  }

  /** The parse-stop bound implied by the pushed `_lineno` filters:
    * lines numbered above it can never satisfy them. */
  def linenoBound(pushed: Seq[Filter]): Long =
    pushed.collect {
      case EqualTo("_lineno", n: Number) => n.longValue
      case LessThanOrEqual("_lineno", n: Number) => n.longValue
      // saturating subtraction: a degenerate `< Long.MinValue` filter
      // would wrap to Long.MaxValue and silently disable the early-stop
      // (residual keeps values correct either way; this keeps pruning)
      case LessThan("_lineno", n: Number) =>
        if (n.longValue == Long.MinValue) Long.MinValue else n.longValue - 1
    }.foldLeft(Long.MaxValue)(math.min)

  /** Does `path` survive the pushed `_file` predicates? Compared against
    * the same string the `_file` column carries (the partition's path),
    * so pruning can never disagree with row values. */
  def fileSurvives(pushed: Seq[Filter], path: String): Boolean =
    pushed.forall {
      case EqualTo("_file", v: String) => path == v
      case In("_file", vs) => vs.exists(v => v == path)
      case StringStartsWith("_file", p) => path.startsWith(p)
      case StringEndsWith("_file", s) => path.endsWith(s)
      case StringContains("_file", s) => path.contains(s)
      case _ => true // _lineno filters don't constrain the file set
    }

  /** One file's rows under the law, projected to `wanted`: the skip
    * prefix (`skip` raw lines, or up to and including the first
    * `skipUntil` match) goes, empty lines are dropped, the rest numbered
    * from 1 as `_lineno`; fields (fixed-width spans, quoted-CSV fields or
    * separator splits) are trimmed and locale-normalized; a field past a
    * short line's end is NULL, a span past it ""; in quoted mode an empty
    * field, bare or `""`, is NULL as in Spark's CSV reader;
    * `dropEmptyFirstField` drops rows after numbering. Only `wanted`
    * columns pay per-field cleanup, and parsing stops after `maxLineno`. */
  def textProjected(path: String, content: Array[Byte], fmt: TextFormat,
                    wanted: Seq[String], maxLineno: Long = Long.MaxValue): Iterator[Seq[Any]] = {
    val lines = records(content, fmt).iterator.zipWithIndex
    val afterSkip: Iterator[String] = fmt.skipUntil match {
      case Some(pattern) =>
        val rx = pattern.r
        var found = false
        lines.collect { case (l, _) if found || {
          if (rx.findFirstIn(l).isDefined) found = true; false } => l }
      case None => lines.collect { case (l, idx) if idx >= fmt.skip => l }
    }
    def clean(s: String): String = {
      val t = trimSpaces(s)
      if (fmt.normalizeNumerics)
        Coerce.normalizeNumerics(t, fmt.thousandSep, fmt.decimalSep)
      else t
    }
    // raw line → positional field lookup (fixed: lazy per-span substring;
    // split modes: one split, then per-index access; a regex or the
    // degenerate empty separator needs the regex engine)
    val sepRegex =
      if (fmt.isFixedWidth || fmt.quoted) null
      else if (fmt.sepIsRegex || fmt.sep.isEmpty) java.util.regex.Pattern.compile(fmt.sep)
      else null
    def fields(raw: String): Int => String =
      if (fmt.isFixedWidth) { i =>
        val (start, end) = fmt.poslen(i)
        val s = math.min(start, raw.length)
        val e = math.min(end, raw.length)
        clean(if (e > s) raw.substring(s, e) else "")
      } else if (fmt.quoted) {
        val parts = splitQuoted(raw, fmt.sep)
        i => if (i < parts.length && parts(i).nonEmpty) clean(parts(i)) else null
      } else {
        val parts = if (sepRegex != null) sepRegex.split(raw, -1) else splitLiteral(raw, fmt.sep)
        i => if (i < parts.length) clean(parts(i)) else null
      }
    val idxByTarget: Map[String, Int] = fmt.targets.zipWithIndex.toMap
    // per output column: -1 `_file`, -2 `_lineno`, else the field index
    val slots: Array[Int] = wanted.map {
      case "_file" => -1
      case "_lineno" => -2
      case t => idxByTarget.getOrElse(t,
        throw new IllegalArgumentException(s"unknown column $t"))
    }.toArray
    var lineno = 0L
    // `lineno` counts lines already numbered; once it reaches the pushed
    // upper bound, no later line can satisfy the filters — stop parsing
    afterSkip.filter(_.nonEmpty).takeWhile(_ => lineno < maxLineno).flatMap { raw =>
      lineno += 1
      val f = fields(raw)
      if (fmt.dropEmptyFirstField && {
        val v = f(0); v == null || v.isEmpty }) None
      else {
        Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(slots.map[Any] {
          case -1 => path
          case -2 => lineno
          case k => f(k)
        }))
      }
    }
  }
}

/** One file = one non-splittable partition. */
final case class GraftInputPartition(path: String) extends InputPartition

/** Parses one file per reader in the scan's parsed format `fmt`. `conf`
  * is the session's Hadoop conf: its file-system settings reach
  * executors. */
final class GraftPartitionReaderFactory(
    kind: String, fmt: SourceFormat,
    wanted: Seq[String], maxLineno: Long, conf: SerializableConfiguration)
  extends PartitionReaderFactory {
  import GraftDataSourceV2._

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val filePath = p.asInstanceOf[GraftInputPartition].path
    new PartitionReader[InternalRow] {
      private val rows: Iterator[Seq[Any]] = {
        val content = readBytes(filePath, conf.value)
        (kind, fmt) match {
          case (_, f: TextFormat) =>
            textProjected(filePath, content, f, wanted, maxLineno)
          case ("graft-xls", f: XlsxFormat) =>
            val (cells, maxRow) = XlsSource.sheetCells(filePath, content, f)
            ExcelRows.emitProjected(filePath, cells, maxRow, f, wanted)
          case (_, f: XlsxFormat) =>
            val (cells, maxRow) = XlsxSource.sheetCells(content, f)
            ExcelRows.emitProjected(filePath, cells, maxRow, f, wanted)
          case (_, f: XmlFormat) =>
            XmlSource.parseProjected(filePath, content, f, wanted)
          case (other, _) =>
            throw new IllegalStateException(s"unknown graft format $other")
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && {
        current = new GenericInternalRow(rows.next().iterator.map {
          case s: String => UTF8String.fromString(s)
          case other => other // Long _lineno or null
        }.toArray)
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

final class GraftScan(kind: String, options: Map[String, String],
                      fmt: SourceFormat, required: StructType,
                      pushed: Seq[Filter] = Seq.empty)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import GraftDataSourceV2._
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()
  // one driver-side listing serves partition planning AND statistics;
  // pushed `_file` predicates prune it BEFORE partitions are planned
  private lazy val files: Seq[org.apache.hadoop.fs.FileStatus] = {
    inputPaths(opts(options.asJava)).flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (matched.isEmpty)
        throw new java.io.FileNotFoundException(s"no files match $p")
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(f => !f.isDirectory &&
            !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        else Seq(st)
      }
    }.filter(st => fileSurvives(pushed, st.getPath.toString))
  }
  override def planInputPartitions(): Array[InputPartition] =
    files.map(st => GraftInputPartition(st.getPath.toString): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftPartitionReaderFactory(kind, fmt, required.fieldNames.toSeq,
      linenoBound(pushed), new SerializableConfiguration(conf))
  /** Without statistics a DSv2 relation reports `defaultSizeInBytes`
    * (effectively infinite), so a small workbook/XML dim joined to a fact
    * table would never broadcast. Total file size is an upper bound on
    * the materialized size for these row-oriented formats — good enough
    * for the broadcast-threshold decision that matters at scale. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, files.map(_.getLen).sum))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def description(): String =
    s"$kind ReadSchema: ${required.fieldNames.mkString(", ")}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
}

final class GraftScanBuilder(kind: String, schema: StructType,
                             options: Map[String, String],
                             fmt: SourceFormat)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  import GraftDataSourceV2._
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the table's field order; Spark may hand fields in any order
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(schema.fields.filter(f => keep.contains(f.name)))
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => acceptsFilter(kind, f))
    // everything stays residual: the source prunes files / stops the
    // parser early, Spark still applies the exact predicates
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GraftScan(kind, options, fmt, required, pushed.toSeq)
}

/** `format`: the parsed format [[GraftDataSourceV2.scan]] hands over; a
  * provider's table parses it from the options. */
final class GraftFormatTable(kind: String, tableSchema: StructType,
                             properties: util.Map[String, String],
                             format: Option[SourceFormat] = None)
  extends Table with SupportsRead {
  import GraftDataSourceV2._
  override def name(): String = kind
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // merge table properties (from getTable) with per-scan options; the
    // scan's map carries the read paths
    val merged = new util.HashMap[String, String](properties)
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new GraftScanBuilder(kind, tableSchema, merged.asScala.toMap,
      format.getOrElse(formatOf(kind, opts(merged))))
  }
}

abstract class GraftProviderBase(kind: String)
  extends TableProvider with DataSourceRegister {
  import GraftDataSourceV2._
  override def shortName(): String = kind
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    fullSchema(kind, opts(options.asCaseSensitiveMap()))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftFormatTable(kind, schema, properties)
}

final class GraftXlsxProvider extends GraftProviderBase("graft-xlsx")
final class GraftXlsProvider extends GraftProviderBase("graft-xls")
final class GraftXmlProvider extends GraftProviderBase("graft-xml")
final class GraftFixedProvider extends GraftProviderBase("graft-fixed")
final class GraftTextProvider extends GraftProviderBase("graft-text")
