package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Coerce
import graft.sources.v2.GraftDataSourceV2
import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element
import scala.collection.mutable

/** xlsx scan (SURVEY.md §2.1 S4, reference `readExcel`
  * `Wrap/File.pm:190-345`): worksheet by *name* or 1-based ordinal,
  * header-row verification against the declared header, positional column
  * selection (`format_headerColumns`), date columns (Excel serial →
  * `YYYYMMDD`), `stopOnEmptyValueColumn` truncation.
  *
  * No Excel connector ships with Spark; this is a JDK-only reader
  * (java.util.zip + DOM over the sheet XML), one file per task through the
  * `graft-xlsx` DSv2 scan. ETL-sized workbooks parse comfortably in-memory
  * per task; a StAX streaming variant is the upgrade path for
  * pathological sheet sizes.
  *
  * @param headerColumns 1-based physical column positions; empty → 1..n
  * @param worksheet     sheet name (xlsx only)
  * @param worksheetId   1-based ordinal position in workbook order
  * @param dateColumns   1-based positions converted from Excel serial dates
  *                      to YYYYMMDD (`convertEpochToYYYYMMDD` intent,
  *                      `Wrap/File.pm:207-210`)
  * @param stopOnEmptyValueColumn truncate at first empty cell in this
  *                      1-based column (`Wrap/File.pm:167-169, 202-205`)
  */
case class XlsxFormat(
    header: Seq[String],
    targetHeader: Seq[String] = Nil,
    worksheet: Option[String] = None,
    worksheetId: Option[Int] = None,
    skip: Int = 0,
    headerColumns: Seq[Int] = Nil,
    dateColumns: Seq[Int] = Nil,
    stopOnEmptyValueColumn: Option[Int] = None,
    thousandSep: String = ",",
    decimalSep: String = ".",
    normalizeNumerics: Boolean = true) extends SourceFormat {
  def targets: Seq[String] = if (targetHeader.nonEmpty) targetHeader else header
  def columns: Seq[String] = targets
}

object XlsxSource {

  /** The `graft-xlsx` scan of `paths` in `fmt`: column pruning and
    * `_file` pushdown reach the parser. */
  def read(spark: SparkSession, paths: Seq[String], fmt: XlsxFormat): DataFrame =
    excelScan(spark, "graft-xlsx", paths, fmt)

  /** The `kind` (`graft-xlsx` / `graft-xls`) scan of `paths` in `fmt`,
    * after the eager check that positional `headerColumns` match the
    * declared header. */
  private[sources] def excelScan(spark: SparkSession, kind: String,
                                 paths: Seq[String], fmt: XlsxFormat): DataFrame = {
    require(fmt.headerColumns.isEmpty ||
      (fmt.headerColumns.length == fmt.header.length &&
       fmt.headerColumns.length == fmt.targets.length),
      "format_headerColumns has different length than header/targetheader")
    GraftDataSourceV2.scan(spark, kind, paths, fmt)
  }

  /** "B3" → (3, 2): 1-based (row, col). */
  private[sources] def parseRef(ref: String): (Int, Int) = {
    val (letters, digits) = ref.span(_.isLetter)
    val colNum = letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1))
    (digits.toInt, colNum)
  }

  private[sources] def serialToYYYYMMDD(serial: Double): String =
    java.time.LocalDate.of(1899, 12, 30).plusDays(serial.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  private def zipEntries(content: Array[Byte]): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(content))
    val out = mutable.Map[String, Array[Byte]]()
    var e = zis.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zis.readAllBytes()
      e = zis.getNextEntry
    }
    out.toMap
  }

  private def dom(bytes: Array[Byte]) =
    DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new ByteArrayInputStream(bytes))

  private def childElems(e: org.w3c.dom.Node, name: String): Seq[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).map(nl.item).collect {
      case el: Element if el.getLocalName == name || el.getTagName == name ||
        el.getTagName.endsWith(":" + name) => el
    }
  }

  /** Sheet extraction alone (cells + max row) for the DSv2 scan
    * ([[graft.sources.v2]]), whose column pruning then drives
    * [[ExcelRows.emitProjected]]. */
  private[sources] def sheetCells(content: Array[Byte],
                                  fmt: XlsxFormat): (collection.Map[(Int, Int), String], Int) = {
    val entries = zipEntries(content)

    // sheet list in workbook order: (name, r:id)
    val wb = dom(entries("xl/workbook.xml"))
    val sheetEls = wb.getElementsByTagName("sheet")
    val sheets = (0 until sheetEls.getLength).map { i =>
      val el = sheetEls.item(i).asInstanceOf[Element]
      (el.getAttribute("name"),
        Option(el.getAttributeNS(
          "http://schemas.openxmlformats.org/officeDocument/2006/relationships", "id"))
          .filter(_.nonEmpty).getOrElse(el.getAttribute("r:id")))
    }
    val ordinal: Int = fmt.worksheet match {
      case Some(name) =>
        val idx = sheets.indexWhere(_._1 == name)
        if (idx < 0) throw new IllegalArgumentException(
          s"no worksheet named $name (try worksheetId)")
        idx
      case None => fmt.worksheetId.getOrElse(
        throw new IllegalArgumentException("neither worksheet name nor worksheetId given")) - 1
    }
    // r:id → target path via workbook rels
    val rels = dom(entries("xl/_rels/workbook.xml.rels"))
    val relEls = rels.getElementsByTagName("Relationship")
    val relMap = (0 until relEls.getLength).map { i =>
      val el = relEls.item(i).asInstanceOf[Element]
      el.getAttribute("Id") -> el.getAttribute("Target")
    }.toMap
    val target = relMap.getOrElse(sheets(ordinal)._2, s"worksheets/sheet${ordinal + 1}.xml")
    val sheetPath = if (target.startsWith("/")) target.drop(1)
      else if (target.startsWith("xl/")) target else s"xl/$target"

    // shared strings (plain and rich-text runs)
    val shared: IndexedSeq[String] = entries.get("xl/sharedStrings.xml").map { b =>
      val d = dom(b)
      val sis = d.getElementsByTagName("si")
      (0 until sis.getLength).map { i =>
        val si = sis.item(i).asInstanceOf[Element]
        val ts = si.getElementsByTagName("t")
        (0 until ts.getLength).map(j => ts.item(j).getTextContent).mkString
      }
    }.getOrElse(IndexedSeq.empty)

    // cells of the selected sheet: (row, col) → value
    val sheet = dom(entries(sheetPath))
    val cellEls = sheet.getElementsByTagName("c")
    val cells = mutable.Map[(Int, Int), String]()
    var maxRow = 0
    (0 until cellEls.getLength).foreach { i =>
      val c = cellEls.item(i).asInstanceOf[Element]
      val (row, col) = parseRef(c.getAttribute("r"))
      val t = c.getAttribute("t")
      val value: String = t match {
        case "s" =>
          childElems(c, "v").headOption.map(v => shared(v.getTextContent.trim.toInt)).getOrElse("")
        case "inlineStr" =>
          childElems(c, "is").headOption.map(_.getTextContent).getOrElse("")
        case _ => childElems(c, "v").headOption.map(_.getTextContent).getOrElse("")
      }
      cells((row, col)) = value
      if (row > maxRow) maxRow = row
    }
    (cells, maxRow)
  }
}

/** Shared sheet-to-rows semantics for BOTH Excel formats (xlsx here, xls
  * in [[XlsSource]]): header verification, `stopOnEmptyValueColumn`
  * truncation, declared date columns (serial → YYYYMMDD), trim +
  * numeric normalization — `Wrap/File.pm:154-187` (xls handler) and
  * `:190-230` (xlsx handler) implement these twice; the engine once. */
private[sources] object ExcelRows {

  /** Projected emit: only the `wanted` fields (`_file` / `_lineno` /
    * target names, in output order) are materialized — the per-cell work
    * (date-serial conversion, trim, numeric normalization) runs ONLY for
    * requested columns, which is what DSv2 column pruning buys. Header
    * verification and `stopOnEmptyValueColumn` still honor the FULL
    * declared format (they are row-level contract, not projection). */
  def emitProjected(path: String, cells: collection.Map[(Int, Int), String],
                    maxRow: Int, fmt: XlsxFormat,
                    wanted: Seq[String]): Iterator[Seq[Any]] = {
    val positions: Seq[Int] =
      if (fmt.headerColumns.nonEmpty) fmt.headerColumns else (1 to fmt.header.length)
    val headerRow = 1 + fmt.skip

    // header verification (Wrap/File.pm:198-200): log-level in the
    // reference; we surface it as an exception per column mismatch
    positions.zip(fmt.header).foreach { case (pos, expected) =>
      val actual = cells.getOrElse((headerRow, pos), "")
      if (actual != expected) throw new IllegalStateException(
        s"expected header '$expected' not in column $pos, instead got: $actual")
    }

    val posByTarget: Map[String, Int] = fmt.targets.zip(positions).toMap
    val stopCol = fmt.stopOnEmptyValueColumn
    val dateCols = fmt.dateColumns.toSet
    def cellValue(rowNo: Int, pos: Int): String = {
      val raw = cells.getOrElse((rowNo, pos), null)
      if (raw == null) null
      else {
        val v = if (dateCols.contains(pos) && raw.nonEmpty)
          XlsxSource.serialToYYYYMMDD(raw.toDouble)
        else raw
        val trimmed = v.trim
        if (fmt.normalizeNumerics)
          Coerce.normalizeNumerics(trimmed, fmt.thousandSep, fmt.decimalSep)
        else trimmed
      }
    }
    var stopped = false
    (headerRow + 1 to maxRow).iterator.flatMap { rowNo =>
      if (stopped) None
      else if (stopCol.exists(c => cells.getOrElse((rowNo, c), "").isEmpty)) {
        stopped = true; None
      } else Some(wanted.map {
        case "_file"   => path
        case "_lineno" => (rowNo - headerRow).toLong
        case t => cellValue(rowNo, posByTarget.getOrElse(t,
          throw new IllegalArgumentException(s"unknown column $t")))
      })
    }
  }
}
