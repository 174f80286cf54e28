package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Legacy `.xls` (BIFF8) scan — SURVEY.md §2.1 S3, the format the
  * reference reads through `Spreadsheet::ParseExcel`
  * (`Wrap/File.pm:154-187, 309-321`). Same contract and row semantics as
  * [[XlsxSource]] (shared [[ExcelRows]] emitter): worksheet by name or
  * 1-based ordinal (names work here too — an improvement over the
  * reference, which only supports ordinals for xls), header verification,
  * `headerColumns` positional selection, declared date columns
  * (serial → YYYYMMDD), `stopOnEmptyValueColumn` truncation.
  *
  * JDK-only BIFF8 record parser over the [[CfbFile]] container: BOF /
  * BOUNDSHEET locate worksheet substreams; SST (+CONTINUE, with re-stated
  * option flags at each continuation) feeds LABELSST; NUMBER / RK / MULRK
  * / LABEL / FORMULA(+STRING) produce cell values. One file per task
  * through the `graft-xls` DSv2 scan (xls is not splittable; parallelism is
  * across files, the reference's many-medium-files shape).
  */
object XlsSource {

  /** The `graft-xls` scan of `paths` in `fmt`: column pruning and `_file`
    * pushdown reach the parser. */
  def read(spark: SparkSession, paths: Seq[String], fmt: XlsxFormat): DataFrame =
    XlsxSource.excelScan(spark, "graft-xls", paths, fmt)

  // ---- BIFF8 record plumbing -------------------------------------------

  private case class Record(typ: Int, data: Array[Byte])

  private def records(stream: Array[Byte], from: Int): Iterator[Record] =
    new Iterator[Record] {
      private var pos = from
      def hasNext: Boolean = pos + 4 <= stream.length
      def next(): Record = {
        val bb = ByteBuffer.wrap(stream, pos, 4).order(ByteOrder.LITTLE_ENDIAN)
        val typ = bb.getShort() & 0xFFFF
        val len = bb.getShort() & 0xFFFF
        val data = java.util.Arrays.copyOfRange(stream, pos + 4, pos + 4 + len)
        pos += 4 + len
        Record(typ, data)
      }
    }

  /** Cursor over a record's data plus its CONTINUE blocks; string char
    * data may split at block boundaries (with the compression flag
    * re-stated), fixed fields may not (BIFF guarantees). */
  private final class ContinuedCursor(blocks: IndexedSeq[Array[Byte]]) {
    private var bi = 0
    private var off = 0
    private def block = blocks(bi)
    private def advanceIfDone(): Unit =
      while (bi < blocks.length - 1 && off >= block.length) { bi += 1; off = 0 }
    def remaining: Int = blocks.drop(bi).map(_.length).sum - off
    def u8(): Int = { advanceIfDone(); val v = block(off) & 0xFF; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = (u16().toLong | (u16().toLong << 16)) & 0xFFFFFFFFL
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        advanceIfDone()
        val take = math.min(left, (block.length - off).toLong).toInt
        off += take; left -= take
      }
    }
    /** XLUnicodeRichExtendedString char data: `cch` chars, compressed or
      * UTF-16LE. When char data spills into a CONTINUE block, that block's
      * first byte re-states the compression flag (MS-XLS §2.5.293). */
    def chars(cch: Int, wideInitial: Boolean): String = {
      val sb = new java.lang.StringBuilder(cch)
      var wide = wideInitial
      var left = cch
      while (left > 0 && remaining > 0) {
        advanceIfDone()
        if (off == 0 && bi > 0) wide = (u8() & 1) != 0
        val avail = (block.length - off) / (if (wide) 2 else 1)
        val take = math.min(left, avail)
        var i = 0
        while (i < take) {
          sb.append((if (wide) u16() else u8()).toChar)
          i += 1
        }
        left -= take
        if (take == 0) off = block.length // corrupt/odd block: skip forward
      }
      sb.toString
    }
  }

  /** Parse the SST record (+ its CONTINUEs) into the shared-string table. */
  private def parseSst(sst: Array[Byte], continues: Seq[Array[Byte]]): IndexedSeq[String] = {
    val cur = new ContinuedCursor((sst +: continues).toIndexedSeq)
    cur.skip(4) // total refs
    val unique = cur.u32().toInt
    (0 until unique).map { _ =>
      val cch = cur.u16()
      val grbit = cur.u8()
      val wide = (grbit & 1) != 0
      val rich = (grbit & 8) != 0
      val ext = (grbit & 4) != 0
      val runs = if (rich) cur.u16() else 0
      val extSz = if (ext) cur.u32() else 0L
      val s = cur.chars(cch, wide)
      cur.skip(runs.toLong * 4 + extSz)
      s
    }
  }

  private def decodeRk(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  /** Numeric cell → the text a user sees as "unformatted": integral values
    * without a decimal point (`cell->unformatted()` in the reference path),
    * others via Double.toString. */
  private[sources] def renderNumber(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def xlString(bb: ByteBuffer): String = {
    val cch = bb.getShort() & 0xFFFF
    val grbit = bb.get() & 0xFF
    val wide = (grbit & 1) != 0
    val bytes = new Array[Byte](cch * (if (wide) 2 else 1))
    bb.get(bytes)
    if (wide) new String(bytes, "UTF-16LE") else new String(bytes, "ISO-8859-1")
  }

  // ---- workbook parse --------------------------------------------------

  /** BIFF8 sheet extraction alone (cells + max row) for the DSv2 scan
    * ([[graft.sources.v2]]). */
  private[sources] def sheetCells(path: String, content: Array[Byte],
      fmt: XlsxFormat): (collection.Map[(Int, Int), String], Int) = {
    val cfb = CfbFile.parse(content)
    val stream = cfb.stream("Workbook").orElse(cfb.stream("Book")).getOrElse(
      throw new IllegalArgumentException(s"$path: no Workbook stream — not an xls file"))

    // globals substream: sheet directory + shared strings
    var sheets = Vector.empty[(String, Int)] // (name, stream offset)
    var sstParts: Option[(Array[Byte], mutable.ArrayBuffer[Array[Byte]])] = None
    var afterSst = false
    val globals = records(stream, 0)
    var depth = 0
    var done = false
    while (globals.hasNext && !done) {
      val r = globals.next()
      r.typ match {
        case 0x0809 => depth += 1 // BOF (globals)
        case 0x000A => depth -= 1; if (depth <= 0) done = true // EOF
        case 0x0085 => // BOUNDSHEET
          val bb = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
          val offset = bb.getInt()
          bb.getShort() // visibility + type
          val cch = bb.get() & 0xFF
          val grbit = bb.get() & 0xFF
          val nameBytes = new Array[Byte](cch * (if ((grbit & 1) != 0) 2 else 1))
          bb.get(nameBytes)
          val name = if ((grbit & 1) != 0) new String(nameBytes, "UTF-16LE")
                     else new String(nameBytes, "ISO-8859-1")
          sheets :+= (name, offset)
          afterSst = false
        case 0x00FC => // SST
          sstParts = Some((r.data, mutable.ArrayBuffer.empty)); afterSst = true
        case 0x003C if afterSst => // CONTINUE of SST
          sstParts.foreach(_._2 += r.data)
        case _ => afterSst = false
      }
    }
    val shared: IndexedSeq[String] =
      sstParts.map { case (h, cs) => parseSst(h, cs.toSeq) }.getOrElse(IndexedSeq.empty)

    val ordinal: Int = fmt.worksheet match {
      case Some(name) =>
        val idx = sheets.indexWhere(_._1 == name)
        if (idx < 0) throw new IllegalArgumentException(
          s"no worksheet named $name (try worksheetId)")
        idx
      case None => fmt.worksheetId.getOrElse(
        throw new IllegalArgumentException(
          "neither worksheet name nor worksheetId given")) - 1
    }

    // worksheet substream: cell records until its EOF
    val cells = mutable.Map[(Int, Int), String]()
    var maxRow = 0
    def put(row0: Int, col0: Int, value: String): Unit = {
      val (r, c) = (row0 + 1, col0 + 1) // BIFF is 0-based; semantics 1-based
      cells((r, c)) = value
      if (r > maxRow) maxRow = r
    }
    val sheetRecs = records(stream, sheets(ordinal)._2)
    var sheetDepth = 0
    var sheetDone = false
    var pendingFormulaCell: Option[(Int, Int)] = None // string-result FORMULA awaits STRING
    while (sheetRecs.hasNext && !sheetDone) {
      val r = sheetRecs.next()
      val bb = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
      r.typ match {
        case 0x0809 => sheetDepth += 1
        case 0x000A => sheetDepth -= 1; if (sheetDepth <= 0) sheetDone = true
        case 0x00FD => // LABELSST
          val row = bb.getShort() & 0xFFFF; val col = bb.getShort() & 0xFFFF
          bb.getShort() // xf
          put(row, col, shared(bb.getInt()))
        case 0x0204 => // LABEL (inline string)
          val row = bb.getShort() & 0xFFFF; val col = bb.getShort() & 0xFFFF
          bb.getShort() // xf
          put(row, col, xlString(bb))
        case 0x0203 => // NUMBER
          val row = bb.getShort() & 0xFFFF; val col = bb.getShort() & 0xFFFF
          bb.getShort() // xf
          put(row, col, renderNumber(bb.getDouble()))
        case 0x027E => // RK
          val row = bb.getShort() & 0xFFFF; val col = bb.getShort() & 0xFFFF
          bb.getShort() // xf
          put(row, col, renderNumber(decodeRk(bb.getInt())))
        case 0x00BD => // MULRK: row, colFirst, (xf, rk)*, colLast
          val row = bb.getShort() & 0xFFFF
          val colFirst = bb.getShort() & 0xFFFF
          val n = (r.data.length - 6) / 6
          (0 until n).foreach { i =>
            bb.getShort() // xf
            put(row, colFirst + i, renderNumber(decodeRk(bb.getInt())))
          }
        case 0x0006 => // FORMULA: cached result, or string via STRING record
          val row = bb.getShort() & 0xFFFF; val col = bb.getShort() & 0xFFFF
          bb.getShort() // xf
          val result = new Array[Byte](8); bb.get(result)
          val marker = ByteBuffer.wrap(result).order(ByteOrder.LITTLE_ENDIAN)
          if ((result(6) & 0xFF) == 0xFF && (result(7) & 0xFF) == 0xFF) {
            result(0) match {
              case 0 => pendingFormulaCell = Some((row, col)) // string follows
              case 1 => put(row, col, if (result(2) != 0) "TRUE" else "FALSE")
              case _ => // error result → empty
            }
          } else put(row, col, renderNumber(marker.getDouble()))
        case 0x0207 => // STRING (formula string result)
          pendingFormulaCell.foreach { case (row, col) => put(row, col, xlString(bb)) }
          pendingFormulaCell = None
        case _ =>
      }
    }
    (cells, maxRow)
  }
}
