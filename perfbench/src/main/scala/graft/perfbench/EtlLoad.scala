package graft.perfbench

import graft.pipeline.Config.{Append, DbConfig, TargetColumn, Upsert}
import graft.pipeline.{ExportRunner, FileStaging, LoadRunner, SchemaCoercion}
import graft.sinks.ParquetTable
import graft.sources.{TextFormat, TextSource}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `etl_load`: the reference's core path. A sequence of `LoadRunner.run`
  * calls over lineitem-shaped delimited text into one `ParquetTable` (the
  * first an Append, the rest keyed Upserts that keep content, so the table
  * grows load by load), one planted load that must abort with the
  * severity-2 error, then one `ExportRunner.run` back to a delimited file.
  *
  * Inputs carry locale numerics (`1.234,56`), several reference date
  * shapes, severity-0 values that normalise cleanly (postfix minus,
  * `,00` tails), severity-1 values that null a field and log an error, and
  * keys that later loads overlap. */
final class EtlLoad extends Workload {
  import EtlLoad._

  /** Round times still fall by a fifth from the first round after set-up
    * to the third, and level off from there. */
  override def warmRounds: Int = 2

  /** The medians are over the middle of three rounds or more. */
  override def minRounds: Int = 3

  private case class Li(ok: Long, ln: Int, pk: Long, qty: Option[BigDecimal],
                        price: BigDecimal, disc: BigDecimal,
                        ship: Option[LocalDate], commit: LocalDateTime,
                        mode: String, comment: String)

  /** One load: its files, whether it must abort, and the table it leaves. */
  private case class Load(files: Seq[String], aborts: Boolean, rejected: Long,
                          errors: Long, after: Map[(Long, Int), Li])

  private var loads: Seq[Load] = Nil
  private var inputRows = 0L
  private var inputBytes = 0L

  def setUp(spark: SparkSession, dir: Path, seed: Long): Unit = {
    Disk.delete(dir)
    Files.createDirectories(dir)
    val g = new Gen(seed, 1L)
    val vocab = g.vocabulary(2000)
    val r = g.rnd
    val table = mutable.LinkedHashMap[(Long, Int), Li]()
    var nextOrder = 1L
    def newKey(): (Long, Int) = {
      val k = (nextOrder, 1 + r.nextInt(7))
      nextOrder += 1
      k
    }
    def row(k: (Long, Int)): Li = {
      val cents = 100L + (r.nextDouble() * r.nextDouble() * 5000000L).toLong
      Li(k._1, k._2, 1L + r.nextInt(200000),
        if (r.nextDouble() < 0.04) None
        else Some(BigDecimal(1 + r.nextInt(50)) + (if (r.nextInt(10) == 0) BigDecimal("0.5") else 0)),
        BigDecimal(cents, 2), BigDecimal(r.nextInt(11), 2),
        if (r.nextDouble() < 0.03) None
        else Some(LocalDate.of(2020, 1, 1).plusDays(r.nextInt(3650).toLong)),
        LocalDateTime.of(2020, 1, 1, 0, 0).plusSeconds(r.nextInt(315000000).toLong),
        ShipModes(r.nextInt(ShipModes.size)),
        (0 until 2 + r.nextInt(4)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ").take(44).trim)
    }
    def render(li: Li): String = {
      val qty = li.qty match {
        case None => "N/A"
        case Some(q) if q.isWhole && r.nextInt(6) == 0 => s"${q.toInt},00"
        case Some(q) => q.bigDecimal.stripTrailingZeros.toPlainString.replace('.', ',')
      }
      val price =
        if (li.price < 0) decimalComma(-li.price) + "-"
        else groupThousands(li.price)
      val disc = decimalComma(li.disc)
      val ship = li.ship.fold("unknown")(d => d.format(DateShapes(r.nextInt(DateShapes.size))))
      val commit = li.commit.format(TimeShapes(r.nextInt(TimeShapes.size)))
      Seq(li.ok, li.ln, li.pk, qty, price, disc, ship, commit, li.mode, li.comment).mkString("|")
    }

    loads = (0 until Loads + 1).map { l =>
      val aborts = l == AbortAt
      val n = FilesPerLoad * LinesPerFile
      val reused =
        if (l == 0) Seq.empty
        else r.shuffle(table.keys.toVector).take((n * Overlap).toInt)
      val keys = r.shuffle(reused ++ Seq.fill(n - reused.size)(newKey()))
      var rejected = 0L
      var errors = 0L
      def planted(li: Li): Unit = {
        val e = li.qty.size + li.ship.size
        if (e < 2) rejected += 1
        errors += 2 - e
      }
      val staged = mutable.LinkedHashMap[(Long, Int), Li]()
      val files = keys.grouped(LinesPerFile).zipWithIndex.map { case (fileKeys, f) =>
        val lines = mutable.ArrayBuffer[String]()
        fileKeys.foreach { k =>
          var li = row(k)
          // a few negative prices in the SAP postfix-minus shape
          if (r.nextInt(25) == 0) li = li.copy(price = -(li.price % 1000))
          lines += render(li)
          planted(li)
          staged(k) = li
          // a repeated key later in the same file: last one wins
          if (l > 0 && r.nextInt(50) == 0) {
            val again = row(k)
            lines += render(again)
            planted(again)
            staged(k) = again
          }
        }
        if (aborts && f == 1) {
          val k = fileKeys(fileKeys.size / 2)
          lines.insert(lines.size / 2, render(row(k).copy(mode = "EXPRESS FREIGHT")))
        }
        val p = dir.resolve(f"load$l%02d-part$f.txt")
        Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
        inputRows += lines.size
        inputBytes += Files.size(p)
        p.toString
      }.toSeq
      if (!aborts) table ++= staged
      Load(files, aborts, rejected, errors, table.toMap)
    }
  }

  /** One upsert load into an empty table. */
  def warmUp(spark: SparkSession, c: Collector, out: Path): Unit =
    LoadRunner.run(spark, loads.last.files, LoadRunner.Load(LoadRunner.TextSpec(Format),
      DbConfig(table = "warm", targetSchema = Schema, strategy = Upsert(Key), keepContent = true)),
      out.resolve("warm").toString)

  def round(spark: SparkSession, c: Collector, out: Path, traced: Boolean): Round = {
    Files.createDirectories(out)
    val table = out.resolve("lineitem").toString
    val tableDir = Path.of(table)
    val failures = mutable.ArrayBuffer[String]()
    val opsMs = mutable.ArrayBuffer[Double]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    var written = 0L
    var attempted = 0
    // the round's wall time is the sum of its calls into graft: the
    // directory walks that count written bytes stay outside it
    var wallNs = 0L
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      val ns = System.nanoTime() - t0
      wallNs += ns
      (v, ns / 1e6)
    }

    loads.zipWithIndex.foreach { case (load, i) =>
      val db = DbConfig(table = "lineitem", targetSchema = Schema,
        strategy = if (i == 0) Append else Upsert(Key),
        keepContent = i > 0)
      val spec = LoadRunner.Load(LoadRunner.TextSpec(Format), db)
      attempted += 1
      val before = Disk.snapshot(tableDir)
      val (outcome, ms) = timed(c.span("pipeline.load") {
        try Right(LoadRunner.run(spark, load.files, spec, table))
        catch { case e: IllegalStateException if load.aborts => Left(e.getMessage) }
      })
      opsMs += ms
      val after = Disk.snapshot(tableDir)
      val (files, bytes) = Disk.written(before, after)
      written += bytes
      outcome match {
        case Left(msg) if msg.startsWith(SchemaCoercion.Severity2Prefix +
            "content too long for shipmode") =>
          if (after != before) failures += s"aborted load $i changed the table"
        case Left(msg) => failures += s"load $i aborted with the wrong error: $msg"
        case Right(_) if load.aborts =>
          failures += s"load $i should have aborted with a severity-2 error"
        case Right(res) =>
          if (res.rows != load.after.size)
            failures += s"load $i left ${res.rows} rows, expected ${load.after.size}"
          // the runner samples at most 100 error messages
          if (res.errors.size != math.min(100L, load.errors))
            failures += s"load $i reported ${res.errors.size} errors, expected ${math.min(100L, load.errors)}"
          layer("sinks.parquet.files_written") += files
          layer("sinks.parquet.mb_written") += bytes / 1e6
      }
    }

    ParquetTable.load(spark, table).createOrReplaceTempView("perfbench_lineitem")
    val staging = new FileStaging(out.resolve("export").toString, out.resolve("history").toString)
    val exportSpec = ExportRunner.Export(
      query = "SELECT * FROM perfbench_lineitem ORDER BY orderkey, linenumber",
      fileName = "lineitem.txt")
    attempted += 1
    val before = Disk.snapshot(out)
    val (exported, readMs) = timed(c.span("sinks.text")(ExportRunner.run(spark, exportSpec, staging)))
    written += Disk.written(before, Disk.snapshot(out))._2
    val timedEnd = System.nanoTime()

    failures ++= checkTable(spark, table) ++ checkExport(exported.file)
    if (exported.rows != loads.last.after.size)
      failures += s"export wrote ${exported.rows} rows, expected ${loads.last.after.size}"
    if (traced) {
      layer("sinks.text.rows") = exported.rows.toDouble
      failures ++= probeReadAndCoerce(spark, c, layer)
    }
    Round(wallNs / 1e9, opsMs.toSeq, Seq(readMs), inputRows, inputBytes, written,
      attempted, failures.toSeq, layer = layer.toMap, timedEndNs = timedEnd)
  }

  /** `LoadRunner.run` fuses reading and coercion into the one plan its
    * error sample materialises, so neither layer has Spark work of its own
    * inside a load. After the timed part of a traced round, the two public
    * calls the runner makes are therefore forced on their own over every
    * storing load's files: `TextSource.read` into the cache (span
    * `sources.text`), then `SchemaCoercion` over the cached read
    * (`pipeline.coerce`), with the rejected rows counted. */
  private def probeReadAndCoerce(spark: SparkSession, c: Collector,
                                 layer: mutable.Map[String, Double]): Seq[String] =
    loads.zipWithIndex.filterNot(_._1.aborts).flatMap { case (load, i) =>
      val spec = LoadRunner.Load(LoadRunner.TextSpec(Format), DbConfig(table = "lineitem",
        targetSchema = Schema))
      val read = TextSource.read(spark, load.files, Format).cache()
      val rows = c.span("sources.text")(read.count())
      val rejected = c.span("pipeline.coerce") {
        SchemaCoercion(LoadRunner.applyHooks(spark, read, spec, None), Schema)
          .filter(size(col("_errors")) > 0).count()
      }
      read.unpersist()
      layer("sources.text.rows_out") += rows
      layer("sources.text.mb_in") += load.files.map(f => Files.size(Path.of(f))).sum / 1e6
      layer("pipeline.coerce.rows_rejected") += rejected
      layer("pipeline.coerce.kept_ratio") =
        1.0 - layer("pipeline.coerce.rows_rejected") / layer("sources.text.rows_out")
      if (rejected != load.rejected) Seq(s"load $i rejected $rejected rows, expected ${load.rejected}")
      else Nil
    }

  private def checkTable(spark: SparkSession, table: String): Seq[String] = {
    val expected = loads.last.after
    val rows = ParquetTable.load(spark, table)
      .select("orderkey", "linenumber", "quantity", "extendedprice", "discount",
        "shipdate", "commitdate", "shipmode", "comment")
      .collect()
    val bad = mutable.ArrayBuffer[String]()
    if (rows.length != expected.size)
      bad += s"table has ${rows.length} rows, expected ${expected.size}"
    def same(a: java.math.BigDecimal, b: Option[BigDecimal]) =
      (a == null && b.isEmpty) || (a != null && b.exists(_.bigDecimal.compareTo(a) == 0))
    rows.foreach { row =>
      val key = (row.getLong(0), row.getLong(1).toInt)
      expected.get(key) match {
        case None => bad += s"unexpected key $key"
        case Some(li) =>
          val ok = same(row.getDecimal(2), li.qty) && same(row.getDecimal(3), Some(li.price)) &&
            same(row.getDecimal(4), Some(li.disc)) &&
            Option(row.getDate(5)).map(_.toLocalDate) == li.ship &&
            row.getTimestamp(6).toLocalDateTime == li.commit &&
            row.getString(7) == li.mode && row.getString(8) == li.comment
          if (!ok) bad += s"row $key is $row, expected $li"
      }
    }
    bad.take(5).toSeq
  }

  private def checkExport(file: String): Seq[String] = {
    val lines = Files.readAllLines(Path.of(file), UTF_8).asScala
    val header = lines.head.split("\t").toSeq
    val (ok, ln, price) = (header.indexOf("orderkey"), header.indexOf("linenumber"),
      header.indexOf("extendedprice"))
    val expected = loads.last.after
    val bad = lines.tail.flatMap { line =>
      val f = line.split("\t", -1)
      val key = (f(ok).toLong, f(ln).toInt)
      expected.get(key) match {
        case Some(li) if BigDecimal(f(price)) == li.price => None
        case other => Some(s"export line '$line' does not match $other")
      }
    }
    if (lines.size - 1 != expected.size)
      (s"export has ${lines.size - 1} rows, expected ${expected.size}" +: bad.take(4)).toSeq
    else bad.take(5).toSeq
  }
}

object EtlLoad {
  /** Loads per round that store (an Append, then Upserts), plus one
    * planted abort at index `AbortAt`; each load is `FilesPerLoad` files
    * (one per core, since the text source reads a file in one task) of
    * `LinesPerFile` lines. Few, large loads: at 1,000 lines per file most
    * of a load's time was fixed per-job cost. */
  val Loads = 2
  val AbortAt = 1
  val FilesPerLoad = 4
  val LinesPerFile = 4000
  /** Share of an upsert load's keys already in the table. */
  val Overlap = 0.4

  val Key = Seq("orderkey", "linenumber")
  val ShipModes = Seq("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR")
  val DateShapes: Seq[DateTimeFormatter] =
    Seq("dd.MM.yyyy", "yyyyMMdd", "yyyy.MM.dd", "dd.MM.yy").map(DateTimeFormatter.ofPattern)
  val TimeShapes: Seq[DateTimeFormatter] =
    Seq("dd.MM.yyyy HH:mm:ss", "yyyyMMddHHmmss").map(DateTimeFormatter.ofPattern)

  val Format = TextFormat(
    header = Seq("orderkey", "linenumber", "partkey", "quantity", "extendedprice",
      "discount", "shipdate", "commitdate", "shipmode", "comment"),
    sep = "|", thousandSep = ".", decimalSep = ",")

  val Schema = Seq(
    TargetColumn("orderkey", "bigint"), TargetColumn("linenumber", "int"),
    TargetColumn("partkey", "bigint"), TargetColumn("quantity", "decimal"),
    TargetColumn("extendedprice", "decimal"), TargetColumn("discount", "decimal"),
    TargetColumn("shipdate", "date"), TargetColumn("commitdate", "datetime"),
    TargetColumn("shipmode", "varchar", 10), TargetColumn("comment", "varchar", 44))

  def decimalComma(v: BigDecimal): String =
    v.setScale(2).bigDecimal.toPlainString.replace('.', ',')

  /** `1234567.89` as `1.234.567,89`. */
  def groupThousands(v: BigDecimal): String = {
    val s = v.setScale(2).bigDecimal.toPlainString
    val (int, frac) = s.splitAt(s.indexOf('.'))
    int.reverse.grouped(3).mkString(".").reverse + "," + frac.drop(1)
  }
}
