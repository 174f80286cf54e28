package graft

import graft.pipeline._
import graft.pipeline.Config._
import graft.pipeline.LoadRunner._
import graft.sources.TextFormat
import graft.sinks.ParquetTable
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.time.{LocalDate, LocalTime, LocalDateTime}

/** End-to-end import pipeline (SURVEY.md §3.1) plus the driver-side state
  * machines: run gates, retry scheduling, staging lifecycle. */
class PipelineSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("end-to-end load: messy CSV → hooks → coercion → upsert table") {
    val work = tmpDir("graft-e2e-")
    val csv = java.nio.file.Paths.get(work, "data.csv")
    Files.write(csv, (
      "id;name;amount;booked\n" +
      "1;alpha;1.234.567,89;02.01.2024\n" +
      "2;beta;150-;20240103120000\n" +
      "3;gamma;N/A;N/A\n" +
      "2;beta2;17%;02.01.24\n").getBytes("UTF-8"))

    val load = Load(
      source = TextSpec(TextFormat(
        header = Seq("id", "name", "amount", "booked"), sep = ";", skip = 1,
        thousandSep = ".", decimalSep = ",")),
      db = DbConfig(
        targetSchema = Seq(
          TargetColumn("id", "bigint"),
          TargetColumn("name", "varchar", size = 20),
          TargetColumn("amount", "double"),
          TargetColumn("booked", "datetime")),
        strategy = Upsert(Seq("id"))),
      hooks = LoadHooks(
        fieldHooks = Map("name" -> (c => upper(c)))))

    val table = tmpDir("graft-table-") + "/t"
    val result = LoadRunner.run(spark, Seq(csv.toString), load, table)
    assert(result.rows == 3) // id=2 deduped last-wins
    assert(result.errors.exists(_.contains("non-numeric")))   // N/A amount
    assert(result.errors.exists(_.contains("invalid date")))  // N/A booked

    val rows = ParquetTable.load(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), r.get(3) != null))
    assert(rows(0) == ((1L, "ALPHA", Some(1234567.89), true)))
    // last-wins: beta2 with 17% → 17.0, 2-digit year date
    assert(rows(1) == ((2L, "BETA2", Some(17.0), true)))
    assert(rows(2) == ((3L, "GAMMA", None, false)))
  }

  test("severity-2 string overflow aborts the load (Wrap/DB.pm:305-308)") {
    val work = tmpDir("graft-e2e-")
    val csv = java.nio.file.Paths.get(work, "d.csv")
    Files.write(csv, "id;name\n1;waytoolongvalue\n".getBytes("UTF-8"))
    val load = Load(
      source = TextSpec(TextFormat(header = Seq("id", "name"), sep = ";", skip = 1)),
      db = DbConfig(targetSchema = Seq(
        TargetColumn("id", "bigint"), TargetColumn("name", "varchar", size = 5))))
    intercept[IllegalStateException] {
      LoadRunner.run(spark, Seq(csv.toString), load, tmpDir("graft-table-") + "/t")
    }
  }

  test("a severity-2 value beyond the 100-error sample still aborts the load") {
    val work = tmpDir("graft-sev2-")
    // files 1 and 2 carry 160 severity-1 errors each (non-numeric
    // amounts); file 3, the smallest and so the last partition scanned,
    // holds the only over-wide name
    def write(name: String, lines: Seq[String]): String = {
      val f = java.nio.file.Paths.get(work, name)
      Files.write(f, ("id;name;amount\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
      f.toString
    }
    val bad = (1 to 160).map(i => s"$i;n$i;N/A")
    val f1 = write("f1.csv", bad)
    val f2 = write("f2.csv", bad.map(l => "1" + l))
    val fmt = TextFormat(header = Seq("id", "name", "amount"), sep = ";", skip = 1)
    val load = Load(source = TextSpec(fmt), db = DbConfig(targetSchema = Seq(
      TargetColumn("id", "bigint"), TargetColumn("name", "varchar", size = 5),
      TargetColumn("amount", "double"))))
    val table = tmpDir("graft-table-") + "/t"
    val base = write("base.csv", Seq("1;a;1"))
    LoadRunner.run(spark, Seq(base), load, table)
    def content = ParquetTable.load(spark, table).collect().map(_.toSeq).toSeq
    val before = content

    val f3 = write("f3.csv", Seq("9;waytoolong;1"))
    val ex = intercept[IllegalStateException] {
      LoadRunner.run(spark, Seq(f1, f2, f3), load, table)
    }
    assert(ex.getMessage.startsWith(SchemaCoercion.Severity2Prefix), ex.getMessage)
    assert(ex.getMessage.contains("waytoolong"))
    assert(content == before)

    val f3ok = write("f3ok.csv", Seq("9;ok;1"))
    val result = LoadRunner.run(spark, Seq(f1, f2, f3ok), load, table)
    assert(result.stored && result.rows == 160 + 160 + 1) // replaces: no keepContent
    assert(result.errors.size == 100)
    assert(result.errors.forall(_.startsWith("non-numeric value for amount: ")))
  }

  test("an Append text load then a keyed Upsert load run within their Spark-job budget") {
    // each load's cached error job, the Append's write, the Upsert's
    // shuffle and write; the row counts come from the written footers
    // and the Upsert's target read plans with a footer's schema, so
    // neither runs a job
    val work = tmpDir("graft-jobs-")
    def write(name: String, lines: Seq[String]): String = {
      val f = java.nio.file.Paths.get(work, name)
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    val first = Seq(write("a1.csv", (1 to 40).map(i => s"$i;n$i;$i,5")),
      write("a2.csv", (41 to 80).map(i => s"$i;n$i;$i,5")))
    val second = Seq(write("b1.csv", (60 to 100).map(i => s"$i;m$i;$i")))
    val fmt = TextFormat(header = Seq("id", "name", "amount"), sep = ";",
      thousandSep = ".", decimalSep = ",")
    val schema = Seq(TargetColumn("id", "bigint"), TargetColumn("name", "varchar", 10),
      TargetColumn("amount", "double"))
    val table = tmpDir("graft-table-") + "/t"
    val (results, jobs) = org.apache.spark.graft.Bus.jobsOf(spark.sparkContext) {
      Seq(LoadRunner.run(spark, first, Load(TextSpec(fmt),
          DbConfig(targetSchema = schema, strategy = Append)), table),
        LoadRunner.run(spark, second, Load(TextSpec(fmt),
          DbConfig(targetSchema = schema, strategy = Upsert(Seq("id")), keepContent = true)), table))
    }
    assert(results.map(_.rows) == Seq(80L, 100L))
    assert(ParquetTable.load(spark, table).count() == 100)
    assert(jobs.size <= JobBudget, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("firstLine hook reads a windows-1252 file's first line") {
    val work = tmpDir("graft-cp1252-")
    val f = java.nio.file.Paths.get(work, "d.csv")
    Files.write(f, "Stand: März 2024\r\nid;name\r\n1;Müller\r\n".getBytes("windows-1252"))
    val fmt = TextFormat(header = Seq("id", "name"), sep = ";", skip = 2,
      encoding = "windows-1252")
    assert(graft.sources.TextSource.firstLine(spark, f.toString, fmt) == "Stand: März 2024")
    val load = Load(source = TextSpec(fmt), db = DbConfig(),
      hooks = LoadHooks(firstLine = Some(line => Map("stand" -> line.stripPrefix("Stand: ")))))
    val table = tmpDir("graft-table-") + "/t"
    LoadRunner.run(spark, Seq(f.toString), load, table)
    val rows = ParquetTable.load(spark, table).select("id", "name", "stand")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("1", "Müller", "März 2024")))
  }

  test("previous-row context reaches the row hook (W1)") {
    val work = tmpDir("graft-e2e-")
    val csv = java.nio.file.Paths.get(work, "d.csv")
    Files.write(csv, "v\n10\n25\n45\n".getBytes("UTF-8"))
    val load = Load(
      source = TextSpec(TextFormat(header = Seq("v"), sep = ";", skip = 1)),
      db = DbConfig(),
      hooks = LoadHooks(needPrevRow = true,
        rowHook = Some(df => df.withColumn("delta",
          col("v").cast("double") - col("_prev.v").cast("double")))))
    val table = tmpDir("graft-table-") + "/t"
    LoadRunner.run(spark, Seq(csv.toString), load, table)
    val deltas = ParquetTable.load(spark, table)
      .orderBy(col("v").cast("double"))
      .select("v", "delta").collect()
      .map(r => (r.getString(0), Option(r.get(1))))
    assert(deltas.toSeq == Seq(("10", None), ("25", Some(15.0)), ("45", Some(20.0))))
  }

  test("delete-insert and append strategies against an existing table") {
    import spark.implicits._
    val table = tmpDir("graft-table-") + "/t"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, base, table, DbConfig(strategy = Append))
    val incoming = Seq((2L, "B2"), (9L, "new")).toDF("k", "v")
      .withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, incoming, table,
      DbConfig(strategy = DeleteInsert(Seq("k")), keepContent = true))
    val rows = ParquetTable.load(spark, table).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
  }

  test("incremental upsert keeps target values where incoming is NULL (Wrap/DB.pm:318)") {
    import spark.implicits._
    val table = tmpDir("graft-incr-") + "/t"
    val base = Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L)))
      .toDF("k", "v", "n").withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, base, table, DbConfig(strategy = Append))
    // row 1: v updated, n NULL -> n stays 10; row 2 arrives twice — the
    // later row's NULL v must not erase the earlier row's update either
    val incoming = Seq(
      (1L, Some("A2"), None: Option[Long]),
      (2L, Some("B2"), Some(21L)),
      (2L, None: Option[String], Some(22L)),
      (3L, Some("c"), None: Option[Long])).toDF("k", "v", "n")
      .withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, incoming, table,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = true,
        incrementalStore = true))
    val rows = ParquetTable.load(spark, table).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq == Seq(
      (1L, "A2", Some(10L)),   // NULL n preserved target's 10
      (2L, "B2", Some(22L)),   // NULL v on the later row kept B2; n cascaded
      (3L, "c", None)))        // fresh insert keeps its NULL
  }

  test("insertIgnoreDups appends absent keys only, first-wins in batch (Wrap/DB.pm:403)") {
    import spark.implicits._
    val table = tmpDir("graft-ignoredup-") + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, base, table, DbConfig(strategy = Append))
    val incoming = Seq((2L, "SHOULD_NOT_WIN"), (3L, "first"), (3L, "second"))
      .toDF("k", "v").withColumn("_lineno", monotonically_increasing_id())
    ParquetTable.store(spark, incoming, table,
      DbConfig(strategy = InsertIgnoreDups(Seq("k")), keepContent = true))
    val rows = ParquetTable.load(spark, table).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "first")))
  }

  test("run gates: holidays, weekends, first business day (Common.pm:296-340)") {
    import RunGates._
    val p0 = ProcessConfig()
    assert(evaluate(p0, LocalDate.of(2024, 1, 1)) == Run) // no gates
    val pHol = ProcessConfig(skipHolidays = "1")          // default AT
    assert(evaluate(pHol, LocalDate.of(2024, 1, 1)).isInstanceOf[Skip])
    assert(evaluate(pHol, LocalDate.of(2024, 1, 2)) == Run)
    val pWe = ProcessConfig(skipWeekends = true)
    assert(evaluate(pWe, LocalDate.of(2024, 7, 6)).isInstanceOf[Skip]) // Saturday
    assert(evaluate(pWe, LocalDate.of(2024, 7, 8)) == Run)
    // first business day of July 2024 is Monday the 1st
    val pFb = ProcessConfig(skipForFirstBusinessDate = "AT")
    assert(evaluate(pFb, LocalDate.of(2024, 7, 1)) == Run)
    assert(evaluate(pFb, LocalDate.of(2024, 7, 2)).isInstanceOf[Skip])
    // Jan 2022: 1st=Sat, 2nd=Sun, 3rd=Mon → first business day is the 3rd
    assert(evaluate(pFb, LocalDate.of(2022, 1, 3)) == Run)
    assert(evaluate(pFb, LocalDate.of(2022, 1, 2)).isInstanceOf[Skip]) // weekend
    // redo bypasses gates
    assert(evaluate(pHol.copy(redoFile = true), LocalDate.of(2024, 1, 1)) == Run)
  }

  test("retry scheduler cadences and cutoffs (Wrap.pm:604-631)") {
    import RetryScheduler._
    val p = ProcessConfig(plannedUntil = "1800", retrySecondsErr = 60,
      retrySecondsPlanned = 300)
    // success on a planned load → keep repeating on planned cadence
    val s1 = afterRun(p, State(), hadErrors = false)
    assert(!s1.processEnd && s1.firstRunSuccess)
    assert(nextAction(p, s1, LocalTime.of(12, 0)) == Sleep(300, false))
    // error after first success → still planned cadence (R3)
    val s2 = afterRun(p, s1, hadErrors = true)
    assert(!s2.retryBecauseOfError)
    // error without prior success → error cadence
    val s3 = afterRun(p, State(), hadErrors = true)
    assert(s3.retryBecauseOfError)
    assert(nextAction(p, s3, LocalTime.of(12, 0)) == Sleep(60, true))
    // cutoff reached
    assert(nextAction(p, s1, LocalTime.of(18, 0)).isInstanceOf[Finish])
    // midnight wrap
    val pLate = ProcessConfig(plannedUntil = "2359", retrySecondsPlanned = 3600)
    val sLate = afterRun(pLate, State(), hadErrors = false)
    assert(nextAction(pLate, sLate, LocalTime.of(23, 30)).isInstanceOf[Finish])
    // one-shot success ends the process
    val pOnce = ProcessConfig()
    assert(afterRun(pOnce, State(), hadErrors = false).processEnd)
  }

  test("staging lifecycle: land, check, archive with timestamp, redo") {
    val src = tmpDir("graft-src-")
    val work = tmpDir("graft-work-")
    val hist = tmpDir("graft-hist-")
    Files.write(java.nio.file.Paths.get(src, "a.csv"), "x\n1\n".getBytes)
    Files.write(java.nio.file.Paths.get(src, "b.csv"), "x\n2\n".getBytes)
    val staging = new FileStaging(work, hist,
      clock = () => LocalDateTime.of(2024, 7, 8, 12, 0, 0))
    val landed = staging.getLocalFiles(s"$src/*.csv")
    assert(landed == Seq("a.csv", "b.csv"))
    val (present, missing) = staging.checkFiles(Seq("a.csv", "b.csv", "c.csv"),
      optional = Set("c.csv"))
    assert(present == Seq("a.csv", "b.csv") && missing.isEmpty)
    val (_, hardMissing) = staging.checkFiles(Seq("nope.csv"))
    assert(hardMissing == Seq("nope.csv"))
    staging.markProcessed(Seq("a.csv", "b.csv"))
    val archived = staging.finish()
    assert(archived == Seq("a_20240708_120000.csv", "b_20240708_120000.csv"))
    // redo de-timestamps back to canonical name
    val redone = staging.redoFiles("a.csv")
    assert(redone == Seq("a.csv"))
    assert(Files.exists(java.nio.file.Paths.get(work, "a.csv")))
  }

  test("zip extraction joins members to the load (Wrap.pm:285-299)") {
    val work = tmpDir("graft-work-")
    val hist = tmpDir("graft-hist-")
    val zip = java.nio.file.Paths.get(work, "batch.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zos.putNextEntry(new java.util.zip.ZipEntry("inner.csv"))
    zos.write("x\n42\n".getBytes); zos.closeEntry(); zos.close()
    val staging = new FileStaging(work, hist)
    val members = staging.extractArchives("batch.zip")
    assert(members == Seq("inner.csv"))
    assert(Files.exists(java.nio.file.Paths.get(work, "inner.csv")))
  }

  /** Spark jobs of the Append + Upsert load pair above (12 when the row
    * count and the target read each ran their own jobs). */
  private val JobBudget = 5
}
