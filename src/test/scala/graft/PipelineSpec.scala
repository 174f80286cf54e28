package graft

import graft.pipeline._
import graft.pipeline.Config._
import graft.pipeline.LoadRunner._
import graft.sources.TextFormat
import graft.sinks.ParquetTable
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.time.{LocalDate, LocalTime, LocalDateTime}
import scala.jdk.CollectionConverters._

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

  /** Every regular file under `dir`, dot-directories included:
    * path → (size, mtime, bytes). */
  private def fileWalk(dir: String): Map[String, (Long, Long, Seq[Byte])] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis,
        Files.readAllBytes(p).toSeq))
    }.toMap
    finally walk.close()
  }

  test("a severity-2 value beyond the 100-error sample still aborts the load") {
    // files 1 and 2 carry 160 severity-1 errors each (non-numeric
    // amounts); file 3, the smallest and so the last partition scanned,
    // holds the only over-wide name. The load aborts, names that value and
    // leaves every file of the table as it was (its staging dir too);
    // with file 3 fixed it stores and reports the first 100 errors.
    val work = tmpDir("graft-sev2-")
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
    val before = fileWalk(table)

    val f3 = write("f3.csv", Seq("9;waytoolong;1"))
    val ex = intercept[IllegalStateException] {
      LoadRunner.run(spark, Seq(f1, f2, f3), load, table)
    }
    assert(ex.getMessage.startsWith(SchemaCoercion.Severity2Prefix), ex.getMessage)
    assert(ex.getMessage.contains("waytoolong"))
    val after = fileWalk(table)
    assert(after.keySet == before.keySet,
      s"files appeared: ${after.keySet -- before.keySet}; vanished: ${before.keySet -- after.keySet}")
    assert(after == before, "a file of the table changed")

    val f3ok = write("f3ok.csv", Seq("9;ok;1"))
    val result = LoadRunner.run(spark, Seq(f1, f2, f3ok), load, table)
    assert(result.stored && result.rows == 160 + 160 + 1) // replaces: no keepContent
    assert(result.errors.size == 100)
    assert(result.errors.forall(_.startsWith("non-numeric value for amount: ")))
  }

  test("an Append that keeps content plans no exchange, and its row count is the snapshot's") {
    val work = tmpDir("graft-append-")
    def write(name: String, lines: Seq[String]): String = {
      val f = java.nio.file.Paths.get(work, name)
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    val fmt = TextFormat(header = Seq("id", "name"), sep = ";")
    val schema = Seq(TargetColumn("id", "bigint"), TargetColumn("name", "varchar", 10))
    def load(keep: Boolean) = Load(TextSpec(fmt),
      DbConfig(targetSchema = schema, strategy = Append, keepContent = keep))
    val table = tmpDir("graft-table-") + "/t"
    graft.operators.GraftConf.SnapshotKeep.withValue(spark, "8") {
      LoadRunner.run(spark, Seq(write("a.csv", (1 to 80).map(i => s"$i;a$i"))), load(false), table)
      LoadRunner.run(spark, Seq(write("b.csv", (1 to 50).map(i => s"$i;b$i"))), load(false), table)
      var result: LoadResult = null
      val plans = plansOf {
        result = LoadRunner.run(spark, Seq(write("c.csv", (51 to 60).map(i => s"$i;c$i"))),
          load(true), table)
      }
      import org.apache.spark.sql.execution.exchange.Exchange
      assert(plans.nonEmpty)
      plans.foreach(p => assert(planHelper.collect(p) { case e: Exchange => e }.isEmpty,
        s"an Append planned an exchange:\n$p"))
      // the replaced 80-row version is still on disk; the count is the
      // current version's: 50 + 10
      val onDisk = graft.sinks.ParquetFooters.rowCount(spark.sessionState.newHadoopConf(),
        graft.sinks.ParquetFooters.files(spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(table)).map(_.getPath))
      assert(onDisk == 80 + 50 + 10, s"$onDisk rows on disk")
      assert(result.rows == 60)
      assert(ParquetTable.load(spark, table).count() == 60)
    }
  }

  test("an Append text load then a keyed Upsert load run within their Spark-job budget") {
    // the Append's write, the Upsert's shuffle and write: each load is one
    // pass, its error sample tapped inside the store's jobs; the row
    // counts come from the written footers and the Upsert's target read
    // plans with a footer's schema, so neither runs a job
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
    val ((results, jobs), blocks) = org.apache.spark.graft.Bus.rddBlocksOf(spark.sparkContext) {
      org.apache.spark.graft.Bus.jobsOf(spark.sparkContext) {
        Seq(LoadRunner.run(spark, first, Load(TextSpec(fmt),
            DbConfig(targetSchema = schema, strategy = Append)), table),
          LoadRunner.run(spark, second, Load(TextSpec(fmt),
            DbConfig(targetSchema = schema, strategy = Upsert(Seq("id")), keepContent = true)), table))
      }
    }
    assert(results.map(_.rows) == Seq(80L, 100L))
    assert(ParquetTable.load(spark, table).count() == 100)
    assert(jobs.size <= JobBudget, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(blocks.isEmpty, s"a load cached ${blocks.mkString(", ")}")
  }

  /** The physical plans of every query `body` executes. */
  private def plansOf(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private val planHelper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Rows the `graft-text` scans of `plans` output (a file parsed twice
    * counts its rows twice). */
  private def textRowsScanned(plans: Seq[org.apache.spark.sql.execution.SparkPlan]): Long = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    plans.flatMap(p => planHelper.collect(p) {
      case scan: BatchScanExec => scan.metrics("numOutputRows").value
    }).sum
  }

  /** Whether a parquet table scan of `plans` feeds a shuffle. */
  private def tableShuffled(plans: Seq[org.apache.spark.sql.execution.SparkPlan]): Boolean = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    plans.exists(p => planHelper.collect(p) { case e: ShuffleExchangeExec => e }
      .exists(e => planHelper.find(e)(_.isInstanceOf[FileSourceScanExec]).isDefined))
  }

  /** A DeleteInsert load of 3 lines (one NULL key) into a 4-row table,
    * then one with an over-wide name, which aborts and leaves the table
    * as it was. */
  private def deleteInsertLoad(): (LoadResult, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val work = tmpDir("graft-delins-")
    def write(name: String, lines: Seq[String]): String = {
      val f = java.nio.file.Paths.get(work, name)
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    val fmt = TextFormat(header = Seq("id", "name"), sep = ";")
    val schema = Seq(TargetColumn("id", "bigint"), TargetColumn("name", "varchar", 10))
    val table = tmpDir("graft-table-") + "/t"
    LoadRunner.run(spark, Seq(write("base.csv", Seq("1;a", "2;b", "3;c", "x;old"))),
      Load(TextSpec(fmt), DbConfig(targetSchema = schema)), table)
    val batch = Seq(write("d1.csv", Seq("2;B2", "9;new")), write("d2.csv", Seq("y;fresh")))
    var result: LoadResult = null
    val plans = plansOf {
      result = LoadRunner.run(spark, batch, Load(TextSpec(fmt),
        DbConfig(targetSchema = schema, strategy = DeleteInsert(Seq("id")), keepContent = true)), table)
    }
    assert(result.rows == 6)
    assert(result.errors == Seq("non-numeric value for id: y"))
    def content = ParquetTable.load(spark, table).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
    val stored = Set((Some(1L), "a"), (Some(2L), "B2"), (Some(3L), "c"), (Some(9L), "new"),
      (None, "old"), (None, "fresh"))
    assert(content == stored)
    val ex = intercept[IllegalStateException] {
      LoadRunner.run(spark, Seq(write("d3.csv", Seq("1;A1", "4;waytoolongname"))), Load(TextSpec(fmt),
        DbConfig(targetSchema = schema, strategy = DeleteInsert(Seq("id")), keepContent = true)), table)
    }
    assert(ex.getMessage.startsWith(SchemaCoercion.Severity2Prefix), ex.getMessage)
    assert(content == stored)
    (result, plans)
  }

  test("a small DeleteInsert batch broadcasts its keys and leaves the table unshuffled") {
    // the batch is parsed twice (its keys, then its rows), and its
    // errors are still reported once
    val (_, plans) = deleteInsertLoad()
    assert(!tableShuffled(plans))
    assert(textRowsScanned(plans) == 6)
  }

  test("a DeleteInsert batch too large to broadcast is parsed once and never matches NULL keys") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (_, plans) = deleteInsertLoad()
      assert(tableShuffled(plans))
      val scanned = textRowsScanned(plans)
      assert(scanned == 3, s"the batch's 3 lines were scanned as $scanned rows")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("cutoffYr2000 decides the century of a two-digit year") {
    val work = tmpDir("graft-cutoff-")
    val f = java.nio.file.Paths.get(work, "d.csv")
    Files.write(f, "1;02.01.55\n".getBytes("UTF-8"))
    val fmt = TextFormat(header = Seq("id", "day"), sep = ";")
    def loaded(db: DbConfig): LocalDate = {
      val table = tmpDir("graft-table-") + "/t"
      LoadRunner.run(spark, Seq(f.toString), Load(TextSpec(fmt), db.copy(
        targetSchema = Seq(TargetColumn("id", "bigint"), TargetColumn("day", "date")))), table)
      ParquetTable.load(spark, table).select("day").head().getDate(0).toLocalDate
    }
    assert(loaded(DbConfig()) == LocalDate.of(2055, 1, 2))
    assert(loaded(DbConfig(cutoffYr2000 = 50)) == LocalDate.of(1955, 1, 2))
  }

  test("an impossible date or time is a severity-1 error, not a crash") {
    val work = tmpDir("graft-baddate-")
    val f = java.nio.file.Paths.get(work, "d.csv")
    Files.write(f, "1;31.02.2020\n2;19950102250000\n3;25:61:00\n4;29.02.2020\n".getBytes("UTF-8"))
    val table = tmpDir("graft-table-") + "/t"
    val result = LoadRunner.run(spark, Seq(f.toString), Load(
      TextSpec(TextFormat(header = Seq("id", "at"), sep = ";")),
      DbConfig(targetSchema = Seq(TargetColumn("id", "bigint"), TargetColumn("at", "datetime")))),
      table)
    assert(result.stored && result.rows == 4)
    assert(result.errors.toSet == Set("31.02.2020", "19950102250000", "25:61:00")
      .map(v => s"invalid date/time for at: $v"))
    val at = ParquetTable.load(spark, table).orderBy("id").collect()
      .map(r => Option(r.getTimestamp(1)).map(_.toLocalDateTime)).toSeq
    assert(at == Seq(None, None, None, Some(LocalDateTime.of(2020, 2, 29, 0, 0))))
  }

  test("decimal and integral columns keep every digit; out of range is a severity-1 error") {
    val work = tmpDir("graft-numeral-")
    val f = java.nio.file.Paths.get(work, "d.csv")
    Files.write(f, ("1;1234567890123.456789;9007199254740993;1.5\n" +
      "2;1E30;-9007199254740993;-2.5\n" +
      "3;N/A;99999999999999999999;1E10\n" +
      "4;17E2;1.5E3;17E2\n" +
      "5;1.5E3;17E2;-1.5E3\n").getBytes("UTF-8"))
    val table = tmpDir("graft-table-") + "/t"
    val result = LoadRunner.run(spark, Seq(f.toString), Load(
      TextSpec(TextFormat(header = Seq("id", "amount", "big", "small"), sep = ";")),
      DbConfig(targetSchema = Seq(TargetColumn("id", "bigint"), TargetColumn("amount", "decimal"),
        TargetColumn("big", "bigint"), TargetColumn("small", "smallint")))), table)
    assert(result.stored && result.rows == 5)
    assert(result.errors.toSet == Set(
      "numeric value out of range for amount: 1E30",
      "non-numeric value for amount: N/A",
      "numeric value out of range for big: 99999999999999999999",
      "numeric value out of range for small: 1E10"))
    val rows = ParquetTable.load(spark, table).orderBy("id").collect().map(r =>
      (Option(r.getDecimal(1)).map(BigDecimal(_)), Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(rows == Seq(
      (Some(BigDecimal("1234567890123.456789")), Some(9007199254740993L), Some(1)),
      (None, Some(-9007199254740993L), Some(-2)),
      (None, None, None),
      // an exponent beyond the fraction digits (a negative scale)
      (Some(BigDecimal(1700)), Some(1500L), Some(1700)),
      (Some(BigDecimal(1500)), Some(1700L), Some(-1500))))
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

  /** Spark jobs of the Append + Upsert load pair above (5 while each load
    * cached its batch and ran an error job; 12 when the row count and the
    * target read each ran their own jobs). */
  private val JobBudget = 3
}
