package graft

import graft.pipeline.Config._
import graft.sinks.{ParquetFooters, ParquetTable}
import org.apache.spark.graft.Bus
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The table commit reads footers instead of running jobs: the footer row
  * count of the current version's files is the table's `count()`, and
  * `ParquetTable.load` plans with the schema inference would find, without
  * the inference job. */
class ParquetTableSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = Files.createTempDirectory("graft-ptable-").toString + "/t"

  private def rows(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    .withColumn("_lineno", monotonically_increasing_id())

  /** Footer count = count(); footer schema = inferred schema; the count
    * `store` returned = both. */
  private def checkFooters(t: String, expectedRows: Long, stored: Long): Unit = {
    val (loaded, jobs) = Bus.jobsOf(spark.sparkContext)(ParquetTable.load(spark, t))
    assert(jobs.isEmpty, s"load of $t planned with jobs: $jobs")
    val files = ParquetTable.files(spark, t).map(_.getPath)
    assert(loaded.schema == spark.read.parquet(files.map(_.toString): _*).schema)
    assert(loaded.count() == expectedRows)
    assert(ParquetFooters.rowCount(spark.sessionState.newHadoopConf(), files) == expectedRows)
    assert(stored == expectedRows)
  }

  test("Append, Upsert and DeleteInsert tables: footer count and schema match the data") {
    val t = table()
    checkFooters(t, 3, ParquetTable.store(spark, rows(1, 2, 3), t, DbConfig(strategy = Append)))
    checkFooters(t, 4, ParquetTable.store(spark, rows(4), t,
      DbConfig(strategy = Append, keepContent = true)))
    checkFooters(t, 5, ParquetTable.store(spark, rows(2, 5, 5), t,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = true)))
    checkFooters(t, 6, ParquetTable.store(spark, rows(1, 9), t,
      DbConfig(strategy = DeleteInsert(Seq("k")), keepContent = true)))
  }

  test("empty tables: footer count and schema match the data") {
    val t = table()
    checkFooters(t, 2, ParquetTable.store(spark, rows(1, 2), t, DbConfig(strategy = Append)))
    val empty = table()
    checkFooters(empty, 0, ParquetTable.store(spark, rows(1).limit(0), empty,
      DbConfig(strategy = Append)))
    checkFooters(t, 0, ParquetTable.store(spark, rows(7).filter(lit(false)), t,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = false)))
  }

  test("an Append that keeps content adds one generation; a batch of other columns rewrites the union") {
    val t = table()
    def files = ParquetTable.files(spark, t).map(_.getPath.toString)
    def content = ParquetTable.load(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    ParquetTable.store(spark, rows(1, 2), t, DbConfig(strategy = Append))
    val first = files
    ParquetTable.store(spark, rows(3), t, DbConfig(strategy = Append, keepContent = true))
    val second = files
    assert(second.take(first.size) == first, "the first generation was rewritten")
    assert(second.size > first.size)
    assert(content == Seq((1L, Some("v1")), (2L, Some("v2")), (3L, Some("v3"))))
    // a batch without `v`: the union is rewritten as one generation
    ParquetTable.store(spark, Seq(4L).toDF("k"), t, DbConfig(strategy = Append, keepContent = true))
    assert(files.intersect(second).isEmpty)
    assert(ParquetTable.load(spark, t).columns.toSeq == Seq("k", "v"))
    assert(content == Seq((1L, Some("v1")), (2L, Some("v2")), (3L, Some("v3")), (4L, None)))
  }

  test("a plain parquet directory is refused as a table, untouched") {
    val t = table()
    Seq((1L, "a")).toDF("k", "v").write.parquet(t)
    def tree = {
      val walk = Files.walk(Paths.get(t))
      try walk.iterator().asScala.map(_.toString).toSeq.sorted finally walk.close()
    }
    val before = tree
    Seq[(String, () => Any)](
      "load" -> (() => ParquetTable.load(spark, t)),
      "exists" -> (() => ParquetTable.exists(spark, t)),
      "store" -> (() => ParquetTable.store(spark, rows(2), t,
        DbConfig(strategy = Append, keepContent = true)))).foreach { case (what, op) =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(s"store $t is not a protocol-2 store"), s"$what: ${e.getMessage}")
    }
    assert(tree == before, "a refused table was changed")
  }

  test("a failed write removes its staging dir only after its sibling tasks end") {
    val t = table()
    ParquetTable.store(spark, rows(1), t, DbConfig(strategy = Append))
    val stg = Paths.get(t, ".staging")
    // one task fails at once; its three siblings (local[4]) each write a
    // row a second later, after the job has already failed (they spin, so
    // the kill's interrupt does not stop them early)
    val slow = udf { (i: Long) =>
      if (i == 0) throw new IllegalStateException("planted failure")
      val end = System.nanoTime() + 1000000000L
      while (System.nanoTime() < end) {}
      i
    }
    val batch = spark.range(0, 4, 1, 4).select(slow(col("id")).as("k"), lit("x").as("v"))
      .withColumn("_lineno", monotonically_increasing_id())
    val e = intercept[Exception](ParquetTable.store(spark, batch, t,
      DbConfig(strategy = Append, keepContent = true)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("planted failure")), e)
    // the wait ended on the last task, not on its time limit
    assert(!e.getSuppressed.exists(s => String.valueOf(s.getMessage).contains("still running")),
      e.getSuppressed.map(_.getMessage).mkString("; "))
    assert(!Files.exists(stg), "the staging dir was left behind")
    Thread.sleep(1500) // past every sibling's write
    assert(!Files.exists(stg), "a sibling task wrote into the staging dir after it was deleted")
    assert(ParquetTable.load(spark, t).count() == 1)
  }

  test("a writer lease whose holder is gone does not block the next load; a live holder's does") {
    val t = table()
    ParquetTable.store(spark, rows(1), t, DbConfig(strategy = Append))
    val lp = Paths.get(t, "_writer_lease")
    val thisJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    val host = thisJvm.split("@", 2)(1)
    val append = DbConfig(strategy = Append, keepContent = true)
    // a driver of this host killed mid-commit, and this JVM's own lease
    // from a commit it no longer runs: both fresh, both broken
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    Seq(s"${dead.pid}@$host#killed", s"$thisJvm#leaked").zipWithIndex.foreach { case (token, i) =>
      Files.writeString(lp, token)
      assert(ParquetTable.store(spark, rows(10L + i), t, append) == 2 + i, token)
      assert(!Files.exists(lp), s"$token: the lease was not released")
    }
    // a live process of this host holds it: the load fails fast, naming
    // it, and leaves the lease and the table as they were
    val live = new ProcessBuilder("sleep", "60").start()
    try {
      val token = s"${live.pid}@$host#running"
      Files.writeString(lp, token)
      val e = intercept[RuntimeException](ParquetTable.store(spark, rows(20), t, append))
      assert(e.getMessage.contains("writer lease") && e.getMessage.contains(token), e.getMessage)
      assert(Files.readString(lp) == token)
      assert(ParquetTable.load(spark, t).count() == 3)
    } finally { live.destroy(); Files.deleteIfExists(lp) }
  }

  test("src/main/scala/graft/{sinks,streaming} writes parquet only through StoreSwap") {
    val roots = Seq("sinks", "streaming").map(d => Paths.get("src/main/scala/graft", d))
    roots.foreach(r => assert(Files.isDirectory(r), s"no sources under ${r.toAbsolutePath}"))
    val files = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq finally walk.close()
    }
    assert(files.size >= 7)
    // the export sinks publish ONE export file (text, xls, xlsx) with a
    // replacing move; they write no table
    val exports = Set("TextSink.scala", "XlsSink.scala", "XlsxSink.scala")
    val spellings = Seq(".tmp-graft", ".old-graft", ".parquet(", "format(\"parquet\")",
      "saveAsTable", "insertInto")
    val offences = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val moves = if (!exports(f.getFileName.toString) && src.contains("Files.move"))
        Seq(s"$f: spells Files.move") else Nil
      moves ++ spellings.filter(src.contains).map(n => s"$f: spells $n")
    }
    assert(offences.isEmpty, offences.mkString("\n"))
  }
}
