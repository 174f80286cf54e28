package graft

import graft.pipeline.Config._
import graft.sinks.{ParquetFooters, ParquetTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.Bus
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The table commit reads footers instead of running jobs: the footer row
  * count is the table's `count()`, and `ParquetTable.load` plans with the
  * schema inference would find, without the inference job. */
class ParquetTableSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = Files.createTempDirectory("graft-ptable-").toString + "/t"

  private def rows(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    .withColumn("_lineno", monotonically_increasing_id())

  /** Footer count = count(); footer schema = inferred schema. */
  private def checkFooters(t: String, expectedRows: Long, partitioned: Boolean = false): Unit = {
    val (loaded, jobs) = Bus.jobsOf(spark.sparkContext)(ParquetTable.load(spark, t))
    if (!partitioned) assert(jobs.isEmpty, s"load of $t planned with jobs: $jobs")
    assert(loaded.schema == spark.read.parquet(t).schema)
    assert(loaded.count() == expectedRows)
    assert(ParquetFooters.rowCount(spark.sessionState.newHadoopConf(), new Path(t)) ==
      expectedRows)
  }

  test("Append, Upsert and DeleteInsert tables: footer count and schema match the data") {
    val t = table()
    ParquetTable.store(spark, rows(1, 2, 3), t, DbConfig(strategy = Append))
    checkFooters(t, 3)
    ParquetTable.store(spark, rows(4), t, DbConfig(strategy = Append, keepContent = true))
    checkFooters(t, 4)
    ParquetTable.store(spark, rows(2, 5, 5), t,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = true))
    checkFooters(t, 5)
    ParquetTable.store(spark, rows(1, 9), t,
      DbConfig(strategy = DeleteInsert(Seq("k")), keepContent = true))
    checkFooters(t, 6)
  }

  test("noTransaction and empty tables: footer count and schema match the data") {
    val t = table()
    ParquetTable.store(spark, rows(1, 2), t, DbConfig(strategy = Append, noTransaction = true))
    checkFooters(t, 2)
    val empty = table()
    ParquetTable.store(spark, rows(1).limit(0), empty, DbConfig(strategy = Append))
    checkFooters(empty, 0)
    ParquetTable.store(spark, rows(7).filter(lit(false)), t,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = false))
    checkFooters(t, 0)
  }

  test("a partitioned table falls back to inference and keeps its partition column") {
    val t = table()
    ParquetTable.storePartitioned(spark, rows(1, 2, 3).withColumn("p", col("k") % 2),
      t, Seq("p"))
    checkFooters(t, 3, partitioned = true)
    assert(ParquetTable.load(spark, t).columns.contains("p"))
  }
}
