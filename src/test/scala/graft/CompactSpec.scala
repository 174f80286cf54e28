package graft

import graft.operators.Fixtures
import graft.pipeline.Config.{Append, DbConfig}
import graft.sinks.ParquetTable

/** Small-file compaction: many-fragment tables collapse to the computed
  * file count with identical content, in one commit. */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def fragmented(dir: String, n: Int, parts: Int, v: Int => String): Unit =
    ParquetTable.store(spark, (1 to n).map(i => (i.toLong, v(i))).toDF("k", "v")
      .repartition(parts), dir, DbConfig(strategy = Append))

  private def partFiles(dir: String) = ParquetTable.files(spark, dir).size

  private def content(dir: String) = ParquetTable.load(spark, dir).orderBy("k")
    .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("compact collapses a fragmented table, content unchanged") {
    val dir = Fixtures.tempDir("graft-compact-").resolve("t").toString
    fragmented(dir, 320, 32, i => s"v$i")
    assert(partFiles(dir) == 32)
    val before = content(dir)

    ParquetTable.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(partFiles(dir) == 1, "tiny table must compact to a single file")
    assert(content(dir) == before)
  }

  test("a failed compaction commit keeps the old table version; a re-run commits") {
    withFaultFs {
      val local = Fixtures.tempDir("graft-recover-").resolve("t").toString
      val dir = "faultfs://" + local
      fragmented(dir, 10, 4, i => s"v$i")
      val before = content(dir)
      val files = ParquetTable.files(spark, dir).map(_.getPath.toString)
      FaultFs.failRenameTo.set(_.startsWith("store.v"))
      intercept[RuntimeException](ParquetTable.compact(spark, dir, targetBytes = Long.MaxValue))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(ParquetTable.files(spark, dir).map(_.getPath.toString) == files)
      assert(content(dir) == before)
      ParquetTable.compact(spark, dir, targetBytes = Long.MaxValue)
      assert(partFiles(dir) == 1)
      assert(content(dir) == before)
    }
  }

  test("compact file count scales with target size") {
    val dir = Fixtures.tempDir("graft-compact2-").resolve("t").toString
    fragmented(dir, 1000, 16, _ => "x" * 50)
    val total = ParquetTable.files(spark, dir).map(_.getLen).sum
    ParquetTable.compact(spark, dir, targetBytes = total / 4 + 1)
    val n = partFiles(dir)
    assert(n == 4, s"expected 4 files, got $n")
  }

  private def withFaultFs[T](body: => T): T = {
    val keys = Seq("fs.faultfs.impl" -> classOf[FaultFs].getName,
      "fs.faultfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally {
      FaultFs.failRenameTo.set(null)
      keys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
