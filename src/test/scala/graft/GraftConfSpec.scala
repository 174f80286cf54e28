package graft

import graft.operators.{Fixtures, GraftConf, Lineage, StoreSwap}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftConf]] is the one schema of the `graft.*` session keys: a key
  * it does not declare — a retired mode or a typo — is refused by name
  * on the next graft conf read, and the keys are read nowhere else. */
class GraftConfSpec extends SparkSpec {

  private def withConf[T](key: String, v: String)(body: => T): T = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  test("a removed or mistyped graft.* key is refused by name by a commit and a cut") {
    val path = Fixtures.tempDir("graft-conf-").resolve("s").toString
    def commit() = StoreSwap.stagedRewrite(spark, path, "b", Seq(0, 1),
      spark.range(4).withColumn("b", (col("id") % 2).cast("int")),
      Seq(col("id")))
    commit()
    val before = StoreSwap.snapshotVersions(spark, path)
    val undeclared = Seq("graft.dedup.bandedAbove", "graft.lsh.maxJudgeChunks",
      "graft.pq.maxSerialChunks", "graft.stream.statePartitions",
      "graft.store.snapshotkeep")
    for (key <- undeclared) {
      val (eCommit, eCut) = withConf(key, "1") {
        (intercept[IllegalArgumentException](commit()),
          intercept[IllegalArgumentException](
            Lineage.cut(spark.range(1).toDF())))
      }
      for (e <- Seq(eCommit, eCut))
        assert(e.getMessage.contains(key), e.getMessage)
    }
    assert(StoreSwap.snapshotVersions(spark, path) == before,
      "a refused commit changed the store")
    commit() // the keys are gone: commits run again
    assert(StoreSwap.snapshotVersions(spark, path).size > before.size)
  }

  test("the retired persist cut mode is refused, naming the key and value") {
    val e = GraftConf.PlanCuts.withValue(spark, "persist") {
      intercept[IllegalArgumentException](Lineage.cut(spark.range(1).toDF()))
    }
    assert(e.getMessage == "graft.plan.cuts must be checkpoint or off," +
      " got 'persist'")
  }

  test("withValue restores the caller's value, or unsets it, even on a throw") {
    val key = GraftConf.SnapshotKeep
    // no prior value: unset afterwards
    assert(key.withValue(spark, "8")(key(spark)) == 8)
    assert(spark.conf.getOption(key.name).isEmpty)
    // the caller's own value survives the body
    withConf(key.name, "3") {
      key.withValue(spark, "8")(assert(key(spark) == 8))
      assert(key(spark) == 3)
      // ... also when the body throws
      intercept[IllegalStateException](
        key.withValue(spark, "8")(throw new IllegalStateException("boom")))
      assert(key(spark) == 3)
    }
    intercept[IllegalStateException](
      key.withValue(spark, "8")(throw new IllegalStateException("boom")))
    assert(spark.conf.getOption(key.name).isEmpty)
  }

  test("graft.* keys are read only through GraftConf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources under ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftConf.scala").toSeq
    assert(files.size > 50)
    // a session conf read outside GraftConf names a spark.* key literally
    val read = """\.conf\s*\.\s*(get|getOption|getConfString)\s*\(\s*([^)]*)""".r
    // and a declared key is spelled nowhere else
    val literals = GraftConf.declared.map(k => "\"" + k + "\"")
    val offences = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      read.findAllMatchIn(src).map(_.group(2).trim)
        .filterNot(_.startsWith("\"spark."))
        .map(arg => s"$f: conf read of $arg") ++
        literals.filter(src.contains).map(l => s"$f: declares $l")
    }
    assert(offences.isEmpty, offences.mkString("\n"))
  }
}
