package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one round of a workload did. A round is one closed-loop pass of a
  * single client over the staged inputs; `wallS` covers the calls into
  * graft and stops before the output check. */
final case class Round(
    wallS: Double,
    opsMs: Seq[Double],
    readsMs: Seq[Double],
    inputRows: Long,
    inputBytes: Long,
    writtenBytes: Long,
    attempted: Int,
    failures: Seq[String],
    /** Streaming state-store memory at its highest, from query progress. */
    stateBytesPeak: Long = 0L,
    /** Layer counts and ratios only a traced round reports. */
    layer: Map[String, Double] = Map.empty,
    /** When the part of the round that `wallS` times ended; spans after it
      * belong to calls a traced round makes only to count things. */
    timedEndNs: Long = Long.MaxValue)

trait Workload {
  /** Untimed: write this seed's inputs under `dir`, compute what the
    * outputs must be, and build any standing state the rounds start from. */
  def setUp(spark: SparkSession, dir: Path, seed: Long): Unit

  /** One round; everything it writes goes under `out`. With `traced`, each
    * layer call is forced on its own inside a [[Collector.span]]. */
  def round(spark: SparkSession, c: Collector, out: Path, traced: Boolean): Round

  /** The set-up's warm-up: the workload's unit operation, once. */
  def warmUp(spark: SparkSession, c: Collector, out: Path): Unit

  /** Set-ups per run; `setup_s` is their median. */
  def setUps: Int = 2

  /** Untimed, checked rounds between set-up and the timed phase: round
    * times keep falling over the first rounds of a JVM while the JIT
    * catches up with the driver's planning code. */
  def warmRounds: Int = 1

  /** Timed rounds a run makes even when `--seconds` is up sooner, so that
    * a slow host does not change which rounds the medians are taken over. */
  def minRounds: Int = 1
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "etl_load" -> (() => new EtlLoad),
    "curation_streams" -> (() => new CurationStreams))
}

/** Run one workload: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints every metric by name with its unit,
  * then the run's environment, then the result as one JSON line (last). */
object Main {

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val outDir = Paths.get(opts.getOrElse("out", work.resolve("out").toString)).toAbsolutePath
    val make = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; one of " +
        Workload.all.keys.toSeq.sorted.mkString(", ")))
    val loadAtStart = loadAvg()
    val started = System.nanoTime()
    def progress(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")
    val cores = Runtime.getRuntime.availableProcessors()

    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()
    def account(r: Round): Round = {
      attempted += r.attempted
      failures ++= r.failures
      r
    }

    // set-up, several times: session start, input generation, and one
    // unit operation as warm-up (the first one also pays JVM class loading
    // and JIT compilation)
    var spark: SparkSession = null
    var collector: Collector = null
    var workload: Workload = null
    val setupS = (1 to make().setUps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      collector = new Collector(spark)
      workload = make()
      workload.setUp(spark, work.resolve("in"), seed)
      val warm = work.resolve(s"warm-$i")
      workload.warmUp(spark, collector, warm)
      Disk.delete(warm)
      progress(s"set-up $i done")
      (System.nanoTime() - t0) / 1e9
    }
    val c = collector
    (1 to workload.warmRounds).foreach { i =>
      account(workload.round(spark, c, work.resolve("warm"), traced = false))
      Disk.delete(work.resolve("warm"))
      progress(s"warm round $i done")
    }
    // timed phase, tracing off: closed loop of rounds for `seconds`
    val rounds = mutable.ArrayBuffer[(Round, Double, Long)]() // round, cpu_s, cache peak
    val t0 = System.nanoTime()
    var tried = 0
    while (tried < workload.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val out = work.resolve(s"round-$tried")
      tried += 1
      c.drain()
      val before = c.totals()
      c.resetBlockPeak()
      try {
        val r = account(workload.round(spark, c, out, traced = false))
        c.drain()
        rounds += ((r, c.totals().minus(before).cpuNs / 1e9, c.blockPeakBytes + r.stateBytesPeak))
      } catch {
        case e: Exception =>
          attempted += 1
          failures += s"round $tried failed: $e"
      }
      Disk.delete(out)
      progress(s"round $tried done: " + rounds.lastOption.fold("failed") { case (r, _, _) =>
        def ms(xs: Seq[Double]) = xs.map(v => f"$v%.0f").mkString(" ")
        s"wall ${f"${r.wallS}%.3f"} s, ops ${ms(r.opsMs)} ms, reads ${ms(r.readsMs)} ms"
      })
    }
    require(rounds.nonEmpty, s"no round succeeded: ${failures.take(3).mkString("; ")}")

    val wallS = median(rounds.map(_._1.wallS).toSeq)
    val first = rounds.head._1
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("wall_s", wallS, "s"),
        ("rows_per_s", first.inputRows / wallS, "1/s"),
        // the mean of a round first, then the median over rounds: a
        // round's operations can be of different kinds (an append, an
        // abort, an upsert), and a median over all of them would jump from
        // one kind to another with the number of rounds the run fits
        ("op_ms_p50", median(rounds.map(r => mean(r._1.opsMs)).toSeq), "ms"),
        ("read_ms_p50", median(rounds.flatMap(_._1.readsMs).toSeq), "ms"),
        ("cpu_s", median(rounds.map(_._2).toSeq), "s"),
        ("write_amp", median(rounds.map(r => r._1.writtenBytes.toDouble / r._1.inputBytes).toSeq), "ratio"),
        ("cache_peak_mb", median(rounds.map(_._3 / 1e6).toSeq), "MB"))
      else {
        // the separate traced run: one round with every layer call spanned
        c.runId = s"$name-$seed-${System.currentTimeMillis()}"
        c.tracing = true
        val out = work.resolve("traced")
        val from = System.nanoTime()
        val r = account(workload.round(spark, c, out, traced = true))
        val to = System.nanoTime()
        c.tracing = false
        c.drain()
        Disk.delete(out)
        c.writeTrace(outDir.resolve(s"trace-$name-$seed.jsonl"))
        // the trace overhead against the untraced rounds before and after
        // it: their mean cancels, to first order, the JIT still speeding
        // rounds up
        val after = account(workload.round(spark, c, work.resolve("after"), traced = false))
        Disk.delete(work.resolve("after"))
        Layers.metrics(c, c.spansIn(from, to), r, (wallS + after.wallS) / 2)
      }

    progress("measured")
    println(s"# $name seed=$seed rounds=${rounds.size} trace=${if (trace) 1 else 0}")
    metrics.foreach { case (m, v, u) => println(f"# $m%-40s $v%.6f $u") }
    val env = Seq(
      "workload" -> name, "seed" -> seed, "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "load_avg_start" -> loadAtStart,
      "rounds" -> rounds.size,
      "spark_conf" -> spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1))
    println("# env " + Json.obj(env))
    failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    spark.stop()
    progress("stopped")
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metrics.map { case (m, v, u) => m -> Seq("value" -> v, "unit" -> u) })))
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // the session settings of graft.Bench, shuffle partitions = cores
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of nothing")
    xs.sum / xs.size
  }

  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Wall time of `body` in milliseconds, with its result. */
  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}
