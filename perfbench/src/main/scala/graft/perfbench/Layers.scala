package graft.perfbench

/** The per-layer metrics of a traced round. Layers are named after graft's
  * modules; a metric of a layer the workload does not pass through reads 0. */
object Layers {

  /** Spans (or span families: `operators.dedup` covers every
    * `operators.dedup.*` span) whose Spark work is reported. */
  val spanNames: Seq[String] = Seq(
    "sources.text", "pipeline.coerce", "pipeline.load", "sinks.parquet",
    "sinks.text", "streaming.sessions", "operators.textops", "operators.dedup",
    "operators.similarity", "streaming.ingest")

  /** Every per-layer metric, with its unit, in report order. */
  val named: Seq[(String, String)] = Seq(
    "sources.text.busy_s" -> "s", "sources.text.cpu_s" -> "s",
    "sources.text.rows_out" -> "count", "sources.text.mb_in" -> "MB",
    "pipeline.coerce.busy_s" -> "s", "pipeline.coerce.cpu_s" -> "s",
    "pipeline.coerce.rows_rejected" -> "count", "pipeline.coerce.kept_ratio" -> "ratio",
    "pipeline.load.self_s" -> "s", "pipeline.load.jobs" -> "count",
    "sinks.parquet.busy_s" -> "s", "sinks.parquet.mb_written" -> "MB",
    "sinks.parquet.files_written" -> "count", "sinks.parquet.shuffle_mb" -> "MB",
    "sinks.parquet.growth" -> "ratio",
    "sinks.text.busy_s" -> "s", "sinks.text.rows" -> "count",
    "operators.textops.quality.busy_s" -> "s", "operators.textops.repetition.busy_s" -> "s",
    "operators.dedup.exact.busy_s" -> "s", "operators.dedup.near.busy_s" -> "s",
    "operators.dedup.decontam.busy_s" -> "s", "operators.dedup.near.pairs" -> "count",
    "operators.dedup.signatures.busy_s" -> "s", "operators.dedup.signatures.cpu_s" -> "s",
    "operators.dedup.signatures.shuffle_mb" -> "MB",
    "operators.dedup.lsh.candidates" -> "count", "operators.dedup.lsh.verified" -> "count",
    "operators.dedup.lsh.precision" -> "ratio",
    "operators.similarity.train.busy_s" -> "s", "operators.similarity.topk.busy_s" -> "s",
    "operators.similarity.topk.scored_per_query" -> "count",
    "operators.similarity.topk.recall" -> "ratio",
    "operators.dedup.ingest.self_s" -> "s", "operators.storeswap.lease.busy_s" -> "s",
    "operators.storeswap.files_per_batch" -> "count", "operators.storeswap.mb_per_batch" -> "MB",
    "operators.storeswap.versions_per_batch" -> "count", "operators.storeswap.live_mb" -> "MB",
    "operators.dedup.judge.busy_s" -> "s", "operators.dedup.judge.candidates" -> "count",
    "operators.dedup.judge.pairs" -> "count",
    "streaming.ingest.trigger_ms" -> "ms", "streaming.ingest.add_batch_ms" -> "ms",
    "streaming.ingest.wal_ms" -> "ms",
    "streaming.sessions.add_batch_ms" -> "ms", "streaming.sessions.state_rows" -> "count",
    "streaming.sessions.state_mb" -> "MB", "streaming.sessions.state_commit_ms" -> "ms",
    "streaming.sessions.dropped_late" -> "count", "streaming.sessions.shuffle_mb" -> "MB",
    "unattributed_s" -> "s", "trace_overhead_s" -> "s") ++
    spanNames.flatMap(s => Seq(s"spark.$s.gc_s" -> "s", s"spark.$s.spill_mb" -> "MB",
      s"spark.$s.shuffle_read_mb" -> "MB", s"spark.$s.tasks" -> "count"))

  /** Layers a sampled stack is in: the innermost graft frame that names one
    * of these classes decides (`None`: the runner's own code, which stays
    * with its span). Reading and coercion are not among them: inside
    * `LoadRunner.run` they only build a plan, which the runner's own error
    * sample executes (see `EtlLoad.probeReadAndCoerce`). */
  private val sites: Seq[(String, Option[String])] = Seq(
    "graft.sinks.ParquetTable" -> Some("sinks.parquet"),
    "graft.pipeline.LoadRunner" -> None)

  /** The layer of a call stack given by its frames' class names
    * (innermost first), if the stack passes through one of [[sites]]. */
  def bySite(classes: Seq[String]): Option[String] =
    classes.iterator.flatMap(c => sites.find(s => c.startsWith(s._1))).nextOption().flatMap(_._2)

  /** Resolve every metric of [[named]] for a traced round `r` whose spans
    * are `spans`; `untracedWallS` is the untraced rounds' around it. Counts
    * the workload measured itself come from `r.layer`; times and Spark work
    * come from the spans and the collector. */
  def metrics(c: Collector, spans: Seq[Span], r: Round,
              untracedWallS: Double): Seq[(String, Double, String)] = {
    val self = Collector.selfNs(spans)
    def of(name: String) = spans.filter(_.name == name)
    def busyNs(ss: Seq[Span]) = Collector.coveredNs(ss.map(s => (s.startNs, s.endNs)))
    named.map { case (m, unit) =>
      val v = r.layer.getOrElse(m, m match {
        case "unattributed_s" =>
          // wall time of the timed part of the round that no span covers
          val timed = spans.filter(_.endNs <= r.timedEndNs)
          math.max(0.0, r.wallS - busyNs(timed) / 1e9)
        case "trace_overhead_s" => r.wallS - untracedWallS
        case "sinks.parquet.growth" =>
          // the last load's store time over the first's
          val perLoad = of("sinks.parquet").groupBy(_.parent).toSeq
            .map { case (_, ss) => (ss.map(_.startNs).min, busyNs(ss)) }.sortBy(_._1)
          if (perLoad.size < 2) 0.0 else perLoad.last._2.toDouble / perLoad.head._2
        case s"spark.$span.gc_s" => c.countersOf(span).gcMs / 1e3
        case s"spark.$span.spill_mb" => c.countersOf(span).spillBytes / 1e6
        case s"spark.$span.shuffle_read_mb" => c.countersOf(span).shuffleReadBytes / 1e6
        case s"spark.$span.tasks" => c.countersOf(span).tasks.toDouble
        case s"$span.busy_s" => busyNs(of(span)) / 1e9
        case s"$span.self_s" => of(span).map(s => self(s.id)).sum / 1e9
        case s"$span.cpu_s" => c.countersOf(span).cpuNs / 1e9
        case s"$span.shuffle_mb" => c.countersOf(span).shuffleWriteBytes / 1e6
        case s"$span.jobs" => c.countersOf(span).jobs.toDouble
        case _ => 0.0
      })
      (m, v, unit)
    }
  }
}
