package graft.streaming

import graft.operators.StoreSwap
import graft.pipeline.Config.{Append, DbConfig}
import graft.sinks.ParquetTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

/** Streaming re-expression of the reference's polling batch loop
  * (SURVEY.md §2.7): the reference re-runs a load until `processEnd`,
  * picking up files as they appear (`Test/test.pl:70-84`); Structured
  * Streaming's file source IS that loop — each arriving file becomes one
  * micro-batch, the checkpoint replaces the manual retry/processed-file
  * bookkeeping (R1/R3/R4), and `Trigger.ProcessingTime` replaces the
  * `retrySeconds` cadence (R2).
  */
object StreamingLoad {

  /** Watch `inputDir` for delimited text files and keep loading them into
    * `table` with the configured conflict strategy. Each micro-batch runs
    * the same merge path as the batch pipeline (`foreachBatch` →
    * [[ParquetTable.store]]), so batch and streaming loads share one sink
    * contract and one commit — at-least-once delivery + keyed upsert =
    * effectively-once table state (the reference's delete-before-insert
    * idempotency, R4). Malformed lines are appended to `errorTable`, also
    * a [[ParquetTable]], one generation per batch.
    */
  def fileLoadStream(spark: SparkSession, inputDir: String, schema: StructType,
                     sep: String, table: String, db: DbConfig,
                     checkpoint: String,
                     trigger: Trigger = Trigger.ProcessingTime(0),
                     errorTable: Option[String] = None): StreamingQuery = {
    // carry the raw line so malformed rows can be routed, not silently
    // nulled (the batch pipeline's severity-1 error channel, streaming
    // flavor)
    val schemaWithCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType))
    val stream = spark.readStream
      .schema(schemaWithCorrupt)
      .option("sep", sep)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("maxFilesPerTrigger", 1) // one file = one load, like the reference
      .csv(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val cached = batch.cache()
          try {
            val bad = cached.filter(col("_corrupt").isNotNull)
              .select(col("_corrupt").as("raw"), lit(batchId).as("batch_id"))
            errorTable.foreach { et =>
              if (!bad.isEmpty)
                ParquetTable.store(spark, bad, et, DbConfig(strategy = Append, keepContent = true))
            }
            val good = cached.filter(col("_corrupt").isNull).drop("_corrupt")
              .withColumn("_lineno", monotonically_increasing_id())
            if (!good.isEmpty) ParquetTable.store(spark, good, table, db)
            ()
          } finally cached.unpersist()
        }
      }
      .start()
  }

  /** Event-time windowed aggregation with a watermark — the streaming
    * analytics surface over the `events` table shape: tumbling windows,
    * late data dropped after `watermark`. */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class FpDoc(doc_id: Long, text: String, fp: String)
  case class SeenFp(fp: String, keep_id: Long, n_dupes: Long)
  case class DedupDecision(doc_id: Long, fp: String, is_first: Boolean)

  /** Dedup-on-ingest: exact-fingerprint streaming dedup across
    * micro-batches. Keyed state (`flatMapGroupsWithState` on the text
    * fingerprint — the streaming twin of [[graft.operators.Dedup.exact]])
    * remembers the first-seen document per fingerprint; later copies, in
    * the same batch or any later one, are emitted flagged `is_first =
    * false` so the caller can route them (drop, count, audit). Within a
    * batch the lowest id wins — deterministic under redelivery, so
    * at-least-once input still yields exactly-one kept doc per
    * fingerprint. State is one (fp, keep_id, count) row per DISTINCT
    * document — the corpus-dedup memory a 100 TB ingest keeps anyway,
    * sharded across executors by the groupByKey hash. */
  def dedupStream(docs: DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val withFp = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"),
        graft.operators.TextOps.fingerprint(col(textCol)).as("fp"))
      .as[FpDoc]
    withFp.groupByKey(_.fp)
      .flatMapGroupsWithState[SeenFp, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, rows: Iterator[FpDoc], state: GroupState[SeenFp]) =>
          val batch = rows.toSeq.sortBy(_.doc_id)
          state.getOption match {
            case Some(seen) =>
              // redelivery of the kept doc is not a dupe — idempotent
              val dupes = batch.filterNot(_.doc_id == seen.keep_id)
              state.update(seen.copy(n_dupes = seen.n_dupes + dupes.size))
              dupes.iterator.map(d => DedupDecision(d.doc_id, fp, is_first = false))
            case None =>
              val first = batch.head
              state.update(SeenFp(fp, first.doc_id, batch.size - 1L))
              Iterator.single(DedupDecision(first.doc_id, fp, is_first = true)) ++
                batch.tail.iterator.map(d => DedupDecision(d.doc_id, fp, is_first = false))
          }
      }
  }

  case class BudgetDoc(doc_id: Long, source: String, n_tokens: Long)
  case class BudgetState(admitted_tokens: Long, decided: Seq[Long])
  case class BudgetDecision(doc_id: Long, source: String, n_tokens: Long,
                            admitted: Boolean, tokens_before: Long)

  /** Streaming BUDGET ADMISSION: the q134 allocation applied to an
    * arriving corpus — per source, admit documents in arrival order
    * (micro-batch, then id within the batch) while the admitted-token
    * counter is under the source's planned allocation; a document that
    * STARTS under budget is admitted whole (the batch fill's rule).
    * Because the counter only grows, the admitted set is a PREFIX of the
    * arrival order — which is what makes the relational oracle possible
    * (admitted ⟺ running total of all preceding < allocation).
    *
    * State per source = counter + decided ids; the id set makes
    * redelivery idempotent (an at-least-once source re-sends files) and
    * would be dropped in production behind an exactly-once dedup stage
    * ([[dedupStream]]), leaving O(1) state per source. */
  def budgetStream(docs: DataFrame, alloc: Map[String, Long])
      : org.apache.spark.sql.Dataset[BudgetDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs.select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"))
      .as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, BudgetDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[BudgetDoc], state: GroupState[BudgetState]) =>
          val limit = alloc.getOrElse(src, 0L)
          val st = state.getOption.getOrElse(BudgetState(0L, Seq.empty))
          val decided = st.decided.toSet
          val fresh = rows.toSeq.filterNot(d => decided(d.doc_id))
            .sortBy(_.doc_id)
          var adm = st.admitted_tokens
          val out = fresh.map { d =>
            val admit = adm < limit
            val dec = BudgetDecision(d.doc_id, src, d.n_tokens, admit, adm)
            if (admit) adm += d.n_tokens
            dec
          }
          state.update(BudgetState(adm, st.decided ++ fresh.map(_.doc_id)))
          out.iterator
      }
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Custom keyed state via `flatMapGroupsWithState`: per-user running
    * totals that emit an updated row per input batch — the typed-state
    * extension point the reference's per-row hook users would reach for
    * (SURVEY.md §2.8). */
  def runningTotals(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val batch = rows.toSeq
          val updated = UserRunning(userId, prev.n + batch.size,
            prev.total + batch.map(_.value).sum)
          state.update(updated)
          Iterator.single(updated)
      }
  }

  /** Stream-static enrichment: join a stream against a static dimension,
    * broadcast so each micro-batch pays a map-side hash probe instead of
    * a shuffle — the streaming twin of the reference's keyed lookup
    * reads (readFromDBHash, Wrap/DB.pm:84-130).
    *
    * The dimension's FILE LISTING is captured when `dim` is created:
    * overwriting or appending to its directory mid-query is NOT picked
    * up (and an overwrite fails the scan — the listed files are gone).
    * For a dimension that refreshes while the stream runs, re-read it
    * inside `foreachBatch` instead. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream interval join — the impressions-to-
    * conversions shape of an event pipeline: each left event joins right
    * events with the same key whose time falls in
    * `[left.ts, left.ts + window]`. Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can EXPIRE
    * buffered state — without the bound a stream-stream join buffers
    * both streams forever, the 100 TB streaming anti-pattern this
    * helper exists to prevent. Column contract: each side has
    * (`keyCol`, `ts`, payload…); right-side columns are suffixed `_r`. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          window: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "_r"))
    left.withWatermark("ts", watermark)
      .join(r.withWatermark("ts_r", watermark),
        col(keyCol) === col(keyCol + "_r") &&
          col("ts_r") >= col("ts") &&
          col("ts_r") <= col("ts") + expr(s"INTERVAL $window"))
      .drop(keyCol + "_r")
  }

  /** LEFT OUTER [[intervalJoinStreams]] — the attribution shape that
    * also surfaces the non-converters: every left event emits, matched
    * rows as they match, unmatched rows null-extended once the
    * watermark passes the end of their join window and their buffered
    * state is evicted. The time-bound join condition is what makes the
    * outer semantics well-defined on a stream: state for a left row is
    * provably complete at `watermark > ts + window`, so the
    * null-extension decision is final — no retraction, bounded state.
    * Same column contract as [[intervalJoinStreams]]. */
  def intervalJoinStreamsOuter(left: DataFrame, right: DataFrame,
                               keyCol: String, window: String = "1 hour",
                               watermark: String = "2 hours"): DataFrame = {
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "_r"))
    left.withWatermark("ts", watermark)
      .join(r.withWatermark("ts_r", watermark),
        col(keyCol) === col(keyCol + "_r") &&
          col("ts_r") >= col("ts") &&
          col("ts_r") <= col("ts") + expr(s"INTERVAL $window"),
        "leftOuter")
      .drop(keyCol + "_r")
  }

  /** Event-time session windows with a watermark: groups events closer
    * than `gap` into one session per key — the streaming twin of the
    * batch sessionize gate (q44), using Spark's native `session_window`
    * (merging-window state, watermark-bounded) instead of the batch
    * lag+cumsum formulation. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n_events"),
        col("sum_value"))

  /** Streaming maintenance of a count-min sketch table: each micro-batch
    * is sketched ([[graft.operators.Sketches.cmsSketch]] — bounded
    * depth×width output however hot the batch keys run) and merged into
    * the standing sketch, a [[ParquetTable]], by counter addition, the
    * same merge law the batch spec proves. The sketch table stays ≤
    * depth·width rows forever, so frequency estimates over an unbounded
    * stream cost O(1) storage — the streaming twin of the q81 gate.
    *
    * foreachBatch is AT-LEAST-ONCE: after a failure between the sketch
    * commit and the checkpoint commit, the restarted query re-delivers the
    * same batchId. The merge is made idempotent by persisting the
    * last-applied batchId IN the sketch table (a `batch_id` column on
    * every counter row, committed in the same manifest rename as the
    * counters): a re-delivered batch with batchId ≤ the stored watermark
    * is skipped, so the streamed ≡ batch merge law survives crash
    * replay instead of double-counting the re-run delta. */
  def sketchStream(stream: DataFrame, keyCol: String, sketchPath: String,
                   checkpoint: String, depth: Int = 4, width: Int = 256,
                   trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          mergeSketchBatch(batch, batchId, keyCol, sketchPath, depth, width,
            runId = checkpointQueryId(batch.sparkSession, checkpoint))
          ()
        }
      }
      .start()

  /** The streaming query id persisted in `<checkpoint>/metadata` — stable
    * across restarts from the same checkpoint, fresh when the checkpoint
    * is new. This is the identity that scopes Spark's batchId sequence:
    * batchIds restart at 0 for a new checkpoint, so a watermark compared
    * across query ids would silently skip real batches (a reused
    * sketchPath with a cleared checkpoint). */
  def checkpointQueryId(spark: SparkSession, checkpoint: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      // StreamMetadata is a one-key JSON object: {"id":"<uuid>"}
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
    }
  }

  /** One idempotent merge step of [[sketchStream]] — exposed so the
    * replay contract is directly testable. Returns true when the batch
    * was applied, false when it was skipped as already-merged. The read
    * of the standing sketch and its rewrite are one
    * [[StoreSwap.transact]]: the counters and the batch_id + run_id
    * watermark publish together, or, if the commit fails, the sketch
    * stays at its old version and the redelivered batch applies.
    *
    * `runId` scopes the batchId watermark to one checkpoint lifetime
    * (see [[checkpointQueryId]]): when the sketch's stored run id and the
    * current one are both known and differ, the watermark is reset so a
    * fresh checkpoint's batch 0 is applied rather than skipped. A missing
    * run id on either side falls back to the bare batchId compare
    * (direct API callers). A `sketchPath` that is not a table (a plain
    * parquet directory) is refused by [[StoreSwap.open]]. */
  def mergeSketchBatch(batch: DataFrame, batchId: Long, keyCol: String,
                       sketchPath: String, depth: Int, width: Int,
                       runId: Option[String] = None): Boolean = {
    val spark = batch.sparkSession
    StoreSwap.transact(spark, sketchPath) {
      val standing =
        if (ParquetTable.exists(spark, sketchPath)) Some(ParquetTable.load(spark, sketchPath))
        else None
      // bounded read: the sketch is ≤ depth·width rows by construction;
      // an empty sketch has no max, which means "nothing known applied"
      val (applied: Long, storedRun: Option[String]) = standing match {
        case Some(df) =>
          df.agg(max(col("batch_id")), max(col("run_id"))).head() match {
            case r if r.isNullAt(0) => (Long.MinValue, None)
            case r => (r.getLong(0), Option(r.getString(1)))
          }
        case None => (Long.MinValue, None)
      }
      val sameRun = (runId, storedRun) match {
        case (Some(a), Some(b)) => a == b
        case _                  => true
      }
      if (sameRun && batchId <= applied) false
      else {
        val delta = graft.operators.Sketches.cmsSketch(batch, keyCol, depth, width)
        val merged = {
          standing match {
            case Some(df) =>
              df.drop("batch_id").drop("run_id")
                .unionByName(delta)
                .groupBy(col("depth"), col("bucket"))
                .agg(sum(col("cnt")).as("cnt"))
            case None => delta
          }
        }.withColumn("batch_id", lit(batchId))
          .withColumn("run_id", lit(runId.orNull).cast("string"))
        ParquetTable.store(spark, merged.coalesce(1), sketchPath, DbConfig())
        true
      }
    }
  }
}
