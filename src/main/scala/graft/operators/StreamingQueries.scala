package graft.operators

import graft.Tables
import graft.pipeline.Config._
import graft.sinks.ParquetTable
import graft.streaming.StreamingLoad
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** Driver gates for the streaming load path (SURVEY.md §2.7): each
  * arriving file is one micro-batch, the Spark form of the reference's
  * incoming file drops. The 16 gates cover the keyed upsert (q114, the
  * batch pipeline's q14 table contract as a file stream), stateful
  * dedup, budget admission and sketches under redelivery (q127, q141,
  * q162), event-time joins, sessions and the watermark drop path (q170,
  * q174, q180, q182), and foreachBatch ingest into the standing
  * embedding, PQ and text stores, exactly-once included (q184, q189,
  * q204, q215, q212, q223, q224, q230). Every gate stages, runs and
  * reads back through one fixture, [[StreamFixture]]: chunk files with a
  * forced arrival order, the stream run to completion, then the final
  * table; the DuckDB oracle recomputes the expected end state
  * relationally. StreamingSpec proves the operators' equivalences
  * in-test; these put them under the driver's value gate. */
object StreamingQueries {

  /** Total bytes of regular files under `dirs` — the staged input size
    * a gate just wrote, read driver-side (no Spark job). */
  private def stagedBytes(dirs: Seq[Path]): Long =
    dirs.map { d =>
      val s = Files.walk(d)
      try s.filter(p => Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }.sum

  /** Child session for a gate's micro-batch run, with the state/shuffle
    * partition count derived from the STAGED INPUT SIZE instead of the
    * session default (= the core count in the bench session). Stateful
    * streaming shuffles bypass AQE coalescing — the state-store
    * partition count is frozen at the first checkpoint — so every
    * micro-batch otherwise runs `cores` state tasks and writes `cores`
    * state-store delta files regardless of batch volume: pure per-batch
    * overhead when batches are small, and the wrong sizing principle at
    * any scale (the data, not the box, should size a shuffle — guide
    * §2.2). Partitions = staged bytes / 32 MB, at least
    * min(4, defaultParallelism) and at most defaultParallelism, always
    * derived (no conf key overrides it). Results are
    * partition-count-invariant: every streaming gate's output is an
    * exact aggregate/join/dedup state, sorted before hashing — only task
    * count changes. Every `graft.*` conf and every modifiable
    * `spark.sql.*` conf of the caller's session (AQE, timezone, ANSI,
    * plan cuts...) is copied over, since `newSession()` only inherits
    * builder-time config; a `graft.*` key [[GraftConf]] does not
    * declare is copied too, and refused by the child's first graft
    * conf read. */
  private[graft] def streamSession(spark: SparkSession, stagedDirs: Path*): SparkSession = {
    val ss = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("graft.") ||
          (k.startsWith("spark.sql.") && spark.conf.isModifiable(k)))
        ss.conf.set(k, v)
    }
    val per = 32L << 20 // 32 MB of staged input per state partition
    val cores = spark.sparkContext.defaultParallelism.toLong
    // floor of 4, not 1: a single state partition serializes the
    // CPU-bound state ops (measured on q174's session-window merge:
    // prepare 3.98 s at 32 partitions -> 5.7 s at 1, back to ~4 s at 4)
    // while the per-batch task/file overhead the derivation exists to
    // kill is already 8x down from the core count
    val n = math.max(math.min(4L, cores),
      math.min(cores, (stagedBytes(stagedDirs) + per - 1) / per))
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    ss
  }

  /** The one streaming fixture of these gates, in a temp dir of its own.
    * Staged chunks are the gate's test FIXTURE (the reference's incoming
    * file drops, written driver-side), not a data path: the data movement
    * is the stream's distributed micro-batches. Arrival order is forced
    * by mtime (the i-th file arrives at t0 + i·2000 ms; Spark's file
    * source takes the oldest first), and every source reads one file per
    * micro-batch. A returned DataFrame may read staged or stored files
    * lazily, so the dir must outlive the caller's consumption —
    * [[Fixtures]] reclaims it at JVM exit. Stage BEFORE taking a
    * [[streamSession]]: the staged bytes size its state partitions. */
  private final class StreamFixture(tag: String) {
    private val t0 = 1600000000000L
    val tmp: Path = Fixtures.tempDir(s"graft-$tag-")
    val checkpoint: String = tmp.resolve("cp").toString

    /** A fresh input directory `name` under the temp dir. */
    def inbox(name: String = "in"): Path =
      Files.createDirectories(tmp.resolve(name))

    /** Give `p` the mtime of the i-th arrival. */
    def arrive(p: Path, i: Int): Unit =
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 2000L))

    /** Write `df` as the single parquet file `<into>/<name>.parquet`
      * (`coalesce(1)`, then its one part file moved), arriving i-th. */
    def stage(df: DataFrame, into: Path, name: String, i: Int): Unit = {
      val stage = tmp.resolve(s"stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val listing = Files.list(stage)
      val part = try listing.filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      finally listing.close()
      val dest = into.resolve(s"$name.parquet")
      Files.move(part, dest)
      arrive(dest, i)
    }

    /** Two micro-batches: `df`'s rows where `first` holds as d1, then
      * the rest as d2. */
    def stagePair(df: DataFrame, into: Path, first: Column): Unit = {
      stage(df.filter(first), into, "d1", 0)
      stage(df.filter(!first), into, "d2", 1)
    }

    /** q127/q141/q162's chunks: the rows with `id` ≡ 0, 1, 2 (mod 3) in
      * that order, then a redelivery of every 7th id. */
    def stageMod3(df: DataFrame, id: String, into: Path): Unit = {
      (0 until 3).foreach { i =>
        stage(df.filter(col(id) % 3 === i), into, s"chunk$i", i)
      }
      stage(df.filter(col(id) % 7 === 0), into, "redelivery", 3)
    }

    /** The event-time quartile (0-3) of each row's `ts` over `ev`, and
      * `ev`'s max ts in µs — two longs of driver state. Quartile chunks
      * arrive in time order: q170/q174/q180/q182's staging. */
    def quartiles(ev: DataFrame): (Column, Long) = {
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect().head
      val lo = mm.getLong(0)
      val span = mm.getLong(1) - lo + 1
      (least(lit(3),
        floor((unix_micros(col("ts")) - lit(lo)) * 4 / lit(span))).cast("int"),
        mm.getLong(1))
    }

    /** The files of `in` as a stream through session `s`, one file per
      * micro-batch. */
    def source(s: SparkSession, in: Path, schema: StructType): DataFrame =
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)

    /** Run a started query to completion, then stop it. */
    def await(q: StreamingQuery): Unit =
      try q.processAllAvailable() finally q.stop()

    /** Start `w` with its checkpoint under the temp dir and run it to
      * completion. */
    def run(w: DataStreamWriter[_]): Unit =
      await(w.option("checkpointLocation", checkpoint).start())

    /** Run `out` into a memory sink of a unique name and return the
      * sink's table, read through `ss`. */
    def memory(ss: SparkSession, out: Dataset[_], mode: String): DataFrame = {
      val qn = s"${tag}_" + java.util.UUID.randomUUID().toString.replace("-", "")
      run(out.writeStream.format("memory").queryName(qn).outputMode(mode))
      ss.table(qn)
    }
  }

  /** lineitem subset → 3 base chunks (disjoint keys) + 1 overlay chunk
    * (every 80th order re-delivered with bumped quantity) staged as
    * delimited files in arrival order → streaming upsert → read back.
    * The one text gate: its chunks are `|`-delimited lines, written
    * through the fixture's temp dir, arrival times and run step. */
  def q114StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the fixture staging below collects four disjoint slices
    // of this aggregate — uncached, each collect would re-run the full
    // lineitem scan + shuffle
    val base = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 40 === 0)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity")).cast("double").as("l_quantity"),
        max(col("l_returnflag")).as("l_returnflag"))
      .persist()

    // unpersist must run however staging or the stream fails — an
    // orphaned cache entry would occupy storage memory for the session
    try {
      val fx = new StreamFixture("q114")
      val in = fx.inbox()
      val table = fx.tmp.resolve("table").toString

      def writeChunk(df: DataFrame, name: String, i: Int): Unit = {
        val rows = df.collect().map { r =>
          s"${r.getLong(0)}|${r.getInt(1)}|${r.getDouble(2)}|${r.getString(3)}"
        }
        val p = in.resolve(name)
        Files.write(p, rows.mkString("", "\n", "\n").getBytes("UTF-8"))
        fx.arrive(p, i)
      }

      // three disjoint base chunks, then the overlay re-delivery — the
      // arrival order the upsert semantics depend on
      (0 until 3).foreach { i =>
        writeChunk(base.filter(col("l_orderkey") % 3 === i), s"chunk$i.csv", i)
      }
      writeChunk(base.filter(col("l_orderkey") % 80 === 0)
          .withColumn("l_quantity", col("l_quantity") + lit(50.0))
          .withColumn("l_returnflag", lit("S")),
        "overlay.csv", 3)

      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))
      fx.await(StreamingLoad.fileLoadStream(spark, in.toString, schema, "|",
        table, DbConfig(strategy = Upsert(Seq("l_orderkey", "l_linenumber")),
          keepContent = true), fx.checkpoint))

      ParquetTable.load(spark, table)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    } finally base.unpersist()
  }

  /** q127: streaming first-seen dedup — the corpus-ingest memory of
    * q19/q82 as a STATEFUL STREAM ([[StreamingLoad.dedupStream]],
    * `flatMapGroupsWithState` keyed by content fingerprint). Documents
    * arrive as four parquet micro-batches (ids ≡0,1,2 mod 3, then a
    * REDELIVERY of every 7th doc); each doc gets exactly one
    * decision row — first-seen keeps, later copies flag as dupes, and
    * redelivery of a kept doc emits nothing (idempotent under
    * at-least-once delivery). The oracle replays the arrival order
    * relationally: winner per fingerprint = min (chunk, doc_id). On
    * the gate data every document's fingerprint is distinct (500 of
    * 500 at sf0.001 and sf0.01), so every row keeps and the arrival
    * order decides nothing: the gate pins one decision per doc across
    * the four batches and the silent redelivery. The dupe verdict of
    * a later copy is pinned by StreamingSpec's `dedupStream` test. */
  def q127StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .persist()
    try {
      val fx = new StreamFixture("q127")
      val in = fx.inbox()
      fx.stageMod3(docs, "doc_id", in)
      val ss = streamSession(spark, in) // state partitions from staged size
      // redelivered non-kept docs re-emit their (identical) dupe verdict;
      // distinct folds replays to the one decision per doc
      fx.memory(ss, StreamingLoad.dedupStream(fx.source(ss, in, docs.schema),
          "doc_id", "text"), "append")
        .select(col("doc_id"), col("fp"), col("is_first"))
        .distinct()
        .orderBy(col("doc_id"))
    } finally docs.unpersist()
  }

  /** q141: streaming BUDGET ADMISSION — the q134 plan (half-corpus token
    * budget, Hamilton-split per source) enforced against an ARRIVING
    * corpus ([[StreamingLoad.budgetStream]], keyed state per source).
    * Same staging as q127: three micro-batches by doc_id mod 3, then a
    * redelivery of every 7th doc that must change nothing (the
    * decided-id state absorbs at-least-once delivery). The
    * oracle replays arrival order relationally — admission is a PREFIX
    * of (chunk, doc_id) order per source, so `running total < alloc`
    * reproduces every decision. */
  def q141StreamBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .persist()
    try {
      val alloc = Sampling.budgetAllocate(docs, "source", "doc_id",
          "n_tokens", num = 1, den = 2)
        .select(col("source"), col("alloc_tokens")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fx = new StreamFixture("q141")
      val in = fx.inbox()
      fx.stageMod3(docs, "doc_id", in)
      val ss = streamSession(spark, in) // state partitions from staged size
      fx.memory(ss, StreamingLoad.budgetStream(fx.source(ss, in, docs.schema),
          alloc), "append")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("admitted"), col("tokens_before"))
        .orderBy(col("doc_id"))
    } finally docs.unpersist()
  }

  /** q162: STREAMING distinct-sketch maintenance — the q158 HLL
    * registers kept live by a streaming `groupBy(type, register).max`
    * over arriving events. Register state grows monotonically (max is
    * idempotent and order-independent), so the redelivery chunk changes
    * NOTHING and the final registers equal the batch sketch over the
    * same rows — which is exactly what the DuckDB oracle computes. Same
    * chunked-file staging as q127; the memory sink's update rows are
    * re-maxed at read time (each is a register's value at some batch —
    * the max of a monotone sequence is its final value). */
  def q162StreamHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
      .persist()
    try {
      val fx = new StreamFixture("q162")
      val in = fx.inbox()
      fx.stageMod3(ev, "event_id", in)
      val ss = streamSession(spark, in) // state partitions from staged size
      val (j, rho) = Sketches.hllColumns(col("user_id"))
      val regs = fx.memory(ss, fx.source(ss, in, ev.schema)
          .select(col("event_type"), j.as("j"), rho.as("rho"))
          .groupBy(col("event_type"), col("j"))
          .agg(max(col("rho")).as("mj")), "update")
        .groupBy(col("event_type"), col("j"))
        .agg(max(col("mj")).as("mj"))
      Sketches.hllEstimate(regs, Seq("event_type"))
        .orderBy(col("event_type"))
    } finally ev.unpersist()
  }

  /** q170/q182's sides: `ev`'s views and purchases as (event_id,
    * user_id, ts), each staged as the four event-time quartile chunks
    * (v0-v3 and b0-b3, chunk i of both sides arriving i-th). Returns the
    * two inboxes, the sides' schema and max ts in µs. */
  private def stageJoinSides(fx: StreamFixture,
                             ev: DataFrame): (Path, Path, StructType, Long) = {
    val inV = fx.inbox("views")
    val inB = fx.inbox("buys")
    val (chunkOf, hi) = fx.quartiles(ev)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("event_id"), col("user_id"), col("ts"))
    val (views, buys) = (side("view"), side("purchase"))
    (0 until 4).foreach { i =>
      fx.stage(views.filter(chunkOf === i), inV, s"v$i", i)
      fx.stage(buys.filter(chunkOf === i), inB, s"b$i", i)
    }
    (inV, inB, views.schema, hi)
  }

  /** q170: the watermarked STREAM-STREAM interval join
    * ([[StreamingLoad.intervalJoinStreams]]) under the driver's value
    * gate — views joined to same-user purchases within the following
    * hour, both sides arriving as four TIME-ORDERED micro-batches.
    * The staging is what makes the replay exact: chunks split on global
    * event-time quartiles, so (a) no input is ever older than the
    * 2-hour watermark when it arrives (nothing late-dropped), and
    * (b) any view whose match sits in the next chunk is within one
    * hour of the boundary, and state for it survives because
    * watermark = boundary − 2 h < view.ts + 1 h. Under those two
    * invariants the bounded-state streaming join emits EXACTLY the
    * static interval join, which is what the DuckDB oracle computes —
    * the equivalence a 100 TB ingest pipeline otherwise trusts blind.
    * Inner-join matches emit in the batch they occur (no watermark
    * wait), so the memory sink holds the full result after the run. */
  def q170StreamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .persist()
    try {
      val fx = new StreamFixture("q170")
      val (inV, inB, schema, _) = stageJoinSides(fx, ev)
      val ss = streamSession(spark, inV, inB) // state partitions from staged size
      fx.memory(ss, StreamingLoad.intervalJoinStreams(fx.source(ss, inV, schema),
          fx.source(ss, inB, schema), "user_id", window = "1 hour",
          watermark = "2 hours"), "append")
        .select(col("user_id"), col("event_id").as("view_event"),
          col("event_id_r").as("buy_event"),
          unix_micros(col("ts")).as("view_us"),
          unix_micros(col("ts_r")).as("buy_us"))
        .orderBy(col("user_id"), col("view_event"), col("buy_event"))
    } finally ev.unpersist()
  }

  /** q182: LEFT OUTER watermarked stream-stream interval join
    * ([[StreamingLoad.intervalJoinStreamsOuter]]) — q170's scenario
    * with the non-converters surfaced: views with no same-user purchase
    * in the following hour emit NULL-extended, and on a stream that
    * decision is only final once the watermark passes the view's join
    * window and its buffered state is evicted. The q170 staging plus
    * two SENTINEL batches per side (a user −1 row at max(ts) + 4 h,
    * twice — the watermark tracker lags a planning cycle, see q180)
    * advance both sides' watermarks past every real join window, so
    * the streaming output provably equals the static LEFT join the
    * oracle computes (sentinels excluded by their negative user id).
    * This gates the state-EVICTION path of the join — the half q170's
    * inner join never exercises. */
  def q182StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .persist()
    try {
      val fx = new StreamFixture("q182")
      val (inV, inB, schema, hi) = stageJoinSides(fx, ev)
      val H = 3600L * 1000000L
      Seq(4, 5).foreach { i =>
        val sentinel = ev.sparkSession.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"),
          timestamp_micros(lit(hi + 4 * H + (i - 4) * 1000000L)).as("ts"))
        fx.stage(sentinel, inV, s"v$i", i)
        fx.stage(sentinel, inB, s"b$i", i)
      }
      val ss = streamSession(spark, inV, inB) // state partitions from staged size
      fx.memory(ss, StreamingLoad.intervalJoinStreamsOuter(
          fx.source(ss, inV, schema), fx.source(ss, inB, schema), "user_id",
          window = "1 hour", watermark = "2 hours"), "append")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("event_id").as("view_event"),
          col("event_id_r").as("buy_event"),
          unix_micros(col("ts")).as("view_us"),
          unix_micros(col("ts_r")).as("buy_us"))
        .orderBy(col("user_id").asc, col("view_event").asc,
          col("buy_event").asc_nulls_first)
    } finally ev.unpersist()
  }

  /** q184/q189/q223's embedding ingest flow: the embeddings, the
    * standing quantizer (k = ⌈n/50⌉, two iterations) and the q177
    * augmentation delta ([[SelectionQueries.augmentDelta]]), which
    * [[stream]] stages as two micro-batches — the scaled twins (ids below
    * 200000), then the reversed novelties and their 2× copies — and runs
    * through a foreachBatch body in the caller's session. */
  private final class EmbeddingFlow(spark: SparkSession, dir: String,
                                    tag: String) {
    val emb: DataFrame = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents: Seq[Seq[Double]] = Similarity.trainCentroids(emb, "vec_id",
      "embedding", ((emb.count() + 49) / 50).toInt, iters = 2)
    val fx = new StreamFixture(tag)
    val store: String = fx.tmp.resolve("standing").toString
    val delta: DataFrame = SelectionQueries.augmentDelta(emb)
    val firstBatch: Column = col("vec_id") < 200000L

    /** `df` with its standing `cluster` and `nrm`. */
    def assigned(df: DataFrame): DataFrame = df
      .withColumn("cluster",
        Similarity.assignCluster(col("embedding"), cents).cast("long"))
      .withColumn("nrm", Similarity.norm(col("embedding")))

    def stream(perBatch: (DataFrame, Long) => Unit): Unit = {
      val in = fx.inbox()
      fx.stagePair(delta, in, firstBatch)
      fx.run(fx.source(spark, in, delta.schema).writeStream
        .foreachBatch(perBatch))
    }
  }

  /** q184: STREAMING SEMANTIC INGEST against a standing store — the
    * q181 daily flow run as an actual stream: each micro-batch of new
    * embeddings is assigned against the standing quantizer
    * (materialized once per batch), judged by
    * [[Similarity.semDedupIncrementalPrepped]] against the standing
    * store PLUS every previously-kept delta, and the keepers are
    * appended to the store before the next batch runs. Two staged
    * batches: the scaled twins (judged against the base), then the
    * reversed novelties + their 2× copies (judged against the base and
    * the batch-1 keepers; the copies drop batch-internally). On the
    * gate data no batch-2 row is near a batch-1 keeper, so the verdicts
    * do not depend on the batch order (the two batches swapped give
    * the same rows): the gate pins each batch's judgment against the
    * standing store, the batch-internal drop and the keeper append.
    * The oracle replays the standing training and BOTH sequential
    * judgments. foreachBatch serializes batches, so the store read in
    * batch N sees exactly the batch-(N-1) append — the same
    * settled-membership invariant q177 states. */
  def q184StreamIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val f = new EmbeddingFlow(spark, dir, "q184")
    val verdicts = f.fx.tmp.resolve("verdicts").toString
    f.assigned(f.emb).write.mode("overwrite").parquet(f.store)
    f.stream { (batch, _) =>
      // the batch's assignment is an interpreted literal argmin
      // referenced by both joins and the verdict — materialize ONCE
      // (the prepped core's contract)
      val d = f.assigned(batch).cache()
      try {
        val standing = batch.sparkSession.read.parquet(f.store)
        val v = Similarity.semDedupIncrementalPrepped(
          standing, d, "vec_id", "embedding", "cluster", "nrm",
          "cluster", "nrm", minCos = 0.99).cache()
        try {
          v.write.mode("append").parquet(verdicts)
          // keepers join the standing corpus BEFORE the next batch
          d.join(v.filter(col("keep")).select(col("vec_id")), "vec_id")
            .select(col("vec_id"), col("embedding"), col("cluster"),
              col("nrm"))
            .write.mode("append").parquet(f.store)
        } finally v.unpersist()
      } finally d.unpersist()
    }
    spark.read.parquet(verdicts)
      .select(col("vec_id"), col("cluster"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** q189: q184's streaming semantic ingest run over the PARTITIONED
    * standing store — the complete store lifecycle under a live stream:
    * the base is laid out by [[Similarity.writeStandingStore]]
    * (hash-bucketed dirs, cluster-sorted files), each micro-batch is
    * judged by [[Similarity.semDedupIncrementalStore]] (the batch's
    * cluster set prunes partition dirs + row groups, so per-batch base
    * I/O tracks the batch's footprint), and keepers are appended into
    * their buckets by [[Similarity.appendToStandingStore]] before the
    * next batch. Identical math to q184 — same staged batches, same
    * sequential judgments — so the oracle is q184's verbatim; what
    * this gate adds is that the bucket layout survives judge → append
    * → judge cycles bit-exactly. */
  def q189StreamIngestStore(spark: SparkSession, dir: String): DataFrame = {
    val f = new EmbeddingFlow(spark, dir, "q189")
    val verdicts = f.fx.tmp.resolve("verdicts").toString
    Similarity.writeStandingStore(f.assigned(f.emb), f.store, "cluster",
      buckets = 16)
    f.stream { (batch, _) =>
      val d = f.assigned(batch).cache()
      try {
        val v = Similarity.semDedupIncrementalStore(
          batch.sparkSession, f.store, d, "vec_id", "embedding",
          "cluster", "nrm", minCos = 0.99).cache()
        try {
          v.write.mode("append").parquet(verdicts)
          Similarity.appendToStandingStore(
            d.join(v.filter(col("keep")).select(col("vec_id")), "vec_id")
              .select(col("vec_id"), col("embedding"), col("cluster"),
                col("nrm")),
            f.store, "cluster")
        } finally v.unpersist()
      } finally d.unpersist()
    }
    spark.read.parquet(verdicts)
      .select(col("vec_id"), col("cluster"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** q223: EXACTLY-ONCE STREAMING INGEST into a VERSIONED store —
    * foreachBatch is at-least-once by contract: after a crash between
    * a sink write and the epoch acknowledgment, Structured Streaming
    * REDELIVERS the batch, and a plain append would double its rows.
    * Here each micro-batch commits through
    * [[Similarity.appendToStandingStore]] with its batchId, which
    * [[graft.operators.StoreSwap.appendDir]] records in the SAME
    * manifest rename that publishes the rows — data visibility and
    * batch acknowledgment are one atomic operation, so the ledger can
    * never claim a batch whose rows are missing nor miss a batch whose
    * rows landed. The gate runs the two-batch ingest, then REDELIVERS
    * batch 0 (same id, same rows — the post-crash contract) and dumps
    * the store: the oracle is the once-only assignment replay, so a
    * double-append breaks rows+hash. The skip happens WITHOUT
    * evaluating the redelivered DataFrame (VersionedStoreSpec proves
    * that with a poisoned batch). */
  def q223StreamExactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val f = new EmbeddingFlow(spark, dir, "q223")
    def append(df: DataFrame, id: Long): Unit =
      Similarity.appendToStandingStore(f.assigned(df)
          .select(col("vec_id"), col("embedding"), col("cluster"), col("nrm")),
        f.store, "cluster", batchId = Some(id))
    Similarity.writeStandingStore(f.assigned(f.emb), f.store, "cluster",
      buckets = 16)
    f.stream(append)
    // the at-least-once case: batch 0 redelivered verbatim after an
    // "unacknowledged epoch" — the ledger must make it a no-op
    append(f.delta.filter(f.firstBatch), 0L)
    Similarity.readStandingStore(spark, f.store)._1
      .select(col("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q204: STREAMING PQ INGEST — the q200 daily flow run as an actual
    * stream: the standing two-thirds train both codebooks; the delta
    * third arrives as TWO micro-batches, each coarse-assigned against
    * the RELOADED codebook, appended to the store AND PQ-encoded into
    * the sidecar (frozen codebook) inside foreachBatch; after the
    * stream, [[Similarity.compactPqCodes]] coalesces the
    * append-fragmented code buckets. The final PQ search must equal
    * q200's oracle exactly — batching, per-batch sidecar appends, and
    * compaction are all content-invariant, which is precisely the
    * claim worth gating (a lost batch, a double-encode, or a
    * compaction that drops rows all break the hash). */
  def q204StreamPqIngest(spark: SparkSession, dir: String): DataFrame =
    streamPqIngest(spark, dir, "q204", residual = false)

  /** q215: q204's streaming ingest over a RESIDUAL sidecar — per-batch
    * appends residual-encode against the frozen codebooks (flavor
    * auto-detected), compaction preserves the residual codes, and the
    * final search must equal q213's batch-flow oracle exactly. */
  def q215StreamResidualIngest(spark: SparkSession, dir: String): DataFrame =
    streamPqIngest(spark, dir, "q215", residual = true)

  private def streamPqIngest(spark: SparkSession, dir: String,
                             tag: String, residual: Boolean): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val fx = new StreamFixture(tag)
    val in = fx.inbox()
    // mutating ingest loop: a private clone of the shared partial base
    // (q200/q213's batch-flow twin — the same store those gates clone)
    val store = Fixtures.cloneDir(
      SelectionQueries.sharedPqStorePartial(spark, dir, residual),
      s"graft-${tag}s-")
    val delta = emb.filter(col("vec_id") % 3 === 0)
    fx.stagePair(delta, in, col("vec_id") % 2 === 0)
    val reloaded = Similarity.readCodebook(spark, store)
    fx.run(fx.source(spark, in, delta.schema).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = batch
          .withColumn("cluster",
            Similarity.assignCluster(col("embedding"), reloaded)
              .cast("long"))
          .withColumn("nrm", Similarity.norm(col("embedding")))
          .cache()
        try {
          Similarity.appendToStandingStore(
            d.select(col("vec_id"), col("embedding"), col("cluster"),
              col("nrm")), store, "cluster")
          Similarity.appendPqCodes(batch.sparkSession, store,
            d.select(col("vec_id"), col("embedding"), col("cluster")),
            "vec_id", "embedding", m = 4, dsub = 16)
        } finally d.unpersist()
      })
    Similarity.compactPqCodes(spark, store, maxFilesPerBucket = 1)
    Similarity.pqTopKStore(spark, store, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", m = 4, dsub = 16, k = 5, nProbe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q212/q224/q230's text ingest flow, q206's daily flow as a stream:
    * the standing corpus, q206's deltas ([[ScaleQueries.nearDupDelta]]:
    * delta1 = every 3rd doc without its first token, delta2 = every 5th
    * without its first two) and a private clone of the shared text
    * store (the loop mutates it). [[stream]] stages delta1 as two
    * micro-batches (even ids, then odd) and runs them through a
    * foreachBatch body in the caller's session; [[judgeDelta2]] is the
    * gates' result, which must equal q206's batch-flow oracle EXACTLY —
    * micro-batching the ingest is content-invariant. */
  private final class TextFlow(spark: SparkSession, dir: String,
                               tag: String) {
    val standing: DataFrame = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val delta1: DataFrame = ScaleQueries.nearDupDelta(standing, 3, 100000L, 1)
    val delta2: DataFrame = ScaleQueries.nearDupDelta(standing, 5, 200000L, 2)
    val fx = new StreamFixture(tag)
    val store: String = Fixtures.cloneDir(
      ScaleQueries.sharedTextStore(spark, dir), s"graft-${tag}s-")
    val firstBatch: Column = col("doc_id") % 2 === 0

    def stream(perBatch: (DataFrame, Long) => Unit): Unit = {
      val in = fx.inbox()
      fx.stagePair(delta1, in, firstBatch)
      fx.run(fx.source(spark, in, delta1.schema).writeStream
        .foreachBatch(perBatch))
    }

    /** The streamed (or redelivered) batch `b` absorbed through
      * [[Dedup.ingestBatchIntoStore]] under its batch id. */
    def ingest(b: DataFrame, id: Long): Unit =
      Dedup.ingestBatchIntoStore(b.sparkSession, store, b, "doc_id", "text",
        batchId = Some(id))

    /** foreachBatch's ingest: the batch cached for its merges. */
    def ingestCached(batch: DataFrame, id: Long): Unit = {
      val b = batch.cache()
      try ingest(b, id) finally b.unpersist()
    }

    def judgeDelta2: DataFrame =
      Dedup.lshJudgeStore(spark, store, standing.unionByName(delta1),
          delta2, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
  }

  /** q212: STREAMING NEAR-DUP JUDGMENT LOOP over the band index — the
    * text twin of q204's streaming PQ ingest, and q206's daily flow run
    * as an actual stream: delta1 arrives as TWO micro-batches, each
    * judged against the standing corpus through the pruned index
    * ([[Dedup.lshJudgeStore]] — the loop's serving read), MIN-merged
    * into the signature store, and absorbed into the band index (plus
    * its per-doc inventory) inside foreachBatch. After the stream,
    * delta2 is judged against standing ∪ delta1: the result must equal
    * q206's batch-flow oracle EXACTLY — micro-batching the ingest is
    * content-invariant (a lost batch, a dropped band row, or a
    * mis-merged signature all break the hash). */
  def q212StreamLshIngest(spark: SparkSession, dir: String): DataFrame = {
    val f = new TextFlow(spark, dir, "q212")
    val verdicts = f.fx.tmp.resolve("verdicts").toString
    f.stream { (batch, _) =>
      val b = batch.cache()
      try {
        val s = b.sparkSession
        // serve first: judge the arriving batch against the standing
        // corpus through the index (the loop's read path)
        Dedup.lshJudgeStore(s, f.store, f.standing, b, "doc_id", "text")
          .write.mode("append").parquet(verdicts)
        // then absorb it: signature MIN-merge, shingle sidecar
        // replace-merge (so the NEXT batch's verification reads this
        // one's docs from their buckets), index + inventory merge
        Dedup.mergeIntoSignatureStore(s, f.store,
          Dedup.minhashSignatures(b, "doc_id", "text"), "doc_id")
        Dedup.mergeShinglesIntoStore(s, f.store, b, "doc_id", "text")
        Dedup.mergeIntoBandIndex(s, f.store,
          b.select(col("doc_id")), "doc_id")
      } finally b.unpersist()
    }
    // the content-invariance claim: the streamed store must judge
    // delta2 exactly as q206's batch-built store does
    f.judgeDelta2
  }

  /** q224: q212's STREAMING LSH INGEST LOOP under the at-least-once
    * redelivery contract — the text twin of q223's exactly-once gate.
    * Each micro-batch absorbs through [[Dedup.ingestBatchIntoStore]]:
    * three idempotent merges and a ledger ack
    * ([[graft.operators.StoreSwap.ackBatch]]) in one manifest commit.
    * After the stream, batch 0 is REDELIVERED verbatim (same id, same
    * rows); the acked ledger skips it before evaluation. The final
    * delta2 judgment must equal q206's batch-flow oracle exactly.
    * Honest scope: the merges' idempotence already makes redelivery
    * content-harmless, so what this gate proves is the composed flow
    * end-to-end; the skip-without-evaluation half is proved in
    * VersionedStoreSpec with a poisoned redelivery. */
  def q224StreamTextExactlyOnce(spark: SparkSession,
                                dir: String): DataFrame = {
    val f = new TextFlow(spark, dir, "q224")
    f.stream(f.ingestCached)
    // redeliver batch 0 after an "unacknowledged epoch": the acked
    // ledger must make it a no-op
    f.ingest(f.delta1.filter(f.firstBatch), 0L)
    f.judgeDelta2
  }

  /** q230: q224's STREAMING EXACTLY-ONCE LOOP, version-counted — each
    * micro-batch's composed ingest (signature MIN-merge +
    * shingle replace-merge + band merge + ledger ack) publishes as ONE
    * `store.v<N>` manifest rename ([[graft.operators.StoreSwap
    * .transact]] inside [[Dedup.ingestBatchIntoStore]]), so the gate
    * REQUIRES exactly one version bump per micro-batch and zero for
    * the post-stream redelivery (skipped from the per-dataDir
    * namespaced ledger before evaluation). The final delta2 judgment
    * must equal q206's batch-flow oracle exactly — the transactional
    * flow is content-invariant too. */
  def q230StreamUnifiedTxn(spark: SparkSession, dir: String): DataFrame = {
    val f = new TextFlow(spark, dir, "q230")
    val preV = Dedup.signatureStoreVersions(spark, f.store).last
    f.stream(f.ingestCached)
    val postV = Dedup.signatureStoreVersions(spark, f.store).last
    require(postV == preV + 2,
      s"unified streaming ingest took ${postV - preV} commits for 2" +
        " micro-batches — the composed ingest must be ONE txn each")
    // redelivery after an "unacknowledged epoch": the namespaced
    // unified ledger must skip it WITHOUT a version bump
    f.ingest(f.delta1.filter(f.firstBatch), 0L)
    require(Dedup.signatureStoreVersions(spark, f.store).last == postV,
      "redelivered batch bumped the unified store version")
    f.judgeDelta2
  }

  /** q174: STREAMING event-time session windows
    * ([[StreamingLoad.sessionCounts]], native `session_window`, 30-min
    * gap, 2-h watermark) under the driver's value gate — the q44
    * sessionize semantics as merging-window STATE across micro-batches.
    * Same staging discipline as q170 (event-time-quartile chunks ⇒ no
    * late drops, conservative state). Values are pre-rounded to dyadic
    * 2^-20 rationals, so the per-session double sums are EXACT under
    * any addition order (all addends are multiples of 2^-20 and totals
    * stay ≪ 2^32) — the oracle's relational lag+cumsum sessionization
    * reproduces them bit-for-bit. Complete-mode memory sink: the final
    * table is the full session state, no watermark flush games. */
  def q174StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        (round(col("value") * lit(1048576.0)).cast("long").cast("double")
          / lit(1048576.0)).as("value"))
      .persist()
    try {
      val fx = new StreamFixture("q174")
      val in = fx.inbox()
      val (chunkOf, _) = fx.quartiles(ev)
      (0 until 4).foreach { i => fx.stage(ev.filter(chunkOf === i), in, s"c$i", i) }
      val ss = streamSession(spark, in) // state partitions from staged size
      fx.memory(ss, StreamingLoad.sessionCounts(fx.source(ss, in, ev.schema),
          gap = "30 minutes", watermark = "2 hours"), "complete")
        .select(col("user_id"),
          unix_micros(col("sess_start")).as("sess_start_us"),
          unix_micros(col("sess_end")).as("sess_end_us"),
          col("n_events").cast("long").as("n_events"),
          col("sum_value"))
        .orderBy(col("user_id"), col("sess_start_us"))
    } finally ev.unpersist()
  }

  /** q180: the watermark DROP path — the one behavior a production
    * stream hits daily that q170/q174's time-ordered staging never
    * exercises. Five chunks: the four event-time quartiles in order
    * (all on-time — each row's window end is ahead of the watermark
    * the previous chunks established), then a DELIBERATELY LATE fifth
    * chunk replaying the ENTIRE timeline after the stream has already
    * seen its maximum event time. At that point the watermark sits at
    * `max(ts) − 1 h` (ms-truncated — Spark tracks event-time stats in
    * milliseconds), so the stateful aggregation drops every replayed
    * row whose hour window ended at or before it and double-counts
    * exactly the rest. The oracle predicts the retained set closed-form
    * from the same predicate — the gate fails if the engine's drop
    * boundary moves. Update-mode memory sink: per key the update
    * stream's count strictly increases, so the final state is the
    * max-n row, the top 1 by n of each (window, event type)
    * ([[StreamingLoad.windowedCounts]], 1 h tumbling
    * windows, 1 h watermark; values dyadic-rounded as in q174 so the
    * double sums are exact under any accumulation order). */
  def q180WatermarkDrop(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"),
        (round(col("value") * lit(1048576.0)).cast("long").cast("double")
          / lit(1048576.0)).as("value"))
      .persist()
    try {
      val fx = new StreamFixture("q180")
      val in = fx.inbox()
      val (chunkOf, hi) = fx.quartiles(ev)
      (0 until 4).foreach { i => fx.stage(ev.filter(chunkOf === i), in, s"c$i", i) }
      // buffer batch: the max-ts row(s) redelivered on-time. Spark
      // applies to batch N the watermark computed from stats through
      // batch N-2 (the stats a batch reports reach the tracker one
      // planning cycle late — measured on this exact staging); with the
      // global max present in BOTH batch 3 and this buffer batch, the
      // late batch after it sees watermark = global max − 1 h whether
      // the tracker lags one batch or two, so the oracle's closed form
      // doesn't depend on that internal cadence
      fx.stage(ev.filter(unix_micros(col("ts")) === hi), in, "c4buffer", 8)
      // the late chunk: the whole timeline again, arriving last
      fx.stage(ev, in, "c5late", 10)
      val ss = streamSession(spark, in) // state partitions from staged size
      val counts = fx.memory(ss, StreamingLoad.windowedCounts(
        fx.source(ss, in, ev.schema), watermark = "1 hour",
        window_ = "1 hour"), "update")
      // the (window, event type) pair as one partition key
      OrderStats.topKPer(counts, struct(col("win_start"), col("event_type")),
          1, rankCol = "rn")(col("n").desc)
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n").cast("long").as("n"),
          col("sum_value"))
        .orderBy(col("win_start_us"), col("event_type"))
    } finally ev.unpersist()
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_watermark_drop" -> q180WatermarkDrop _,
    "q182_stream_outer_join" -> q182StreamOuterJoin _,
    "q184_stream_ingest_dedup" -> q184StreamIngestDedup _,
    "q189_stream_ingest_store" -> q189StreamIngestStore _,
    "q204_stream_pq_ingest" -> q204StreamPqIngest _,
    "q215_stream_residual_ingest" -> q215StreamResidualIngest _,
    "q212_stream_lsh_ingest" -> q212StreamLshIngest _,
    "q223_stream_exactly_once" -> q223StreamExactlyOnce _,
    "q224_stream_text_exactly_once" -> q224StreamTextExactlyOnce _,
    "q230_stream_unified_txn" -> q230StreamUnifiedTxn _,
    "q114_stream_upsert" -> q114StreamUpsert _,
    "q127_stream_dedup"  -> q127StreamDedup _,
    "q141_stream_budget" -> q141StreamBudget _,
    "q162_stream_hll"    -> q162StreamHll _,
    "q170_stream_interval_join" -> q170StreamIntervalJoin _,
    "q174_stream_sessions" -> q174StreamSessions _)

  val oracles: Map[String, String] = Map(
    // closed-form watermark replay: every row contributes once on time
    // (the quartile staging keeps each chunk ahead of the watermark the
    // previous chunks set), and the late full replay contributes AGAIN
    // exactly for windows ending after max(ts) − 1 h (watermark stats
    // are millisecond-truncated, hence the //1000 step)
    "q180_watermark_drop" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |    CAST(CAST(round(value * 1048576.0) AS BIGINT) AS DOUBLE)
        |      / 1048576.0 AS v
        |  FROM events),
        |wm AS (
        |  SELECT ((max(ts_us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
        |b AS (
        |  SELECT event_type, v, ts_us,
        |    (ts_us // 3600000000) * 3600000000 AS w_start,
        |    (ts_us // 3600000000) * 3600000000 + 3600000000 AS w_end
        |  FROM e),
        |contrib AS (
        |  SELECT event_type, v, w_start FROM b
        |  UNION ALL
        |  SELECT event_type, v, w_start FROM b   -- on-time buffer batch
        |  WHERE ts_us = (SELECT max(ts_us) FROM e)
        |  UNION ALL
        |  SELECT event_type, v, w_start FROM b   -- late replay, filtered
        |  WHERE w_end > (SELECT wm_us FROM wm))
        |SELECT w_start AS win_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n, sum(v) AS sum_value
        |FROM contrib GROUP BY w_start, event_type
        |ORDER BY win_start_us, event_type""".stripMargin,
    // relational sessionization (lag + cumsum breaks) over the same
    // dyadic-rounded values; session end = last event + gap, break on
    // diff >= gap (session_window's exclusive end)
    "q174_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CAST(CAST(round(value * 1048576.0) AS BIGINT) AS DOUBLE)
        |      / 1048576.0 AS v
        |  FROM events),
        |o AS (
        |  SELECT user_id, ts, v,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS sess_start_us,
        |  epoch_us(max(ts)) + 1800000000 AS sess_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  sum(v) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_us""".stripMargin,
    // the static LEFT interval join: matched rows as q170, plus every
    // view with no in-window purchase null-extended — the streaming
    // sentinel batches push the watermark past every real join window,
    // so eviction-flushed nulls are exactly the static anti-join set
    "q182_stream_outer_join" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |b AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id AS view_event, b.event_id AS buy_event,
        |  epoch_us(v.ts) AS view_us, epoch_us(b.ts) AS buy_us
        |FROM v LEFT JOIN b ON v.user_id = b.user_id
        |  AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY v.user_id, view_event, buy_event NULLS FIRST""".stripMargin,
    // the STATIC interval join over the same rows — the streaming plan's
    // time-ordered staging guarantees no late drops and no premature
    // state expiry, so stream output ≡ this batch join, row for row
    "q170_stream_interval_join" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |b AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id AS view_event, b.event_id AS buy_event,
        |  epoch_us(v.ts) AS view_us, epoch_us(b.ts) AS buy_us
        |FROM v JOIN b ON v.user_id = b.user_id
        |  AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY v.user_id, view_event, buy_event""".stripMargin,
    // the BATCH sketch over the same rows: registers are order-
    // independent and max-idempotent, so stream arrival order and the
    // redelivery chunk cannot change them (q158's replay, keyed on
    // user_id per event_type)
    "q162_stream_hll" ->
      s"""WITH h AS (
        |  SELECT event_type,
        |    ((user_id % 2147483647) * 2654435761) % 4294967296 AS h
        |  FROM events),
        |jr AS (
        |  SELECT event_type, h // 67108864 AS j, h % 67108864 AS r
        |  FROM h),
        |rho AS (
        |  SELECT event_type, j, ${Sketches.hllRhoSql("r")} AS rho
        |  FROM jr),
        |regs AS (
        |  SELECT event_type, j, max(rho) AS mj
        |  FROM rho GROUP BY event_type, j)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_registers_set,
        |  CAST(sum(CAST(1 AS BIGINT) << CAST(27 - mj AS INTEGER))
        |       + (64 - count(*)) * 134217728 AS BIGINT) AS hll_num,
        |  CAST(0.709 AS DOUBLE) * 4096.0 * 134217728.0
        |    / CAST(sum(CAST(1 AS BIGINT) << CAST(27 - mj AS INTEGER))
        |           + (64 - count(*)) * 134217728 AS DOUBLE) AS hll_est
        |FROM regs GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q114_stream_upsert" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(sum(l_quantity) AS DOUBLE) AS l_quantity,
        |    max(l_returnflag) AS l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 40 = 0
        |  GROUP BY l_orderkey, l_linenumber)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey % 80 = 0 THEN l_quantity + 50
        |       ELSE l_quantity END AS l_quantity,
        |  CASE WHEN l_orderkey % 80 = 0 THEN 'S'
        |       ELSE l_returnflag END AS l_returnflag
        |FROM b
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // arrival order: chunk (doc_id mod 3) then within-batch lowest id —
    // the first row per fingerprint under that order is the kept doc;
    // the redelivery chunk can never win (its fingerprints all arrived
    // in chunks 0-2) and adds no rows after the stream's idempotent
    // replay handling + the gate's distinct
    "q127_stream_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp
        |                       ORDER BY doc_id % 3, doc_id) AS rn
        |  FROM fp)
        |SELECT doc_id, fp, (rn = 1) AS is_first
        |FROM w
        |ORDER BY doc_id""".stripMargin,
    // the q134 allocation arithmetic + arrival-order (chunk, id) running
    // totals; admitted is a prefix per source, so tokens_before for a
    // rejected doc equals the source's final admitted total
    "q141_stream_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n,
        |    doc_id % 3 AS chunk
        |  FROM documents),
        |wgt AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS w_tokens
        |  FROM d GROUP BY source),
        |tot AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS w_total FROM wgt),
        |a0 AS (
        |  SELECT w.source, w.w_tokens,
        |    (t.w_total * 1) // 2 AS budget,
        |    (((t.w_total * 1) // 2) * w.w_tokens) // t.w_total AS base,
        |    (((t.w_total * 1) // 2) * w.w_tokens) % t.w_total AS rem
        |  FROM wgt w CROSS JOIN tot t),
        |a1 AS (
        |  SELECT *, budget - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rr
        |  FROM a0),
        |alloc AS (
        |  SELECT source,
        |    CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |      AS alloc_tokens
        |  FROM a1),
        |cum AS (
        |  SELECT doc_id, source, n, chunk,
        |    sum(n) OVER (PARTITION BY source ORDER BY chunk, doc_id
        |                 ROWS UNBOUNDED PRECEDING) - n AS cum_prev
        |  FROM d),
        |dec AS (
        |  SELECT c.doc_id, c.source, c.n, c.chunk,
        |    (c.cum_prev < al.alloc_tokens) AS admitted
        |  FROM cum c JOIN alloc al USING (source))
        |SELECT doc_id, source, n AS n_tokens, admitted,
        |  CAST(coalesce(sum(CASE WHEN admitted THEN n END)
        |    OVER (PARTITION BY source ORDER BY chunk, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS tokens_before
        |FROM dec
        |ORDER BY doc_id""".stripMargin)
}
