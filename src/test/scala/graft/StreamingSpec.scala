package graft

import graft.streaming.StreamingLoad
import graft.streaming.StreamingLoad.{UserEvent, UserRunning}
import graft.pipeline.Config.{DbConfig, Upsert}
import graft.sinks.ParquetTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Structured Streaming surface (SURVEY.md §2.7): file-source micro-batch
  * loads, watermark windowed aggregation, flatMapGroupsWithState. */
class StreamingSpec extends SparkSpec {

  test("streamSession carries the caller's graft.* and SQL confs to the child") {
    val parent = spark.newSession()
    parent.conf.set("graft.store.snapshotKeep", "3")
    parent.conf.set("spark.sql.ansi.enabled", "false") // default is true
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    val child = graft.operators.StreamingQueries.streamSession(parent,
      Files.createTempDirectory("graft-stream-session-"))
    assert(child.conf.get("graft.store.snapshotKeep") == "3")
    assert(child.conf.get("spark.sql.ansi.enabled") == "false")
    // the state-partition count is derived, not copied: an empty
    // staging dir derives the floor, min(4, cores)
    val floor = math.min(4, spark.sparkContext.defaultParallelism)
    assert(child.conf.get("spark.sql.shuffle.partitions") == floor.toString)
  }

  test("file stream: each arriving file is one upsert micro-batch (R1/R4)") {
    val in = Files.createTempDirectory("graft-stream-in-").toString
    val table = Files.createTempDirectory("graft-stream-t-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-stream-ck-").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val q = StreamingLoad.fileLoadStream(spark, in, schema, ";", table,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = true), ckpt)
    try {
      Files.write(Paths.get(in, "f1.csv"), "1;a\n2;b\n".getBytes)
      q.processAllAvailable()
      assert(ParquetTable.load(spark, table).count() == 2)
      // second file updates k=2 and adds k=3 — upsert semantics per batch
      Files.write(Paths.get(in, "f2.csv"), "2;B2\n3;c\n".getBytes)
      q.processAllAvailable()
      val rows = ParquetTable.load(spark, table).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    } finally q.stop()
  }

  test("malformed rows route to the error table, not the target (severity-1)") {
    val in = Files.createTempDirectory("graft-stream-in-").toString
    val table = Files.createTempDirectory("graft-stream-t-").toString + "/t"
    val errs = Files.createTempDirectory("graft-stream-e-").toString + "/e"
    val ckpt = Files.createTempDirectory("graft-stream-ck-").toString
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val q = StreamingLoad.fileLoadStream(spark, in, schema, ";", table,
      DbConfig(strategy = Upsert(Seq("k")), keepContent = true), ckpt,
      errorTable = Some(errs))
    try {
      Files.write(Paths.get(in, "f1.csv"), "1;a\ngarbage;;;\n2;b\n".getBytes)
      q.processAllAvailable()
      val good = ParquetTable.load(spark, table).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(good.toSeq == Seq((1L, "a"), (2L, "b"))) // no null-key row
      val bad = ParquetTable.load(spark, errs).collect().map(_.getString(0))
      assert(bad.toSeq == Seq("garbage;;;"))
    } finally q.stop()
  }

  test("watermark windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingLoad.windowedCounts(events, "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("update").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      mem.addData((t(0), "click", 1.0), (t(1), "click", 2.0), (t(6), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(rows.toSet == Set(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 10:05:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = StreamingLoad.intervalJoinStreams(
      views.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("user_id", "ts"),
      "user_id", window = "1 hour", watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      def t(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
      views.addData((1L, t(10, 0)), (2L, t(10, 0)), (3L, t(10, 0)))
      // user 1 buys inside the hour; user 2 buys too late; user 3 never
      buys.addData((1L, t(10, 30)), (2L, t(12, 30)))
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select("user_id", "ts", "ts_r").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString))
      assert(rows.toSeq == Seq((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0")))
    } finally q.stop()
  }

  test("dedupStream keeps first-seen per fingerprint across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val out = StreamingLoad.dedupStream(docs, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      // batch 1: doc 2 duplicates doc 1 (same normalized text); doc 3 unique
      mem.addData((1L, "Hello  World"), (2L, "hello world"), (3L, "other text"))
      q.processAllAvailable()
      // batch 2: another copy of the dup text + redelivery of kept doc 1
      mem.addData((4L, "HELLO world"), (1L, "Hello  World"))
      q.processAllAvailable()
      val rows = spark.table("dedup")
        .as[StreamingLoad.DedupDecision].collect().sortBy(_.doc_id)
      assert(rows.map(r => (r.doc_id, r.is_first)).toSeq ==
        Seq((1L, true), (2L, false), (3L, true), (4L, false)),
        s"got: ${rows.toSeq}")
      // redelivered doc 1 emitted nothing new (idempotent under replay)
      assert(rows.count(_.doc_id == 1L) == 1)
    } finally q.stop()
  }

  test("sketchStream maintains a CMS table equal to the batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-").toString
    val mem = MemoryStream[Long]
    val q = StreamingLoad.sketchStream(mem.toDF().toDF("k"), "k",
      s"$dir/sketch", s"$dir/cp", depth = 4, width = 64)
    try {
      mem.addData(1L, 2L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(2L, 3L, 3L, 9L)
      q.processAllAvailable()
      val streamed = ParquetTable.load(spark, s"$dir/sketch").drop("batch_id", "run_id")
      val batch = graft.operators.Sketches.cmsSketch(
        Seq(1L, 2L, 2L, 3L, 2L, 3L, 3L, 9L).toDF("k"), "k", 4, 64)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streamed sketch != batch sketch over the union of batches")
      // bounded state: never more than depth*width rows
      assert(streamed.count() <= 4L * 64L)
      // the sketch is stamped with the checkpoint's query id, so a future
      // checkpoint replacement is detected as a new batchId lifetime
      val rid = StreamingLoad.checkpointQueryId(spark, s"$dir/cp")
      assert(rid.isDefined, "checkpoint metadata id not readable")
      assert(ParquetTable.load(spark, s"$dir/sketch")
        .select("run_id").head().getString(0) == rid.get,
        "sketch run_id != checkpoint query id")
    } finally q.stop()
  }

  test("sketchStream merge is idempotent under batch redelivery") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-replay-").toString
    val path = s"$dir/sketch"
    val b0 = Seq(1L, 2L, 2L, 3L).toDF("k")
    val b1 = Seq(2L, 3L, 3L, 9L).toDF("k")
    assert(StreamingLoad.mergeSketchBatch(b0, 0L, "k", path, 4, 64))
    assert(StreamingLoad.mergeSketchBatch(b1, 1L, "k", path, 4, 64))
    val once = ParquetTable.load(spark, path).drop("batch_id", "run_id").collect().toSet
    // crash between swap and checkpoint commit → foreachBatch re-runs
    // batch 1; the batch_id watermark must reject the duplicate delta
    assert(!StreamingLoad.mergeSketchBatch(b1, 1L, "k", path, 4, 64),
      "redelivered batch was merged again")
    val after = ParquetTable.load(spark, path).drop("batch_id", "run_id").collect().toSet
    assert(after == once, "replay double-counted the standing CMS counters")
    // and a genuinely new batch still applies
    assert(StreamingLoad.mergeSketchBatch(Seq(9L).toDF("k"), 2L, "k", path, 4, 64))
  }

  test("sketch watermark resets when the checkpoint identity changes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-runid-").toString
    val path = s"$dir/sketch"
    val b = Seq(1L, 2L).toDF("k")
    assert(StreamingLoad.mergeSketchBatch(b, 5L, "k", path, 4, 64,
      runId = Some("runA")))
    // same checkpoint lifetime: a replayed batch is still rejected
    assert(!StreamingLoad.mergeSketchBatch(b, 5L, "k", path, 4, 64,
      runId = Some("runA")))
    // a NEW checkpoint restarts batchIds at 0; with the old watermark (5)
    // still stored, batch 0 of the new lifetime must apply, not be
    // silently skipped
    assert(StreamingLoad.mergeSketchBatch(b, 0L, "k", path, 4, 64,
      runId = Some("runB")),
      "fresh-checkpoint batch was skipped by a stale watermark")
    // the watermark now belongs to the new lifetime
    assert(!StreamingLoad.mergeSketchBatch(b, 0L, "k", path, 4, 64,
      runId = Some("runB")))
    // unknown run id on either side: legacy bare-batchId semantics
    assert(!StreamingLoad.mergeSketchBatch(b, 0L, "k", path, 4, 64))
  }

  test("a plain parquet sketch (no batch_id watermark) is refused, every file unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-plain-").toString
    // a sketch written by a build before sketches were tables: counters
    // only, a plain parquet directory
    val plain = s"$dir/plain"
    graft.operators.Sketches.cmsSketch(Seq(1L, 2L).toDF("k"), "k", 4, 64)
      .coalesce(1).write.parquet(plain)
    def files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(plain))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = files
    val e = intercept[IllegalStateException](
      StreamingLoad.mergeSketchBatch(Seq(2L, 3L).toDF("k"), 7L, "k", plain, 4, 64))
    assert(e.getMessage.contains(s"store $plain is not a protocol-2 store"), e.getMessage)
    assert(files == before, "a refused sketch was changed")
  }

  test("a failed sketch commit keeps the old counters; a redelivered batch applies once") {
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("graft-sketch-crash-").toString
    val path = s"faultfs://$local/sketch"
    val keys = Seq("fs.faultfs.impl" -> classOf[FaultFs].getName,
      "fs.faultfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def counters = ParquetTable.load(spark, path).drop("batch_id", "run_id").collect().toSet
      assert(StreamingLoad.mergeSketchBatch(Seq(1L, 2L).toDF("k"), 0L, "k", path, 4, 64))
      val first = counters
      FaultFs.failRenameTo.set(_.startsWith("store.v"))
      intercept[RuntimeException](
        StreamingLoad.mergeSketchBatch(Seq(2L, 3L).toDF("k"), 1L, "k", path, 4, 64))
      assert(FaultFs.failRenameTo.get == null, "no manifest rename was tried")
      assert(counters == first, "a failed commit changed the sketch")
      // foreachBatch redelivers batch 1: it applies, once
      assert(StreamingLoad.mergeSketchBatch(Seq(2L, 3L).toDF("k"), 1L, "k", path, 4, 64))
      assert(!StreamingLoad.mergeSketchBatch(Seq(2L, 3L).toDF("k"), 1L, "k", path, 4, 64))
      val both = graft.operators.Sketches.cmsSketch(
        Seq(1L, 2L, 2L, 3L).toDF("k"), "k", 4, 64).collect().toSet
      assert(counters == both)
    } finally {
      FaultFs.failRenameTo.set(null)
      keys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("flatMapGroupsWithState running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamingLoad.runningTotals(mem.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      def t(s: Int) = new Timestamp(1704100000000L + s * 1000L)
      mem.addData(UserEvent(1, t(0), 10.0), UserEvent(1, t(1), 5.0), UserEvent(2, t(2), 7.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, t(3), 1.0))
      q.processAllAvailable()
      val last = spark.table("running").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n) }
      assert(last(1L) == UserRunning(1L, 3, 16.0))
      assert(last(2L) == UserRunning(2L, 1, 7.0))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimDir = Files.createTempDirectory("graft-stream-dim-").toString + "/d"
    Seq((1L, "alpha"), (2L, "beta")).toDF("k", "name")
      .write.parquet(dimDir)
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("k", "v")
    val out = StreamingLoad.enrichStream(stream,
      spark.read.parquet(dimDir), Seq("k"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10.0), (3L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").orderBy("k")
        .collect().map(r => (r.getLong(0), Option(r.getString(2))))
      // left join: unmatched stream rows survive with a null dim side
      assert(rows.toSeq == Seq((1L, Some("alpha")), (3L, None)))
      // a later batch probes the same dimension again
      mem.addData((2L, 8.0))
      q.processAllAvailable()
      val after = spark.table("enriched").filter($"v" === 8.0)
        .collect().map(r => Option(r.getString(2)))
      assert(after.toSeq == Seq(Some("beta")))
    } finally q.stop()
  }

  test("session windows merge events within the gap, split beyond it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val out = StreamingLoad.sessionCounts(events, gap = "10 minutes",
      watermark = "2 hours")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // user 1: events at 0,5,9 chain into one session (pairwise gaps < 10)
      // then 30 starts a second; user 2: single event
      mem.addData((t(0), 1L, 1.0), (t(5), 1L, 2.0), (t(9), 1L, 4.0),
        (t(30), 1L, 8.0), (t(3), 2L, 16.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").orderBy("user_id", "sess_start")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4)))
      assert(rows.toSeq == Seq(
        (1L, "2024-01-01 10:00:00.0", 3L, 7.0),
        (1L, "2024-01-01 10:30:00.0", 1L, 8.0),
        (2L, "2024-01-01 10:03:00.0", 1L, 16.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
