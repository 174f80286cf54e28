package graft.perfbench

import graft.streaming.StreamingLoad
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
import scala.collection.mutable

/** The streaming state store, the last part of a `curation_streams`
  * round (see [[CurationStreams]]). Seeded event files are read
  * through a file stream, one file per trigger, into
  * `StreamingLoad.sessionCounts` (30-minute session gap, 1-hour watermark)
  * with a complete-mode memory sink.
  *
  * Each file holds two hours of event time. A stated share of events is
  * delivered one file late but inside the watermark (out of order, must
  * still join its session), and a stated share arrives hours behind the
  * watermark (late, must be dropped). Gaps inside a session are at most 15
  * minutes and gaps between sessions at least 50, so the sessions are known
  * from the generator. Values are multiples of 2^-10, so sums are exact in
  * any order. */
final class StreamSessions {
  import StreamSessions._

  private case class Ev(user: Long, ts: Long, value: Double)
  private case class Session(user: Long, start: Long, end: Long, n: Long, sum: Double)

  private var dir: Path = _
  private var expected: Set[Session] = Set.empty
  private var lateEvents = 0L
  private var inputRows = 0L
  private var inputBytes = 0L

  def setUp(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.dir = dir
    Disk.delete(dir)
    Files.createDirectories(dir)
    val r = new Gen(seed, 4L).rnd
    val files = Array.fill(FileCount)(mutable.ArrayBuffer[Ev]())
    val onTime = mutable.ArrayBuffer[Ev]()
    (1 to Users).foreach { u =>
      var t = T0 + r.nextInt(40 * 60).toLong
      while (t < T0 + FileCount * FileSpan) {
        (0 until 2 + r.nextInt(5)).foreach { _ =>
          if (t < T0 + FileCount * FileSpan) {
            val ev = Ev(u.toLong, t, (1 + r.nextInt(100000)) / 1024.0)
            onTime += ev
            val f = ((t - T0) / FileSpan).toInt
            val tail = t >= T0 + (f + 1) * FileSpan - 40 * 60
            // delivered one file late, still inside the watermark
            if (tail && f + 1 < FileCount && r.nextDouble() < OutOfOrder) files(f + 1) += ev
            else files(f) += ev
          }
          t += 60 + r.nextInt(14 * 60)
        }
        t += 50 * 60 + r.nextInt(70 * 60)
      }
    }
    // events hours behind the watermark: the state store must drop them.
    // Late rows are judged against the watermark of the batch before the
    // previous one, and a session reaches `Gap` past its last event, so a
    // late event of file f lies more than `Gap` before file f-2 ends.
    // One late event per user and file: Spark merges a batch's rows into
    // sessions before it drops late ones, so two late events of one user
    // could be dropped as one row.
    (3 until FileCount).foreach { f =>
      val users = r.shuffle((1 to Users).toVector).take((files(f).size * LateShare).toInt)
      users.foreach { u =>
        val ts = T0 + r.nextInt(((f - 2) * FileSpan - 2 * Gap).toInt).toLong
        files(f) += Ev(u.toLong, ts, (1 + r.nextInt(100000)) / 1024.0)
        lateEvents += 1
      }
    }
    expected = onTime.groupBy(_.user).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(_.ts)
      val sessions = mutable.ArrayBuffer[mutable.ArrayBuffer[Ev]]()
      sorted.foreach { e =>
        if (sessions.isEmpty || e.ts - sessions.last.last.ts >= Gap) sessions += mutable.ArrayBuffer(e)
        else sessions.last += e
      }
      sessions.map(s => Session(u, s.head.ts, s.last.ts + Gap, s.size, s.map(_.value).sum))
    }.toSet

    import spark.implicits._
    val eventDir = Files.createDirectories(dir.resolve("events"))
    files.zipWithIndex.foreach { case (evs, f) =>
      val stage = dir.resolve(s"stage-$f")
      r.shuffle(evs.toSeq).map(e => (e.user, new Timestamp(e.ts * 1000L), e.value))
        .toDF("user_id", "ts", "value").coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      val dest = eventDir.resolve(f"events$f%02d.parquet")
      Files.move(part, dest)
      // the file source takes the oldest file first
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1600000000000L + f * 2000L))
      Disk.delete(stage)
      inputRows += evs.size
    }
    inputBytes = Disk.bytes(eventDir)
  }

  def round(spark: SparkSession, c: Collector, out: Path, traced: Boolean): Round = {
    Files.createDirectories(out)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val name = "perfbench_sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val progressFrom = c.progressCount

    val t0 = System.nanoTime()
    c.span("streaming.sessions") {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.resolve("events").toString)
      val q = StreamingLoad.sessionCounts(stream, gap = "30 minutes", watermark = "1 hour")
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", out.resolve("checkpoint").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    // the session table read a few times: one read is a few tens of ms
    val reads = (1 to Reads).map(_ => Main.timedMs(spark.table(name).collect()))
    val rows = reads.head._1
    spark.catalog.dropTempView(name)

    c.drain()
    val progress = c.progressSince(progressFrom).filter(_.numInputRows > 0)
    val state = progress.flatMap(_.stateOperators.headOption)
    val failures = mutable.ArrayBuffer[String]()
    if (progress.size != FileCount) failures += s"stream ran ${progress.size} triggers, expected $FileCount"
    val got = rows.map { row =>
      Session(row.getLong(0), row.getTimestamp(1).toInstant.getEpochSecond,
        row.getTimestamp(2).toInstant.getEpochSecond, row.getLong(3), row.getDouble(4))
    }.toSet
    if (got != expected)
      failures += s"${got.size} sessions, expected ${expected.size}: missing " +
        s"${(expected -- got).take(3)}, unexpected ${(got -- expected).take(3)}"
    val dropped = state.map(_.numRowsDroppedByWatermark).sum
    if (dropped != lateEvents) failures += s"dropped $dropped late events, planted $lateEvents"

    val layer =
      if (!traced) Map.empty[String, Double]
      else Map(
        "streaming.sessions.add_batch_ms" -> Main.median(progress.map(_.durationMs.get("addBatch").toDouble)),
        "streaming.sessions.state_rows" -> state.last.numRowsTotal.toDouble,
        "streaming.sessions.state_mb" -> state.map(_.memoryUsedBytes).max / 1e6,
        "streaming.sessions.state_commit_ms" -> Main.median(state.map(_.commitTimeMs.toDouble)),
        "streaming.sessions.dropped_late" -> dropped.toDouble)
    Round(wallS, progress.map(_.durationMs.get("triggerExecution").toDouble), reads.map(_._2),
      inputRows, inputBytes, Disk.bytes(out), attempted = FileCount + 1, failures.toSeq,
      stateBytesPeak = if (state.isEmpty) 0L else state.map(_.memoryUsedBytes).max, layer = layer)
  }
}

object StreamSessions {
  /** Users, event files (one per trigger) and the event time each covers. */
  val Users = 3000
  val FileCount = 4
  val FileSpan: Long = 2 * 3600
  /** Reads of the session table per round. */
  val Reads = 3
  val T0: Long = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
  val Gap: Long = 30 * 60
  /** Share of a file's last 40 minutes delivered with the next file. */
  val OutOfOrder = 0.25
  /** Late events added to each file from the fourth on, per on-time event. */
  val LateShare = 0.02
}
