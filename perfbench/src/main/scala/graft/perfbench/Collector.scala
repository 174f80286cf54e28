package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executor-side work, summed over tasks. */
final class Counters {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var jobs = 0L

  def copy(): Counters = { val c = new Counters; c.add(this); c }

  def add(o: Counters): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; tasks += o.tasks; jobs += o.jobs
  }

  def minus(o: Counters): Counters = {
    val c = copy()
    c.cpuNs -= o.cpuNs; c.gcMs -= o.gcMs
    c.shuffleReadBytes -= o.shuffleReadBytes; c.shuffleWriteBytes -= o.shuffleWriteBytes
    c.spillBytes -= o.spillBytes; c.tasks -= o.tasks; c.jobs -= o.jobs
    c
  }
}

/** One timed call into a layer. `path` is the slash-joined chain of span
  * names from the outermost open span of the same thread. */
final case class Span(id: Int, name: String, path: String, parent: Int,
                      runId: String, startNs: Long, endNs: Long)

/** The benchmark's one metrics collector.
  *
  *  - Spans: `span(name)` times a forced call into a layer and, while a
  *    traced run is on, tags every Spark job submitted inside it with the
  *    span's path through a thread-local property (the job group of the
  *    layer call). Spans stay in memory until [[writeTrace]].
  *  - While a traced run is on, the thread that opened the outermost span
  *    is stack-sampled every [[Collector.SampleMs]] ms: a stretch it spends
  *    in another layer's code ([[Layers.bySite]]) becomes a child span of
  *    the span it ran in, so a call such as `LoadRunner.run` is split into
  *    the layers it calls without changing how it runs.
  *  - A SparkListener attributes executor CPU, GC, shuffle, spill, tasks and
  *    jobs to that tag (and, inside a sampled span, to the layer the thread
  *    is in when the job starts), and tracks the bytes held in block
  *    storage (cached and checkpointed RDD blocks).
  *  - A StreamingQueryListener keeps every query progress report.
  *
  * Listener delivery is asynchronous; [[drain]] waits for the bus to empty
  * before counters are read. */
final class Collector(spark: SparkSession) extends SparkListener {
  import Collector._

  private val sc = spark.sparkContext
  private val byPath = mutable.HashMap[String, Counters]()
  private val stagePath = mutable.HashMap[Int, String]()
  private val total = new Counters
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  private var blockPeak = 0L
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val spans = mutable.ArrayBuffer[Span]()
  // inherited, so that a stream's own thread (started inside a span)
  // nests its spans under that span
  private val open = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var nextId = 0
  // stack sampling of the thread that opened the outermost span
  @volatile private var sampledThread: Thread = null
  @volatile private var sampledSpan: Span = null
  @volatile private var siteLayer: Option[String] = None
  /** the sampled thread's current stretch: its span, layer and start */
  private var segment: (Span, Option[String], Long) = null

  @volatile var tracing = false
  @volatile var runId = ""

  sc.addSparkListener(this)
  private val sampler = new Thread(() => while (true) {
    if (tracing) sample()
    Thread.sleep(SampleMs)
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized { progress += e.progress }
  })

  private def counters(path: String): Counters = byPath.getOrElseUpdate(path, new Counters)

  /** A job is counted to the span that submitted it; inside a span of the
    * sampled thread, to the layer whose code that thread is in when the job
    * starts, below the span (see [[sample]]). */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val spanPath = prop(SpanKey).getOrElse("")
    val site = Option(sampledSpan).filter(s => prop(SpanIdKey).contains(s.id.toString))
      .flatMap(_ => siteLayer)
    val path = site.fold(spanPath)(spanPath + "/" + _)
    e.stageIds.foreach(stagePath(_) = path)
    counters(path).jobs += 1
    total.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      for (c <- Seq(counters(stagePath.getOrElse(e.stageId, "")), total)) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.tasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  def drain(): Unit = Bus.drain(sc)

  /** Executor totals so far (call after [[drain]]). */
  def totals(): Counters = synchronized(total.copy())

  /** Restart the block-storage peak from what is held now; returns nothing,
    * read the new peak with [[blockPeakBytes]]. */
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }

  def blockPeakBytes: Long = synchronized(blockPeak)

  /** Progress reports received since `from` (an index from [[progressCount]]). */
  def progressSince(from: Int): Seq[StreamingQueryProgress] =
    synchronized(progress.drop(from).toSeq)

  def progressCount: Int = synchronized(progress.size)

  /** Time `body` as span `name` when tracing; otherwise just run it. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = open.get.headOption
      val path = parent.fold(name)(_.path + "/" + name)
      val id = synchronized { nextId += 1; nextId }
      val prior = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(SpanIdKey))
      sc.setLocalProperty(SpanKey, path)
      sc.setLocalProperty(SpanIdKey, id.toString)
      val start = System.nanoTime()
      val stub = Span(id, name, path, parent.fold(-1)(_.id), runId, start, start)
      open.set(stub :: open.get)
      if (parent.isEmpty) sampledThread = Thread.currentThread
      if (sampledThread eq Thread.currentThread) synchronized {
        closeSegment(start)
        enter(stub, start)
      }
      try body
      finally {
        val end = System.nanoTime()
        open.set(open.get.tail)
        sc.setLocalProperty(SpanKey, prior._1)
        sc.setLocalProperty(SpanIdKey, prior._2)
        synchronized {
          spans += stub.copy(endNs = end)
          if (sampledThread eq Thread.currentThread) {
            closeSegment(end)
            parent.fold { sampledSpan = null; sampledThread = null }(enter(_, end))
          }
        }
      }
    }

  private def enter(s: Span, at: Long): Unit = {
    sampledSpan = s
    siteLayer = None
    segment = (s, None, at)
  }

  /** End the sampled thread's current stretch at `end`; a stretch spent in
    * another layer's code becomes a child span of the span it ran in. */
  private def closeSegment(end: Long): Unit = if (segment != null) {
    val (s, layer, start) = segment
    layer.foreach { l =>
      nextId += 1
      spans += Span(nextId, l, s.path + "/" + l, s.id, runId, start, end)
    }
    segment = null
  }

  /** One stack sample of the thread that opened the outermost span: the
    * innermost graft frame that [[Layers.bySite]] knows names the layer the
    * thread is in. A job runs inside a call, so lazily built plans count to
    * the layer that forces them. */
  private def sample(): Unit = {
    val (t, s) = (sampledThread, sampledSpan)
    if (t != null && s != null) {
      val layer = Layers.bySite(t.getStackTrace.toSeq.map(_.getClassName))
      val now = System.nanoTime()
      synchronized {
        if ((sampledSpan eq s) && segment != null && segment._2 != layer) {
          closeSegment(now)
          segment = (s, layer, now)
        }
        if (sampledSpan eq s) siteLayer = layer
      }
    }
  }

  /** Spans recorded between two `System.nanoTime` readings. */
  def spansIn(fromNs: Long, toNs: Long): Seq[Span] =
    synchronized(spans.filter(s => s.startNs >= fromNs && s.endNs <= toNs).toSeq)

  /** Executor work of every job submitted inside a span called `name` or
    * `name.<part>`, nested spans included (call after [[drain]]). */
  def countersOf(name: String): Counters = synchronized {
    val c = new Counters
    byPath.foreach { case (p, v) =>
      if (p.split('/').exists(s => s == name || s.startsWith(name + "."))) c.add(v)
    }
    c
  }

  /** Write every span once, as JSON lines with its self time (duration
    * minus the part of it that its child spans cover). */
  def writeTrace(file: Path): Unit = {
    val all = synchronized(spans.toSeq)
    val self = selfNs(all)
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "dur_s" -> (s.endNs - s.startNs) / 1e9, "self_s" -> self(s.id) / 1e9))
    }
    Files.createDirectories(file.getParent)
    Files.write(file, lines.asJava)
  }
}

object Collector {
  val SpanKey = "perfbench.span"
  /** Milliseconds between two stack samples while tracing. */
  val SampleMs = 5L
  val SpanIdKey = "perfbench.span.id"

  /** Length of the union of `intervals`. */
  def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    covered
  }

  /** Self time of each span: its duration minus its children's cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.endNs - s.startNs) -
        coveredNs(children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))))
    }.toMap
  }
}

/** Byte accounting by walking directories: local-filesystem parquet writes
  * under-report bytes in task metrics, so written bytes are read off disk. */
object Disk {

  /** Regular files under `root`: path -> (size, mtime). */
  def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Files and bytes that are new or changed in `after`. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Int, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size, changed.values.map(_._1).sum)
  }

  def bytes(root: Path): Long = snapshot(root).values.map(_._1).sum

  /** Copy the tree under `from` to `to` (which must not exist). */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    } finally s.close()
  }

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
