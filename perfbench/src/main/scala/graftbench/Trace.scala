package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed benchmark call into a graft layer's public function.
  * Times are wall clock (ms, comparable with Spark's listener event
  * times) plus a nanosecond duration for the span itself. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val trace: Int, val startMs: Long, val startNs: Long) {
  /** Part of the unmeasured warm-up operation. */
  var warm = false
  var endMs: Long = startMs
  var durNs: Long = 0L
  /** Per-call facts the benchmark attaches (e.g. rows returned). */
  val notes = mutable.LinkedHashMap[String, Double]()
  def seconds: Double = durNs / 1e9
}

/** Spark-side counters attributed to one span (self, not children). */
final class SpanCounters {
  var jobs = 0L
  var taskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Job, stage and block listener of the traced run. Jobs reach a span
  * through the [[Tracer.SpanProperty]] local property that the calling
  * thread carries (stream execution threads inherit it when the query
  * starts). */
final class JobListener extends SparkListener {
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val liveBroadcasts = mutable.HashSet[Long]()
  val counters = mutable.HashMap[Int, SpanCounters]()
  @volatile var lastEventNs: Long = System.nanoTime()
  @volatile var openJobs: Int = 0

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProperty)))
      .map(_.toInt)
  private def c(span: Int) = counters.getOrElseUpdate(span, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobStartMs(e.jobId) = e.time
      c(s).jobs += 1
      openJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobSpan.remove(e.jobId).foreach { s =>
      c(s).jobIntervals += ((jobStartMs.remove(e.jobId).get, e.time))
      openJobs -= 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      lastEventNs = System.nanoTime()
      spanOf(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val x = c(s)
      x.taskS += m.executorRunTime / 1000.0
      x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      x.inputBytes += m.inputMetrics.bytesRead
      x.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      lastEventNs = System.nanoTime()
      val info = e.blockUpdatedInfo
      info.blockId match {
        case org.apache.spark.storage.BroadcastBlockId(id, _) =>
          if (info.storageLevel.isValid) liveBroadcasts += id
          else liveBroadcasts -= id
        case _ =>
      }
    }

  def broadcastsLive: Int = synchronized(liveBroadcasts.size)
}

/** One micro-batch's `StreamingQueryProgress.durationMs`. */
final case class BatchProgress(rows: Long, durations: Map[String, Long])

final class StreamListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  @volatile var lastEventNs: Long = System.nanoTime()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    lastEventNs = System.nanoTime()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    lastEventNs = System.nanoTime()
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(BatchProgress(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lastEventNs = System.nanoTime()
}

/** Span bookkeeping for one run. Spans are always timed; with
  * `traced` the calling thread also carries the span id as a local
  * property and the listeners attribute Spark's counters to it. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var traceId = 0
  /** False during the warm-up operation: its spans are kept in the
    * span file but left out of every metric. */
  var measuring = true
  val jobs: Option[JobListener] =
    if (traced) Some(new JobListener) else None
  val streams: Option[StreamListener] =
    if (traced) Some(new StreamListener) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  streams.foreach(spark.streams.addListener)

  /** Per-span extra counters (files rewritten, bytes written, ...). */
  val extras = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def record(name: String, v: Double): Unit = if (measuring)
    extras.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Cached frames still registered and broadcast blocks still live,
    * sampled after each operation. */
  val pinnedAfter = mutable.ArrayBuffer[Double]()
  val broadcastsAfter = mutable.ArrayBuffer[Double]()

  /** Attach a fact to the innermost open span. */
  def note(key: String, v: Double): Unit = stack.headOption.foreach(_.notes(key) = v)

  /** Record a span measured before the tracer existed (session build). */
  def recordSpan(name: String, startMs: Long, durNs: Long): Unit = {
    val s = new Span(spans.size, name, -1, traceId, startMs, 0L)
    s.durNs = durNs
    s.endMs = startMs + durNs / 1000000L
    spans += s
  }

  /** Start a new trace (one operation). */
  def newTrace(): Unit = traceId += 1

  def afterOperation(): Unit = if (traced && measuring) {
    pinnedAfter += spark.sparkContext.getPersistentRDDs.size.toDouble
    broadcastsAfter += jobs.get.broadcastsLive.toDouble
  }

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      traceId, System.currentTimeMillis(), System.nanoTime())
    s.warm = !measuring
    spans += s
    stack = s :: stack
    if (traced)
      spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.durNs = System.nanoTime() - s.startNs
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) spark.sparkContext.setLocalProperty(Tracer.SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener buses have delivered everything. */
  def drain(): Unit = if (traced) {
    val deadline = System.nanoTime() + 10000000000L
    def quiet(ns: Long) = System.nanoTime() - ns > 400000000L
    while (System.nanoTime() < deadline &&
      !(jobs.get.openJobs == 0 && quiet(jobs.get.lastEventNs) &&
        quiet(streams.get.lastEventNs)))
      Thread.sleep(50)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def measuredSpans: Seq[Span] = spans.filterNot(_.warm).toSeq

  /** Self time: duration minus the part covered by child spans. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.map(s => s.id -> (s.durNs - childNs(s.id)) / 1e9).toMap
  }

  private def descendants: Map[Int, Seq[Int]] = {
    val kids = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id).toSeq }
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Seq.empty[Int]).flatMap(walk)
    spans.map(s => s.id -> walk(s.id)).toMap
  }

  /** Inclusive Spark counters per span: its own jobs plus its
    * children's, and the span time not covered by any of those jobs. */
  def inclusive: Map[Int, Map[String, Double]] = jobs match {
    case None => Map.empty
    case Some(l) =>
      val desc = descendants
      l.synchronized {
        spans.map { s =>
          val cs = desc(s.id).flatMap(l.counters.get)
          val covered = union(cs.flatMap(_.jobIntervals)
            .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
            .filter { case (a, b) => b > a })
          s.id -> Map(
            "jobs" -> cs.map(_.jobs).sum.toDouble,
            "task_s" -> cs.map(_.taskS).sum,
            "driver_gap_s" -> math.max(0.0, s.seconds - covered / 1000.0),
            "shuffle_bytes" -> cs.map(_.shuffleBytes).sum.toDouble,
            "spill_bytes" -> cs.map(_.spillBytes).sum.toDouble,
            "input_bytes" -> cs.map(_.inputBytes).sum.toDouble,
            "input_records" -> cs.map(_.inputRecords).sum.toDouble)
        }.toMap
      }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The span file: one JSON object per span. */
  def writeSpans(file: java.io.File): Unit = {
    val self = selfSeconds
    val inc = inclusive
    val lines = spans.map { s =>
      val cnt = (inc.getOrElse(s.id, Map.empty) ++ s.notes)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""trace":${s.trace},"warm":${s.warm},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""s":${Json.num(s.seconds)},"self_s":${Json.num(self(s.id))}""" +
        (if (cnt.isEmpty) "" else "," + cnt) + "}"
    }
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def close(): Unit = {
    jobs.foreach(spark.sparkContext.removeSparkListener)
    streams.foreach(spark.streams.removeListener)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}
