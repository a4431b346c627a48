package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Expectations, Pipeline, VersionedTable}

/** `stream_medallion`: land one seeded batch of events as a JSON file,
  * then refresh the bronze → silver (EXPECT ... DROP ROW) → gold
  * pipeline with `Pipeline.runIncremental` on a persistent checkpoint.
  * Batches carry out-of-order timestamps, a fixed share of invalid
  * rows (each breaking exactly one expectation) and re-sent event ids
  * with a newer `ts`. */
final class StreamMedallion(ctx: Ctx) extends Workload {
  import StreamMedallion._
  import ctx.{spark, tracer}

  val name = "stream_medallion"
  val opSeries = "batch"
  /** Refresh times fall over the first few batches (JIT of the stream
    * and commit paths). */
  override val warmupOps = WarmupBatches

  private var rep = 0
  private def src = ctx.path(s"src$rep")
  private def store = ctx.path(s"store$rep")
  private def ckpt = ctx.path(s"ckpt$rep")
  private def silver = s"$store/silver_events"

  // generator state, rebuilt for every set-up repetition
  private var batchNo = 0
  private var nextId = 0L
  private var injectedInvalid = 0L
  /** event_id → latest valid (ts, user_id, event_type, value) */
  private val expected = mutable.HashMap[Long, (Long, Long, String, Double)]()
  private val validIds = mutable.ArrayBuffer[Long]()
  private var loopRows = 0L
  /** listener micro-batch count when the measured loop began */
  private var batchesAtLoopStart = -1

  private val stages = Seq(
    Pipeline.Stage("bronze_events", identity),
    Pipeline.Stage("silver_events", identity,
      Expectations.EventSuite, Pipeline.OnViolation.DropRows),
    Pipeline.Stage("gold_event_counts",
      df => df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).as("total_value")),
      recompute = true))

  def generate(): Unit = ()

  def inputSummary: String =
    s"$BatchRows rows per batch (${InvalidRows} invalid, $Resends re-sent " +
      s"ids with newer ts, ts jitter ±${JitterS} s), JSON files, " +
      s"retainVersions=$Retain"

  /** Write batch `b` as one JSON file, atomically (a hidden temp name
    * the file source ignores, then a rename). */
  private def land(b: Int): Int = {
    val g = new java.util.SplittableRandom(ctx.seed * 7919L + b)
    val out = new StringBuilder
    def line(id: Long, ts: Long, user: Option[Long], tpe: String, v: Double) =
      out ++= s"""{"event_id":$id,"ts":$ts,""" +
        user.map(u => s""""user_id":$u,""").getOrElse("") +
        s""""event_type":"$tpe","value":$v}""" + "\n"
    val t0 = BaseTs + b * BatchSpanUs
    def ts() = t0 + g.nextLong(2L * JitterS * 1000000L) - JitterS * 1000000L
    def valid(id: Long, ts: Long) = {
      val u = 1L + g.nextLong(Users)
      val tpe = ValidTypes(g.nextInt(ValidTypes.size))
      val v = g.nextInt(40000) / 100.0
      line(id, ts, Some(u), tpe, v)
      expected(id) = (ts, u, tpe, v)
    }
    // re-sends: earlier valid ids, distinct within the batch, newer ts
    val resent = mutable.LinkedHashSet[Long]()
    if (validIds.nonEmpty) {
      var guard = 0
      while (resent.size < Resends && guard < Resends * 20) {
        resent += validIds(g.nextInt(validIds.size)); guard += 1
      }
    }
    resent.foreach(id => valid(id, expected(id)._1 + 1 + g.nextLong(1000000L)))
    (0 until BatchRows - resent.size - InvalidRows).foreach { _ =>
      val id = nextId; nextId += 1
      valid(id, ts()); validIds += id
    }
    (0 until InvalidRows).foreach { i =>
      val id = nextId; nextId += 1
      val u = Some(1L + g.nextLong(Users))
      i % 5 match {
        case 0 => line(id, ts(), u, "click", -1.0 - g.nextInt(10000) / 100.0)
        case 1 => line(id, ts(), u, "view", 400.01 + g.nextInt(10000) / 100.0)
        case 2 => line(id, ts(), u, "bogus", g.nextInt(40000) / 100.0)
        case 3 => line(id, ts(), u, "error", g.nextInt(40000) / 100.0)
        case _ => line(id, ts(), None, "purchase", g.nextInt(40000) / 100.0)
      }
    }
    injectedInvalid += InvalidRows
    val dir = new java.io.File(src)
    dir.mkdirs()
    val tmp = new java.io.File(dir, s".batch-$b.json.tmp")
    java.nio.file.Files.write(tmp.toPath, out.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, f"batch-$b%06d.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    BatchRows
  }

  private def refresh(): Pipeline.RunResult =
    Pipeline.runIncremental(spark, src, Schema,
      payloadCols = Schema.fieldNames.toSeq, stages = stages,
      storageDir = store, checkpoint = ckpt, key = "event_id",
      orderCol = "ts", tieBreaker = "event_id", retainVersions = Retain)

  def load(r: Int): Unit = {
    rep = r
    batchNo = 0; nextId = 0L; injectedInvalid = 0L
    expected.clear(); validIds.clear()
    land(batchNo); batchNo += 1
    refresh()
  }

  def keepLastLoad(): Unit = {
    (0 until rep).foreach { r =>
      Seq(s"src$r", s"store$r", s"ckpt$r").foreach(ctx.delete)
    }
  }

  def step(): Unit = {
    if (tracer.measuring && batchesAtLoopStart < 0) {
      tracer.drain()
      batchesAtLoopStart = tracer.streams.map(_.batches.size).getOrElse(0)
    }
    val rows = land(batchNo)
    batchNo += 1
    ctx.timed("batch")(tracer.span("Pipeline.refresh")(refresh()))
      .foreach(_ => if (tracer.measuring) loopRows += rows)
  }

  def check(): Unit = {
    ctx.attempted += 1
    val cols = Schema.fieldNames.toSeq
    val got = RowHash.of(VersionedTable.read(spark, silver), cols)
    val exp = spark.createDataFrame(java.util.Arrays.asList(expected.toSeq.map {
      case (id, (ts, u, t, v)) => Row(id, ts, u, t, v)
    }: _*), Schema)
    val want = RowHash.of(exp, cols)
    if (got != want) ctx.fail(s"silver $got != latest valid row per key $want")
    val failedRows = failedExpectationRows
    if (failedRows != injectedInvalid)
      ctx.fail(s"expectation failures $failedRows != injected invalid rows $injectedInvalid")
    val gold = VersionedTable.read(spark, s"$store/gold_event_counts")
      .collect().map(_.toString).sorted.toSeq
    val wantGold = exp.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("total_value"))
      .collect().map(_.toString).sorted.toSeq
    if (gold != wantGold) ctx.fail(s"gold $gold != $wantGold")
  }

  private def failedExpectationRows: Long =
    Pipeline.incrementalEventLog(spark, store)
      .filter(col("flow_name") === "silver_events")
      .agg(coalesce(sum("failed_records"), lit(0L))).head().getLong(0)

  def metrics(): Seq[Metric] = {
    val b = ctx.series.get("batch")
    val (t, p, n) = Stats.tail(b)
    Seq(
      Metric("batch_p50_s", Stats.median(b), "s"),
      Metric("batch_tail_s", t, "s", s"p$p of $n samples"),
      Metric("ingest_rows_per_s", loopRows / math.max(1e-9, b.sum), "rows/s",
        s"$loopRows rows / ${b.sum} s of refresh"))
  }

  override def layerCounters(): Unit = {
    val all = tracer.streams.get.batches.toArray(Array.empty[BatchProgress])
    val loop = all.drop(batchesAtLoopStart).toSeq
    tracer.record("streaming.micro_batches", loop.size.toDouble)
    def med(k: String) = Stats.median(loop.map(_.durations.getOrElse(k, 0L).toDouble))
    tracer.record("streaming.trigger_ms", med("triggerExecution"))
    tracer.record("streaming.add_batch_ms", med("addBatch"))
    tracer.record("streaming.query_planning_ms", med("queryPlanning"))
    tracer.record("streaming.latest_offset_ms", med("latestOffset"))
    tracer.record("streaming.wal_commit_ms", med("walCommit"))
    tracer.record("streaming.fixed_ms", Stats.median(loop.map(x =>
      (x.durations.getOrElse("triggerExecution", 0L) -
        x.durations.getOrElse("addBatch", 0L)).toDouble)))
    val inc = tracer.inclusive
    val refreshJobs = tracer.measuredSpans.filter(_.name == "Pipeline.refresh")
      .map(s => inc(s.id)("jobs")).sum
    tracer.record("Pipeline.refresh.jobs_per_batch",
      refreshJobs / math.max(1, loop.size))
    tracer.record("Expectations.failed_rows", failedExpectationRows.toDouble)
    val v = VersionedTable.latestVersion(silver).get
    tracer.record("VersionedTable.snapshot_files",
      VersionedTable.manifestEntries(silver, v).size.toDouble)
    tracer.record("VersionedTable.log_entries",
      VersionedTable.versions(silver).size.toDouble)
  }
}

object StreamMedallion {
  val BatchRows = 2000
  val InvalidRows = 100
  val Resends = 200
  val Users = 5000L
  val JitterS = 90L
  val BaseTs = 1700000000000000L
  val BatchSpanUs = 60L * 1000000L
  val Retain = 5
  val WarmupBatches = 3
  val ValidTypes = Seq("click", "view", "purchase", "signup")
  val Schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
}
