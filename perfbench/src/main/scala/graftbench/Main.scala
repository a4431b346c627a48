package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --results <dir>`.
  *
  * One process, one client thread, closed loop, on `local[cores]`.
  * Prints the end-to-end (or, traced, the per-layer) metrics and ends
  * stdout with one JSON result line. */
object Main {
  /** Set-up (graft's initial load) repetitions; the median is reported. */
  val SetupReps = 3
  /** Unmeasured operations run for at least this long (and at least the
    * workload's `warmupOps` run) before the measured loop: JIT and
    * first-touch costs of the loop's code paths stay out of the measured
    * operations. */
  val WarmupSeconds = 4

  val Spans = Seq("setup.session", "setup.load", "plans.merge",
    "VersionedTable.compact", "VersionedTable.write", "sources.lookup",
    "sources.gold", "sources.time_travel", "Pipeline.refresh",
    "TextAnalysis.score", "Dedup.exact", "Dedup.minhash", "Dedup.semantic",
    "SetJoin.exact")
  val SpanCounters = Seq("s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "driver_gap_s" -> "s", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes")
  /** Per-layer counters beyond the per-span set: name → unit. */
  val Extras = Seq(
    "setup.generate_s" -> "s",
    "plans.merge.files_rewritten" -> "count",
    "plans.merge.bytes_written" -> "bytes",
    "VersionedTable.compact.bytes_rewritten" -> "bytes",
    "VersionedTable.snapshot_files" -> "count",
    "VersionedTable.log_entries" -> "count",
    "sources.lookup.files_admitted_frac" -> "ratio",
    "sources.lookup.rows_examined_per_row" -> "ratio",
    "sources.lookup.bytes_read" -> "bytes",
    "sources.gold.bytes_read" -> "bytes",
    "streaming.micro_batches" -> "count",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.fixed_ms" -> "ms",
    "Pipeline.refresh.jobs_per_batch" -> "count",
    "Expectations.failed_rows" -> "count",
    "Dedup.minhash.candidate_pairs" -> "count",
    "Dedup.minhash.verified_frac" -> "ratio",
    "Dedup.semantic.dropped" -> "count",
    "SetJoin.exact.pairs_out" -> "count",
    "Materialize.pinned_rdds_after" -> "count",
    "Materialize.broadcast_blocks_after" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: java.io.File,
                        results: java.io.File)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new java.io.File(need("work")),
      new java.io.File(need("results")))
  }

  private def say(s: String): Unit = println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the
    // process alive after the result line
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Args): Unit = {
    require(Seq("lakehouse_cdc", "stream_medallion", "llm_curation")
      .contains(args.workload), s"unknown workload ${args.workload}")
    val cores = Runtime.getRuntime.availableProcessors()

    val sessionStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(cores, args.work)
    // warm-up: JVM and codegen
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionNs = System.nanoTime() - t0

    val tracer = new Tracer(spark, args.trace)
    tracer.recordSpan("setup.session", sessionStartMs, sessionNs)
    val ctx = new Ctx(spark, tracer, args.seed, args.work, cores)
    val calStart = calibrate(spark)

    val w: Workload = args.workload match {
      case "lakehouse_cdc" => new Lakehouse(ctx)
      case "stream_medallion" => new StreamMedallion(ctx)
      case _ => new Curation(ctx)
    }
    val g0 = System.nanoTime()
    w.generate()
    val generateS = (System.nanoTime() - g0) / 1e9
    tracer.record("setup.generate_s", generateS)
    val loads = (0 until SetupReps).map { r =>
      val l0 = System.nanoTime()
      tracer.span("setup.load")(w.load(r))
      (System.nanoTime() - l0) / 1e9
    }
    w.keepLastLoad()
    val setupS = sessionNs / 1e9 + Stats.median(loads)
    say(s"workload ${w.name}, seed ${args.seed}, local[$cores], 1 client, " +
      s"closed loop, ${args.seconds} s, trace ${if (args.trace) 1 else 0}")
    say(s"inputs: ${w.inputSummary}")
    say(f"setup: session+warm-up ${sessionNs / 1e9}%.3f s, loads " +
      loads.map(x => f"$x%.3f").mkString(", ") + f" s, generate $generateS%.3f s")

    tracer.measuring = false
    val w0 = System.nanoTime()
    var warmOps = 0
    while (warmOps < w.warmupOps || System.nanoTime() - w0 < WarmupSeconds * 1000000000L) {
      tracer.newTrace()
      w.step()
      warmOps += 1
    }
    tracer.measuring = true
    say(f"warm-up: $warmOps operations, ${(System.nanoTime() - w0) / 1e9}%.3f s (not measured)")

    val gc0 = gcSeconds()
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      tracer.newTrace()
      w.step()
      tracer.afterOperation()
    }
    say("op times: " + ctx.series.get(w.opSeries).map(x => f"$x%.3f").mkString(" ") +
      f"; JVM GC during the loop ${gcSeconds() - gc0}%.3f s")
    w.check()
    val calEnd = calibrate(spark)
    val rssMb = peakRssMb()

    val op = ctx.series.get(w.opSeries)
    val opP50 = Stats.median(op)
    val e2e = Seq(
      Metric("setup_s", setupS, "s", s"session ${sessionNs / 1e9} s + median of $SetupReps loads"),
      Metric("op_p50_s", opP50, "s", s"median ${w.opSeries} over ${op.size}"),
      Metric("peak_rss_mb", rssMb, "MB", "VmHWM"),
      Metric("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio",
        s"${ctx.failed} of ${ctx.attempted} operations")) ++ w.metrics()
    e2e.foreach(m => say(f"metric ${m.name} = ${Json.num(m.value)} ${m.unit}" +
      (if (m.note.isEmpty) "" else s"  (${m.note})")))
    say(f"host drift anchor: start $calStart%.3f s, end $calEnd%.3f s")

    args.results.mkdirs()
    val runRecord = s"""{"workload":"${w.name}","seed":${args.seed},""" +
      s""""trace":${if (args.trace) 1 else 0},"cores":$cores,""" +
      s""""calibration_start_s":${Json.num(calStart)},"calibration_end_s":${Json.num(calEnd)},""" +
      e2e.map(m => s""""${m.name}":${Json.num(m.value)}""").mkString(",") + "}"
    append(new java.io.File(args.results, "runs.jsonl"), runRecord)

    val outMetrics: Seq[(String, Double, String)] =
      if (!args.trace)
        Seq(("setup_s", setupS, "s"), ("op_p50_s", opP50, "s"))
      else {
        tracer.drain()
        w.layerCounters()
        tracer.drain()
        val layer = perLayer(tracer)
        tracer.writeSpans(new java.io.File(args.results,
          s"spans-${w.name}-seed${args.seed}.jsonl"))
        printLayerTable(layer)
        layerShares(tracer, w.name, args.results)
        overhead(args.results, w.name, opP50)
        layer
      }
    tracer.close()
    spark.stop()

    val correct = ctx.failed == 0
    if (!correct) ctx.failures.take(20).foreach(f => say(s"failure: $f"))
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{""" + outMetrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",") + "}}")
  }

  def session(cores: Int, work: java.io.File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
    graft.SessionTuning.sparkConf(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed CPU job graft.Bench uses as its host-drift anchor. It is
    * recorded beside the metrics and never rescales anything. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(500000000L).selectExpr("sum(id * 2)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally status.close()
  }

  private def append(f: java.io.File, line: String): Unit =
    java.nio.file.Files.write(f.toPath, (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  /** Every per-layer metric: per-call medians of each span's counters
    * (0 where this workload makes no such call), then the extras. */
  def perLayer(t: Tracer): Seq[(String, Double, String)] = {
    val self = t.selfSeconds
    val inc = t.inclusive
    val byName = t.measuredSpans.groupBy(_.name)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val spanMetrics = Spans.flatMap { n =>
      val ss = byName.getOrElse(n, Nil)
      SpanCounters.map { case (c, unit) =>
        val v = c match {
          case "s" => med(ss.map(_.seconds))
          case "self_s" => med(ss.map(s => self(s.id)))
          case k => med(ss.map(s => inc(s.id)(k)))
        }
        (s"$n.$c", v, unit)
      }
    }
    def rec(n: String) = med(t.extras.getOrElse(n, Nil).toSeq)
    def spans(n: String) = byName.getOrElse(n, Nil)
    val derived: Map[String, Double] = Map(
      "VersionedTable.compact.bytes_rewritten" ->
        med(spans("VersionedTable.compact").flatMap(_.notes.get("bytes_rewritten"))),
      "sources.lookup.rows_examined_per_row" ->
        med(spans("sources.lookup").map(s => inc(s.id)("input_records") /
          math.max(1.0, s.notes.getOrElse("rows_returned", 0.0)))),
      "sources.lookup.bytes_read" -> med(spans("sources.lookup").map(s => inc(s.id)("input_bytes"))),
      "sources.gold.bytes_read" -> med(spans("sources.gold").map(s => inc(s.id)("input_bytes"))),
      "Materialize.pinned_rdds_after" ->
        (if (t.pinnedAfter.isEmpty) 0.0 else t.pinnedAfter.max),
      "Materialize.broadcast_blocks_after" ->
        (if (t.broadcastsAfter.isEmpty) 0.0 else t.broadcastsAfter.max))
    spanMetrics ++ Extras.map { case (n, unit) =>
      (n, derived.getOrElse(n, rec(n)), unit)
    }
  }

  /** Ratio counters and their bases, for the printed table. */
  private val Bases = Map(
    "sources.lookup.files_admitted_frac" -> "files admitted by pruneEntriesForFilters / snapshot files",
    "sources.lookup.rows_examined_per_row" -> "input records read / rows returned",
    "Dedup.minhash.verified_frac" -> "pairs at or above the threshold / lshCandidates pairs",
    "Pipeline.refresh.jobs_per_batch" -> "jobs under Pipeline.refresh / micro-batches",
    "streaming.fixed_ms" -> "triggerExecution - addBatch, per micro-batch")

  private def printLayerTable(rows: Seq[(String, Double, String)]): Unit = {
    say("per-layer metrics (per call, median over the run; 0 = no such call here):")
    rows.foreach { case (n, v, u) =>
      say(f"  $n%-44s ${Json.num(v)}%18s $u" + Bases.get(n).map(b => s"  [$b]").getOrElse(""))
    }
  }

  private val SpanLayers = Seq("plans", "VersionedTable", "sources",
    "Pipeline", "TextAnalysis", "Dedup", "SetJoin")

  /** Each layer's share of the loop's span self time; stored per
    * workload so the cross-workload claim can be checked once every
    * workload has a traced run in this results directory. */
  private def layerShares(t: Tracer, workload: String, results: java.io.File): Unit = {
    val self = t.selfSeconds
    val loop = t.measuredSpans.filterNot(_.name.startsWith("setup."))
    val total = loop.map(s => self(s.id)).sum
    val shares = SpanLayers.map { l =>
      l -> loop.filter(_.name.takeWhile(_ != '.') == l).map(s => self(s.id)).sum /
        math.max(1e-9, total)
    }
    say(s"layer share of span self time on $workload: " +
      shares.map { case (l, s) => f"$l ${100 * s}%.1f%%" }.mkString(", "))
    java.nio.file.Files.write(new java.io.File(results, s"shares-$workload.json").toPath,
      ("{" + shares.map { case (l, s) => s""""$l":${Json.num(s)}""" }.mkString(",") + "}\n")
        .getBytes("UTF-8"))
    val all = Seq("lakehouse_cdc", "stream_medallion", "llm_curation").flatMap { w =>
      val f = new java.io.File(results, s"shares-$w.json")
      if (!f.exists()) None
      else Some(w -> """"([A-Za-z]+)":([-0-9.Ee]+)""".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    }.toMap
    if (all.size < 3)
      say(s"layer-share self-check: needs traced runs of all three workloads (have ${all.keys.toSeq.sorted.mkString(", ")})")
    else SpanLayers.foreach { l =>
      val (topW, top) = all.map { case (w, m) => w -> m.getOrElse(l, 0.0) }.maxBy(_._2)
      val (lowW, low) = all.map { case (w, m) => w -> m.getOrElse(l, 0.0) }.minBy(_._2)
      val ok = top >= 0.5 && low <= 0.1
      val lead = if (top >= 0.5) "most" else "largest share"
      say(f"layer-share self-check: $l%-15s ${if (ok) "holds" else "DOES NOT HOLD"}: " +
        f"$lead of $topW (${100 * top}%.1f%%), ${100 * low}%.1f%% of $lowW")
    }
  }

  /** Tracing overhead: traced op_p50_s against the median of the
    * untraced runs of the same workload recorded in this results dir. */
  private def overhead(results: java.io.File, workload: String, traced: Double): Unit = {
    val f = new java.io.File(results, "runs.jsonl")
    val untraced = if (!f.exists()) Nil else
      scala.io.Source.fromFile(f).getLines().toList
        .filter(l => l.contains(s""""workload":"$workload"""") && l.contains(""""trace":0"""))
        .flatMap(l => """"op_p50_s":([-0-9.Ee]+)""".r.findFirstMatchIn(l).map(_.group(1).toDouble))
    if (untraced.isEmpty)
      say("tracing overhead: no untraced run of this workload recorded yet")
    else {
      val base = Stats.median(untraced)
      say(f"tracing overhead: op_p50_s traced ${traced}%.4f s vs untraced median " +
        f"$base%.4f s over ${untraced.size} runs: ${100 * (traced / base - 1)}%+.1f%%")
    }
  }
}
