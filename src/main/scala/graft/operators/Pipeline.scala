package graft.operators

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.Materialize.Pinnable

/** Declarative multi-stage pipeline runner — Spark-native
  * re-expression of the reference's DLT pipeline surface: a LIVE
  * TABLE graph with per-table EXPECT constraints (reference
  * `4  Delta Live Tables (SQL).sql`:20-123) whose run emits an event
  * log that per-flow expectation-metrics queries can read (reference
  * `3 Delta Live Tables Setup.py`:134-152).
  *
  * Each stage's output is materialized as a [[VersionedTable]] under
  * `storageDir/<stage>` (like DLT materializing LIVE tables, with
  * history + time travel for free), and the next stage reads the
  * materialized parquet — so a K-stage pipeline scans its input once
  * per stage, never K·(K−1)/2 times from recursive lazy plans.
  *
  * Expectation counters are a side effect of the stage write: they
  * are observed on the stage's candidate rows (above any DROP ROW
  * filter) and land in the stage table's commit-log entry, in the
  * same atomic append as the rows they describe. So a stage costs its
  * write and nothing more, and the event log is the stage tables'
  * commit logs ([[incrementalEventLog]]; `DESCRIBE HISTORY` shows the
  * same counters).
  */
object Pipeline {

  /** ON VIOLATION handling for a stage's expectation suite. */
  sealed trait OnViolation
  object OnViolation {
    /** record metrics only (plain EXPECT) */
    case object Keep extends OnViolation
    /** EXPECT ... ON VIOLATION DROP ROW */
    case object DropRows extends OnViolation
    /** EXPECT ... ON VIOLATION FAIL UPDATE */
    case object Fail extends OnViolation
  }

  final case class Stage(
    name: String,
    transform: DataFrame => DataFrame,
    expectations: Seq[Expectation] = Nil,
    onViolation: OnViolation = OnViolation.Keep,
    /** incremental runs only: per-stage (key, orderCol, tieBreaker)
      * override for the versioned MERGE — e.g. an exact-dedup stage
      * merges on the content hash keeping the smallest id (orderCol =
      * a negated id), while the rest of the graph merges on the
      * entity key by recency. */
    merge: Option[(String, String, String)] = None,
    /** incremental runs only: COMPLETE-mode stage (a DLT aggregate
      * LIVE TABLE next to INCREMENTAL ones) — the transform runs over
      * the PREVIOUS stage's full merged table each micro-batch and the
      * result replaces the stage table (a new full-snapshot version),
      * instead of merging batch rows. The right mode for gold
      * aggregates, whose groups can't be row-merged. */
    recompute: Boolean = false) {

    /** The rows this stage passes on: the candidate minus DROP ROW
      * violations. */
    def kept(candidate: DataFrame): DataFrame = onViolation match {
      case OnViolation.DropRows =>
        Expectations.dropInvalid(candidate, expectations)
      case _ => candidate
    }
  }

  final case class RunResult(
    /** stage name → its materialized table (latest version) */
    tables: Map[String, DataFrame],
    /** (stage_seq, flow_name, constraint_name, passed_records,
      * failed_records) — one row per constraint per stage */
    eventLog: DataFrame)

  val EventLogSchema: StructType = StructType(Seq(
    StructField("stage_seq", IntegerType, nullable = false),
    StructField("flow_name", StringType, nullable = false),
    StructField("constraint_name", StringType, nullable = false),
    StructField("passed_records", LongType, nullable = false),
    StructField("failed_records", LongType, nullable = false)))

  /** A stage's commit: the frame to write (the candidate, observed,
    * minus DROP ROW violations) and its counters, read once the write
    * job has run. A FAIL-mode stage throws [[ExpectationViolation]]
    * from `counters`, which [[VersionedTable]] evaluates between
    * writing the data files and appending the log line — so a
    * violation commits nothing. */
  private final class StageCommit(st: Stage, stageSeq: Int,
                                  batchId: Option[Long],
                                  candidate: DataFrame) {
    private val observation =
      if (st.expectations.isEmpty) None
      else Some(Expectations.observe(candidate,
        Expectations.counters(st.expectations)))
    val out: DataFrame = st.kept(observation.fold(candidate)(_._1))
    lazy val counters: Option[FlowExpectations] = observation.map {
      case (_, obs) =>
        val results = Expectations.results(Expectations.observed(obs),
          st.expectations)
        if (st.onViolation == OnViolation.Fail)
          Expectations.failIfViolated(results, s" in stage ${st.name}" +
            batchId.fold("")(b => s", batch $b"))
        FlowExpectations(st.name, stageSeq, batchId, results)
    }
  }

  /** `SparkContext.SPARK_JOB_DESCRIPTION` (private to Spark). */
  private val JobDescription = "spark.job.description"

  /** Run `body` under a Spark job description (what the UI, event log
    * and job listeners show), restoring the caller's afterwards. */
  private def described[T](spark: SparkSession, desc: String)
                          (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(desc)
    try body
    finally sc.setLocalProperty(JobDescription, prev)
  }

  /** Run the stage chain over `input`, materializing each stage and
    * recording expectation metrics. Metrics are evaluated on the
    * stage's transform output BEFORE drop-row filtering (DLT counts
    * candidate rows, then drops). */
  def run(spark: SparkSession, input: DataFrame, stages: Seq[Stage],
          storageDir: String): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    var cur = input
    val commits = stages.zipWithIndex.map { case (st, i) =>
      val path = s"$storageDir/${st.name}"
      val c = new StageCommit(st, i, None, st.transform(cur))
      described(spark, s"graft pipeline ${st.name}") {
        VersionedTable.write(c.out, path, operation = s"PIPELINE[${st.name}]",
          expectations = c.counters)
      }
      cur = VersionedTable.read(spark, path)
      (st.name -> cur, c)
    }
    val logRows = commits.flatMap(_._2.counters).flatMap(f =>
      f.results.map(r => Row(f.stageSeq, f.flow, r.name, r.passed, r.failed)))
    val log = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(logRows).asJava), EventLogSchema)
    RunResult(commits.map(_._1).toMap, log)
  }

  // ------------------------------------------------------------------
  // Incremental (streaming) pipeline — the reference's INCREMENTAL
  // LIVE TABLE graph (`4  Delta Live Tables (SQL).sql`:20-80): each
  // stage consumes the new rows of every micro-batch, records its
  // expectation metrics per batch, and MERGEs its output into a
  // VersionedTable keyed by `key` with recency order (`orderCol`,
  // `tieBreaker`) — so the final tables are independent of how the
  // source files were split across micro-batches, and a restart over
  // the same checkpoint picks up only new files.
  // ------------------------------------------------------------------

  /** Per-micro-batch event log row layout (the batch-grained analog of
    * [[EventLogSchema]]). */
  val IncEventLogSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("stage_seq", IntegerType, nullable = false),
    StructField("flow_name", StringType, nullable = false),
    StructField("constraint_name", StringType, nullable = false),
    StructField("passed_records", LongType, nullable = false),
    StructField("failed_records", LongType, nullable = false)))

  /** The `expectations` field of a commit-log entry. */
  private val CommitExpectationsSchema = StructType(Seq(
    StructField("expectations", StructType(Seq(
      StructField("batch_id", LongType),
      StructField("stage_seq", IntegerType),
      StructField("flow_name", StringType),
      StructField("results", ArrayType(StructType(Seq(
        StructField("constraint_name", StringType),
        StructField("passed_records", LongType),
        StructField("failed_records", LongType))))))))))

  /** The per-batch expectation metrics of an incremental pipeline run
    * — a lazy read of the counters in the stage tables' commit logs
    * (one row per constraint per committed stage batch; empty when no
    * stage has expectations). */
  def incrementalEventLog(spark: SparkSession, storageDir: String): DataFrame = {
    val logs = Option(new java.io.File(storageDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .map(d => new java.io.File(d, "_graft_log"))
      .filter(_.isDirectory).map(_.toString).sorted
    if (logs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), IncEventLogSchema)
    else spark.read.schema(CommitExpectationsSchema).json(logs: _*)
      .filter(col("expectations.batch_id").isNotNull)
      .select(col("expectations.batch_id"), col("expectations.stage_seq"),
        col("expectations.flow_name"),
        explode(col("expectations.results")).as("r"))
      .select(col("batch_id"), col("stage_seq"), col("flow_name"),
        col("r.constraint_name"), col("r.passed_records"),
        col("r.failed_records"))
  }

  /** What each stage's commit waits for in one micro-batch of
    * [[incrementalBatch]]: the indices of the earlier stages whose
    * commits must have landed before it starts. A commit starts as
    * soon as what it reads exists:
    *  - an incremental stage reads only the batch flow, so it waits
    *    for nothing;
    *  - a recompute stage reads its upstream's committed table, so it
    *    waits for that commit, and so does every incremental stage
    *    whose flow passes through it;
    *  - every stage after a FAIL-mode stage waits for that stage's
    *    commit, which is where its counters pass.
    * Waiting is transitive, so only the nearest of each is listed. */
  private[operators] def commitWaits(stages: Seq[Stage]): Seq[Set[Int]] = {
    stages.headOption.foreach(h => require(!h.recompute,
      s"recompute stage ${h.name} needs an upstream stage"))
    stages.indices.map { i =>
      val reads = stages.lastIndexWhere(_.recompute, i) - 1
      val fail = stages.lastIndexWhere(_.onViolation == OnViolation.Fail,
        i - 1)
      Set(reads, fail).filter(_ >= 0)
    }
  }

  /** Runs `commit(i)` for every index in `todo`, each on a thread of
    * its own that carries `spark` as its active session and runs under
    * the Spark job description `desc(i)` (also the thread's name). A
    * commit starts once every commit in `waits(i)` has succeeded
    * (indices outside `todo` count as committed); one whose waits
    * failed never starts. The calling thread starts every thread, so
    * each inherits the caller's Spark local properties (job group,
    * scheduler pool, any tag a tracer set). Commits that run together
    * begin in index order: commit i starts once commit i−1, if it
    * runs, has started its first Spark job or ended, so a batch's jobs
    * start stage by stage in the UI and the event log.
    *
    * Returns once every started commit has ended, then rethrows the
    * failure of the lowest failing index (later ones suppressed). An
    * interrupt starts no further commit and is rethrown once the
    * running ones have ended: a commit is never cut off between its
    * data files and its log append. */
  private def commitGraph(spark: SparkSession, waits: Seq[Set[Int]],
                          todo: Seq[Int], desc: Int => String)
                         (commit: Int => Unit): Unit = {
    val firstJob = waits.indices.map(i =>
      new CountDownLatch(if (todo.contains(i)) 1 else 0))
    val byDesc = todo.map(i => desc(i) -> i).toMap
    val jobStarts = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobDescription)))
          .flatMap(byDesc.get).foreach(firstJob(_).countDown())
    }
    val ended = new LinkedBlockingQueue[(Int, Option[Throwable])]()
    var done = waits.indices.toSet -- todo
    var waiting = todo
    var running = 0
    val threads = mutable.ArrayBuffer.empty[Thread]
    val failures = mutable.TreeMap.empty[Int, Throwable]
    var interrupt: Option[InterruptedException] = None
    def startReady(): Unit = if (interrupt.isEmpty) {
      val (ready, rest) = waiting.partition(i => waits(i).subsetOf(done))
      waiting = rest
      ready.foreach { i =>
        val t = new Thread(() => {
          val failure =
            try {
              if (i > 0) firstJob(i - 1).await()
              SparkSession.setActiveSession(spark)
              described(spark, desc(i))(commit(i))
              None
            } catch { case e: Throwable => Some(e) }
            finally firstJob(i).countDown()
          ended.put(i -> failure)
        }, desc(i))
        t.setDaemon(true)
        try { t.start(); threads += t; running += 1 }
        catch { case e: Throwable => failures(i) = e; firstJob(i).countDown() }
      }
    }
    spark.sparkContext.addSparkListener(jobStarts)
    try {
      startReady()
      while (running > 0)
        try {
          val (i, failure) = ended.take()
          running -= 1
          failure.fold(done += i)(e => failures(i) = e)
          startReady()
        } catch {
          case e: InterruptedException => interrupt = interrupt.orElse(Some(e))
        }
      threads.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch {
            case e: InterruptedException =>
              interrupt = interrupt.orElse(Some(e))
          }
      }
    } finally spark.sparkContext.removeSparkListener(jobStarts)
    interrupt.foreach(throw _)
    failures.headOption.foreach { case (_, first) =>
      failures.values.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** One micro-batch through the stage graph. Exactly-once per stage
    * via a batch-id marker in the stage table's commit log (a retried
    * batch id is a no-op — `foreachBatch`'s at-least-once delivery
    * becomes exactly-once tables, the [[graft.streaming.Streams
    * .mergeBatch]] discipline); the stage's expectation counters are
    * in that same commit, so they count once too. Stage i+1 consumes
    * stage i's BATCH output (the incremental flow), never a re-read of
    * the whole table. Each stage commit is one exchange plus one write
    * (plus a touch scan once its table has several files).
    *
    * Commit order: each stage's commit runs on a thread of its own
    * (carrying the caller's session and Spark local properties) and
    * starts as soon as what it reads exists ([[commitWaits]]):
    * incremental stages at once, a recompute stage after its upstream
    * committed, anything after a FAIL-mode stage once that stage's
    * counters passed. Commits to different tables are independent:
    * each table has its own log. So bronze and silver of a bronze →
    * silver → gold (recompute) graph commit together, and gold after
    * silver.
    *
    * Failure: the call returns after every commit it started has
    * ended, and rethrows the failure of the earliest failing stage. A
    * commit that waits for a failed one never starts, but a sibling
    * that waits for nothing may land before or after the failing one.
    * A retry of the batch id converges through the per-stage markers:
    * it commits only the stages without one. Public so specs can
    * drive retry semantics directly. */
  def incrementalBatch(stages: Seq[Stage], storageDir: String, key: String,
                       orderCol: String, tieBreaker: String)
                      (batch: DataFrame, batchId: Long): Unit = {
    // `foreachBatch` hands over a frame of a CLONED session: every
    // stage frame is built on it, so the commit's actions run there
    // and complete the observation registered on it
    val spark = batch.sparkSession
    val waits = commitWaits(stages)
    val paths = stages.map(st => s"$storageDir/${st.name}")
    def marker(i: Int) = s"PIPELINE_INC[${stages(i).name},batch=$batchId]"
    // the batch flow, built by the first commit that needs it: a
    // recompute stage reads its upstream's MERGED table, which holds
    // this batch by then (every reader waits for that commit)
    val flows = new Array[BatchFlow](stages.size)
    stages.indices.foreach { i =>
      flows(i) = new BatchFlow(stages(i),
        if (stages(i).recompute) VersionedTable.read(spark, paths(i - 1))
        else if (i == 0) batch
        else flows(i - 1).out)
    }
    // the marker guards the commit, not the dataflow: a retried batch
    // still flows downstream so later stages whose commit DID fail can
    // catch up
    val todo = stages.indices.filterNot(i =>
      VersionedTable.operations(paths(i)).contains(marker(i)))
    commitGraph(spark, waits, todo,
        i => s"graft pipeline ${stages(i).name} batch $batchId") { i =>
      val st = stages(i)
      val c = new StageCommit(st, i, Some(batchId), flows(i).candidate)
      if (st.recompute)
        VersionedTable.write(c.out, paths(i), operation = marker(i),
          expectations = c.counters)
      else {
        val (k, o, t) = st.merge.getOrElse((key, orderCol, tieBreaker))
        VersionedTable.upsertLatest(spark, paths(i), c.out, k, o, t,
          operation = marker(i), expectations = c.counters)
      }
    }
  }

  /** A stage's candidate rows in one micro-batch and the rows it passes
    * on, built once, by whichever commit first needs them. */
  private final class BatchFlow(st: Stage, input: => DataFrame) {
    lazy val candidate: DataFrame = st.transform(input)
    lazy val out: DataFrame = st.kept(candidate)
  }

  /** Waits up to `timeoutMs` for a pipeline query to drain. On timeout
    * it stops the query and throws, so the caller never vacuums or
    * reads stage tables the query is still committing to. */
  private def awaitDrained(q: StreamingQuery, timeoutMs: Long,
                           checkpoint: String): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"pipeline refresh on checkpoint $checkpoint did not finish " +
          s"within $timeoutMs ms; its query was stopped")
    }

  /** Run the stage chain incrementally over a file-source stream
    * rooted at `srcPath` (AvailableNow: drain everything new, then
    * stop). Re-running with the same checkpoint processes only files
    * added since the last run — the INCREMENTAL refresh.
    *
    * Each micro-batch goes through [[incrementalBatch]]: a stage's
    * commit starts as soon as what it reads exists (incremental stages
    * at once, a recompute stage after its upstream, anything after a
    * FAIL-mode stage once that stage passed), and the batch ends when
    * every commit it started has. A failing commit fails the query
    * after its running siblings end; a sibling may have landed, and
    * the re-run of that batch commits only the stages without a
    * marker. A refresh that has not drained within `timeoutMs` is
    * stopped and throws a `TimeoutException` naming `checkpoint`. */
  def runIncremental(spark: SparkSession, srcPath: String,
                     schema: StructType, payloadCols: Seq[String],
                     stages: Seq[Stage], storageDir: String,
                     checkpoint: String, key: String, orderCol: String,
                     tieBreaker: String, maxFilesPerTrigger: Int = 3,
                     timeoutMs: Long = 120000,
                     /** >0: vacuum each stage table down to the last N
                       * snapshots after the run — an incremental table
                       * commits one version per micro-batch, so a
                       * long-lived pipeline needs a retention policy
                       * exactly like Delta's. History stays listable. */
                     retainVersions: Int = 0): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    val q = graft.streaming.Streams
      .fileIngest(spark, srcPath, schema, maxFilesPerTrigger = maxFilesPerTrigger)
      .select(payloadCols.map(col): _*)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(
        incrementalBatch(stages, storageDir, key, orderCol, tieBreaker) _)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitDrained(q, timeoutMs, checkpoint)
    if (retainVersions > 0)
      stages.foreach(st =>
        VersionedTable.vacuum(s"$storageDir/${st.name}", retainVersions))
    val tables = stages.map(st =>
      st.name -> VersionedTable.read(spark, s"$storageDir/${st.name}")).toMap
    RunResult(tables, incrementalEventLog(spark, storageDir))
  }

  private val cdfDoneRe = """PIPELINE_CDF_DONE\[v=(\d+)\]""".r

  /** One BRONZE version through the stage chain — the CDF-fed analog
    * of [[incrementalBatch]]. The hop's INSERT rows (v0 = the seed
    * snapshot; later hops = the version diff's inserts) are tagged
    * with the source version as `_graft_src_version` — so a
    * recency-merge ordered on that column replays updates in exact
    * CDF order, independent of payload values — and flow through the
    * stages like a micro-batch. Keys that VANISHED at the source
    * (full-row deletes — the GDPR case) are then deleted from every
    * pipeline-keyed incremental stage, and COMPLETE-mode stages
    * re-snapshot so gold aggregates reflect the deletes. Every step
    * is marker-idempotent; the `PIPELINE_CDF_DONE[v=N]` cursor on the
    * HEAD stage commits LAST, so a crash mid-hop replays only no-op
    * steps. Cost per hop is O(that version's change), never
    * O(bronze). */
  private[operators] def cdfHop(spark: SparkSession, bronzePath: String,
                                stages: Seq[Stage], storageDir: String,
                                key: String, orderCol: String,
                                tieBreaker: String, v: Int): Unit = {
    import org.apache.spark.sql.functions.lit
    val (ins0, delKeys, nIns) =
      if (v == 0) (VersionedTable.read(spark, bronzePath, Some(0)), None,
        1L)
      else {
        // LAZY pin materialized by one census collect — replaces the
        // eager pin + two per-leg isEmpty probes (optimization r14);
        // a hop with no deletes skips the vanished-key anti-join
        // without running it
        val feed = VersionedTable.changes(spark, bronzePath, v - 1, v)
          .pin(false)
        import org.apache.spark.sql.functions.{coalesce, sum, when}
        val census = feed.agg(
          coalesce(sum(when(col("_change_type") === "insert", 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("_change_type") === "delete", 1L)
            .otherwise(0L)), lit(0L)))
          .collect()(0)
        val (ni, nd) = (census.getLong(0), census.getLong(1))
        val ins = feed.filter(col("_change_type") === "insert")
          .drop("_change_type")
        val del =
          if (nd == 0) None
          else {
            // lazy pin BEFORE the isEmpty probe: the probe materializes
            // the checkpoint, so the delete verb below reuses the
            // blocks instead of re-running the anti-join
            val d = feed.filter(col("_change_type") === "delete")
              .select(col(key)).distinct()
              .join(ins.select(col(key)).distinct(), Seq(key),
                "left_anti")
              .pin(eager = false)
            if (d.isEmpty) None else Some(d)
          }
        (ins, del, ni)
      }
    val head = s"$storageDir/${stages.head.name}"
    val emptyHop = v > 0 && delKeys.isEmpty && nIns == 0L
    if (!emptyHop) {
      val ins = ins0.withColumn("_graft_src_version", lit(v))
      incrementalBatch(stages, storageDir, key, orderCol, tieBreaker)(
        ins, v.toLong)
      delKeys.foreach { dk =>
        stages.foreach { st =>
          val path = s"$storageDir/${st.name}"
          // delete propagation needs the stage table keyed on the
          // PIPELINE key — stages merging on their own key (st.merge)
          // transform past it and recompute stages re-snapshot below
          if (!st.recompute && st.merge.isEmpty) {
            val m = s"PIPELINE_CDF_DEL[${st.name},v=$v]"
            if (!VersionedTable.operations(path).contains(m)) {
              VersionedTable.deleteMatching(spark, path, dk, Seq(key),
                operation = m); ()
            }
          }
        }
        var prevPath: Option[String] = None
        stages.foreach { st =>
          val path = s"$storageDir/${st.name}"
          if (st.recompute && prevPath.nonEmpty) {
            val m = s"PIPELINE_CDF_RC[${st.name},v=$v]"
            if (!VersionedTable.operations(path).contains(m)) {
              VersionedTable.write(
                st.transform(VersionedTable.read(spark, prevPath.get)),
                path, operation = m); ()
            }
          }
          prevPath = Some(path)
        }
      }
    }
    val done = s"PIPELINE_CDF_DONE[v=$v]"
    if (VersionedTable.versions(head).nonEmpty &&
        !VersionedTable.operations(head).contains(done)) {
      val hs = VersionedTable.snapshot(head)
      VersionedTable.commitActions(hs, done, Set.empty, Nil, hs.schema); ()
    }
  }

  /** One notification trigger: apply every bronze version past the
    * head stage's DONE cursor, in order. The file-stream batch payload
    * is ignored — the commit log is purely the wake-up channel, so
    * any batch split/ordering is safe (the [[graft.streaming.Streams
    * .cdfApplyBatch]] discipline). */
  private def cdfIncrementalBatch(spark: SparkSession, bronzePath: String,
                                  stages: Seq[Stage], storageDir: String,
                                  key: String, orderCol: String,
                                  tieBreaker: String)
                                 (batch: DataFrame, batchId: Long): Unit = {
    val head = s"$storageDir/${stages.head.name}"
    val from =
      if (VersionedTable.versions(head).isEmpty) -1
      else (VersionedTable.operations(head).flatMap(op =>
        cdfDoneRe.findFirstMatchIn(op).map(_.group(1).toInt)) :+ -1).max
    val latest = VersionedTable.latestVersion(bronzePath).getOrElse(-1)
    ((from + 1) to latest).foreach(v =>
      cdfHop(spark, bronzePath, stages, storageDir, key, orderCol,
        tieBreaker, v))
  }

  /** Run the stage chain incrementally over a VERSIONED BRONZE table's
    * CHANGE FEED — the DLT-graph integration of the CDF source: a
    * Structured Streaming file source watches the bronze commit log
    * (new log file = new version), and each trigger pushes the newly
    * committed versions through the silver/gold stages as keyed
    * O(change) verbs. Re-running with the same checkpoint resumes from
    * the DONE cursor — commits landed while the pipeline was down flow
    * on restart, and a redelivered notification re-applies nothing.
    * Bronze is consumed as DELTAS, never re-snapshotted: at 100 TB the
    * silver refresh costs what changed. A run that has not drained
    * within `timeoutMs` is stopped and throws a `TimeoutException`
    * naming `checkpoint`. */
  def runIncrementalCdf(spark: SparkSession, bronzePath: String,
                        stages: Seq[Stage], storageDir: String,
                        checkpoint: String, key: String, orderCol: String,
                        tieBreaker: String,
                        timeoutMs: Long = 180000): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    val logSchema = StructType(Seq(StructField("version", IntegerType)))
    val q = spark.readStream.schema(logSchema)
      .json(s"$bronzePath/_graft_log")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(
        cdfIncrementalBatch(spark, bronzePath, stages, storageDir, key,
          orderCol, tieBreaker) _)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitDrained(q, timeoutMs, checkpoint)
    val tables = stages.map(st =>
      st.name -> VersionedTable.read(spark, s"$storageDir/${st.name}")).toMap
    RunResult(tables, incrementalEventLog(spark, storageDir))
  }
}
