package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  private def freshDir = Files.createTempDirectory("graft_pipe").toString

  private val bronzeExps = Seq(
    Expectation("user present", "user_id is not null"),
    Expectation("value non-negative", "value >= 0"))

  test("stages chain, materialize as versioned tables, and log metrics") {
    val dir = freshDir
    val res = Pipeline.run(spark, tables.events, Seq(
      Pipeline.Stage("bronze", identity, bronzeExps),
      Pipeline.Stage("silver",
        df => Medallion.dedupLatest(df, "user_id", "ts", "event_id"),
        Seq(Expectation("value sane", "value <= 400")),
        Pipeline.OnViolation.DropRows),
      Pipeline.Stage("gold",
        df => df.groupBy(col("event_type")).agg(count(lit(1)).as("n")))),
      dir)
    // event log: 2 bronze + 1 silver constraints, no gold suite
    val log = res.eventLog.orderBy("stage_seq", "constraint_name").collect()
    assert(log.length == 3)
    assert(log.map(_.getString(1)).toSeq == Seq("bronze", "bronze", "silver"))
    val total = tables.events.count()
    val bronzeUser = log.find(_.getString(2) == "user present").get
    assert(bronzeUser.getLong(3) + bronzeUser.getLong(4) == total)
    // silver dropped its violating rows before materializing
    val silver = res.tables("silver")
    assert(silver.filter(col("value") > 400).count() == 0)
    val sane = log.find(_.getString(2) == "value sane").get
    assert(sane.getLong(3) == silver.count())
    // each stage is a VersionedTable with one PIPELINE commit
    val h = VersionedTable.history(spark, s"$dir/gold").collect()
    assert(h.length == 1 && h.head.getAs[String]("operation") == "PIPELINE[gold]")
    // gold reads the silver TABLE (post-drop): group counts sum to silver rows
    assert(res.tables("gold").agg(sum("n")).collect()(0).getLong(0) ==
      silver.count())
  }

  test("Fail mode aborts the run on a violated constraint") {
    val dir = freshDir
    intercept[ExpectationViolation] {
      Pipeline.run(spark, tables.events, Seq(
        Pipeline.Stage("bronze", identity,
          Seq(Expectation("impossible", "value < -1e9")),
          Pipeline.OnViolation.Fail)), dir)
    }
  }

  test("re-running a pipeline commits new versions, keeping history") {
    val dir = freshDir
    val stages = Seq(Pipeline.Stage("bronze", identity))
    Pipeline.run(spark, tables.nation, stages, dir)
    Pipeline.run(spark, tables.nation, stages, dir)
    assert(VersionedTable.versions(s"$dir/bronze") == Seq(0, 1))
  }

  private val incSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private val incCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  test("incremental restart processes ONLY new files and converges to the batch truth") {
    val src = freshDir
    val store = freshDir
    val ckpt = freshDir
    val stages = Seq(
      Pipeline.Stage("bronze", identity,
        Seq(Expectation("user present", "user_id is not null"))),
      Pipeline.Stage("silver", identity,
        Seq(Expectation("value sane", "value <= 400")),
        Pipeline.OnViolation.DropRows),
      // COMPLETE-mode gold recomputed from merged silver per batch
      Pipeline.Stage("gold",
        df => df.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        recompute = true))
    val ev = tables.events.select(incCols.map(col): _*)
    // run 1: first half of the events, several files
    ev.filter(col("event_id") % 2 === 0).repartition(4)
      .write.mode("append").json(src)
    val r1 = Pipeline.runIncremental(spark, src, incSchema, incCols, stages,
      store, ckpt, key = "user_id", orderCol = "ts", tieBreaker = "event_id")
    val v1 = VersionedTable.versions(s"$store/silver").size
    assert(v1 >= 2, s"3-files-per-trigger over 4 files should take ≥2 batches, got $v1")
    // run 2, same checkpoint: only the newly added files are processed
    ev.filter(col("event_id") % 2 === 1).repartition(4)
      .write.mode("append").json(src)
    val r2 = Pipeline.runIncremental(spark, src, incSchema, incCols, stages,
      store, ckpt, key = "user_id", orderCol = "ts", tieBreaker = "event_id")
    val v2 = VersionedTable.versions(s"$store/silver").size
    assert(v2 > v1 && v2 - v1 <= 3,
      s"restart should commit only the new files' batches, got $v1 -> $v2")
    // the merged silver table equals the one-shot batch truth
    val expected = Medallion.dedupLatest(
      ev.filter(col("value") <= 400), "user_id", "ts", "event_id")
    assert(r2.tables("silver").exceptAll(expected).count() == 0)
    assert(expected.exceptAll(r2.tables("silver")).count() == 0)
    // COMPLETE-mode gold = aggregate over final silver, one
    // full-snapshot version per processed batch
    val goldExpected = expected.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(r2.tables("gold").exceptAll(goldExpected).isEmpty &&
      goldExpected.exceptAll(r2.tables("gold")).isEmpty)
    assert(VersionedTable.versions(s"$store/gold").size ==
      VersionedTable.versions(s"$store/silver").size)
    // the per-batch event log sums to the global audit
    val logSum = r2.eventLog.filter(col("constraint_name") === "user present")
      .agg(sum("passed_records"), sum("failed_records")).collect()(0)
    assert(logSum.getLong(0) == ev.count() && logSum.getLong(1) == 0L)
    // retention: a catch-up run (no new files) with retainVersions=1
    // vacuums old snapshots; history stays listable, latest readable
    val r3 = Pipeline.runIncremental(spark, src, incSchema, incCols, stages,
      store, ckpt, key = "user_id", orderCol = "ts", tieBreaker = "event_id",
      retainVersions = 1)
    assert(VersionedTable.versions(s"$store/silver").size == v2,
      "vacuum must keep the commit history")
    assert(r3.tables("silver").count() == r2.tables("silver").count())
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, s"$store/silver", Some(0)).count()
    }
  }

  test("incremental curation over document batches matches the batch chain") {
    val src = freshDir
    val store = freshDir
    val ckpt = freshDir
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    val docCols = Seq("doc_id", "text", "source", "lang")
    // the per-doc curation filter (map-only scorers joined 1:1)
    val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        val lang = TextAnalysis.langId(df)
          .select(col("doc_id"), col("predicted_lang"))
        val quality = TextAnalysis.quality(df)
          .select(col("doc_id"), col("quality_score"))
        df.join(lang, "doc_id").join(quality, "doc_id")
          .filter(col("predicted_lang") === "en" &&
            col("quality_score") >= 0.1)
          .select(col("doc_id"), col("text"), col("source"), col("lang"))
      }
    val stages = Seq(
      Pipeline.Stage("curated", curate),
      // exact-dedup canonical: merge on the content hash keeping the
      // SMALLEST doc_id — orderCol is the negated id, so the
      // recency-merge min-selects and the result is batch-independent
      Pipeline.Stage("canonical",
        df => df.withColumn("text_hash", sha2(col("text"), 256))
          .withColumn("neg_id", -col("doc_id")),
        merge = Some(("text_hash", "neg_id", "neg_id"))))
    tables.documents.select(docCols.map(col): _*)
      .repartition(5).write.mode("append").json(src)
    val res = Pipeline.runIncremental(spark, src, docSchema, docCols,
      stages, store, ckpt, key = "doc_id", orderCol = "doc_id",
      tieBreaker = "doc_id")
    // batch truth: curate the whole corpus at once, then keep the min
    // doc_id per content hash among the survivors
    val batchCurated = curate(tables.documents.select(docCols.map(col): _*))
    val batchCanon = batchCurated
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val gotCurated = res.tables("curated").select("doc_id")
    assert(gotCurated.exceptAll(batchCurated.select("doc_id")).isEmpty &&
      batchCurated.select("doc_id").exceptAll(gotCurated).isEmpty)
    val gotCanon = res.tables("canonical").select("doc_id")
    assert(gotCanon.exceptAll(batchCanon.select("doc_id")).isEmpty &&
      batchCanon.select("doc_id").exceptAll(gotCanon).isEmpty)
  }

  test("a retried micro-batch id is a no-op (exactly-once per stage)") {
    val store = freshDir
    val stages = Seq(
      Pipeline.Stage("bronze", identity,
        Seq(Expectation("user present", "user_id is not null"))))
    val batch = tables.events.select(incCols.map(col): _*).limit(100)
    Pipeline.incrementalBatch(stages, store, "user_id", "ts",
      "event_id")(batch, 7L)
    val rows1 = VersionedTable.read(spark, s"$store/bronze").count()
    val log1 = Pipeline.incrementalEventLog(spark, store).count()
    // at-least-once delivery retries the same batch id
    Pipeline.incrementalBatch(stages, store, "user_id", "ts",
      "event_id")(batch, 7L)
    assert(VersionedTable.versions(s"$store/bronze").size == 1)
    assert(VersionedTable.read(spark, s"$store/bronze").count() == rows1)
    assert(Pipeline.incrementalEventLog(spark, store).count() == log1)
  }

  // ------------------------------------------------------------------
  // expectation counters observed on the stage write
  // ------------------------------------------------------------------

  private val eventSilver = Pipeline.Stage("silver", identity,
    Expectations.EventSuite, Pipeline.OnViolation.DropRows)

  private def incEvents = tables.events.select(incCols.map(col): _*)

  private def batchOf(lo: Long, hi: Long) =
    incEvents.filter(col("event_id") >= lo && col("event_id") < hi)

  /** The event-log rows of one batch, keyed by constraint name. */
  private def loggedCounters(store: String, batchId: Long)
      : Map[String, (Long, Long)] =
    Pipeline.incrementalEventLog(spark, store)
      .filter(col("batch_id") === batchId).collect()
      .map(r => r.getString(3) -> (r.getLong(4), r.getLong(5))).toMap

  private def exactCounters(df: org.apache.spark.sql.DataFrame,
                            exps: Seq[Expectation]) =
    Expectations.metrics(df, exps).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("a steady-state micro-batch (bronze, silver DROP ROW, gold " +
    "recompute) runs at most 6 Spark jobs, each described by stage and " +
    "batch, and restores the caller's job description") {
    val store = freshDir
    val stages = Seq(
      Pipeline.Stage("bronze", identity),
      eventSilver,
      Pipeline.Stage("gold",
        df => df.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        recompute = true))
    // built up front: resolving the test input runs jobs of its own
    val batches = (0 to 2).map(b => batchOf(b * 300L, b * 300L + 400))
    def run(b: Int) = Pipeline.incrementalBatch(stages, store, "event_id",
      "ts", "event_id")(batches(b), b.toLong)
    run(0); run(1)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    val descs = try jobDescriptions {
        run(2)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      } finally sc.setJobDescription(null)
    assert(descs.nonEmpty && descs.size <= 6,
      s"${descs.size} jobs per micro-batch: $descs")
    val stageOf = """graft pipeline (\w+) batch 2""".r
    assert(descs.forall(stageOf.matches), descs)
    assert(descs.map { case stageOf(s) => s }.distinct ==
      Seq("bronze", "silver", "gold"))
  }

  test("expectation counters are exact on a multi-file stage table, " +
    "where the touch scan runs before the write") {
    val store = freshDir
    val path = s"$store/silver"
    VersionedTable.write(batchOf(0, 600).repartition(3, col("event_id")), path)
    assert(VersionedTable.manifestEntries(path, 0).size >= 2)
    val batch = batchOf(400, 900)
    Pipeline.incrementalBatch(Seq(eventSilver), store, "event_id", "ts",
      "event_id")(batch, 1L)
    assert(loggedCounters(store, 1L) ==
      exactCounters(batch, Expectations.EventSuite))
    val expected = Medallion.dedupLatest(
      batchOf(0, 600).unionByName(
        Expectations.dropInvalid(batch, Expectations.EventSuite)),
      "event_id", "ts", "event_id")
    val got = VersionedTable.read(spark, path)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // DESCRIBE HISTORY shows the counters of the commit that made them
    val h = VersionedTable.history(spark, path)
      .filter(col("version") === 1)
      .select(col("expectations.flow_name"), col("expectations.batch_id"),
        col("expectations.results.failed_records")).head()
    assert(h.getString(0) == "silver" && h.getLong(1) == 1L)
    assert(h.getSeq[Long](2) == Expectations.EventSuite.map(e =>
      exactCounters(batch, Expectations.EventSuite)(e.name)._2))
  }

  test("expectation counters are exact, with no hang, for a batch whose " +
    "rows all fail and for an empty batch") {
    val store = freshDir
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      Pipeline.incrementalBatch(Seq(eventSilver), store, "event_id", "ts",
        "event_id")(b, id)
    run(batchOf(0, 200), 0L)
    val before = VersionedTable.read(spark, s"$store/silver").count()
    val allFail = batchOf(200, 400).withColumn("value", lit(-1.0))
    run(allFail, 1L)
    val n = allFail.count()
    assert(n > 0)
    assert(loggedCounters(store, 1L)("value is non-negative") == (0L, n))
    assert(loggedCounters(store, 1L) ==
      exactCounters(allFail, Expectations.EventSuite))
    assert(VersionedTable.read(spark, s"$store/silver").count() == before)
    run(batchOf(0, 0), 2L)
    assert(loggedCounters(store, 2L) ==
      Expectations.EventSuite.map(_.name -> (0L, 0L)).toMap)
    assert(VersionedTable.versions(s"$store/silver") == Seq(0, 1, 2))
  }

  test("FAIL mode throws ExpectationViolation and leaves no new version " +
    "and no new pool file") {
    val store = freshDir
    val strict = Pipeline.Stage("silver", identity,
      Seq(Expectation("value non-negative", "value >= 0")),
      Pipeline.OnViolation.Fail)
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      Pipeline.incrementalBatch(Seq(strict), store, "event_id", "ts",
        "event_id")(b, id)
    val ok = batchOf(0, 300).filter(col("value") >= 0)
    run(ok, 0L)
    val path = s"$store/silver"
    val pool = VersionedTable.poolFiles(path).toSet
    intercept[ExpectationViolation] {
      run(batchOf(300, 600).withColumn("value", -col("value") - 1), 1L)
    }
    assert(VersionedTable.versions(path) == Seq(0))
    assert(VersionedTable.poolFiles(path).toSet == pool)
    assert(loggedCounters(store, 1L).isEmpty)
    assert(VersionedTable.read(spark, path).count() == ok.count())
  }

  test("a batch whose commit fails and is retried logs its counters once") {
    val store = freshDir
    val path = s"$store/silver"
    def run(id: Long) = Pipeline.incrementalBatch(Seq(eventSilver), store,
      "event_id", "ts", "event_id")(batchOf(id * 300, id * 300 + 300), id)
    run(0L)
    VersionedTable.addConstraint(spark, path, "early ids", "event_id < 300")
    intercept[ConstraintViolationException](run(1L))
    VersionedTable.dropConstraint(path, "early ids")
    run(1L)
    val rows = Pipeline.incrementalEventLog(spark, store)
      .filter(col("batch_id") === 1L).count()
    assert(rows == Expectations.EventSuite.size,
      s"batch 1 logged $rows counter rows")
  }

  // ------------------------------------------------------------------
  // concurrent stage commits
  // ------------------------------------------------------------------

  test("commit graph: bronze and silver start at once, gold (recompute) " +
    "after silver") {
    assert(Pipeline.commitWaits(Seq(
      Pipeline.Stage("bronze", identity),
      eventSilver,
      Pipeline.Stage("gold", identity, recompute = true))) ==
      Seq(Set(), Set(), Set(1)))
  }

  test("commit graph: a stage after a FAIL-mode stage waits for it") {
    val strict = Pipeline.Stage("bronze", identity,
      Seq(Expectation("value non-negative", "value >= 0")),
      Pipeline.OnViolation.Fail)
    assert(Pipeline.commitWaits(Seq(strict,
      Pipeline.Stage("silver", identity))) == Seq(Set(), Set(0)))
    // transitively through a later stage: only the nearest is listed
    assert(Pipeline.commitWaits(Seq(strict, strict.copy(name = "silver"),
      Pipeline.Stage("gold", identity))) == Seq(Set(), Set(0), Set(1)))
  }

  test("commit graph: an incremental stage after a recompute stage waits " +
    "for the table the recompute stage reads") {
    assert(Pipeline.commitWaits(Seq(
      Pipeline.Stage("bronze", identity),
      Pipeline.Stage("gold", identity, recompute = true),
      Pipeline.Stage("report", identity))) == Seq(Set(), Set(0), Set(0)))
  }

  test("commit graph: a single stage waits for nothing; a leading " +
    "recompute stage is refused") {
    assert(Pipeline.commitWaits(Seq(Pipeline.Stage("bronze", identity))) ==
      Seq(Set()))
    intercept[IllegalArgumentException] {
      Pipeline.commitWaits(Seq(Pipeline.Stage("gold", identity,
        recompute = true)))
    }
  }

  /** Live threads running a commit of batch `batchId`. */
  private def commitThreads(batchId: Long): Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(t =>
      t.isAlive && t.getName.matches(s"graft pipeline \\w+ batch $batchId"))
  }

  test("a FAIL violation upstream leaves the stage after it without a " +
    "new version") {
    val store = freshDir
    val stages = Seq(
      Pipeline.Stage("bronze", identity,
        Seq(Expectation("value non-negative", "value >= 0")),
        Pipeline.OnViolation.Fail),
      Pipeline.Stage("silver", identity))
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      Pipeline.incrementalBatch(stages, store, "event_id", "ts",
        "event_id")(b, id)
    run(batchOf(0, 300).filter(col("value") >= 0), 0L)
    intercept[ExpectationViolation] {
      run(batchOf(300, 600).withColumn("value", -col("value") - 1), 1L)
    }
    assert(VersionedTable.versions(s"$store/bronze") == Seq(0))
    assert(VersionedTable.versions(s"$store/silver") == Seq(0))
    assert(commitThreads(1L).isEmpty)
  }

  test("a CHECK violation on silver throws after bronze has committed, " +
    "and a retry commits silver and gold only, logging counters once") {
    val store = freshDir
    // bronze's expectation sleeps per row, so bronze's commit outlasts
    // silver's failing one and the throw has to wait for it
    spark.udf.register("graft_spec_slow_true",
      (_: Long) => { Thread.sleep(3); true })
    val slow = "bronze is slow"
    val stages = Seq(
      Pipeline.Stage("bronze", identity,
        Seq(Expectation(slow, "graft_spec_slow_true(event_id)"))),
      eventSilver,
      Pipeline.Stage("gold",
        df => df.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        recompute = true))
    def run(id: Long) = Pipeline.incrementalBatch(stages, store, "event_id",
      "ts", "event_id")(batchOf(id * 300, id * 300 + 300), id)
    run(0L)
    VersionedTable.addConstraint(spark, s"$store/silver", "early ids",
      "event_id < 300")
    val silverBefore = VersionedTable.versions(s"$store/silver")
    intercept[ConstraintViolationException](run(1L))
    // the call waited for bronze's commit: it has landed, and no
    // commit thread of the batch outlives the call
    assert(VersionedTable.operations(s"$store/bronze")
      .contains("PIPELINE_INC[bronze,batch=1]"))
    assert(commitThreads(1L).isEmpty)
    assert(VersionedTable.versions(s"$store/silver") == silverBefore)
    assert(VersionedTable.versions(s"$store/gold") == Seq(0))
    VersionedTable.dropConstraint(s"$store/silver", "early ids")
    val bronzeBefore = VersionedTable.versions(s"$store/bronze")
    val silverMid = VersionedTable.versions(s"$store/silver")
    run(1L)
    assert(VersionedTable.versions(s"$store/bronze") == bronzeBefore)
    assert(VersionedTable.versions(s"$store/silver").size ==
      silverMid.size + 1)
    assert(VersionedTable.versions(s"$store/gold") == Seq(0, 1))
    assert(loggedCounters(store, 1L) - slow ==
      exactCounters(batchOf(300, 600), Expectations.EventSuite))
    val rows = Pipeline.incrementalEventLog(spark, store)
      .filter(col("batch_id") === 1L && col("flow_name") === "silver").count()
    assert(rows == Expectations.EventSuite.size)
    // gold reflects silver after the retry
    assert(VersionedTable.read(spark, s"$store/gold").agg(sum("n"))
      .head().getLong(0) == VersionedTable.read(spark, s"$store/silver")
      .count())
  }

  test("every job of a micro-batch carries the caller's local properties") {
    val store = freshDir
    val stages = Seq(
      Pipeline.Stage("bronze", identity),
      eventSilver,
      Pipeline.Stage("gold",
        df => df.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        recompute = true))
    val batches = (0 to 1).map(b => batchOf(b * 300L, b * 300L + 400))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.tag", "caller")
    try withListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          seen.add((e.properties.getProperty("spark.job.description", ""),
            e.properties.getProperty("graft.spec.tag", "")))
      }) {
        batches.zipWithIndex.foreach { case (b, i) =>
          Pipeline.incrementalBatch(stages, store, "event_id", "ts",
            "event_id")(b, i.toLong)
        }
      }
    finally sc.setLocalProperty("graft.spec.tag", null)
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    assert(jobs.collect { case (d, _) if d.startsWith("graft pipeline") =>
      d.split(" ")(2) }.distinct.sorted == Seq("bronze", "gold", "silver"))
    assert(jobs.forall(_._2 == "caller"), jobs)
  }

  test("a refresh that times out stops its query and names the checkpoint") {
    val src = freshDir
    val store = freshDir
    val ckpt = freshDir
    incEvents.repartition(3).write.mode("append").json(src)
    val e = intercept[java.util.concurrent.TimeoutException] {
      Pipeline.runIncremental(spark, src, incSchema, incCols,
        Seq(Pipeline.Stage("bronze", identity), eventSilver), store, ckpt,
        key = "event_id", orderCol = "ts", tieBreaker = "event_id",
        timeoutMs = 1)
    }
    assert(e.getMessage.contains(ckpt))
    assert(spark.streams.active.isEmpty)
  }

  test("repeated keys and several NULL-key rows in one batch commit the " +
    "latest row per key and the latest NULL-key row") {
    import spark.implicits._
    val store = freshDir
    val stages = Seq(Pipeline.Stage("bronze", identity))
    def run(rows: Seq[(Option[Long], Long, String)], id: Long) =
      Pipeline.incrementalBatch(stages, store, "k", "ts", "p")(
        rows.toDF("k", "ts", "p"), id)
    run(Seq((Some(1L), 1L, "a1"), (Some(2L), 1L, "b1"), (Some(2L), 3L, "b3"),
      (None, 1L, "n1"), (None, 2L, "n2")), 0L)
    run(Seq((Some(1L), 5L, "a5"), (Some(1L), 4L, "a4"), (Some(2L), 2L, "b2"),
      (Some(4L), 1L, "d1"), (Some(4L), 7L, "d7"), (Some(4L), 3L, "d3"),
      (None, 9L, "n9"), (None, 3L, "n3"), (None, 8L, "n8")), 1L)
    val got = VersionedTable.read(spark, s"$store/bronze").as[(Option[Long],
      Long, String)].collect().toSet
    assert(got == Set((Some(1L), 5L, "a5"), (Some(2L), 3L, "b3"),
      (Some(4L), 7L, "d7"), (None, 2L, "n2"), (None, 9L, "n9")))
  }
}
