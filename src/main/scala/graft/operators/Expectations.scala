package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — Spark-native re-expression
  * of DLT `CONSTRAINT ... EXPECT (...) [ON VIOLATION DROP ROW |
  * FAIL UPDATE]` (reference: `4  Delta Live Tables (SQL).sql`:102-123
  * and the expectation-metrics queries in `3 Delta Live Tables
  * Setup.py`:134-152).
  *
  * Predicates are SQL strings so suites serialize/log cleanly.
  * `metrics` computes ALL constraint counters in ONE pass over the
  * data (conditional aggregation) — at 100 TB you never want one scan
  * per constraint; `observe` rides the same counters on a commit's
  * write job.
  */
final case class Expectation(name: String, predicateSql: String)

/** One declared foreign-key relationship for [[Expectations.refIntegrity]]:
  * `fk(fkCol)` should reference `pk(pkCol)`. */
final case class Relation(name: String, fk: DataFrame, fkCol: String,
                          pk: DataFrame, pkCol: String)

class ExpectationViolation(msg: String) extends RuntimeException(msg)

/** One expectation's counters over a flow's candidate rows (DLT event
  * log `data_quality.expectations` entry). */
final case class ExpectationResult(name: String, passed: Long,
                                   failed: Long)

/** The expectation counters a commit carries in its log entry: the
  * flow (pipeline stage) that produced the rows, its position in the
  * pipeline, the micro-batch (incremental runs only) and one result
  * per constraint — the DLT event log's `flow_progress` row, kept in
  * the same atomic log append as the data it describes. */
final case class FlowExpectations(flow: String, stageSeq: Int,
                                  batchId: Option[Long],
                                  results: Seq[ExpectationResult])

object Expectations {

  /** The one counter builder behind every count a commit reports:
    * per expectation, `p_<i>` rows where the predicate holds and
    * `f_<i>` rows where it does not. `count`, not `sum`, so zero rows
    * count 0, never NULL. A NULL predicate result fails an expectation
    * (DLT) and, with `nullPasses`, passes a CHECK constraint (SQL
    * UNKNOWN). */
  def counters(exps: Seq[Expectation],
               nullPasses: Boolean = false): Seq[Column] =
    exps.zipWithIndex.flatMap { case (e, i) =>
      val holds = coalesce(expr(e.predicateSql), lit(nullPasses))
      Seq(count(when(holds, 1)).as(s"p_$i"), count(when(!holds, 1)).as(s"f_$i"))
    }

  /** One row per constraint: (constraint_name, passed_records,
    * failed_records). Single aggregation pass, then an explode of the
    * packed counters (driver-free). */
  def metrics(df: DataFrame, exps: Seq[Expectation]): DataFrame = {
    val cs = counters(exps)
    val packed = array(exps.zipWithIndex.map { case (e, i) =>
      struct(lit(e.name).as("constraint_name"),
        col(s"p_$i").as("passed_records"),
        col(s"f_$i").as("failed_records"))
    }: _*)
    df.agg(cs.head, cs.tail: _*).select(explode(packed).as("m")).select("m.*")
  }

  /** Attach `metrics` (aggregates) to `df` as an observation: the
    * action that consumes the returned frame (a commit's write)
    * computes them as a side effect — no extra job, no persist. Read
    * them with [[observed]] once that action has run. Observe ABOVE
    * any drop-row filter (DLT counts candidate rows, then drops),
    * never below a lazy pin (the pinning job would not report them),
    * and never over an IN/EXISTS subquery (Spark rejects it in a
    * metric — project the predicate into a column first). */
  def observe(df: DataFrame, metrics: Seq[Column]): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** How long [[observed]] waits for the listener event that delivers
    * an observation (posted asynchronously after the action ends). */
  private val ObservedTimeoutMs = 60000L

  /** The values of an [[observe]]d frame, waiting at most
    * [[ObservedTimeoutMs]] — an observation whose action ran on another
    * session never completes, and that must fail loudly rather than
    * block the caller forever. */
  def observed(obs: Observation): Row =
    try scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(ObservedTimeoutMs, "ms"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"commit counters not observed within $ObservedTimeoutMs ms")
    }

  /** The [[counters]] of `exps` in an observed row. */
  def results(row: Row, exps: Seq[Expectation]): Seq[ExpectationResult] =
    exps.zipWithIndex.map { case (e, i) =>
      ExpectationResult(e.name, row.getLong(2 * i), row.getLong(2 * i + 1))
    }

  /** ON VIOLATION FAIL UPDATE over counters already in hand. */
  def failIfViolated(results: Seq[ExpectationResult], where: String): Unit = {
    val bad = results.filter(_.failed > 0)
    if (bad.nonEmpty) throw new ExpectationViolation(
      s"expectations violated$where — " +
        bad.map(r => s"${r.name}: ${r.failed} failed").mkString("; "))
  }

  /** ON VIOLATION DROP ROW: keep only rows passing every constraint. */
  def dropInvalid(df: DataFrame, exps: Seq[Expectation]): DataFrame =
    df.filter(exps.map(e => expr(e.predicateSql)).reduce(_ && _))

  /** Rows violating ≥1 constraint (quarantine surface) — the exact
    * complement of [[dropInvalid]]: a NULL predicate counts as a
    * violation (matching `metrics`), so the row lands here rather
    * than vanishing from both outputs. */
  def quarantine(df: DataFrame, exps: Seq[Expectation]): DataFrame =
    df.filter(!coalesce(
      exps.map(e => expr(e.predicateSql)).reduce(_ && _), lit(false)))

  /** ON VIOLATION FAIL UPDATE: throw if any constraint has failures. */
  def failOnViolation(df: DataFrame, exps: Seq[Expectation]): Unit =
    failIfViolated(metrics(df, exps).collect().toSeq.map(r =>
      ExpectationResult(r.getString(0), r.getLong(1), r.getLong(2))), "")

  /** The demo suite used by the `expectations*` queries (≈ the
    * reference's length/state constraints, on `events`). */
  val EventSuite: Seq[Expectation] = Seq(
    Expectation("value is non-negative", "value >= 0"),
    Expectation("value within sane bound", "value <= 400"),
    Expectation("event_type is known",
      "event_type in ('click','view','purchase','signup','error')"),
    Expectation("no error events", "event_type <> 'error'"),
    Expectation("user present", "user_id is not null"))

  /** Cross-table referential-integrity audit — the star-schema
    * health check row-level expectations can't express: one row per
    * declared relationship with the fact-side row/NULL/orphan counts
    * (an orphan is a non-NULL fk with no pk match), orphan_ppm, and
    * the dimension-side unreferenced-key count.
    *
    * Scale shape: every fact side is scanned ONCE — all relations'
    * keys union into a single tagged frame, the pk sides (dimensions,
    * broadcast-small by star-schema construction) union into one
    * broadcast lookup, orphan flags are map-side and the only
    * fact-sized shuffles are one groupBy(relation) counter aggregate
    * and one (relation, key) map-side-combined distinct for the
    * unreferenced-pk leg. No per-relation passes, no driver loop. */
  def refIntegrity(rels: Seq[Relation]): DataFrame = {
    val fk = taggedKeys(rels, r => (r.fk, r.fkCol))
    val pk = taggedKeys(rels, r => (r.pk, r.pkCol))
    val factCounts = orphanCounts(rels)
      .withColumn("orphan_ppm",
        expr("n_orphan_rows * 1000000 div n_fk_rows"))
    val referenced = fk.filter(col("key").isNotNull).distinct()
    val pkCounts = pk
      .join(referenced.withColumn("seen", lit(1L)),
        Seq("relation", "key"), "left")
      .groupBy(col("relation"))
      .agg(count(lit(1)).as("n_pk_rows"),
        sum(when(col("seen").isNull, 1L).otherwise(0L))
          .as("n_unreferenced_pk"))
    factCounts.join(pkCounts, "relation")
  }

  private def taggedKeys(rels: Seq[Relation],
                         sel: Relation => (DataFrame, String)): DataFrame = {
    require(rels.nonEmpty, "declare at least one relationship")
    require(rels.map(_.name).distinct.length == rels.length,
      "relationship names must be unique")
    rels.map { r =>
      val (df, c) = sel(r)
      df.select(lit(r.name).as("relation"), col(c).cast("long").as("key"))
    }.reduce(_ unionByName _)
  }

  /** The fact-side counters of [[refIntegrity]] alone: per relation
    * (n_fk_rows, n_null_fk, n_orphan_rows). Associative — against
    * FROZEN dimensions the counts sum across any arrival split, which
    * is what lets the streaming orphan monitor fold per-batch shards.
    * Emits a zero row for relations whose fact side is empty, so a
    * shard is never silently missing a relation. */
  def orphanCounts(rels: Seq[Relation]): DataFrame = {
    val fk = taggedKeys(rels, r => (r.fk, r.fkCol))
    val pk = taggedKeys(rels, r => (r.pk, r.pkCol))
    val pkTagged = broadcast(pk.distinct()
      .withColumn("matched", lit(1L)))
    val names = rels.map(_.name).sorted
    val spark = rels.head.fk.sparkSession
    import spark.implicits._
    val all = names.toDF("relation")
    fk.join(pkTagged, Seq("relation", "key"), "left")
      .groupBy(col("relation"))
      .agg(count(lit(1)).as("n_fk_rows"),
        sum(when(col("key").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        sum(when(col("key").isNotNull && col("matched").isNull, 1L)
          .otherwise(0L)).as("n_orphan_rows"))
      .join(all, Seq("relation"), "right")
      .select(col("relation"),
        coalesce(col("n_fk_rows"), lit(0L)).as("n_fk_rows"),
        coalesce(col("n_null_fk"), lit(0L)).as("n_null_fk"),
        coalesce(col("n_orphan_rows"), lit(0L)).as("n_orphan_rows"))
  }

  /** Per-group freshness audit over an event stream: row count,
    * newest event time, and the lag behind the globally newest event
    * — the "did source X stop arriving" gate a multi-source ingest
    * needs (DLT surfaces this as pipeline event-log timestamps;
    * here it is a first-class query on the data itself). All integer
    * (epoch-micros longs); `staleUs` marks groups whose lag exceeds
    * the threshold. One map-side-combined |groups|-row aggregate +
    * a window over that tiny frame. */
  def freshnessAudit(events: DataFrame, groupCol: String = "event_type",
                     tsCol: String = "ts",
                     staleUs: Long = 3600000000L): DataFrame = {
    require(staleUs >= 0, "staleUs is the lag threshold in micros")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    events.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"),
        max(col(tsCol)).as("max_ts_us"))
      .withColumn("lag_us",
        max(col("max_ts_us")).over(w) - col("max_ts_us"))
      .withColumn("stale", col("lag_us") > staleUs)
  }
}
