package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Expectations, Pipeline, SetJoin, TextAnalysis}

/** Steady-state operations reuse the classes Spark generated for them:
  * the session conf ([[SessionTuning.sparkConf]]) keeps one executor
  * class loader across session clones, so a stream refresh finds the
  * previous refresh's classes, and sizes the generated-class cache
  * above one curation pass's working set, so a pass finds the
  * previous pass's classes. Counted exactly: every compile updates
  * `CodegenMetrics.METRIC_COMPILATION_TIME` (driver and executor share
  * one JVM on `local[N]`). */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(body: => Unit): Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    body
    h.getCount - before
  }

  /** Empties Spark's generated-class cache (private to
    * `CodeGenerator`, hence the reflection). */
  private def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a second incremental refresh of a medallion graph compiles no " +
    "class") {
    val dir = Files.createTempDirectory("graft_codegen_pipe").toString
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stages = Seq(
      Pipeline.Stage("bronze_events", identity),
      Pipeline.Stage("silver_events", identity,
        Expectations.EventSuite, Pipeline.OnViolation.DropRows),
      Pipeline.Stage("gold_event_counts",
        df => df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(12,2)")).as("total_value")),
        recompute = true))
    val events = tables.events.select(schema.fieldNames.toSeq.map(col): _*)
    // one JSON batch per quarter of the events, landed before its
    // refresh (the landing filter's literal is compiled per batch)
    def land(batch: Int): Unit =
      events.filter(col("event_id") % 4 === batch).coalesce(1)
        .write.mode("append").json(s"$dir/src")
    def refresh(): Unit =
      Pipeline.runIncremental(spark, s"$dir/src", schema,
        schema.fieldNames.toSeq, stages, s"$dir/store", s"$dir/ckpt",
        key = "event_id", orderCol = "ts", tieBreaker = "event_id",
        retainVersions = 5)
    // the first refresh creates the tables, the second is the first
    // upsert into them
    land(0); refresh()
    land(1); refresh()
    land(2)
    val third = compiles(refresh())
    land(3)
    val fourth = compiles(refresh())
    info(s"classes compiled: third refresh $third, fourth $fourth")
    assert(fourth == 0, s"steady-state refresh compiled $fourth classes " +
      s"(the one before it compiled $third)")
  }

  test("a second curation pass over the corpus compiles no class") {
    val docs = tables.documents.select("doc_id", "text")
    val emb = tables.embeddings
    def pass(): Unit = {
      TextAnalysis.quality(docs).collect()
      Dedup.minhashLsh(docs).collect()
      SetJoin.similarityJoinExact(docs).collect()
      Dedup.semdedupKeep(emb).collect()
    }
    // an empty cache makes the first pass compile every class the pass
    // uses: more than Spark's default 100-entry cache holds
    clearCodegenCache()
    val first = compiles(pass())
    assert(first > 100, s"the pass compiled only $first distinct classes")
    val second = compiles(pass())
    info(s"classes compiled: first pass $first, second $second")
    assert(second == 0, s"the second pass compiled $second of the " +
      s"$first classes the first pass compiled")
  }
}
