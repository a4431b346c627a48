package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Json {
  /** A JSON number with all its digits (no NaN/Infinity in JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** The tail: the highest integer percentile (nearest rank) that
    * still has at least ten samples beyond it. With fewer than eleven
    * samples no percentile qualifies and the maximum is reported.
    * Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0, 0)
    else {
      val ps = (99 to 1 by -1).find(p =>
        n - math.ceil(p * n / 100.0).toInt >= 10)
      ps match {
        case Some(p) => (s(math.ceil(p * n / 100.0).toInt - 1), p, n)
        case None => (s.last, 100, n)
      }
    }
  }
}

/** Order-independent content hash of a frame: row count plus the sum
  * of 64-bit row hashes (exact decimal sum, so no overflow). */
object RowHash {
  def of(df: DataFrame, cols: Seq[String]): String = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toString).getOrElse("0")}"
  }

  /** [[of]] per value of an integer key column. */
  def byKey(df: DataFrame, key: String, cols: Seq[String]): Map[Int, String] =
    df.select(col(key), xxhash64(cols.map(col): _*).as("h")).groupBy(key)
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getInt(0) -> s"${r.getLong(1)}:${r.getDecimal(2)}").toMap
}

/** A named series of per-operation timings (seconds). */
final class Series {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
}

/** Shared state of one workload run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: java.io.File, val cores: Int) {
  val series = new Series
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Add a sample to a series; samples of the warm-up operations are
    * dropped. */
  def add(series: String, v: Double): Unit =
    if (tracer.measuring) this.series.add(series, v)

  /** Run one timed operation; a throw counts as a failed operation.
    * Returns the elapsed seconds, or None when it threw. */
  def timed(series: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      add(series, s)
      Some(s)
    } catch {
      case e: Exception =>
        e.printStackTrace()
        fail(s"$series threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def path(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Remove a directory under the work directory, recursively. */
  def delete(name: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(work, name))
  }

  /** Bytes of every regular file under a directory. */
  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** One end-to-end metric as printed: name, value, unit, and an
  * optional note (tail percentile and sample count). */
final case class Metric(name: String, value: Double, unit: String,
                        note: String = "")

trait Workload {
  def name: String
  /** Build the benchmark's own inputs from the seed (not graft work). */
  def generate(): Unit
  /** graft's initial load into a fresh set of tables; `rep` numbers
    * the repetition (set-up is repeated and its median reported; the
    * last repetition's tables are the ones the loop uses). */
  def load(rep: Int): Unit
  /** Drop the earlier repetitions' tables; the loop starts after this. */
  def keepLastLoad(): Unit
  /** One closed-loop operation. */
  def step(): Unit
  /** Output checks after the loop (failures go through ctx.fail). */
  def check(): Unit
  /** Unmeasured operations before the measured loop, at least: enough
    * that the operation time has levelled off. */
  def warmupOps: Int = 1
  /** The primary per-operation time series. */
  def opSeries: String
  /** The workload's end-to-end metrics (besides the shared ones). */
  def metrics(): Seq[Metric]
  /** Workload-specific per-layer counters for the traced run. */
  def layerCounters(): Unit = ()
  /** A line describing the inputs (sizes and their content hash). */
  def inputSummary: String
}
