package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle entries for) just those, for fast single-query iteration
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = SessionTuning.session()
    // SPARK_GRAFT_VERIFY_TOUCHSET=1: every bloom-pruned merge touch
    // scan re-derives the exact touch set and fails loudly on a false
    // negative (read at run time by VersionedTable's touch scan)
    if (sys.env.get("SPARK_GRAFT_VERIFY_TOUCHSET").contains("1"))
      spark.conf.set("spark.graft.debug.verifyTouchSet", "true")
    new java.io.File(outDir).mkdirs()
    // Isolate registry queries from each other: Spark's CacheManager
    // substitutes ANY persisted fragment into later plans that
    // canonically match (the PlanInvariantsSpec hazard class), so a
    // frame one query persisted and never unpersisted can silently
    // rewrite another query's plan mid-run. The correctness gate must
    // evaluate each query as if it ran alone — drop every cached
    // fragment between queries.
    SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // first line only — a full AnalysisException message is a
        // multi-line plan dump that buries the per-query signal
        val firstLine = Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.take(1).mkString
        System.err.println(s"[verify] $name failed: $firstLine")
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
