package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable

/** Per-job wall-clock profiler for a single named query: runs the
  * query under a SparkListener and prints every job's duration,
  * description, task-time sum and executor-CPU sum (task time also
  * counts waits for a core; CPU does not), plus the gaps BETWEEN jobs
  * (driver-side work: planning, commit-log I/O, footer reads), and the
  * codegen compiles the profiled run paid. Measurement tooling only —
  * never on any query path.
  *
  *   sbt "runMain graft.Profile stream_cdf_source /root/testdata/sf0.1"
  */
object Profile {
  private case class JobRow(id: Int, start: Long, var end: Long = 0L,
                            var desc: String = "", var stages: Int = 0,
                            var tasks: Int = 0, var taskTimeMs: Long = 0L,
                            var cpuNs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("stream_cdf_source")
      .split(",").toSeq
    val d = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SessionTuning.session()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/region.parquet").count()

    for (name <- names) {
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = JobRow(e.jobId, e.time, desc = desc,
            stages = e.stageIds.size)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            if (e.taskInfo != null) j.taskTimeMs += e.taskInfo.duration
            if (e.taskMetrics != null) j.cpuNs += e.taskMetrics.executorCpuTime
          }
        }
    }
    // warm run first (untimed) so codegen/class-load costs don't
    // pollute the profiled run — mirrors the bench's median-of-3; the
    // compile counters below show what codegen the profiled run still
    // paid (driver and executor share this JVM on local[N])
    SparkEntry.queries(name)(spark, d).count()
    spark.sparkContext.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, d).count()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    spark.sparkContext.removeSparkListener(listener)

    val rows = jobs.values.toSeq.sortBy(_.start)
    println(f"%nPROFILE $name  rows=$n  wall=${wallMs / 1000}%.2f s  " +
      f"jobs=${rows.size}  codegen compiles=$compiles ($compileS%.2f s)")
    val base = rows.headOption.map(_.start).getOrElse(0L)
    var prevEnd = base
    var gapTotal = 0L
    var jobTotal = 0L
    rows.foreach { j =>
      val gap = j.start - prevEnd
      if (gap > 0) gapTotal += gap
      jobTotal += (j.end - j.start)
      val flag = if (gap >= 50) f"  <-- gap ${gap}ms" else ""
      println(f"${(j.start - base) / 1000.0}%8.2fs job=${j.id}%4d " +
        f"${j.end - j.start}%6dms stages=${j.stages}%2d tasks=${j.tasks}%4d " +
        f"taskSum=${j.taskTimeMs}%6dms cpuSum=${j.cpuNs / 1000000}%6dms  " +
        f"${j.desc.take(90)}%s$flag")
      prevEnd = math.max(prevEnd, j.end)
    }
    println(f"job time total=${jobTotal / 1000.0}%.2f s; " +
      f"inter-job gaps total=${gapTotal / 1000.0}%.2f s; " +
      f"pre/post overhead=${(wallMs - jobTotal - gapTotal) / 1000.0}%.2f s; " +
      f"taskSum total=${rows.map(_.taskTimeMs).sum / 1000.0}%.2f s; " +
      f"cpuSum total=${rows.map(_.cpuNs).sum / 1e9}%.2f s")
    spark.catalog.clearCache()
    }
    spark.stop()
  }
}
