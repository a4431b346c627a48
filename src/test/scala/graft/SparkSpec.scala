package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir: String = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)

  /** Runs `body` with `l` attached. A sentinel job marks the end, so
    * every event of the jobs `body` ran has reached `l` when this
    * returns; `l` sees the sentinel job too (it reads no input). */
  def withListener(l: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val done = new java.util.concurrent.CountDownLatch(1)
    val watch = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (SparkSpec.description(e) == SparkSpec.Sentinel) done.countDown()
    }
    sc.addSparkListener(l)
    sc.addSparkListener(watch)
    val prev = sc.getLocalProperty("spark.job.description")
    try {
      body
      sc.setJobDescription(SparkSpec.Sentinel)
      sc.parallelize(Seq(0), 1).count()
      sc.setJobDescription(prev)
      done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally {
      sc.removeSparkListener(watch)
      sc.removeSparkListener(l)
    }
  }

  /** Job-start descriptions seen while `body` runs. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(SparkSpec.description(e))
    })(body)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.takeWhile(_ != SparkSpec.Sentinel)
  }
}

object SparkSpec {
  /** The prod surface's session (extensions, tuning) on 4 cores. */
  lazy val session: SparkSession = SessionTuning.session(4)

  private val Sentinel = "sentinel"

  private def description(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
}
