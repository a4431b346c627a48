package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir: String = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)

  /** Job-start descriptions seen by a listener while `body` runs; a
    * sentinel job marks the end, so every earlier job event has been
    * delivered when this returns. */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    val prev = sc.getLocalProperty("spark.job.description")
    try {
      body
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      sc.setJobDescription(prev)
      val deadline = System.currentTimeMillis + 30000
      while (!seen.contains("sentinel") &&
             System.currentTimeMillis < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.takeWhile(_ != "sentinel")
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  /** The prod surface's session (extensions, tuning) on 4 cores. */
  lazy val session: SparkSession = SessionTuning.session(4)
}
