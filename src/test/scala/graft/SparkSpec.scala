package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir: String = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)
}

object SparkSpec {
  /** The prod surface's session (extensions, tuning) on 4 cores. */
  lazy val session: SparkSession = SessionTuning.session(4)
}
