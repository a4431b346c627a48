package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.VersionedTable

/** A graft scan builds its parquet readers once: every physical copy
  * of one scan (initial plan, adaptive re-plans) and every micro-batch
  * of one stream share one reader factory. The deletion-vector readers
  * exist only where a DV file can be read, and deletion vectors still
  * apply on every read path. */
class GraftScanReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def fresh = Files.createTempDirectory("graft_reuse").toString

  private def withCatalog[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    body
  }

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  // ------------------------------------------------------------ //
  // one reader factory per scan
  // ------------------------------------------------------------ //

  test("every plan copy of a graft scan in a broadcast-joined 4-table " +
    "query shares one reader factory, and the result matches parquet") {
    withCatalog {
      val dir = fresh
      val fact = spark.range(4000).select(col("id").as("rid"),
        (col("id") % 500).as("okey"), (col("id") * 7 % 1000).as("price"))
      val orders = spark.range(500).select(col("id").as("okey"),
        (col("id") % 50).as("ckey"), (col("id") % 12).as("month"))
      val customer = spark.range(50).select(col("id").as("ckey"),
        (col("id") % 5).as("nkey"))
      val nation = spark.range(5).select(col("id").as("nkey"),
        concat(lit("n"), col("id")).as("name"))
      val tables = Seq("fact" -> fact, "orders" -> orders,
        "customer" -> customer, "nation" -> nation)
      tables.foreach { case (n, df) =>
        VersionedTable.write(df.repartition(2), s"$dir/$n")
        df.write.parquet(s"$dir/pq_$n")
      }
      def gold(t: String => String) = s"""
        SELECT n.name, o.month, sum(f.price) AS revenue, count(*) AS n
        FROM ${t("fact")} f
        JOIN ${t("orders")} o ON f.okey = o.okey
        JOIN ${t("customer")} c ON o.ckey = c.ckey
        JOIN ${t("nation")} nt ON c.nkey = nt.nkey
        JOIN (SELECT nkey, name FROM ${t("nation")}) n ON n.nkey = nt.nkey
        GROUP BY n.name, o.month"""
      val q = spark.sql(gold(n => s"graft.`$dir/$n`"))
      val got = q.collect()
      val want = spark.sql(gold(n => s"parquet.`$dir/pq_$n`")).collect()
      assert(got.nonEmpty)
      assert(sorted(got) == sorted(want))

      val adaptive = q.queryExecution.executedPlan
        .asInstanceOf[AdaptiveSparkPlanExec]
      val finalPlan = adaptive.executedPlan
      assert(collect(finalPlan) { case j: BroadcastHashJoinExec => j }
        .nonEmpty, s"expected broadcast joins:\n$finalPlan")
      def scans(p: SparkPlan): Seq[BatchScanExec] =
        collectWithSubqueries(p) { case b: BatchScanExec => b }
      // scans compare by identity; the nation table is scanned twice
      val byScan = (scans(adaptive.initialPlan) ++ scans(finalPlan))
        .groupBy(_.scan)
      assert(byScan.size == 5, s"5 graft scans, got ${byScan.size}")
      byScan.foreach { case (scan, copies) =>
        val f = scan.toBatch.createReaderFactory()
        assert(copies.size >= 2, s"a scan in both plans: $copies")
        copies.foreach(b => assert(b.readerFactory eq f,
          s"${scan.description()} built a second reader factory"))
      }
    }
  }

  test("a graft stream builds one reader factory for all its " +
    "micro-batches") {
    val dir = fresh
    val src = s"$dir/t"
    VersionedTable.write(spark.range(10).select(col("id").as("k")), src)
    VersionedTable.append(spark,
      spark.range(10, 30).select(col("id").as("k")), src)
    VersionedTable.append(spark,
      spark.range(30, 60).select(col("id").as("k")), src)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, AnyRef)]()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count()
        // the running query's plan for this batch
        val id = java.util.UUID.fromString(df.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId"))
        val exec = spark.streams.get(id)
          .asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        val fs = exec.executedPlan.collect {
          case m: MicroBatchScanExec => m.readerFactory
        }
        seen.synchronized { fs.foreach(f => seen += (n -> f)) }
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val batches = seen.toSeq
    assert(batches.map(_._1).filter(_ > 0) == Seq(10L, 20L, 30L),
      s"three batches, got ${batches.map(_._1)}")
    val first = batches.head._2
    assert(batches.forall(_._2 eq first),
      "each micro-batch built its own reader factory")
  }

  // ------------------------------------------------------------ //
  // deletion vectors with conditional DV readers
  // ------------------------------------------------------------ //

  test("a snapshot mixing DV-carrying and clean files reads the same " +
    "live rows through every read path") {
    withCatalog {
      val path = s"$fresh/t"
      VersionedTable.write(spark.range(400).select(col("id").as("k"),
        (col("id") % 7).as("v")).repartitionByRange(4, col("k")), path)
      VersionedTable.deleteVectors(spark, path, "k < 30 OR k = 150")
      val snap = VersionedTable.snapshot(path)
      assert(snap.entries.exists(_.dv.isDefined) &&
        snap.entries.exists(_.dv.isEmpty),
        s"mixed snapshot expected: ${snap.entries.map(_.dv)}")
      val live = (30L until 400L).filter(_ != 150L)
      def keys(df: DataFrame) =
        df.select("k").collect().map(_.getLong(0)).toSeq.sorted
      val viaFormat = keys(spark.read.format("graft").load(path))
      val viaSql = keys(spark.sql(s"SELECT k FROM graft.`$path`"))
      val viaRead = keys(VersionedTable.read(spark, path))
      assert(viaFormat == live)
      assert(viaSql == live)
      assert(viaRead == live)
      // a pushed filter that hits both kinds of file
      assert(keys(spark.read.format("graft").load(path)
        .filter(col("k") < 160)) == live.filter(_ < 160))
    }
  }

  test("a DV-free scan's reader factory refuses a DV-carrying file, " +
    "naming it") {
    val path = s"$fresh/t"
    VersionedTable.write(spark.range(100).select(col("id").as("k")), path)
    val clean = VersionedTable.snapshot(path)
    VersionedTable.deleteVectors(spark, path, "k < 10")
    val dvd = VersionedTable.snapshot(path).entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty)
    val factory = new GraftScanBuilder(clean).build().toBatch
      .createReaderFactory()
    val part = GraftReaderFactory.partitions(path, dvd,
      splitAndPack = false).head
    val e = intercept[IllegalStateException] {
      factory.createReader(part).next()
    }
    assert(e.getMessage.contains(dvd.head.name))
  }

  test("a stream loaded on a DV-free snapshot never emits a row a " +
    "DV delete removed before its first trigger") {
    val dir = fresh
    val (src, out) = (s"$dir/t", s"$dir/out")
    VersionedTable.write(spark.range(100).select(col("id").as("k")), src)
    assert(VersionedTable.snapshot(src).entries.forall(_.dv.isEmpty))
    val stream = spark.readStream.format("graft").load(src)
    VersionedTable.deleteVectors(spark, src, "k >= 80")
    val q = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val got = spark.read.parquet(out).select("k").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(got == (0L until 80L))
  }
}
