package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** What a commit counts or indexes — MERGE and UPDATE metric rows,
  * MERGE's ambiguity guard, CHECK violations, bloom sidecars — is
  * observed on the job that writes its data, not by jobs of its own. */
class CommitJobsSpec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_commit_jobs").toString

  private def withCatalog[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    body
  }

  /** 20k rows in 4 files with a bloom index on `k`. */
  private def bloomTable(): String = {
    val path = s"$fresh/t"
    VersionedTable.write(spark.range(20000).select(col("id").as("k"),
        (col("id") % 7).as("grp"), (col("id") * 10).cast("double").as("amt"))
      .repartition(4), path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
    path
  }

  /** Spark jobs `body` runs, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    var out: Option[T] = None
    val descs = jobDescriptions { out = Some(body) }
    (descs.size, out.get)
  }

  private def view(name: String, from: Long, until: Long): Unit =
    spark.range(from, until).select(col("id").as("k"), lit(1.5).as("amt"))
      .createOrReplaceTempView(name)

  test("MERGE, UPDATE and an append to a constrained table count rows " +
    "on the write job: each runs fewer Spark jobs than with separate " +
    "count jobs, and the metric rows are exact") {
    withCatalog {
      val path = bloomTable()
      // jobs per commit on this bloom-indexed table, as measured; with
      // a bloom read-back, a separate ambiguity query and an exchange
      // in the key-hash and touch-scan collects they were 12, 9, 6, 4
      val pinned = Map("merge" -> 6, "insert-only merge" -> 3,
        "update" -> 2, "constrained append" -> 1)
      val jobs = Map.newBuilder[String, Int]
      // 19990..19999 match (even keys delete, odd keys update),
      // 20000..20009 insert
      view("cj_src", 19990, 20010)
      val (merge, m) = jobsOf(spark.sql(s"""
        MERGE INTO graft.`$path` t USING cj_src s ON t.k = s.k
        WHEN MATCHED AND t.k % 2 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = s.amt
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)
        """).head)
      assert(m == Row(20L, 5L, 5L, 10L))
      jobs += "merge" -> merge
      // 20005..20009 exist now, 20010..20014 insert
      view("cj_ins", 20005, 20015)
      val (insertOnly, i) = jobsOf(spark.sql(s"""
        MERGE INTO graft.`$path` t USING cj_ins s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 1L, s.amt)
        """).head)
      assert(i == Row(5L, 0L, 0L, 5L))
      jobs += "insert-only merge" -> insertOnly
      val (update, u) = jobsOf(spark.sql(
        s"UPDATE graft.`$path` SET amt = -1.0 WHERE k < 100").head)
      assert(u == Row(100L))
      jobs += "update" -> update
      VersionedTable.addConstraint(spark, path, "k_nonneg", "k >= 0")
      val (append, _) = jobsOf(VersionedTable.append(spark,
        spark.range(30000, 30100).select(col("id").as("k"),
          lit(2L).as("grp"), lit(3.0).as("amt")), path))
      jobs += "constrained append" -> append
      assert(VersionedTable.read(spark, path).count() == 20000 - 5 + 10 + 5 + 100)
      val got = jobs.result()
      info(s"jobs per commit: $got")
      pinned.foreach { case (commit, bound) =>
        assert(got(commit) <= bound, s"$commit: $got vs $pinned")
      }
    }
  }

  test("an append to a bloom-indexed table runs only its write job, " +
    "and every new file gets its sidecar") {
    val path = bloomTable()
    val v0 = VersionedTable.latestVersion(path).get
    val (jobs, v1) = jobsOf(VersionedTable.append(spark,
      spark.range(40000, 40400, 1, 4).select(col("id").as("k"),
        lit(3L).as("grp"), lit(1.0).as("amt")), path))
    assert(jobs == 1, s"append ran $jobs jobs")
    val before = VersionedTable.manifestEntries(path, v0).map(_.name).toSet
    val added = VersionedTable.manifestEntries(path, v1)
      .filterNot(e => before(e.name))
    assert(added.size == 4 && added.forall(e => e.bloom.get("k").exists(b =>
      Files.exists(java.nio.file.Paths.get(path, "_graft_pool", b)))),
      s"new entries $added")
    assert(VersionedTable.readEqual(spark, path, "k", 40123L).count() == 1)
  }

  test("an empty MERGE source and an UPDATE matching nothing report " +
    "zero counts at once") {
    withCatalog {
      val path = bloomTable()
      view("cj_empty", 0, 0)
      val t0 = System.nanoTime
      val m = spark.sql(s"""
        MERGE INTO graft.`$path` t USING cj_empty s ON t.k = s.k
        WHEN MATCHED AND t.k % 2 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = s.amt
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)
        """).head
      val i = spark.sql(s"""
        MERGE INTO graft.`$path` t USING cj_empty s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 1L, s.amt)
        """).head
      val u = spark.sql(
        s"UPDATE graft.`$path` SET amt = 0.0 WHERE k < 0").head
      val secs = (System.nanoTime - t0) / 1e9
      assert(m == Row(0L, 0L, 0L, 0L) && i == Row(0L, 0L, 0L, 0L) &&
        u == Row(0L))
      assert(secs < 10, s"three empty DML commits took $secs s")
      assert(VersionedTable.read(spark, path).count() == 20000)
    }
  }

  /** (`_graft_log` listings, log-line and checkpoint reads) of `body`. */
  private def logIo(body: => Unit): (Long, Long) = {
    val (lists, reads) =
      (VersionedTable.logLists.get, VersionedTable.logReads.get)
    body
    (VersionedTable.logLists.get - lists, VersionedTable.logReads.get - reads)
  }

  test("SQL MERGE, UPDATE and a filtered count each resolve one " +
    "snapshot: a MERGE lists the log as often at base v9 as at v2, and " +
    "the tail is read once") {
    withCatalog {
      val path = bloomTable() // v2
      def merge(lo: Long): (Long, Long) = {
        view("lio_src", lo, lo + 20)
        logIo(spark.sql(s"""
          MERGE INTO graft.`$path` t USING lio_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET amt = s.amt
          WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)
          """).collect())
      }
      val atV2 = merge(19990)
      (3 until 9).foreach(v => merge(19990 + 10L * v))
      assert(VersionedTable.latestVersion(path).contains(9))
      val atV9 = merge(20100) // commits v10, a checkpoint
      val count = logIo(spark.sql(
        s"SELECT count(*) FROM graft.`$path` WHERE k < 100").collect())
      val update = logIo(spark.sql(
        s"UPDATE graft.`$path` SET amt = -1.0 WHERE k < 100").collect())
      info(s"(LIST, GET): merge@v2 $atV2, merge@v9 $atV9, " +
        s"count $count, update $update")
      // one listing resolves the statement's snapshot at analysis,
      // one re-lists the log at commit time
      assert(atV2._1 <= 2 && atV9._1 == atV2._1, s"$atV2 vs $atV9")
      assert(atV9._2 <= 11, s"merge@v9 $atV9")
      assert(count._1 <= 2 && count._2 <= 4, s"count $count")
      assert(update._1 <= 4 && update._2 <= 6, s"update $update")
      assert(VersionedTable.read(spark, path).filter(col("amt") === -1.0)
        .count() == 100)
    }
  }
}
