package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cluster-safe materialization toggle (optimization r14): every
  * iterative-loop / DML-source `pin` site runs through
  * `localCheckpoint` by default and through RELIABLE `checkpoint()`
  * when `spark.graft.materialize.reliable=true` — results must be
  * identical in both modes (local mode keeps the fast path; the
  * toggle exists so a real cluster can survive executor loss
  * mid-loop). */
class MaterializeSpec extends SparkSpec {

  private def withReliable[T](body: => T): T = {
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Materialize.ReliableConf, "true")
    try body
    finally {
      spark.conf.unset(Materialize.ReliableConf)
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(ckptDir)); ()
    }
  }

  test("pin routes through reliable checkpoint when enabled, " +
       "localCheckpoint otherwise") {
    import Materialize.Pinnable
    val df = spark.range(10).toDF("id")
    // lineage is cut either way (the pinned frame plans as a scan
    // over an existing RDD); the two modes differ in WHERE the blocks
    // live — executor-pinned local blocks (no checkpoint file) vs a
    // reliable checkpoint file in the checkpoint dir
    def pinnedRdd(d: org.apache.spark.sql.DataFrame) = {
      val lr = d.pin(true).queryExecution.optimizedPlan
      assert(lr.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        "pin must cut lineage to a LogicalRDD scan")
      lr.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    }
    assert(pinnedRdd(df).getCheckpointFile.isEmpty,
      "default mode is LOCAL checkpointing — no checkpoint file")
    withReliable {
      val rdd = pinnedRdd(df)
      assert(rdd.getCheckpointFile.isDefined,
        "reliable mode must write a checkpoint file")
    }
  }

  test("connectedComponents and star agree across materialization " +
       "modes") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 10L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 7L, 8L, 10L, 99L).toDF("id")
    def run() = Clusters.connectedComponents(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def runStar() = Clusters.connectedComponentsStar(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (ccLocal, starLocal) = (run(), runStar())
    val (ccRel, starRel) = withReliable { (run(), runStar()) }
    assert(ccLocal == ccRel)
    assert(starLocal == starRel)
    assert(ccLocal == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      8L -> 7L, 10L -> 10L, 99L -> 99L))
    assert(starLocal == ccLocal)
  }

  test("merge (upsert) source pinning agrees across modes") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mat_upsert").toString
    def runOnce(sub: String): Map[Long, Double] = {
      val path = s"$dir/$sub"
      VersionedTable.destroy(path)
      VersionedTable.write(
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"), path)
      VersionedTable.upsert(spark,
        path, Seq((2L, 20.0), (4L, 40.0)).toDF("k", "v"), Seq("k"))
      VersionedTable.read(spark, path).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val local = runOnce("local")
    val rel = withReliable { runOnce("rel") }
    assert(local == rel)
    assert(local == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 4L -> 40.0))
  }

  test("SQL MERGE, upsert and deleteMatching release their source pins " +
       "once the commit is written") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_mat_release")
      .toString + "/t"
    VersionedTable.write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"),
      path)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    Seq((2L, 20.0), (5L, 50.0)).toDF("k", "v")
      .createOrReplaceTempView("mat_release_src")
    // pins this test adds (the ContextCleaner may free older ones)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    spark.sql(s"""MERGE INTO graft.`$path` t USING mat_release_src s
      ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(pinned.isEmpty, "SQL MERGE left its source pinned")
    VersionedTable.upsert(spark, path,
      Seq((3L, 30.0), (6L, 60.0)).toDF("k", "v"), Seq("k"))
    assert(pinned.isEmpty, "upsert left its source pinned")
    VersionedTable.deleteMatching(spark, path, Seq(1L, 6L).toDF("k"),
      Seq("k"))
    assert(pinned.isEmpty, "deleteMatching left its key frame pinned")
    assert(VersionedTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(2L -> 20.0, 3L -> 30.0, 5L -> 50.0))
  }

  test("subtreeRollup level-sweep fallback (depth guard) is " +
       "hash-identical to the doubling path") {
    import org.apache.spark.sql.functions._
    val nodes = spark.range(300).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("m"))
    def collectRollup() = Clusters.subtreeRollup(nodes, "k", "m")
      .collect().map(r => (r.getAs[Long]("node_id"),
        r.getAs[Long]("depth"), r.getAs[Long]("subtree_n"),
        r.getAs[java.math.BigDecimal]("subtree_cents")))
      .sortBy(_._1).toSeq
    val doubling = collectRollup()
    // cap 1 forces every tree deeper than one level onto the O(n)
    // working-set level sweep — the 100 TB chain-shaped-hierarchy
    // guard (the doubling path materializes O(n·depth) ancestor
    // pairs, which a deep chain turns into O(n²))
    spark.conf.set("spark.graft.subtreeRollup.maxDoublingDepth", "1")
    val sweep =
      try collectRollup()
      finally spark.conf
        .unset("spark.graft.subtreeRollup.maxDoublingDepth")
    assert(sweep == doubling)
  }

  test("withPersist unpersists its frame when the body throws") {
    val sc = spark.sparkContext
    // other specs' pins share this JVM: compare against what was
    // persisted before the body ran
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Materialize.withPersist(spark.range(100).toDF("id")) { df =>
        assert(df.count() == 100) // materializes the cached blocks
        assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("connectedComponents and connectedComponentsStar release their " +
       "loop persists when the input throws") {
    val sc = spark.sparkContext
    val boom = udf { (x: Long) =>
      if (x == 3L) throw new IllegalStateException("bad id")
      x
    }
    // a chain 1-2-...-8 over range frames (a local relation would be
    // folded at planning, before anything is persisted)
    val pairs = spark.range(1, 8)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val nodes = spark.range(1, 9).toDF("id")
    def failsWithBadId(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("bad id")), e)
    }
    // a persisted frame whose blocks were never written is a
    // CacheManager entry without an RDD yet: count both (the entry
    // count is Spark-internal, hence the reflection)
    val cm = spark.sharedState.cacheManager
    def entries = cm.getClass.getMethod("numCachedEntries").invoke(cm)
    val (rddsBefore, entriesBefore) = (sc.getPersistentRDDs.keySet, entries)
    def nothingLeftBehind(op: String): Unit = {
      assert((sc.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
        s"$op left a persistent RDD behind")
      assert(entries == entriesBefore,
        s"$op left a persisted frame behind")
    }
    // the nodes throw in the loop's first job, after the round-0
    // labels (and the edge frame) were persisted
    failsWithBadId(Clusters.connectedComponents(pairs,
      nodes.select(boom(col("id")).as("id"))))
    nothingLeftBehind("connectedComponents")
    // the edge set throws in the loop's first job, after it was persisted
    failsWithBadId(Clusters.connectedComponentsStar(
      pairs.select(boom(col("id_a")).as("id_a"), col("id_b")), nodes))
    nothingLeftBehind("connectedComponentsStar")
  }
}
