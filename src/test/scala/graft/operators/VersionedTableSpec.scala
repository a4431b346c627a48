package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VersionedTableSpec extends SparkSpec {

  private def freshPath = Files.createTempDirectory("graft_vt").toString + "/t"

  test("write/read round-trips and versions are immutable snapshots") {
    val path = freshPath
    val v0 = VersionedTable.write(tables.nation, path)
    assert(v0 == 0)
    val v1 = VersionedTable.write(tables.nation.filter(col("n_regionkey") === 0), path)
    assert(v1 == 1)
    assert(VersionedTable.read(spark, path, Some(0)).count() == 25)
    assert(VersionedTable.read(spark, path, Some(1)).count() == 5)
    // latest == v1
    assert(VersionedTable.read(spark, path).count() == 5)
    intercept[IllegalArgumentException](
      VersionedTable.read(spark, path, Some(7)))
  }

  test("write of an empty frame commits num_rows 0 (observed metric)") {
    val path = freshPath
    VersionedTable.write(tables.nation.filter(lit(false)), path)
    assert(VersionedTable.logEntries(path).head._3 == 0L)
    assert(VersionedTable.read(spark, path).count() == 0)
  }

  test("upsert commits a MERGE version; old version still readable (time travel)") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    val updates = tables.nation.filter(col("n_nationkey") < 3)
      .withColumn("n_name", concat(col("n_name"), lit("_UPDATED")))
    val v = VersionedTable.upsert(spark, path, updates, Seq("n_nationkey"))
    assert(v == 1)
    val latest = VersionedTable.read(spark, path)
    assert(latest.count() == 25)
    assert(latest.filter(col("n_name").endsWith("_UPDATED")).count() == 3)
    // VERSION AS OF 0 unchanged
    assert(VersionedTable.read(spark, path, Some(0))
      .filter(col("n_name").endsWith("_UPDATED")).count() == 0)
  }

  test("upsertEvolve widens the schema like Delta autoMerge; type changes fail") {
    val path = freshPath
    VersionedTable.write(tables.nation.select("n_nationkey", "n_name"), path)
    // updates bring a NEW column and touch 5 keys
    val updates = tables.nation.filter(col("n_regionkey") === 0)
      .select(col("n_nationkey"), upper(col("n_name")).as("n_name"),
        col("n_regionkey"))
    VersionedTable.upsertEvolve(spark, path, updates, Seq("n_nationkey"))
    val out = VersionedTable.read(spark, path)
    assert(out.columns.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
    assert(out.count() == 25)
    // untouched rows read the evolved column as null; updated rows
    // carry both the new value and the new column
    assert(out.filter(col("n_regionkey").isNull).count() == 20)
    assert(out.filter(col("n_regionkey") === 0)
      .filter(col("n_name") === upper(col("n_name"))).count() == 5)
    // v0 stays narrow (time travel unaffected by evolution)
    assert(VersionedTable.read(spark, path, Some(0)).columns.toSet ==
      Set("n_nationkey", "n_name"))
    // a type CHANGE is not evolution
    intercept[IllegalArgumentException] {
      VersionedTable.upsertEvolve(spark, path,
        tables.nation.select(col("n_nationkey"),
          col("n_name").cast("int").as("n_name")), Seq("n_nationkey"))
    }
  }

  test("TIMESTAMP AS OF resolves committed_at to the right version") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    VersionedTable.write(tables.nation.filter(col("n_regionkey") === 0), path)
    val Seq((0, t0), (1, t1)) = VersionedTable.commitTimes(path)
    assert(!t1.isBefore(t0))
    assert(VersionedTable.versionAt(path, t0).contains(0))
    assert(VersionedTable.versionAt(path, t1).contains(1))
    // after the last commit → latest; before the first → none
    assert(VersionedTable.versionAt(path,
      t1.plusSeconds(3600)).contains(1))
    assert(VersionedTable.versionAt(path, t0.minusSeconds(1)).isEmpty)
    assert(VersionedTable.readAsOf(spark, path, t0).count() == 25)
    intercept[IllegalArgumentException](
      VersionedTable.readAsOf(spark, path, t0.minusSeconds(1)))
  }

  test("update applies assignments only where the condition holds") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    val v = VersionedTable.update(spark, path, "n_regionkey = 0",
      Seq("n_name" -> "lower(n_name)", "n_regionkey" -> "n_regionkey + 10"))
    assert(v == 1)
    val latest = VersionedTable.read(spark, path)
    assert(latest.count() == 25)
    assert(latest.filter(col("n_regionkey") === 10).count() == 5)
    // untouched rows identical; schema/column order preserved
    assert(latest.columns.toSeq == tables.nation.columns.toSeq)
    assert(latest.filter(col("n_name") =!= upper(col("n_name"))).count() == 5)
    // pre-update snapshot intact
    assert(VersionedTable.read(spark, path, Some(0))
      .filter(col("n_regionkey") === 10).count() == 0)
    intercept[IllegalArgumentException](
      VersionedTable.update(spark, path, "true", Seq("nope" -> "1")))
  }

  test("update evaluates condition and all RHS against the pre-update row") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    // the condition column is itself assigned FIRST — sequential
    // (foldLeft) semantics would flip the condition to false before the
    // second assignment ran and silently skip it
    VersionedTable.update(spark, path, "n_regionkey = 0",
      Seq("n_regionkey" -> "n_regionkey + 10", "n_name" -> "lower(n_name)"))
    val latest = VersionedTable.read(spark, path)
    assert(latest.filter(col("n_regionkey") === 10).count() == 5)
    assert(latest.filter(col("n_regionkey") === 10 &&
      col("n_name") === lower(col("n_name"))).count() == 5)
    // swap-style SET a=b, b=a reads both pre-update values
    VersionedTable.update(spark, path, "n_nationkey = 0",
      Seq("n_nationkey" -> "n_regionkey", "n_regionkey" -> "n_nationkey"))
    val swapped = VersionedTable.read(spark, path)
    assert(swapped.filter(col("n_nationkey") === 10 &&
      col("n_regionkey") === 0).count() == 1)
    // duplicate targets are rejected, not silently last-wins
    intercept[IllegalArgumentException](
      VersionedTable.update(spark, path, "true",
        Seq("n_name" -> "'a'", "n_name" -> "'b'")))
  }

  test("operation strings with quotes and backslashes round-trip the log") {
    val path = freshPath
    val weird = """PIPELINE["stage \ one"]"""
    VersionedTable.write(tables.nation, path, operation = weird)
    assert(VersionedTable.operations(path) == Seq(weird))
    // the log line is valid JSON — Spark's JSON reader agrees
    assert(VersionedTable.history(spark, path).collect()(0)
      .getAs[String]("operation") == weird)
    // versions()/logEntries() still parse the other fields
    assert(VersionedTable.logEntries(path).head._3 == 25L)
  }

  test("delete removes matching rows as a new version") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    val v = VersionedTable.delete(spark, path, "n_regionkey = 0")
    assert(v == 1)
    assert(VersionedTable.read(spark, path).count() == 20)
    assert(VersionedTable.read(spark, path)
      .filter(col("n_regionkey") === 0).count() == 0)
    // pre-delete snapshot intact
    assert(VersionedTable.read(spark, path, Some(0)).count() == 25)
    assert(VersionedTable.operations(path) == Seq("WRITE", "DELETE"))
  }

  test("addColumn commits a schema-widened version") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    val v = VersionedTable.addColumn(spark, path, "is_south",
      "n_regionkey in (0, 1)")
    assert(v == 1)
    val latest = VersionedTable.read(spark, path)
    assert(latest.columns.contains("is_south"))
    assert(latest.filter(col("is_south")).count() == 10)
    // old version keeps the old schema
    assert(!VersionedTable.read(spark, path, Some(0))
      .columns.contains("is_south"))
    intercept[IllegalArgumentException](
      VersionedTable.addColumn(spark, path, "is_south", "true"))
  }

  test("changes reports the row-level diff; restore re-commits an old snapshot") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    VersionedTable.update(spark, path, "n_nationkey < 2",
      Seq("n_name" -> "lower(n_name)"))
    val diff = VersionedTable.changes(spark, path, 0, 1)
    // 2 updated rows → 2 deletes (old) + 2 inserts (new)
    assert(diff.filter(col("_change_type") === "insert").count() == 2)
    assert(diff.filter(col("_change_type") === "delete").count() == 2)
    assert(diff.filter(col("_change_type") === "insert" &&
      col("n_name") =!= lower(col("n_name"))).count() == 0)
    // restore v0 as v2: latest content equals the original
    val v2 = VersionedTable.restore(spark, path, 0)
    assert(v2 == 2)
    assert(VersionedTable.changes(spark, path, 0, 2).count() == 0)
    assert(VersionedTable.operations(path).last == "RESTORE[v=0]")
  }

  test("threeWayMerge resolves every action class: one-sided edits " +
    "win, identical edits merge, divergent edits conflict") {
    import spark.implicits._
    val base = Seq(
      (1L, "a", 10.0), // untouched
      (2L, "b", 20.0), // ours edits
      (3L, "c", 30.0), // theirs edits
      (4L, "d", 40.0), // both edit identically
      (5L, "e", 50.0), // both edit differently → conflict
      (6L, "f", 60.0), // ours deletes, theirs edits → conflict
      (7L, "g", 70.0)  // both delete → merges as delete
    ).toDF("k", "name", "v")
    val ours = Seq((1L, "a", 10.0), (2L, "b", 21.0), (3L, "c", 30.0),
      (4L, "d", 44.0), (5L, "e", 55.0), (8L, "h", 80.0))
      .toDF("k", "name", "v")
    val theirs = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 33.0),
      (4L, "d", 44.0), (5L, "e", 56.0), (6L, "f", 66.0))
      .toDF("k", "name", "v")
    val out = VersionedTable.threeWayMerge(base, ours, theirs, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("action"), Option(r.getAs[java.lang.Double]("v"))
          .map(_.doubleValue()))).toMap
    assert(out(1L) == (("unchanged", Some(10.0))))
    assert(out(2L) == (("ours", Some(21.0))))
    assert(out(3L) == (("theirs", Some(33.0))))
    assert(out(4L) == (("both", Some(44.0))))
    assert(out(5L) == (("conflict", None)))
    assert(out(6L) == (("conflict", None)))
    assert(out(7L) == (("both", None)))    // agreed delete
    assert(out(8L) == (("ours", Some(80.0)))) // one-sided insert
    assert(out.size == 8)
  }

  test("applyChanges replays a feed onto the older snapshot exactly") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    // an update AND a delete between the versions — the feed must
    // carry both shapes and the replay must reconstruct v1 exactly
    VersionedTable.update(spark, path, "n_nationkey < 3",
      Seq("n_name" -> "upper(n_name)"))
    VersionedTable.delete(spark, path, "n_regionkey = 4")
    val feed = VersionedTable.changes(spark, path, 0, 2)
    val rebuilt = VersionedTable.applyChanges(
      VersionedTable.read(spark, path, Some(0)), feed)
    val v2 = VersionedTable.read(spark, path, Some(2))
    assert(rebuilt.exceptAll(v2).isEmpty && v2.exceptAll(rebuilt).isEmpty)
    // duplicate rows in the feed replay correctly (multiset semantics):
    // doubling a snapshot then diffing back down must reconstruct too
    val doubled = v2.unionByName(v2)
    val feed2 = doubled.exceptAll(v2).withColumn("_change_type", lit("delete"))
    val shrunk = VersionedTable.applyChanges(doubled, feed2)
    assert(shrunk.count() == v2.count())
  }

  test("shallowClone: metadata-only fork — zero copied data, source " +
    "isolated from clone writes, pre-fork time travel via the base") {
    val src = freshPath
    val dst = freshPath
    VersionedTable.write(tables.nation, src)                      // v0
    VersionedTable.write(
      tables.nation.filter(col("n_regionkey") =!= 4), src)        // v1
    VersionedTable.shallowClone(src, dst)
    // zero-copy: the clone holds NO data files, only log + pointer
    assert(VersionedTable.poolFiles(dst).isEmpty,
      "shallow clone must not copy snapshot data")
    assert(VersionedTable.versions(dst) == Seq(0, 1))
    // pre-fork versions read through the base pointer
    assert(VersionedTable.read(spark, dst, Some(0)).count() == 25)
    assert(VersionedTable.read(spark, dst).count() == 20)
    // mutate the CLONE: source head must not move
    VersionedTable.delete(spark, dst, "n_regionkey = 0")          // v2
    assert(VersionedTable.read(spark, dst).count() == 15)
    assert(VersionedTable.read(spark, src).count() == 20,
      "clone write leaked into the source")
    assert(VersionedTable.versions(src) == Seq(0, 1))
    // the post-fork rewrite lives in the clone's own pool
    assert(VersionedTable.poolFiles(dst).nonEmpty)
    // vacuuming the SOURCE breaks the clone's pre-fork time travel
    // (the documented shallow-clone hazard), never its own commits
    VersionedTable.vacuum(src, keepLast = 1)
    intercept[IllegalArgumentException](
      VersionedTable.read(spark, dst, Some(0)))
    assert(VersionedTable.read(spark, dst).count() == 15)
  }

  test("vacuum removes old snapshots but keeps history and the survivors") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    VersionedTable.write(tables.nation.filter(col("n_regionkey") === 0), path)
    VersionedTable.write(tables.nation.filter(col("n_regionkey") === 1), path)
    val removed = VersionedTable.vacuum(path, keepLast = 1)
    assert(removed == Seq(0, 1))
    // history still lists all three commits
    assert(VersionedTable.history(spark, path).count() == 3)
    // latest still readable; vacuumed versions refuse cleanly
    assert(VersionedTable.read(spark, path).count() == 5)
    intercept[IllegalArgumentException](
      VersionedTable.read(spark, path, Some(0)))
    intercept[IllegalArgumentException](VersionedTable.vacuum(path, 0))
  }

  test("optimizeZOrder commits a curve-clustered version with same content") {
    val path = freshPath
    VersionedTable.write(tables.lineitem, path)
    val v = VersionedTable.optimizeZOrder(spark, path,
      "l_partkey", "l_suppkey", numFiles = 4)
    assert(v == 1)
    assert(VersionedTable.operations(path).last == "OPTIMIZE[ZORDER]")
    assert(VersionedTable.manifestEntries(path, 1).size == 4)
    // layout-only change: content round-trips exactly
    val a = VersionedTable.read(spark, path, Some(0))
    val b = VersionedTable.read(spark, path, Some(1))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("history lists one entry per commit with operations") {
    val path = freshPath
    VersionedTable.write(tables.nation, path)
    VersionedTable.upsert(spark, path,
      tables.nation.limit(1), Seq("n_nationkey"))
    VersionedTable.optimize(spark, path, Seq("n_nationkey"), numFiles = 2)
    val h = VersionedTable.history(spark, path)
      .orderBy("version").collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("WRITE", "MERGE", "OPTIMIZE"))
    assert(h.map(_.getAs[Long]("num_rows")).toSeq == Seq(25L, 25L, 25L))
    // optimize produced the requested file count in the new version
    assert(VersionedTable.manifestEntries(path, 2).size == 2)
  }

  test("cross-table pin: one instant resolves each table's own log, " +
       "mixed-version worlds stay consistent") {
    import spark.implicits._
    val (pa, pb) = (freshPath, freshPath)
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), pa)
    VersionedTable.write(Seq((1L, "x")).toDF("k", "w"), pb)
    // A evolves BEFORE the pin; B evolves after it
    Thread.sleep(5)
    VersionedTable.upsert(spark, pa, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    Thread.sleep(5)
    val pin = VersionedTable.commitTimes(pa).last._2
    Thread.sleep(5)
    VersionedTable.upsert(spark, pb, Seq((2L, "y")).toDF("k", "w"), Seq("k"))
    // the pin reads A at v1 (2 rows) and B at v0 (1 row) — each
    // table resolves the SAME instant against its own commit log
    assert(VersionedTable.versionAt(pa, pin).contains(1))
    assert(VersionedTable.versionAt(pb, pin).contains(0))
    assert(VersionedTable.readAsOf(spark, pa, pin).count() == 2L)
    assert(VersionedTable.readAsOf(spark, pb, pin).count() == 1L)
    // while the current world sees both evolutions
    assert(VersionedTable.read(spark, pb).count() == 2L)
  }
}
