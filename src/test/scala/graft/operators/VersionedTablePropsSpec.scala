package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import java.nio.file.Files

/** The table-properties layer (r11): Delta-style column mapping
  * (RENAME/DROP COLUMN as metadata-only commits over stable physical
  * names), CHECK constraints enforced at O(new data) per commit, and
  * metadata-only aggregates from manifest stats. */
class VersionedTablePropsSpec extends SparkSpec {

  private def freshPath = Files.createTempDirectory("graft_vtp").toString + "/t"

  private def rangedNation = tables.nation
    .repartitionByRange(5, col("n_nationkey"))

  // ---------------------------------------------------------------- //
  // column mapping
  // ---------------------------------------------------------------- //

  test("RENAME COLUMN is metadata-only: zero pool churn, old version " +
    "reads the old name, DML afterwards stays file-granular") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    val pool0 = VersionedTable.poolFiles(path)
    VersionedTable.renameColumn(spark, path, "n_name", "nation_name")
    // metadata-only: no new pool files, manifest identical
    assert(VersionedTable.poolFiles(path) == pool0)
    assert(VersionedTable.manifestEntries(path, 1) ==
      VersionedTable.manifestEntries(path, 0))
    // new version reads the new name, same data; old version the old
    val v1 = VersionedTable.read(spark, path)
    assert(v1.columns.contains("nation_name") && !v1.columns.contains("n_name"))
    assert(v1.select("nation_name").orderBy("nation_name").collect().toSeq ==
      VersionedTable.read(spark, path, Some(0))
        .select("n_name").orderBy("n_name").collect().toSeq)
    // DML through the mapping: update on the renamed column rewrites
    // only the touched ranged file
    VersionedTable.update(spark, path, "n_nationkey = 24",
      Seq("nation_name" -> "lower(nation_name)"))
    val shared = VersionedTable.manifestEntries(path, 1).map(_.name).toSet
      .intersect(VersionedTable.manifestEntries(path, 2).map(_.name).toSet)
    assert(shared.size == 4, s"expected 4 re-linked files, got $shared")
    assert(VersionedTable.read(spark, path)
      .filter(col("nation_name") === "nation_24").count() == 1)
  }

  test("stats-pruned reads resolve the renamed column to its stable " +
    "physical stats key") {
    val path = freshPath
    VersionedTable.write(tables.events
      .select("event_id", "value"), path)
    VersionedTable.optimize(spark, path, Seq("value"), numFiles = 4)
    VersionedTable.renameColumn(spark, path, "value", "amount")
    val v = VersionedTable.latestVersion(path).get
    // fileStats under the NEW logical name must surface the stats
    val stats = VersionedTable.fileStats(path, v, "amount")
    assert(stats.nonEmpty && stats.forall(_._2.isDefined))
    val full = VersionedTable.read(spark, path)
      .filter(col("amount") >= 50.0 && col("amount") <= 60.0)
    val pruned = VersionedTable.readWhere(spark, path, "amount", 50.0, 60.0)
    assert(pruned.count() == full.count() && full.count() > 0)
    // and the shortlist is a strict subset of the clustered files
    val keep = stats.collect {
      case (n, Some((mn, mx))) if mx >= 50.0 && mn <= 60.0 => n }
    assert(keep.size < stats.size)
  }

  test("DROP COLUMN is metadata-only and a later ADD COLUMN of the " +
    "same name reads NULL, never the dropped bytes (usedPhys tombstone)") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    val pool0 = VersionedTable.poolFiles(path)
    VersionedTable.dropColumn(spark, path, "n_name")
    assert(VersionedTable.poolFiles(path) == pool0) // zero data churn
    assert(!VersionedTable.read(spark, path).columns.contains("n_name"))
    // re-add the same logical name as a null column: metadata-only
    VersionedTable.addColumn(spark, path, "n_name",
      "cast(null as string)")
    assert(VersionedTable.poolFiles(path) == pool0)
    val back = VersionedTable.read(spark, path)
    assert(back.columns.contains("n_name"))
    // the old files still hold the original n_name bytes, but the
    // fresh physical name means they must read as NULL
    assert(back.filter(col("n_name").isNotNull).count() == 0)
    // pre-drop version unaffected
    assert(VersionedTable.read(spark, path, Some(0))
      .filter(col("n_name").isNotNull).count() == 25)
  }

  test("overwrite WRITE keeps the column mapping and never lets a new " +
    "logical column collide with a renamed column's physical name") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    VersionedTable.renameColumn(spark, path, "n_name", "title")
    // overwrite with BOTH the renamed column and a NEW column that
    // reuses the old logical name (= title's physical name)
    val snap = VersionedTable.read(spark, path)
      .withColumn("n_name", concat(lit("new_"), col("title")))
    VersionedTable.write(snap, path, operation = "OVERWRITE")
    val out = VersionedTable.read(spark, path)
    assert(out.columns.toSet ==
      Set("n_nationkey", "title", "n_regionkey", "n_name"))
    assert(out.filter(col("n_name") === concat(lit("new_"), col("title")))
      .count() == 25)
    // the two logicals live under DISTINCT physicals
    val props = VersionedTable.propsOf(path,
      VersionedTable.latestVersion(path).get)
    assert(props.phys("title") != props.phys("n_name"))
  }

  test("rename/drop refuse a column referenced by a CHECK constraint") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    VersionedTable.addConstraint(spark, path, "key_range",
      "n_nationkey BETWEEN 0 AND 24")
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, path, "n_nationkey", "k")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, path, "n_nationkey")
    }
    VersionedTable.dropConstraint(path, "key_range")
    VersionedTable.renameColumn(spark, path, "n_nationkey", "k")
    assert(VersionedTable.read(spark, path).columns.contains("k"))
  }

  test("importParquet adopts a parquet dir as v0 zero-copy: files " +
    "move byte-identically, stats work, verbs work, re-convert refuses") {
    val path = freshPath
    val src = Files.createTempDirectory("graft_vimp").toString + "/src"
    Maintenance.writeClustered(tables.events
      .select("event_id", "value"), src, Seq("value"), numFiles = 4)
    val srcSizes = Option(new java.io.File(src).listFiles())
      .get.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap
    val before = VersionedTable.footerReads.get()
    VersionedTable.importParquet(spark, src, path)
    // exactly one footer read per adopted file, none at query time
    assert(VersionedTable.footerReads.get() == before + 4)
    // zero-copy: pool names carry the original names, bytes identical
    val sizes = VersionedTable.manifestSizes(path, 0)
    assert(sizes.size == 4)
    sizes.foreach { case (n, b) =>
      val orig = srcSizes.keys.find(n.endsWith).get
      assert(srcSizes(orig) == b, s"$n diverged from $orig")
    }
    // the source dir was consumed
    assert(Option(new java.io.File(src).listFiles()).get
      .count(_.getName.endsWith(".parquet")) == 0)
    // stats captured at convert time: the range read prunes with
    // zero further footer I/O
    val mid = VersionedTable.footerReads.get()
    val pruned = VersionedTable.readWhere(spark, path, "value", 50.0, 60.0)
    val want = tables.events
      .filter(col("value").between(50.0, 60.0)).count()
    assert(pruned.count() == want && want > 0)
    assert(VersionedTable.footerReads.get() == mid)
    assert(VersionedTable.fileStats(path, 0, "value")
      .count(_._2.isDefined) == 4)
    // verbs work from the first commit
    VersionedTable.deleteVectors(spark, path, "value < 10.0")
    assert(VersionedTable.read(spark, path)
      .filter(col("value") < 10.0).count() == 0)
    // a second CONVERT refuses
    intercept[IllegalArgumentException](
      VersionedTable.importParquet(spark, src, path))
  }

  // ---------------------------------------------------------------- //
  // CHECK constraints
  // ---------------------------------------------------------------- //

  test("ADD CONSTRAINT validates existing data; a violating append " +
    "aborts atomically (no version, no pool growth); valid commits " +
    "pass; DROP CONSTRAINT re-opens the gate") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    // a constraint the existing table violates is refused
    intercept[ConstraintViolationException] {
      VersionedTable.addConstraint(spark, path, "impossible",
        "n_nationkey > 1000")
    }
    assert(VersionedTable.latestVersion(path).get == 0)
    VersionedTable.addConstraint(spark, path, "key_range",
      "n_nationkey BETWEEN 0 AND 999")
    val poolBefore = VersionedTable.poolFiles(path)
    val vBefore = VersionedTable.latestVersion(path).get
    val bad = tables.nation.withColumn("n_nationkey",
      col("n_nationkey") + 5000)
    intercept[ConstraintViolationException] {
      VersionedTable.append(spark, bad, path)
    }
    // atomic abort: no new version, staged files removed
    assert(VersionedTable.latestVersion(path).get == vBefore)
    assert(VersionedTable.poolFiles(path) == poolBefore)
    // the rewrite path (UPDATE) is gated too
    intercept[ConstraintViolationException] {
      VersionedTable.update(spark, path, "n_nationkey = 3",
        Seq("n_nationkey" -> "7777"))
    }
    assert(VersionedTable.latestVersion(path).get == vBefore)
    assert(VersionedTable.poolFiles(path) == poolBefore)
    // ... and so is SQL MERGE
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    intercept[ConstraintViolationException] {
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING (SELECT 3 AS k) s
        ON t.n_nationkey = s.k
        WHEN MATCHED THEN UPDATE SET n_nationkey = 7777""")
    }
    assert(VersionedTable.latestVersion(path).get == vBefore)
    assert(VersionedTable.poolFiles(path) == poolBefore)
    // valid commits pass and the constraint rides along versions
    VersionedTable.append(spark, tables.nation
      .withColumn("n_nationkey", col("n_nationkey") + 100), path)
    assert(VersionedTable.constraintsOf(path,
      VersionedTable.latestVersion(path).get).contains("key_range"))
    assert(VersionedTable.read(spark, path).count() == 50)
    // dropping the constraint re-opens the gate
    VersionedTable.dropConstraint(path, "key_range")
    VersionedTable.append(spark, bad, path)
    assert(VersionedTable.read(spark, path).count() == 75)
  }

  test("an empty commit to a CHECK-constrained table passes the gate") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    VersionedTable.addConstraint(spark, path, "key_nonneg",
      "n_nationkey >= 0")
    val v = VersionedTable.append(spark, tables.nation.limit(0), path)
    assert(VersionedTable.latestVersion(path).contains(v))
    assert(VersionedTable.read(spark, path).count() == 25)
  }

  test("RESTORE restores the constraint set of the target version") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)             // v0
    VersionedTable.addConstraint(spark, path, "key_range",
      "n_nationkey < 1000")                              // v1
    VersionedTable.dropConstraint(path, "key_range")     // v2
    VersionedTable.restore(spark, path, toVersion = 1)   // v3
    assert(VersionedTable.constraintsOf(path, 3).contains("key_range"))
    intercept[ConstraintViolationException] {
      VersionedTable.append(spark, tables.nation.withColumn("n_nationkey",
        col("n_nationkey") + 5000), path)
    }
  }

  test("appendEvolve widens the schema as metadata: the whole prior " +
    "manifest re-links, old rows read the new column as null, a " +
    "dropped-name column is tombstone-safe, type changes refuse") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)                    // v0
    VersionedTable.dropColumn(spark, path, "n_regionkey")       // v1
    val m1 = VersionedTable.manifestEntries(path, 1).map(_.name).toSet
    // batch re-introduces the DROPPED name with different content
    val batch = tables.nation.select(
      (col("n_nationkey") + 100).as("n_nationkey"), col("n_name"),
      lit(7L).as("n_regionkey"))
    VersionedTable.appendEvolve(spark, batch, path)             // v2
    val m2 = VersionedTable.manifestEntries(path, 2).map(_.name).toSet
    assert(m1.subsetOf(m2), "append must re-link the whole manifest")
    val out = VersionedTable.read(spark, path)
    assert(out.count() == 50)
    // old rows: NULL (tombstone keeps the dropped bytes buried);
    // batch rows: 7
    assert(out.filter(col("n_nationkey") < 100)
      .filter(col("n_regionkey").isNotNull).count() == 0)
    assert(out.filter(col("n_regionkey") === 7).count() == 25)
    // type conflicts refuse loudly
    intercept[IllegalArgumentException] {
      VersionedTable.appendEvolve(spark, tables.nation
        .withColumn("n_name", col("n_nationkey")), path)
    }
  }

  test("changes() across a RENAME commit: the rename itself diffs " +
    "EMPTY (column mapping), and a later DML diffs under the new name") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)                    // v0
    VersionedTable.renameColumn(spark, path, "n_name", "title") // v1
    assert(VersionedTable.changes(spark, path, 0, 1).count() == 0)
    VersionedTable.update(spark, path, "n_nationkey = 3",
      Seq("title" -> "'patched'"))                              // v2
    val feed = VersionedTable.changes(spark, path, 0, 2)
    assert(feed.columns.contains("title"))
    assert(feed.filter(col("_change_type") === "insert" &&
      col("title") === "patched").count() == 1)
    assert(feed.count() == 2) // delete(old) + insert(new)
  }

  test("TBLPROPERTIES: set/overwrite/unset are metadata-only, ride " +
    "commits, clone with the table, and restore with RESTORE") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)                   // v0
    val pool0 = VersionedTable.poolFiles(path)
    VersionedTable.setTableProperties(path,
      Map("quality" -> "bronze", "owner" -> "graft"))          // v1
    assert(VersionedTable.poolFiles(path) == pool0)
    VersionedTable.setTableProperties(path,
      Map("quality" -> "silver"))                              // v2
    assert(VersionedTable.tableProperties(path, 2) ==
      Map("quality" -> "silver", "owner" -> "graft"))
    // properties ride data commits unchanged
    VersionedTable.append(spark, tables.nation, path)          // v3
    assert(VersionedTable.tableProperties(path, 3)("quality") == "silver")
    VersionedTable.unsetTableProperty(path, "owner")           // v4
    assert(VersionedTable.tableProperties(path, 4) ==
      Map("quality" -> "silver"))
    intercept[IllegalArgumentException](
      VersionedTable.unsetTableProperty(path, "nope"))
    // restore brings the target's property world back
    VersionedTable.restore(spark, path, toVersion = 1)         // v5
    assert(VersionedTable.tableProperties(path, 5) ==
      Map("quality" -> "bronze", "owner" -> "graft"))
    // clones carry the log verbatim, properties included
    val dst = freshPath
    VersionedTable.shallowClone(path, dst)
    assert(VersionedTable.tableProperties(dst,
      VersionedTable.latestVersion(dst).get) ==
      Map("quality" -> "bronze", "owner" -> "graft"))
  }

  // ---------------------------------------------------------------- //
  // metadata-only aggregates
  // ---------------------------------------------------------------- //

  test("statsAggMeta answers count/min/max from the manifest with ZERO " +
    "footer reads; a DV delete flips it to None and statsAgg scans " +
    "only the dirty files") {
    val path = freshPath
    VersionedTable.write(tables.events
      .select("event_id", "value"), path)
    VersionedTable.optimize(spark, path, Seq("value"), numFiles = 4)
    val expected = tables.events.agg(
      count(lit(1)), min(col("value")), max(col("value"))).collect()(0)
    val before = VersionedTable.footerReads.get()
    val meta = VersionedTable.statsAggMeta(path, "value")
    assert(VersionedTable.footerReads.get() == before,
      "metadata aggregate must not open footers")
    assert(meta.contains((expected.getLong(0),
      expected.getDouble(1), expected.getDouble(2))))
    // hybrid path after a scattered DV delete
    VersionedTable.deleteVectors(spark, path, "value < 10.0")
    assert(VersionedTable.statsAggMeta(path, "value").isEmpty)
    val want = tables.events.filter(!(col("value") < 10.0)).agg(
      count(lit(1)), min(col("value")), max(col("value"))).collect()(0)
    val (c, mn, mx) = VersionedTable.statsAgg(spark, path, "value")
    assert((c, mn, mx) ==
      ((want.getLong(0), want.getDouble(1), want.getDouble(2))))
    // the clustered layout keeps the delete local: clean files still
    // answer from metadata (only dirty files lack the fast path)
    val v = VersionedTable.latestVersion(path).get
    val dirty = VersionedTable.manifestEntries(path, v)
      .count(_.dv.isDefined)
    assert(dirty < VersionedTable.manifestEntries(path, v).size,
      "value-clustered delete should leave clean files")
  }

  test("readWhereMulti prunes conjunctively by manifest stats on a " +
    "Z-ordered layout with zero footer reads — and 2-D pruning beats " +
    "the 1-D shortlist") {
    val path = freshPath
    VersionedTable.write(tables.events
      .select("event_id", "user_id", "value"), path)
    VersionedTable.optimizeZOrder(spark, path, "user_id", "value",
      numFiles = 16)
    val v = VersionedTable.latestVersion(path).get
    val nFiles = VersionedTable.manifestEntries(path, v).size
    // sf0.001 user_id spans 0..14 — the box covers ~1/3 of each axis
    val ranges = Seq(("user_id", 3.0, 8.0), ("value", 50.0, 120.0))
    val before = VersionedTable.footerReads.get()
    def shortlist(rs: Seq[(String, Double, Double)]) =
      VersionedTable.pruneEntriesForFilters(spark, path, v,
        rs.flatMap { case (c, lo, hi) =>
          Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
        }).map(_.name)
    val keep2d = shortlist(ranges)
    val keepValueOnly = shortlist(ranges.tail)
    assert(VersionedTable.footerReads.get() == before)
    // the Z layout makes the conjunction prune harder than either
    // single range; both prune something
    assert(keep2d.size < keepValueOnly.size,
      s"2-D shortlist ${keep2d.size} !< value-only ${keepValueOnly.size}")
    assert(keepValueOnly.size < nFiles)
    // content equality against the full-scan conjunction
    val full = VersionedTable.read(spark, path)
      .filter(col("user_id").between(3, 8) &&
        col("value").between(50.0, 120.0))
    val pruned = VersionedTable.readWhereMulti(spark, path, ranges)
    assert(pruned.count() == full.count() && full.count() > 0)
  }

  test("metadata commits conflict with concurrent commits (Delta " +
    "MetadataChanged shape): a data commit planned before a rename " +
    "cannot land after it") {
    val path = freshPath
    VersionedTable.write(rangedNation, path)
    val v0 = VersionedTable.latestVersion(path).get
    VersionedTable.renameColumn(spark, path, "n_name", "nm")
    intercept[ConcurrentCommitException] {
      VersionedTable.commitActions(VersionedTable.snapshot(path, Some(v0)),
        "APPEND", Set.empty, Nil, VersionedTable.schemaOf(path, v0))
    }
  }
}
