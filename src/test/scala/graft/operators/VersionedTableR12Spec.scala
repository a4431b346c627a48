package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}
import java.nio.file.{Files, Paths}

/** Round-12 VersionedTable hardening: string zone maps (truncation-safe
  * min/max for string keys), composite-key bloom MERGE pruning, typed
  * partition-value compare in bloom point lookups, bloom-property
  * maintenance across RENAME/DROP COLUMN, per-size-class bloom sidecar
  * sizing, and export materialization of dropped/evolved histories. */
class VersionedTableR12Spec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_r12").toString

  // ------------------------------------------------------------ //
  // string zone maps
  // ------------------------------------------------------------ //

  test("truncBounds: safe lower/upper bounds under truncation") {
    // short strings pass through exact
    assert(VersionedTable.truncBounds("abc", "xyz") == Some(("abc", "xyz")))
    // long max: prefix with last kept char incremented — strictly
    // above EVERY string sharing the 32-char prefix
    val mn = "a" * 40
    val mx = "b" * 40
    val Some((lo, hi)) = VersionedTable.truncBounds(mn, mx)
    assert(lo == "a" * 32 && lo <= mn)
    assert(hi == "b" * 31 + "c" && hi > mx)
    // un-incrementable max (all U+FFFF): no safe bound exists
    assert(VersionedTable.truncBounds("a", "￿" * 40).isEmpty)
  }

  test("string zone maps land in the manifest; a range-clustered " +
    "layout prunes files and readWhereStr equals the full-scan filter") {
    val dir = fresh
    val path = s"$dir/t"
    val df = spark.range(4000).select(
      format_string("k%04d", col("id")).as("s"), col("id").as("v"))
    VersionedTable.write(df.repartitionByRange(8, col("s")), path)
    val v = VersionedTable.latestVersion(path).get
    val entries = VersionedTable.manifestEntries(path, v)
    assert(entries.size == 8)
    assert(entries.forall(_.sstats.contains("s")),
      "every file should carry string min/max for s")
    val pruned = VersionedTable.pruneEntriesForFilters(spark, path, v,
      Seq(GreaterThanOrEqual("s", "k1000"), LessThanOrEqual("s", "k1499")))
    assert(pruned.size < entries.size,
      s"expected pruning, got ${pruned.size} of ${entries.size}")
    val got = VersionedTable.readWhereStr(spark, path, "s",
      "k1000", "k1499")
    assert(got.count() == 500)
    assert(got.agg(min("s"), max("s")).head.toSeq ==
      Seq("k1000", "k1499"))
  }

  test("string stats survive the log round-trip and non-ASCII values " +
    "record no stat (unprunable, never wrong)") {
    val dir = fresh
    val path = s"$dir/t"
    import spark.implicits._
    VersionedTable.write(
      Seq(("héllo", 1L), ("wörld", 2L)).toDF("s", "v"), path)
    val e = VersionedTable.manifestEntries(path, 0)
    assert(e.forall(!_.sstats.contains("s")),
      "non-ASCII bounds must not be recorded")
    // and an ASCII table round-trips through JSON exactly
    VersionedTable.append(spark, Seq(("abc", 3L)).toDF("s", "v"), path)
    val e1 = VersionedTable.manifestEntries(path, 1)
    assert(e1.exists(_.sstats.get("s").contains(("abc", "abc"))))
  }

  test("DECIMAL columns record SCALED stats: a pushed equality on a " +
    "decimal(12,2) key prunes to the right file and loses no rows") {
    val dir = fresh
    val path = s"$dir/t"
    // parquet stores decimal(12,2) as unscaled INT64 — recording the
    // raw footer min/max (12345 for 123.45) would make every scaled
    // filter literal fall outside the range and prune EVERY file
    val df = spark.range(1000).select(
      (col("id") * 25).cast("decimal(12,2)").as("amt"),
      col("id").as("v"))
    VersionedTable.write(df.repartitionByRange(4, col("amt")), path)
    val v = VersionedTable.latestVersion(path).get
    val entries = VersionedTable.manifestEntries(path, v)
    assert(entries.forall(_.stats.contains("amt")),
      "decimal column must carry stats")
    val lo = entries.flatMap(_.stats.get("amt")).map(_._1).min
    assert(lo == 0.0 && entries.flatMap(_.stats.get("amt")).map(_._2).max
      == 999 * 25.0, "stats must be SCALED values")
    import org.apache.spark.sql.sources.EqualTo
    val pruned = VersionedTable.pruneEntriesForFilters(spark, path, v,
      Seq(EqualTo("amt", new java.math.BigDecimal("12475.00"))))
    assert(pruned.size < entries.size && pruned.nonEmpty,
      s"expected a strict non-empty subset, got ${pruned.size}")
    val got = spark.read.format("graft").load(path)
      .filter(col("amt") === new java.math.BigDecimal("12475.00"))
    assert(got.count() == 1 && got.head.getAs[Long]("v") == 499L)
  }

  // ------------------------------------------------------------ //
  // composite-key bloom MERGE
  // ------------------------------------------------------------ //

  test("composite-key bloom pruning: per-column admitted sets " +
    "intersect, the 2-key MERGE touches few files and stays exact") {
    val dir = fresh
    val path = s"$dir/t"
    val df = spark.range(4096).select(col("id").as("k1"),
      (col("id") * 31 % 4096).as("k2"), (col("id") % 97).as("v"))
      .repartition(8)
    VersionedTable.write(df, path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k1,k2"))
    VersionedTable.buildBloomIndex(spark, path)
    val v = VersionedTable.latestVersion(path).get
    assert(VersionedTable.manifestEntries(path, v)
      .forall(e => e.bloom.contains("k1") && e.bloom.contains("k2")))
    val updates = spark.range(2).select((col("id") * 2000 + 11).as("k1"),
      ((col("id") * 2000 + 11) * 31 % 4096).as("k2"), lit(-5L).as("v"))
    val cands = VersionedTable.bloomTouchCandidates(spark,
      VersionedTable.snapshot(path, Some(v)),
      updates.select("k1", "k2").distinct(), Seq("k1", "k2"))
    assert(cands.isDefined, "a 2-key batch must still prune")
    assert(cands.get.size <= 4,
      s"expected <=4 of 8 admitted, got ${cands.get.size}")
    VersionedTable.upsert(spark, path, updates, Seq("k1", "k2"))
    val out = VersionedTable.read(spark, path)
    assert(out.count() == 4096)
    assert(out.filter(col("v") === -5L).count() == 2)
    // untouched files re-link
    val shared = VersionedTable.manifestEntries(path, v).map(_.name).toSet
      .intersect(VersionedTable.manifestEntries(path, v + 1).map(_.name).toSet)
    assert(shared.size >= 8 - cands.get.size)
  }

  // ------------------------------------------------------------ //
  // typed partition-value compare in bloom point lookups
  // ------------------------------------------------------------ //

  test("readIn on a DOUBLE partition column with an Int literal does " +
    "not prune wrongly (typed render: 7 -> \"7.0\")") {
    val dir = fresh
    val path = s"$dir/t"
    val df = spark.range(400).select(
      (col("id") % 4).cast("double").as("bucket"), col("id").as("v"))
    VersionedTable.write(df, path, partitionBy = Seq("bucket"))
    val v = VersionedTable.latestVersion(path).get
    assert(VersionedTable.manifestEntries(path, v)
      .forall(_.part.contains("bucket")))
    // Int literal against double partitions: the untyped compare
    // ("3" vs "3.0") would admit zero files and silently drop rows
    val got = VersionedTable.readIn(spark, path, "bucket", Seq(3))
    assert(got.count() == 100)
    // matching partitions still prune: a single bucket admits 1 of 4
    val pruned = VersionedTable.pruneEntriesForFilters(spark, path, v,
      Seq(In("bucket", Array(3))))
    val all = VersionedTable.manifestEntries(path, v)
    assert(pruned.size < all.size)
  }

  // ------------------------------------------------------------ //
  // bloom property maintenance on RENAME / DROP COLUMN
  // ------------------------------------------------------------ //

  test("RENAME COLUMN follows graft.bloom.columns; the write path " +
    "keeps indexing and point lookups keep pruning under the new name") {
    val dir = fresh
    val path = s"$dir/t"
    val df = spark.range(2048).select(col("id").as("k"),
      (col("id") % 7).as("v")).repartition(4)
    VersionedTable.write(df, path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
    VersionedTable.renameColumn(spark, path, "k", "key")
    val v1 = VersionedTable.latestVersion(path).get
    assert(VersionedTable.tableProperties(path, v1)
      .get(VersionedTable.bloomColumnsProp).contains("key"))
    // new files written AFTER the rename still get sidecars
    VersionedTable.append(spark, spark.range(2048, 2100)
      .select(col("id").as("key"), (col("id") % 7).as("v")), path)
    val v2 = VersionedTable.latestVersion(path).get
    assert(VersionedTable.manifestEntries(path, v2)
      .forall(_.bloom.nonEmpty), "post-rename appends must be indexed")
    assert(VersionedTable.readEqual(spark, path, "key", 2050L)
      .count() == 1)
    // DROP COLUMN removes the entry (emptied list unsets the property)
    VersionedTable.dropColumn(spark, path, "key")
    val v3 = VersionedTable.latestVersion(path).get
    assert(!VersionedTable.tableProperties(path, v3)
      .contains(VersionedTable.bloomColumnsProp))
  }

  // ------------------------------------------------------------ //
  // per-size-class bloom sidecar sizing
  // ------------------------------------------------------------ //

  test("a commit mixing one big and many small files sizes each " +
    "file's sidecar from ITS row class, not the commit max") {
    val dir = fresh
    val path = s"$dir/t"
    // partitioned write: bucket 0 gets 60000 rows, buckets 1-8 get 20
    val df = spark.range(60160).select(
      when(col("id") < 60000, 0L).otherwise((col("id") % 8) + 1)
        .as("b"), col("id").as("k"), (col("id") % 13).as("v"))
    VersionedTable.write(df, path, partitionBy = Seq("b"))
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
    val v = VersionedTable.latestVersion(path).get
    val entries = VersionedTable.manifestEntries(path, v)
    def sidecarBytes(e: VersionedTable.FileEntry): Long =
      Files.size(Paths.get(path, "_graft_pool", e.bloom("k")))
    val big = entries.maxBy(_.phys)
    val small = entries.minBy(_.phys)
    assert(big.phys > 1000 && small.phys < 100)
    assert(sidecarBytes(small) * 8 < sidecarBytes(big),
      s"small-file sidecar ${sidecarBytes(small)}B should be far " +
        s"below the big file's ${sidecarBytes(big)}B")
    // and the index still answers exactly
    assert(VersionedTable.readEqual(spark, path, "k", 60100L).count() == 1)
  }

  // ------------------------------------------------------------ //
  // export materialization of dropped / evolved histories
  // ------------------------------------------------------------ //

  test("export after DROP COLUMN materializes pre-drop files: the " +
    "external reader never sees the dropped column's bytes") {
    val dir = fresh
    val (path, out) = (s"$dir/t", s"$dir/exp")
    VersionedTable.write(tables.nation.repartition(3), path)
    VersionedTable.dropColumn(spark, path, "n_regionkey")
    val paths = VersionedTable.exportManifest(spark, path, out)
    assert(paths.forall(_.contains("materialized")),
      "pre-drop files would resurrect the dropped column if linked")
    val ext = spark.read.parquet(paths: _*)
    assert(!ext.columns.contains("n_regionkey"))
    assert(ext.count() == 25)
  }

  test("export after ADD COLUMN materializes pre-evolution files and " +
    "links post-evolution ones; the external read has one schema") {
    val dir = fresh
    val (path, out) = (s"$dir/t", s"$dir/exp")
    VersionedTable.write(tables.nation.repartition(2)
      .select("n_nationkey", "n_name"), path)
    VersionedTable.addColumn(spark, path, "flag", "CAST(NULL AS BIGINT)")
    VersionedTable.append(spark, spark.range(1).select(
      lit(99).cast("int").as("n_nationkey"), lit("XX").as("n_name"),
      lit(7L).as("flag")), path)
    val paths = VersionedTable.exportManifest(spark, path, out)
    val (links, mats) = paths.partition(_.contains("_graft_pool"))
    assert(mats.nonEmpty, "pre-evolution files must materialize")
    assert(links.nonEmpty, "the post-evolution append must link")
    val ext = spark.read.option("mergeSchema", "false")
      .parquet(paths: _*)
    assert(ext.count() == 26)
    assert(ext.filter(col("flag") === 7L).count() == 1)
  }
}
