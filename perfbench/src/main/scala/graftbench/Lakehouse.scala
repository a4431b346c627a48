package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.VersionedTable

/** `lakehouse_cdc`: a lineitem-shaped graft table with a surrogate key
  * and a bloom index, driven by rounds of SQL `MERGE INTO` (seeded CDC
  * batches), keyed lookups through `spark.read.format("graft")` and the
  * gold revenue-by-nation-by-month join-aggregate. */
final class Lakehouse(ctx: Ctx) extends Workload {
  import Lakehouse._
  import ctx.{spark, tracer}

  val name = "lakehouse_cdc"
  val opSeries = "round"
  /** Round times fall steeply over the first rounds (JIT, and the
    * table's file layout settling): the warm-up runs one whole
    * compaction cycle, so measured rounds start on a cycle boundary. */
  override val warmupOps = WarmupRounds

  private val gen = ctx.path("gen")
  private val cdcDir = ctx.path("cdc")
  private def tbl(rep: Int, t: String) = ctx.path(s"tables$rep/$t")
  private var rep = 0
  private def li = tbl(rep, "lineitem")

  // generator state: rids are dense; inserts take the next ones
  private var nextRid = BaseRows.toLong
  private val deleted = mutable.BitSet()
  private var round = 0
  private var stagedBytes = 0L
  private var tableBytesAtStart = 0L
  /** round → table version its MERGE committed */
  private val versionAfter = mutable.LinkedHashMap[Int, Int]()
  private var lastGold: Seq[String] = Nil
  /** (lookup operation index, round, keys, rows returned) */
  private val lookups = mutable.ArrayBuffer[(Int, Int, Seq[Long], Array[Row])]()
  private var inputHash = ""

  private def h(k: Int) = xxhash64(lit(ctx.seed), col("id"), lit(k))
  private def u(k: Int, m: Long) = pmod(h(k), lit(m))
  private def day(c: Column) =
    date_add(lit(java.sql.Date.valueOf("1992-01-01")), c.cast("int"))

  def generate(): Unit = {
    val lineitem = spark.range(0, BaseRows, 1, BaseFiles).select(
      col("id").as("rid"),
      (u(1, Orders) + 1).as("l_orderkey"),
      (u(2, 20000) + 1).as("l_partkey"),
      (u(3, 1000) + 1).as("l_suppkey"),
      (u(4, 7) + 1).cast("int").as("l_linenumber"),
      (u(5, 50) + 1).cast("double").as("l_quantity"),
      (u(6, 10000000) / 100.0).as("l_extendedprice"),
      (u(7, 11) / 100.0).as("l_discount"),
      (u(8, 9) / 100.0).as("l_tax"),
      element_at(array(Flags.map(lit): _*), (u(9, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(Status.map(lit): _*), (u(10, 2) + 1).cast("int"))
        .as("l_linestatus"),
      day(u(11, 2500)).as("l_shipdate"))
    val orders = spark.range(1, Orders + 1, 1, 4).select(
      col("id").as("o_orderkey"),
      (u(21, Customers) + 1).as("o_custkey"),
      (u(22, 50000000) / 100.0).as("o_totalprice"),
      day(u(23, 2400)).as("o_orderdate"))
    val customer = spark.range(1, Customers + 1, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      u(31, Nations).cast("int").as("c_nationkey"))
    val nation = spark.range(0, Nations, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      format_string("NATION_%02d", col("id")).as("n_name"))
    Seq("lineitem" -> lineitem, "orders" -> orders,
      "customer" -> customer, "nation" -> nation).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$gen/$t")
    }
    if (tracer.traced) inputHash = Seq("lineitem", "orders", "customer", "nation").map { t =>
      val df = spark.read.parquet(s"$gen/$t")
      RowHash.of(df, df.columns.toSeq)
    }.mkString("/")
  }

  def inputSummary: String =
    s"lineitem=$BaseRows rows in $BaseFiles files, orders=$Orders, " +
      s"customer=$Customers, nation=$Nations; per round $UpdRecent " +
      s"recent updates + $UpdLate late corrections + $Inserts inserts + " +
      s"$Deletes deletes, $LookupBatches lookup batches of $LookupKeys " +
      s"keys, compaction every $CompactEvery rounds" +
      (if (inputHash.isEmpty) "" else s"; input hash $inputHash")

  def load(r: Int): Unit = {
    rep = r
    spark.read.parquet(s"$gen/lineitem").repartitionByRange(BaseFiles, col("rid"))
      .createOrReplaceTempView("lineitem_src")
    spark.sql(s"""CREATE TABLE graft.`${tbl(r, "lineitem")}`
      TBLPROPERTIES ('${VersionedTable.bloomColumnsProp}' = 'rid')
      AS SELECT * FROM lineitem_src""")
    Seq("orders", "customer", "nation").foreach { t =>
      spark.sql(s"CREATE TABLE graft.`${tbl(r, t)}` AS " +
        s"SELECT * FROM parquet.`$gen/$t`")
    }
  }

  /** Drop the tables of earlier set-up repetitions. */
  def keepLastLoad(): Unit = {
    (0 until rep).foreach(r => ctx.delete(s"tables$r"))
    tableBytesAtStart = ctx.dirBytes(li)
  }

  private def rng(stream: Long) =
    new java.util.SplittableRandom(ctx.seed * 1000003L + stream)

  /** The round's CDC batch: updates and deletes of recent keys, a few
    * late corrections to old keys, and inserts; keys distinct. */
  private def cdcBatch(r: Int): Seq[Row] = {
    val g = rng(r)
    val used = mutable.HashSet[Long]()
    def pick(n: Int, lo: Long, hi: Long): Seq[Long] = {
      val out = mutable.ArrayBuffer[Long]()
      var guard = 0
      while (out.size < n && guard < n * 50) {
        val k = lo + g.nextLong(math.max(1L, hi - lo))
        if (!deleted.contains(k.toInt) && used.add(k)) out += k
        guard += 1
      }
      out.toSeq
    }
    def row(k: Long, op: String) = Row(k,
      1L + g.nextLong(Orders), 1L + g.nextLong(20000), 1L + g.nextLong(1000),
      1 + g.nextInt(7), (1 + g.nextInt(50)).toDouble,
      g.nextLong(10000000) / 100.0, g.nextInt(11) / 100.0,
      g.nextInt(9) / 100.0, Flags(g.nextInt(3)), Status(g.nextInt(2)),
      java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
        .plusDays(g.nextInt(2500))), r, op)
    val recent = pick(UpdRecent, math.max(0L, nextRid - RecentWindow), nextRid)
      .map(row(_, "U"))
    val late = pick(UpdLate, 0L, BaseRows / 2).map(row(_, "U"))
    val dels = pick(Deletes, math.max(0L, nextRid - RecentWindow), nextRid).map(row(_, "D"))
    val ins = (nextRid until nextRid + Inserts).map(row(_, "I"))
    dels.foreach(r => deleted += r.getLong(0).toInt)
    nextRid += Inserts
    recent ++ late ++ dels ++ ins
  }

  private val mergeSql = {
    val sets = DataCols.map(c => s"t.$c = s.$c").mkString(", ")
    val cols = ("rid" +: DataCols).mkString(", ")
    val vals = ("rid" +: DataCols).map("s." + _).mkString(", ")
    (path: String, src: String) => s"""
      MERGE INTO graft.`$path` t USING parquet.`$src` s ON t.rid = s.rid
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET $sets
      WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ($cols) VALUES ($vals)"""
  }

  private def goldSql(li: String, orders: String, customer: String,
                      nation: String) = s"""
    SELECT n.n_name, trunc(o.o_orderdate, 'MM') AS month,
      cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4)))
        AS decimal(24,4)) AS revenue,
      count(*) AS n_lines
    FROM $li l JOIN $orders o ON l.l_orderkey = o.o_orderkey
    JOIN $customer c ON o.o_custkey = c.c_custkey
    JOIN $nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, trunc(o.o_orderdate, 'MM')"""

  private def graftGold =
    goldSql(s"graft.`$li`", s"graft.`${tbl(rep, "orders")}`",
      s"graft.`${tbl(rep, "customer")}`", s"graft.`${tbl(rep, "nation")}`")

  private def lookupKeys(r: Int, b: Int): Seq[Long] = {
    val g = rng(1000000L + r * 16L + b)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < LookupKeys) {
      val k = g.nextInt(4) match {
        case 0 | 1 => math.max(0L, nextRid - RecentWindow) +
          g.nextLong(math.min(nextRid, RecentWindow.toLong))
        case 2 => g.nextLong(BaseRows)
        case _ => g.nextLong(nextRid + 1000)  // some never exist
      }
      keys += k
    }
    keys.toSeq
  }

  def step(): Unit = {
    val r = round
    round += 1
    val staged = s"$cdcDir/r=$r"
    spark.createDataFrame(java.util.Arrays.asList(cdcBatch(r): _*), CdcSchema)
      .coalesce(1).write.mode("overwrite").parquet(staged)
    stagedBytes += ctx.dirBytes(staged)

    val before = VersionedTable.latestVersion(li).get
    val merge = ctx.timed("merge") {
      tracer.span("plans.merge")(spark.sql(mergeSql(li, staged)).collect())
      versionAfter(r) = VersionedTable.latestVersion(li).get
      if (r % CompactEvery == CompactEvery - 1)
        tracer.span("VersionedTable.compact") {
          val v0 = VersionedTable.latestVersion(li).get
          val v1 = VersionedTable.optimizeIncremental(spark, li, Seq("rid"),
            minFileBytes = CompactBelowBytes, numFiles = 1)
          if (tracer.traced) tracer.note("bytes_rewritten",
            addedBytes(v0, v1).toDouble)
        }
    }
    if (tracer.traced && merge.nonEmpty) {
      val v = versionAfter(r)
      val b = VersionedTable.manifestEntries(li, before).map(_.name).toSet
      val a = VersionedTable.manifestEntries(li, v)
      tracer.record("plans.merge.files_rewritten", b.count(n => !a.exists(_.name == n)).toDouble)
      tracer.record("plans.merge.bytes_written", addedBytes(before, v).toDouble)
    }

    val roundLookups = (0 until LookupBatches).flatMap { b =>
      val keys = lookupKeys(r, b)
      val idx = ctx.attempted.toInt
      var rows: Array[Row] = Array.empty
      ctx.timed("lookup") {
        rows = tracer.span("sources.lookup") {
          val got = spark.read.format("graft").load(li)
            .filter(col("rid").isin(keys: _*)).collect()
          tracer.note("rows_returned", got.length.toDouble)
          got
        }
      }.map { s =>
        lookups += ((idx, r, keys, rows))
        if (tracer.traced) {
          import org.apache.spark.sql.sources.In
          val v = VersionedTable.latestVersion(li).get
          val admitted = VersionedTable.pruneEntriesForFilters(spark, li, v,
            Seq(In("rid", keys.toArray[Any]))).size
          tracer.record("sources.lookup.files_admitted_frac",
            admitted.toDouble / math.max(1, VersionedTable.manifestEntries(li, v).size))
        }
        s
      }
    }
    val gold = ctx.timed("gold") {
      lastGold = tracer.span("sources.gold")(withoutDpp(spark.sql(graftGold).collect()))
        .map(_.toString).sorted.toSeq
    }
    if (merge.nonEmpty && gold.nonEmpty && roundLookups.size == LookupBatches)
      ctx.add("round", merge.get + roundLookups.sum + gold.get)
  }

  /** Dynamic partition pruning is off for the gold join: the graft
    * scan's `filterAttributes` names every table column, and Spark
    * fails to resolve the ones column pruning dropped
    * (`Unable to resolve rid given [l_orderkey, ...]`). */
  private def withoutDpp[T](body: => T): T = {
    val k = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    spark.conf.set(k, "false")
    try body finally spark.conf.unset(k)
  }

  private def addedBytes(v0: Int, v1: Int): Long = {
    val old = VersionedTable.manifestEntries(li, v0).map(_.name).toSet
    VersionedTable.manifestEntries(li, v1).filterNot(e => old(e.name))
      .map(_.bytes).sum
  }

  /** The plain-Spark replay's input: the generated parquet (seq -1)
    * and every staged CDC batch (seq = its round). */
  private lazy val records: DataFrame = {
    val base = spark.read.parquet(s"$gen/lineitem")
      .withColumn("seq", lit(-1)).withColumn("op", lit("I"))
    if (round == 0) base
    else base.unionByName(spark.read.parquet(
      (0 until round).map(r => s"$cdcDir/r=$r"): _*))
  }
  /** Each key's newest record up to round `upTo` (deletes included). */
  private def newest(recs: DataFrame, upTo: Column, by: Seq[String]): DataFrame =
    recs.filter(col("seq") <= upTo)
      .withColumn("rk", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(col("seq").desc)))
      .filter(col("rk") === 1)

  def check(): Unit = {
    if (round == 0) return
    records.cache()
    val allCols = "rid" +: DataCols
    // every lookup result equals the replay at its round
    val lk = spark.createDataFrame(java.util.Arrays.asList(lookups.toSeq.flatMap {
      case (i, r, keys, _) => keys.map(k => Row(i, r, k))
    }: _*), StructType(Seq(StructField("op_idx", IntegerType),
      StructField("op_round", IntegerType), StructField("rid", LongType))))
    val expected = newest(lk.join(records, "rid"), col("op_round"), Seq("op_idx", "rid"))
      .filter(col("op") =!= "D").select(("op_idx" +: allCols).map(col): _*)
    val got = spark.createDataFrame(java.util.Arrays.asList(lookups.toSeq.flatMap {
      case (i, _, _, rows) => rows.map(x =>
        Row.fromSeq(i +: allCols.map(c => x.get(x.fieldIndex(c)))))
    }: _*), StructType(StructField("op_idx", IntegerType) +:
      CdcSchema.fields.filter(f => allCols.contains(f.name))))
    val exp = RowHash.byKey(expected, "op_idx", allCols)
    val act = RowHash.byKey(got, "op_idx", allCols)
    lookups.map(_._1).foreach { i =>
      if (exp.get(i) != act.get(i)) ctx.fail(s"lookup op $i: got ${act.get(i)}, expected ${exp.get(i)}")
    }
    // the replay at every round the remaining checks need, in one pass
    val g = rng(-1L)
    val merged = versionAfter.keys.toIndexedSeq
    val sample = if (merged.isEmpty) Nil else Seq(merged(g.nextInt(merged.size)))
    val last = round - 1
    import spark.implicits._
    val at = (sample :+ last).distinct.toDF("at")
    val touched = newest(records.filter(col("seq") >= 0).crossJoin(at),
      col("at"), Seq("at", "rid"))
    val states = records.filter(col("seq") < 0).crossJoin(at)
      .join(touched.select("at", "rid"), Seq("at", "rid"), "left_anti")
      .unionByName(touched.filter(col("op") =!= "D").drop("rk"))
      .select(("at" +: allCols).map(col): _*).cache()
    val want = RowHash.byKey(states, "at", allCols)
    // a seeded VERSION AS OF read equals the replay at that round
    sample.foreach { r =>
      var h = ""
      ctx.timed("time_travel") {
        h = tracer.span("sources.time_travel")(RowHash.of(
          spark.sql(s"SELECT * FROM graft.`$li` VERSION AS OF ${versionAfter(r)}"),
          allCols))
      }
      if (h.nonEmpty && h != want(r))
        ctx.fail(s"VERSION AS OF ${versionAfter(r)} (round $r): $h != ${want(r)}")
    }
    // the final snapshot, and the last gold aggregate over it
    ctx.attempted += 1
    val snap = RowHash.of(spark.read.format("graft").load(li), allCols)
    if (snap != want(last)) ctx.fail(s"final snapshot $snap != replay ${want(last)}")
    states.filter(col("at") === last).drop("at").createOrReplaceTempView("replay_li")
    Seq("orders", "customer", "nation").foreach(t =>
      spark.read.parquet(s"$gen/$t").createOrReplaceTempView(s"replay_$t"))
    val wantGold = spark.sql(goldSql("replay_li", "replay_orders",
      "replay_customer", "replay_nation")).collect().map(_.toString).sorted.toSeq
    if (lastGold.nonEmpty && lastGold != wantGold)
      ctx.fail(s"gold aggregate differs from the replay (${lastGold.size} vs ${wantGold.size} groups)")
    states.unpersist()
    records.unpersist()
  }

  def metrics(): Seq[Metric] = {
    val s = ctx.series
    def tail(n: String) = {
      val (v, p, k) = Stats.tail(s.get(n))
      Metric(s"${n}_tail_s", v, "s", s"p$p of $k samples")
    }
    val liveBytes = VersionedTable.manifestSizes(li,
      VersionedTable.latestVersion(li).get).map(_._2).sum
    val tableBytes = ctx.dirBytes(li)
    Seq(
      Metric("merge_p50_s", Stats.median(s.get("merge")), "s"),
      tail("merge"),
      Metric("lookup_p50_s", Stats.median(s.get("lookup")), "s"),
      tail("lookup"),
      Metric("gold_p50_s", Stats.median(s.get("gold")), "s"),
      Metric("write_amp", (tableBytes - tableBytesAtStart).toDouble /
        math.max(1L, stagedBytes), "ratio",
        s"${tableBytes - tableBytesAtStart} B added / $stagedBytes B staged CDC"),
      Metric("space_amp", tableBytes.toDouble / math.max(1L, liveBytes), "ratio",
        s"$tableBytes B on disk / $liveBytes B live"))
  }

  override def layerCounters(): Unit = {
    val v = VersionedTable.latestVersion(li).get
    tracer.record("VersionedTable.snapshot_files",
      VersionedTable.manifestEntries(li, v).size.toDouble)
    tracer.record("VersionedTable.log_entries",
      VersionedTable.versions(li).size.toDouble)
  }
}

object Lakehouse {
  val BaseRows = 200000
  val BaseFiles = 16
  val Orders = 50000L
  val Customers = 5000L
  val Nations = 25L
  val UpdRecent = 1000
  val UpdLate = 2
  val Inserts = 1000
  val Deletes = 100
  val RecentWindow = 10000
  val LookupBatches = 1
  val LookupKeys = 64
  val CompactEvery = 3
  val WarmupRounds = CompactEvery
  val CompactBelowBytes: Long = 256L << 10
  val Flags = Seq("A", "N", "R")
  val Status = Seq("F", "O")
  val DataCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  val CdcSchema = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("seq", IntegerType),
    StructField("op", StringType)))
}
