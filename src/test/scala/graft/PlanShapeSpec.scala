package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Plan-SHAPE regression tests: the properties the 100 TB design
  * depends on — filters/columns reaching the scan, dims broadcasting,
  * partial aggregation before exchanges, top-k pruning before the
  * window exchange, the absence of scale-killer sorts — asserted on
  * the executed plan, so a refactor that silently degrades a plan
  * fails CI rather than a cluster.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet ingest pushes the filter and prunes to the projected columns") {
    val p = plan(graft.sources.Ingest.parquetPruned(spark,
      s"$sfDir/lineitem.parquet",
      Seq("l_orderkey", "l_extendedprice", "l_shipdate"),
      "l_shipdate >= timestamp'2000-01-01 00:00:00'"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed to scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_shipdate:timestamp"),
      s"scan reads more than the projection:\n$p")
  }

  test("gold region sales broadcasts every dimension and pre-aggregates") {
    val p = plan(Gold.regionSales(tables.lineitem, tables.orders,
      tables.customer, tables.nation, tables.region))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dims not broadcast:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("rank_topk prunes per-partition top-k before the window exchange") {
    val p = plan(Gold.rankTopK(tables.lineitem, tables.orders,
      tables.customer, tables.nation, k = 3))
    assert(p.contains("WindowGroupLimit"),
      s"no WindowGroupLimit — full sort per group:\n$p")
  }

  test("two-phase quantiles: histogram shuffle on (group, bucket), broadcast probe, no low-cardinality global sort") {
    val p = plan(Gold.exactGroupQuantiles(tables.events, "event_type",
      "value", Seq(0.25, 0.5, 0.75), 2.0))
    assert(p.contains("BroadcastHashJoin"),
      s"target buckets not broadcast:\n$p")
    // the only exchanges may be on (event_type, bucket) / (event_type)
    // over the TINY histogram, and (event_type, p) over probed-bucket
    // rows — never a row_number window keyed on event_type alone over
    // the full input
    assert(!p.linesIterator.exists(l =>
      l.contains("Window [row_number()") &&
        l.contains("windowspecdefinition(event_type#") &&
        !l.contains(" p#")),
      s"row_number window partitioned on event_type alone:\n$p")
  }

  test("dedup signature pipelines run without persisted intermediates or extra corpus scans") {
    val pm = plan(Dedup.minhashLsh(tables.documents))
    // signature+banding feeds ONE aggregate; candidates come from
    // in-bucket expansion, not a bucket self-join of two scans
    assert(!pm.contains("InMemoryTableScan"),
      s"minhashLsh still caches:\n$pm")
    // one scan signs, one verifies: the over-cap census rides the
    // banding exchange instead of signing the corpus again
    assert("FileScan".r.findAllMatchIn(pm).size == 2,
      s"minhashLsh scans its corpus more than twice:\n$pm")
    val ps = plan(Dedup.simhashPairs(tables.documents))
    assert(!ps.contains("InMemoryTableScan"), s"simhash caches:\n$ps")
    // verification stays inline: no join at all, one corpus scan
    assert(!ps.contains("Join"), s"simhash verification joined:\n$ps")
    assert("FileScan".r.findAllMatchIn(ps).size == 1,
      s"simhash signs its corpus more than once:\n$ps")
  }

  test("contamination check broadcasts the benchmark side only") {
    val bench = tables.documents.filter(col("doc_id") % 20 === 0)
    val p = plan(Dedup.contamination(tables.documents, bench))
    assert(p.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination must never cross-join:\n$p")
  }

  test("corpus shuffle ranks within buckets — no global single-partition sort") {
    val p = plan(TextAnalysis.corpusShuffle(tables.documents))
    // a global ORDER BY materializes as Exchange SinglePartition (or
    // rangepartitioning(1)); the two-phase rank must not contain one
    // outside the tiny per-bucket-count window
    val lines = p.linesIterator.filter(_.contains("Exchange SinglePartition")).toSeq
    // the only SinglePartition exchange allowed is the one over the
    // 1024-row bucket-count frame (input to the offsets window)
    assert(lines.size <= 1, s"unexpected global exchanges:\n$p")
  }

  test("bloom probe filters the fact side BELOW its shuffle exchange") {
    // force the shuffle path (at spec scale the dim would broadcast,
    // and a broadcast join has no fact-side exchange to protect)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val urgent = tables.orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val p = plan(RuntimeFilter.bloomPrunedJoin(
        tables.lineitem.select("l_orderkey", "l_quantity"), "l_orderkey",
        urgent, "o_orderkey", expectedItems = 1 << 16))
      assert(p.contains("graft_bloom_contains"), s"no bloom probe:\n$p")
      // tree prints top-down: the probe Filter must appear after
      // (i.e. beneath) the first Exchange — shuffled rows are the
      // already-pruned ones
      assert(p.indexOf("Exchange") >= 0 &&
        p.indexOf("Exchange") < p.indexOf("graft_bloom_contains"),
        s"bloom probe not beneath the exchange:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("asof join plans as one shuffle on the key — no range cross join") {
    val quotes = tables.events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val trades = tables.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val p = plan(AsOf.asofJoin(trades, quotes, "user_id", "ts",
      Seq("value")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of join fell back to a cross join:\n$p")
  }

  test("paragraph dedup anti-join path: distributed left-anti, never a single-task banned fold") {
    val p = plan(CorpusClean.paragraphDedup(tables.documents,
      path = CorpusClean.BannedSetPath.AntiJoin))
    assert(p.contains("LeftAnti"), s"expected a left-anti probe of the banned set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"anti-join degenerated to a cross join:\n$p")
    // the broadcast path's single-row banned fold must be absent
    assert(!p.contains("sort_array(collect_list"),
      s"large-set path still folds the banned set into one row:\n$p")
  }

  test("paragraph dedup never shuffles document text — only 8-byte chunk hashes") {
    val p = plan(CorpusClean.paragraphDedup(tables.documents,
      path = CorpusClean.BannedSetPath.Broadcast))
    // the frequency pass exchanges hash values only; reassembly is a
    // map-side array filter against the broadcast banned set, so no
    // exchange may carry a text/chunks column
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("chunks#") || l.contains("chunk#")))
    assert(!badExchange, s"corpus text crosses an exchange:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"banned set must broadcast, not sort-merge:\n$p")
  }

  test("quality classifier is map-only: zero exchanges") {
    val p = plan(TextAnalysis.qualityClassifier(tables.documents))
    assert(!p.contains("Exchange"), s"classifier should not shuffle:\n$p")
  }

  test("domain mix: corpus joins rates via broadcast; only tiny aggregates shuffle") {
    val p = plan(TextAnalysis.domainMix(tables.documents))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rates not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle against the 20-row rates frame:\n$p")
  }

  test("incremental dedup probes the index with a broadcast delta — index never reshuffles") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lshidx_plan").toString
    Dedup.buildLshIndex(tables.documents.filter(col("doc_id") < 400), dir)
    val p = plan(Dedup.dedupAgainstIndex(
      tables.documents.filter(col("doc_id") >= 400), dir))
    assert(p.contains("BroadcastHashJoin"), s"delta not broadcast:\n$p")
    // the index's band scan must feed a broadcast join directly, not
    // an Exchange hashpartitioning on (band_id, band_hash)
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(band_id")),
      s"index bands reshuffled:\n$p")
    // the probe must be partition-pruned to the delta's band buckets —
    // a full-index scan would show an empty PartitionFilters
    val bandScan = p.linesIterator.find(l =>
      l.contains("bands") && l.contains("PartitionFilters"))
    assert(bandScan.exists(l => l.contains("bucket#") ||
        l.contains("bucket IN")),
      s"band index scan is not bucket-pruned:\n$p")
    // the verify join's signature scan must be dynamically pruned by
    // the candidate set — otherwise every probe rescans all sigs
    val sigScan = p.linesIterator.find(l =>
      l.contains("/sigs") && l.contains("PartitionFilters"))
    assert(sigScan.exists(_.contains("dynamicpruning")),
      s"sigs scan is not candidate-pruned:\n$p")
  }

  test("ann_pq: one corpus scan, kernel encode, pre-exchange top-k prune") {
    val emb = tables.embeddings
    val p = plan(Similarity.annPq(emb, emb.filter(col("vec_id") < 4),
      cacheKey = Some(sfDir)))
    // scoring never joins on a shuffle — the LUT side broadcasts
    assert(!p.contains("SortMergeJoin"), s"PQ scoring shuffled:\n$p")
    // the ADC kernel runs in the scan projection (map-only encode)
    assert(p.contains("graft_pq_codes"), s"kernel not in plan:\n$p")
    // per-partition top-k BEFORE the window exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"no pre-exchange top-k prune:\n$p")
    // corpus side read exactly once (the query side is separate)
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"extra corpus scans:\n$p")
  }

  test("word_pmi: partial counts before every exchange, totals not rescanned") {
    val p = plan(TextAnalysis.wordPmi(tables.documents))
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    // totals derive from the aggregates: the corpus appears only in
    // the unigram and bigram branches (≤4 scan nodes in the printed
    // non-final plan; AQE reuses identical shuffle stages at runtime),
    // never in a dedicated totals branch
    assert(!p.contains("sum(size("), s"totals rescan the corpus:\n$p")
  }

  test("doc_chunk and random_projection are map-only: zero exchanges") {
    val pc = plan(TextAnalysis.docChunk(tables.documents))
    assert(!pc.contains("Exchange"), s"doc_chunk shuffles:\n$pc")
    val pp = plan(Similarity.randomProjection(tables.embeddings))
    assert(!pp.contains("Exchange"), s"random_projection shuffles:\n$pp")
    // the projection runs as the native kernel, not an interpreted HOF
    assert(pp.contains("graft_project"), s"kernel not in plan:\n$pp")
  }

  test("inverted_index prunes per-term top-N before the window exchange") {
    val p = plan(TextAnalysis.invertedIndex(tables.documents))
    assert(p.contains("WindowGroupLimit"),
      s"no WindowGroupLimit — hot terms buffer fully:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("lm scoring: partial counts, broadcast vocab scalar, no cartesian") {
    val docs = tables.documents
    val p = plan(NgramLm.scoreDocs(docs, docs))
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    // the only nested-loop join allowed is the broadcast of the
    // single-row vocab-size scalar
    val nls = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nls.size <= 1, s"unexpected cross joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("exact stratified sample prunes per-task top-k before the stratum exchange") {
    val p = plan(TextAnalysis.exactStratifiedSample(tables.documents,
      "lang", 25))
    assert(p.contains("WindowGroupLimit"),
      s"no pre-exchange top-k prune — full stratum sort per group:\n$p")
  }

  test("text normalize is map-only: zero exchanges") {
    val p = plan(TextAnalysis.textNormalize(tables.documents))
    assert(!p.contains("Exchange"), s"normalize should not shuffle:\n$p")
  }

  test("curriculum order ranks within bands — offsets broadcast, no global data sort") {
    val p = plan(TextAnalysis.curriculumOrder(tables.documents))
    // the only SinglePartition exchange allowed is the ≤21-row
    // band-count frame feeding the offsets window
    val lines = p.linesIterator
      .filter(_.contains("Exchange SinglePartition")).toSeq
    assert(lines.size <= 1, s"unexpected global exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"band offsets not broadcast:\n$p")
  }

  test("contamination_fuzzy broadcasts the benchmark side only") {
    val p = plan(Dedup.contaminationFuzzy(tables.documents,
      col("doc_id") < 10))
    // candidate join and both signature joins hang off broadcasts of
    // the (small) benchmark frames — the train corpus never shuffles
    // for a join
    assert(!p.contains("SortMergeJoin"),
      s"train corpus shuffled for a join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$p")
  }

  test("edit distance join: equi-join on variant hashes, never a cross join") {
    val p = plan(EditDistance.edJoin(tables.customer, "c_custkey",
      "c_name", maxDist = 1))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ED join fell back to a cross join:\n$p")
    // the verify condition rides ON the id joins — no standalone
    // all-pairs levenshtein stage
    assert(p.contains("levenshtein"), s"verify missing from plan:\n$p")
  }

  test("exact similarity join: prefix buckets, no self-join, one verify join") {
    val p = plan(SetJoin.similarityJoinExact(tables.documents))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated to all-pairs:\n$p")
    // candidates come from in-bucket expansion; the one join is the
    // verifier's doc-id join, and the corpus is scanned twice
    val joins = p.linesIterator.count(_.matches(".*(HashJoin|MergeJoin) .*"))
    assert(joins == 1, s"expected only the verify join, found $joins:\n$p")
    assert("FileScan".r.findAllMatchIn(p).size == 2,
      s"corpus not scanned exactly twice:\n$p")
  }

  test("market basket: pair expansion is a basket equi-join after distinct") {
    val p = plan(Basket.marketBasket(tables.lineitem))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"basket expansion went quadratic:\n$p")
    assert(p.contains("partial_count"),
      s"support counts not map-side combined:\n$p")
  }

  test("graph triangles: wedge closure is a semi-join, no cross join") {
    val p = plan(Triangles.wordTriangles(tables.documents))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle closure went quadratic:\n$p")
    assert(p.contains("LeftSemi"), s"closure not a semi-join:\n$p")
  }

  test("event interpolation windows run over the grid, not raw events") {
    val p = plan(TimeSeries.interpolate(tables.events))
    // the bucket aggregation is map-side combined; the only window
    // sort keys are (event_type, hour_us) over grid rows
    assert(p.contains("partial_"),
      s"hourly aggregation not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }
}
