package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join — ALL document pairs with shingle
  * Jaccard ≥ t, by prefix filtering (AllPairs/PPJoin family: Bayardo
  * et al. WWW'07, Vernica et al. SIGMOD'10) instead of sketching.
  * The exact complement of [[Dedup.minhashLsh]]: LSH trades recall
  * for speed and its banded candidates can miss a true pair; this
  * operator is guaranteed-complete, so it doubles as the ground truth
  * that AUDITS the LSH path's recall (the dedup-family analog of
  * ann_recall vs ann_lsh).
  *
  * Prefix filter: order every doc's shingle set by ascending document
  * frequency (rarest first, ties on the portable hash); a pair with
  * Jaccard ≥ t must overlap in ≥ ⌈t·|x|⌉ elements, so the globally
  * smallest common element always lands inside both docs' first
  * |x| − ⌈t·|x|⌉ + 1 elements — bucketing docs on only those PREFIX
  * elements is a complete blocking. Rare-first ordering makes prefix
  * buckets the SMALLEST ones (a boilerplate shingle shared by every
  * doc sorts last and never enters a prefix), the opposite skew
  * profile of naive token blocking.
  *
  * Scale: the corpus is read twice, once for candidates and once to
  * verify them. The candidate read shingles and hashes every doc's
  * set; one shuffle on the token hash gives each token its document
  * frequency (8-byte hash + doc id rows), one on the doc id sorts each
  * set rare-first, and one on the prefix token gathers each prefix
  * bucket. Prefix tokens held by one doc (df = 1) never enter a
  * bucket: no other doc can share them. Candidate pairs come from
  * in-bucket pair expansion (the [[Dedup.lshCandidates]] pattern, no
  * self-join, no bucket cap: a cap would break completeness), and
  * PPJoin's positional filter (Xiao et al. WWW'08) runs inside the
  * expansion. Prefix size is (1−t)·|x|+1, so higher thresholds
  * shuffle LESS. Hash collisions in the bucket key only ADD candidates
  * (verify kills them): completeness never depends on the hash.
  * Candidate pairs distinct as bare id pairs; full shingle sets
  * travel only through the one verify join of [[Dedup.shingleOverlap]].
  * Verification is exact integer set arithmetic on the shingle
  * strings; the one double division happens after the integer
  * threshold test, so the output hash-matches the naive all-pairs
  * oracle bit-for-bit.
  */
object SetJoin {

  /** All (a_id, b_id) with shingle-set Jaccard ≥ tNum/tDen, plus the
    * exact intersection/union sizes and the Jaccard value. */
  def similarityJoinExact(documents: DataFrame, shingleK: Int = 3,
                          tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    val toks = documents.select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("text"), shingleK)))
          .as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("th"))
    // global rare-first order: each doc's token hashes sorted by
    // (df, th), df from one grouping on the hash
    val ordered = toks.groupBy("th")
      .agg(collect_list(col("doc_id")).as("docs"))
      .select(col("th"), size(col("docs")).as("df"),
        explode(col("docs")).as("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("th")))).as("ord"))
      .select(col("doc_id"), size(col("ord")).cast("long").as("sz"),
        col("ord"))
    // prefix of length |x| - ceil(t|x|) + 1 (ceil as an integral
    // div); `pos` is the token's 0-based rank in the doc's order
    val prefix = ordered.select(col("doc_id"), col("sz"),
        posexplode(slice(col("ord"), lit(1),
          expr(s"cast(sz - ((sz * $tNum + ${tDen - 1}) div $tDen) + 1" +
            " as int)"))).as(Seq("pos", "o")))
      .filter(col("o.df") > 1)
      .select(col("o.th").as("th"),
        struct(col("doc_id"), col("sz"), col("pos")).as("d"))
    // PPJoin positional filter: the pair's first common token (in the
    // global order) sits at ranks i, j, and nothing before it is
    // shared, so |x∩y| ≤ min(|x|−i, |y|−j); a pair needs
    // |x∩y|·(1+t) ≥ t·(|x|+|y|). The bound holds at the first common
    // token, which lies in both prefixes, so completeness stands. It
    // implies the length filter t·|x| ≤ |y| ≤ |x|/t (take i = j = 0).
    def similarEnough(x: Column, y: Column): Column =
      x("doc_id") < y("doc_id") &&
        least(x("sz") - x("pos"), y("sz") - y("pos")) * (tNum + tDen) >=
          (x("sz") + y("sz")) * tNum
    val cand = prefix.groupBy("th")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(filter(slice(col("ds"), i + lit(2), size(col("ds"))),
          y => similarEnough(x, y)),
          y => struct(x("doc_id").as("id_a"), y("doc_id").as("id_b"))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    Dedup.shingleOverlap(cand, documents, shingleK)
      .select(col("id_a").as("a_id"), col("id_b").as("b_id"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
  }

  /** The recall audit the exact join exists to power: the banded-LSH
    * pair set measured against the complete prefix-filter ground
    * truth at the SAME shingles and threshold — one summary row
    * (n_exact, n_lsh, n_common, recall). LSH verifies true Jaccard on
    * its candidates, so its pairs are always a subset and recall is
    * the single number that tunes (numPerm, bands) — the dedup-family
    * analog of ann_recall. Both pair sets are id-pair frames; the
    * audit join and counts add one bounded shuffle over pair rows. */
  def lshRecallAudit(documents: DataFrame, shingleK: Int = 3,
                     numPerm: Int = 64, bands: Int = 16,
                     tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val exact = similarityJoinExact(documents, shingleK, tNum, tDen)
      .select(col("a_id"), col("b_id"))
    val lsh = Dedup.minhashLsh(documents, shingleK, numPerm, bands,
      tNum.toDouble / tDen)
      .select(least(col("id_a"), col("id_b")).as("a_id"),
        greatest(col("id_a"), col("id_b")).as("b_id"))
    exact.withColumn("in_exact", lit(1L))
      .join(lsh.withColumn("in_lsh", lit(1L)),
        Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(coalesce(col("in_exact"), lit(0L))).as("n_exact"),
        sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"),
        sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull,
          1L).otherwise(0L)).as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") === 0L, lit(null).cast("double"))
          .otherwise(col("n_common").cast("double") /
            col("n_exact").cast("double")).as("recall"))
  }

  /** [[lshRecallAudit]] swept across band configurations — the
    * QUALITY axis of [[graft.operators.Dedup.paramSweep]]'s volume
    * numbers, and together with it the full tuning picture: per
    * (bands, rowsPerBand), how many true pairs the banded sketch
    * recovers. Both expensive legs are computed ONCE and
    * materialized — the exact ground truth (the prefix-filter join)
    * and the signature table — so each config pays only its own
    * candidate generation + verification, never a re-shingle or a
    * re-join of the ground truth. One summary row per config. */
  def sweepRecall(documents: DataFrame, stagingDir: String,
                  shingleK: Int = 3, numPerm: Int = 64,
                  bandConfigs: Seq[Int] = Seq(8, 16, 32),
                  tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b => numPerm % b == 0),
      s"every bands config must divide numPerm=$numPerm")
    val spark = documents.sparkSession
    similarityJoinExact(documents, shingleK, tNum, tDen)
      .select("a_id", "b_id")
      .write.mode("overwrite").parquet(s"$stagingDir/exact")
    documents.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), shingleK),
          numPerm).as("sig"))
      .write.mode("overwrite").parquet(s"$stagingDir/sigs")
    val exact = spark.read.parquet(s"$stagingDir/exact")
    val signed = spark.read.parquet(s"$stagingDir/sigs")
    val thr = tNum.toDouble / tDen
    // FUSED sweep: the old per-config loop paid candidate generation
    // (one exchange each) and Jaccard verification (a full corpus
    // re-shingle each) THREE times. Band configs that divide numPerm
    // share signatures, so one tagged frame generates every config's
    // candidates through a single exchange (lshCandidates `tags`),
    // each distinct pair is verified ONCE with the set of configs
    // that proposed it, and the per-config recall rows fall out of one
    // grouped aggregate — per-config pair sets (and so all published
    // counts) are unchanged
    val bandedAll = bandConfigs.map { b =>
      Dedup.lshBands(signed, "doc_id", "sig", b, numPerm / b)
        .select(lit(b).as("cfg"), col("doc_id"), col("band_id"),
          col("band_hash"))
    }.reduce(_.unionByName(_))
    val pairCfgs = Dedup.lshCandidates(bandedAll, "doc_id",
        tags = Seq("cfg"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(collect_set(col("cfg")).as("cfgs"))
    val lshAll = Dedup.jaccardVerify(pairCfgs, documents, shingleK,
        keep = Seq("cfgs"))
      .filter(col("jaccard") >= thr)
      .select(explode(col("cfgs")).as("cfg"),
        least(col("id_a"), col("id_b")).as("a_id"),
        greatest(col("id_a"), col("id_b")).as("b_id"))
    val cfgFrame = bandConfigs
      .foldLeft(Option.empty[DataFrame]) { (acc, b) =>
        val one = spark.range(1).select(lit(b).as("cfg"))
        Some(acc.fold(one)(_.unionByName(one)))
      }.get
    val agged = cfgFrame.crossJoin(exact).withColumn("in_exact", lit(1L))
      .join(lshAll.withColumn("in_lsh", lit(1L)),
        Seq("cfg", "a_id", "b_id"), "full_outer")
      .groupBy(col("cfg"))
      .agg(
        sum(coalesce(col("in_exact"), lit(0L))).as("n_exact"),
        sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"),
        sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull,
          1L).otherwise(0L)).as("n_common"))
    // left join against the config universe: a config whose exact AND
    // lsh sides are both empty still emits its (all-NULL-counts) row,
    // exactly like the old loop's ungrouped aggregate over an empty
    // full_outer
    cfgFrame.join(agged, Seq("cfg"), "left")
      .select(col("cfg").as("bands"),
        (lit(numPerm) / col("cfg")).cast("int").as("rows_per_band"),
        col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") === 0L, lit(null).cast("double"))
          .otherwise(col("n_common").cast("double") /
            col("n_exact").cast("double")).as("recall"))
  }
}
