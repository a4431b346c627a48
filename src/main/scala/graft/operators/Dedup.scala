package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Materialize.Pinnable

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB posture):
  *  - signature computation (minhash/simhash/shingles) is map-only —
  *    one pass over the corpus, no shuffle, all codegen'd
  *    higher-order functions (no UDFs);
  *  - candidate generation shuffles ONLY on small (band, bucket) /
  *    chunk keys — never a full cross join — and expands pairs inside
  *    each bucket after a groupBy, so the corpus is scanned once and
  *    no intermediate needs caching;
  *  - verification runs only on candidate pairs (one join back to
  *    the corpus for shingle sets, [[shingleOverlap]]; SimHash
  *    verifies inline from the carried chunk arrays).
  */
object Dedup {

  def tokens(text: Column): Column = split(text, " ")

  /** Portable 60-bit content hash (`graft_sha60`). */
  private def sha60(g: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.expressions.Sha60(
        org.apache.spark.sql.graft.GraftBridge.expression(g)))

  // ---------- exact ----------

  /** Exact dedup via content hash: one shuffle on sha2(text).
    * (hash-groupBy pattern; keeps the lowest doc_id per group). */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  // ---------- shingling ----------

  /** Word k-shingles as strings; whole-doc fallback when shorter
    * than k tokens. Map-only, native kernel
    * ([[graft.functions.expressions.WordShingles]]). */
  def shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.expressions.WordShingles(
        org.apache.spark.sql.graft.GraftBridge.expression(text), k))

  // ---------- MinHash + LSH ----------

  /** numPerm-wide MinHash signature. Map-only, native codegen kernel
    * ([[graft.functions.expressions.MinHashSignature]]): one portable
    * sha256-prefix hash per shingle + numPerm xor-multiply-shift mixes
    * in a tight primitive loop — the HOF formulation ran interpreted
    * and re-evaluated the shingling expression per permutation. */
  def minhashSignature(sh: Column, numPerm: Int): Column = {
    require(numPerm >= 1 && numPerm <= MinHashConstantsLimit,
      s"numPerm must be in [1, $MinHashConstantsLimit], got $numPerm " +
        "(one xor constant is tabulated per permutation)")
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.expressions.MinHashSignature(
        org.apache.spark.sql.graft.GraftBridge.expression(sh), numPerm))
  }

  private val MinHashConstantsLimit =
    graft.functions.expressions.MinHashConstants.PermConsts.length

  /** (doc_id, band_id, band_hash) — one row per band per doc.
    * bands × rowsPerBand must equal the signature width. The band
    * hash is a 31-bit multiply-accumulate fold over the band's
    * signature values — plain integer arithmetic so the DuckDB oracle
    * reproduces every bucket (a murmur3 `hash(slice(...))` would not
    * be replicable). The fold runs in the native
    * [[graft.functions.expressions.LshBandHashes]] kernel: faster
    * than the interpreted HOF, and lambda-free so the banding subtree
    * canonicalizes for exchange reuse (the hot-bucket census). */
  def lshBands(docs: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int,
               keep: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol) +: keep.map(col) :+
      posexplode(org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.expressions.LshBandHashes(
          org.apache.spark.sql.graft.GraftBridge.expression(col(sigCol)),
          bands, rowsPerBand)))
        .as(Seq("band_id", "band_hash")): _*)

  /** All ordered pairs (a_i, a_j), i < j, from a sorted array — the
    * in-bucket pair expansion for LSH/pigeonhole candidate generation.
    * Runs over per-bucket arrays only (LSH buckets are small by
    * construction; a degenerate bucket of identical docs is quadratic
    * in EITHER formulation — self-join or expansion). */
  private def pairExpand(ids: Column): Column = pairExpandAs(ids, "id_a", "id_b")

  private def pairExpandAs(xs: Column, aName: String, bName: String): Column =
    flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + lit(2), size(xs)),
        y => struct(x.as(aName), y.as(bName)))))

  /** Buckets larger than this are skipped by [[lshCandidates]]: a
    * hot bucket (boilerplate band, degenerate near-identical family)
    * contributes bucket² pairs AND a bucket-sized collected row —
    * both scale killers. 4096 is far above any honest near-dup
    * bucket (testdata buckets are ≤ ~30), so the cap never binds on
    * real similarity structure; what it drops is exact-dup mass,
    * which `dedup_exact` removes separately anyway. Mirrored by the
    * DuckDB oracles. */
  val DefaultMaxBucket = 4096

  /** `rows` without the rows of any bucket (rows sharing `key`) that
    * holds more than `maxBucket` rows. The census is a window count
    * over the bucket key, so the one exchange that gathers each
    * bucket also feeds the grouping after it: the input is read (and
    * signed) once, and an over-cap bucket's collected row is never
    * built. An aggregate census anti-joined back would not share the
    * exchange: the optimizer pushes the anti-join below an explicit
    * repartition, so the two branches differ and the input is read
    * and signed twice. */
  private[operators] def capBuckets(rows: DataFrame, key: Seq[String],
                         maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    rows.withColumn("_bucket_n",
        count(lit(1)).over(Window.partitionBy(key.map(col): _*)))
      .filter(col("_bucket_n") <= maxBucket)
      .drop("_bucket_n")
  }

  /** Candidate pairs: docs sharing ≥1 LSH bucket. One shuffle on
    * (band_id, band_hash), then in-bucket pair expansion — the corpus
    * is scanned and signed exactly ONCE, and the over-cap census
    * ([[capBuckets]]) rides the same exchange. (The earlier bucket
    * self-join either re-signed every document for its second leg or
    * needed a persisted intermediate that leaked in long-lived
    * sessions; groupBy + expansion needs neither.) */
  def lshCandidates(bands: DataFrame, idCol: String,
                    maxBucket: Int = DefaultMaxBucket,
                    tags: Seq[String] = Nil): DataFrame = {
    // `tags` prepend extra bucket-key columns (e.g. a sweep's config
    // id), so MULTIPLE band configurations generate candidates through
    // ONE exchange instead of one exchange per config — buckets never
    // mix across tag values because the tag is part of the key
    val key = tags :+ "band_id" :+ "band_hash"
    capBuckets(bands, key, maxBucket)
      .groupBy(key.map(col): _*)
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(tags.map(col) :+ explode(pairExpand(col("ids"))).as("p"): _*)
      .select(tags.map(col) :+ col("p.id_a") :+ col("p.id_b"): _*)
      .distinct()
  }

  /** Exact shingle-set overlap of DISTINCT pairs (id_a, id_b): returns
    * (id_a, id_b, n_inter, n_a, n_b) plus the `keep` columns, with
    * n_a = |A|, n_b = |B| and n_inter = |A ∩ B| over the distinct
    * shingle strings. The one-phase record join of Vernica et al.
    * (SIGMOD'10): each pair fans out to its two doc ids, ONE join
    * attaches every doc's shingle set (the corpus is read once), and
    * a regroup by pair brings the two sets together. A pair
    * whose doc is missing from `documents` is dropped, as an inner
    * join would. `keep` columns must be a function of the pair. */
  def shingleOverlap(pairs: DataFrame, documents: DataFrame, shingleK: Int,
                     keep: Seq[String] = Nil): DataFrame = {
    val key = (Seq("id_a", "id_b") ++ keep).map(col)
    val sets = documents.select(col("doc_id"),
      array_distinct(shingles(col("text"), shingleK)).as("sset"))
    pairs.select(key :+ explode(array(
        struct(lit(0).as("side"), col("id_a").as("doc_id")),
        struct(lit(1).as("side"), col("id_b").as("doc_id")))).as("e"): _*)
      .select(key :+ col("e.side") :+ col("e.doc_id"): _*)
      .join(sets, "doc_id")
      .groupBy(key: _*)
      .agg(sort_array(collect_list(struct(col("side"), col("sset")))).as("s"))
      .filter(size(col("s")) === 2)
      .select(key ++ Seq(
        size(array_intersect(col("s")(0)("sset"), col("s")(1)("sset")))
          .cast("long").as("n_inter"),
        size(col("s")(0)("sset")).cast("long").as("n_a"),
        size(col("s")(1)("sset")).cast("long").as("n_b")): _*)
  }

  /** Shingle-set Jaccard |A∩B| / |A∪B| of candidate pairs, from
    * [[shingleOverlap]] — verification touches only candidates. */
  def jaccardVerify(candidates: DataFrame, documents: DataFrame,
                    shingleK: Int, keep: Seq[String] = Nil): DataFrame =
    shingleOverlap(candidates, documents, shingleK, keep)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .select((Seq("id_a", "id_b", "jaccard") ++ keep).map(col): _*)

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * bucket-join → Jaccard verify ≥ threshold. */
  def minhashLsh(documents: DataFrame, shingleK: Int = 3,
                 numPerm: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val signed = documents.select(col("doc_id"),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val banded = lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
    val cands = lshCandidates(banded, "doc_id")
    jaccardVerify(cands, documents, shingleK)
      .filter(col("jaccard") >= threshold)
  }

  /** n-gram Jaccard similarity over LSH candidates (reported even
    * below dedup threshold — similarity analysis surface). */
  def ngramJaccard(documents: DataFrame, shingleK: Int = 3,
                   numPerm: Int = 64, bands: Int = 16): DataFrame = {
    val signed = documents.select(col("doc_id"),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val banded = lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
    jaccardVerify(lshCandidates(banded, "doc_id"), documents, shingleK)
  }

  /** Asymmetric n-gram CONTAINMENT over LSH candidates:
    * |A∩B| / |A| and |A∩B| / |B| — catches a short doc quoted inside
    * a long one, which symmetric Jaccard dilutes below any threshold.
    * Same candidate generation and shuffle profile as
    * [[ngramJaccard]]; only the verify formula differs. */
  def ngramContainment(documents: DataFrame, shingleK: Int = 3,
                       numPerm: Int = 64, bands: Int = 16): DataFrame = {
    val signed = documents.select(col("doc_id"),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val banded = lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
    shingleOverlap(lshCandidates(banded, "doc_id"), documents, shingleK)
      .select(col("id_a"), col("id_b"), col("n_inter").as("n_shared"),
        (col("n_inter").cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (col("n_inter").cast("double") / col("n_b").cast("double"))
          .as("containment_b"))
  }

  // ---------- SimHash ----------

  /** 60-bit SimHash packed as 4 × 15-bit chunk values (array<int>),
    * (doc_id, chunks). The bit-i majority is
    * sign(Σ_tokens (2·bit_i(sha60(tok)) − 1)) over the portable
    * sha256-prefix hash; chunk c packs bits 15c..15c+14 MSB-first.
    * Chunked form feeds the pigeonhole candidate join directly: two
    * docs within hamming distance 3 share at least one of 4 chunks.
    * Map-only, no UDF. */
  def simhash(documents: DataFrame): DataFrame = {
    val chunks = org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.expressions.SimHashChunks(
        org.apache.spark.sql.graft.GraftBridge.expression(
          tokens(col("text")))))
    documents.select(col("doc_id"), chunks.as("chunks"))
  }

  /** hamming distance between two 4-chunk simhashes. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      bit_count(x.bitwiseXOR(y).cast("long"))), lit(0L), _ + _)

  /** SimHash near-dup pairs within `maxHamming`: pigeonhole bucketing
    * on any equal 15-bit chunk — ONE shuffle on (chunk_idx, value),
    * then in-bucket pair expansion with the 4-int chunk arrays carried
    * through, so the exact hamming verify is computed inline. Zero
    * joins, zero persisted intermediates, one corpus scan (the
    * self-join formulation needed a persisted signature frame read by
    * four join legs, which leaked in long-lived sessions). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sh = simhash(documents)
    val chunks = sh.select(col("doc_id"), col("chunks"),
      posexplode(col("chunks")).as(Seq("chunk_idx", "chunk_val")))
    // same hot-bucket guard as lshCandidates: identical-doc mass
    // belongs to dedup_exact, not the near-dup path
    capBuckets(chunks, Seq("chunk_idx", "chunk_val"), maxBucket)
      .groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("chunks"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(pairExpandAs(col("ds"), "a", "b")).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        hamming(col("p.a.chunks"), col("p.b.chunks")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------- cross-corpus contamination ----------

  /** Benchmark-decontamination check: for each (train doc, benchmark
    * doc) pair sharing ≥ `minShared` distinct word `ngramK`-grams,
    * report the shared count and the fraction of the benchmark doc's
    * n-grams found in the train doc (1.0 = benchmark fully contained).
    *
    * Scale shape: the benchmark set is small by definition → its
    * exploded n-grams broadcast; the train corpus is scanned once
    * map-only (shingle + explode), and only colliding (train, bench)
    * pairs are aggregated — never a doc × doc cross join. */
  def contamination(train: DataFrame, benchmark: DataFrame,
                    ngramK: Int = 8, minShared: Int = 1): DataFrame = {
    val tg = train.select(col("doc_id").as("train_doc"),
      explode(array_distinct(shingles(col("text"), ngramK))).as("g"))
    val bsets = benchmark.select(col("doc_id").as("bench_doc"),
      array_distinct(shingles(col("text"), ngramK)).as("gset"))
    val bg = broadcast(bsets.select(col("bench_doc"),
      explode(col("gset")).as("g")))
    val bsz = broadcast(bsets.select(col("bench_doc"),
      size(col("gset")).as("n_bench")))
    tg.join(bg, Seq("g"))
      .filter(col("train_doc") =!= col("bench_doc"))
      .groupBy("train_doc", "bench_doc")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
      .join(bsz, Seq("bench_doc"))
      .withColumn("contamination",
        col("shared_ngrams").cast("double") / col("n_bench"))
      .select("train_doc", "bench_doc", "shared_ngrams", "contamination")
  }

  // ---------- embedding cosine ----------

  /** Exact near-dup pairs by embedding cosine ≥ threshold, blocked on
    * `label` (standard blocking: only intra-block pairs compared —
    * at 100 TB the block key comes from a coarse quantizer / LSH;
    * see Similarity.annLsh for the signature variant). */
  def embeddingNearDup(embeddings: DataFrame,
                       threshold: Double = 0.95): DataFrame = {
    // norms computed ONCE per vector before the join — the pairwise
    // step then does a single dot product per pair instead of three
    val a = embeddings.select(col("label"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      VectorFunctions.l2Norm(col("embedding")).as("norm_a"))
    val b = embeddings.select(col("label"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      VectorFunctions.l2Norm(col("embedding")).as("norm_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("label"), col("cosine"))
  }

  /** Embedding near-dup with the 100 TB blocking story end-to-end:
    * the block key is an IVF coarse-quantizer cell (trained on a
    * bounded deterministic sample — [[Similarity.trainCentroids]]),
    * not a data-provided label. Only intra-cell pairs are compared —
    * one shuffle on the cell id, work ∝ Σ cell², never n². Trade-off:
    * a near-dup pair split across cells is missed; near-identical
    * vectors co-locate with high probability, and more cells can be
    * probed the IVF way if recall matters more than cost. */
  def embeddingNearDupQuantized(embeddings: DataFrame,
                                threshold: Double = 0.35, nlist: Int = 16,
                                iters: Int = 3, sampleBudget: Int = 128,
                                cacheKey: Option[String] = None): DataFrame = {
    val cents = Similarity.trainCentroids(embeddings, nlist, iters,
      sampleBudget, cacheKey)
    val tagged = embeddings.select(col("vec_id"), col("embedding"),
      VectorFunctions.l2Norm(col("embedding")).as("norm"),
      Similarity.clusterOf(col("embedding"), cents).as("cluster"))
    val a = tagged.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = tagged.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cosine"))
  }

  /** SemDeDup-style semantic pruning: cluster embeddings with the
    * frozen IVF coarse quantizer, then within each cluster drop any
    * vector that has a lower-id neighbor above the cosine threshold
    * (greedy keep-first — the deterministic variant of SemDeDup's
    * per-cluster pruning). Returns EVERY vector with its cluster and
    * a `kept` flag, so downstream can either filter or audit the
    * pruned fraction.
    *
    * Scale shape: the pair comparison is the quantizer-blocked
    * intra-cell join of [[embeddingNearDupQuantized]] (work ∝ Σ cell²,
    * never n²), here a LEFT OUTER sort-merge self-join that keeps every
    * vector. Both sides are the same tagged frame under one exchange
    * on the cell, so the embeddings are read once, and the grouping
    * per vector that derives `kept` runs on the join's own cell
    * partitioning, with no second shuffle. */
  def semdedupKeep(embeddings: DataFrame, threshold: Double = 0.35,
                   nlist: Int = 16, iters: Int = 3, sampleBudget: Int = 128,
                   cacheKey: Option[String] = None): DataFrame = {
    val cents = Similarity.trainCentroids(embeddings, nlist, iters,
      sampleBudget, cacheKey)
    // `cell` is the cluster with -1 (no centroid index) standing in
    // for the null cluster of a null embedding, and the non-key
    // condition sits in a coalesce: the optimizer then infers no null
    // filter for the inner side alone, both sides stay one plan, and
    // the shuffle is reused. A null embedding matches nothing (its dot
    // product is null).
    val tagged = embeddings.select(col("vec_id"), col("embedding"),
      VectorFunctions.l2Norm(col("embedding")).as("norm"),
      coalesce(Similarity.clusterOf(col("embedding"), cents), lit(-1))
        .as("cell"))
    val (a, b) = (tagged.as("a"), tagged.as("b").hint("merge"))
    // the lower id (b) is the left operand, as in the pair frame of
    // embeddingNearDupQuantized, so the cosine is bit-identical
    a.join(b, col("b.cell") === col("a.cell") &&
        coalesce(col("b.vec_id") < col("a.vec_id") &&
          VectorFunctions.dot(col("b.embedding"), col("a.embedding")) /
            (col("b.norm") * col("a.norm")) >= threshold, lit(false)),
        "left_outer")
      .groupBy(col("a.cell"), col("a.vec_id"))
      .agg(count(col("b.vec_id")).as("n_lower"))
      .select(col("vec_id"), when(col("cell") =!= -1, col("cell")).as("cluster"),
        (col("n_lower") === 0).as("kept"))
  }

  /** Per-cell audit of [[semdedupKeep]]: vectors / kept / pruned and
    * the pruned fraction for every quantizer cell at the given
    * threshold — the SemDeDup quality gate, analogous to
    * [[Similarity.annRecall]] for the ANN family. A cell pruning far
    * above the corpus mean flags a boilerplate cluster (or a
    * too-coarse quantizer cell); thresholds are tuned on this summary
    * before committing a corpus-wide prune. Aggregates the keep flags
    * — one extra |nlist|-row shuffle over [[semdedupKeep]]. */
  def semdedupRate(embeddings: DataFrame, threshold: Double = 0.35,
                   nlist: Int = 16, iters: Int = 3, sampleBudget: Int = 128,
                   cacheKey: Option[String] = None): DataFrame =
    semdedupKeep(embeddings, threshold, nlist, iters, sampleBudget, cacheKey)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_pruned"))
      .withColumn("pruned_frac",
        col("n_pruned").cast("double") / col("n_vectors"))

  /** Train/test LEAKAGE audit — eval hygiene for the split itself:
    * near-duplicate pairs (banded MinHash-LSH, the corpus's own dedup
    * signal) joined against the deterministic train/val/test
    * assignment, counted per unordered split pair. A near-dup of a
    * test document sitting in train is silent eval contamination a
    * doc-level split cannot see; the cross-split rows here are
    * exactly that mass, BEFORE anyone reports a benchmark number.
    *
    * Scale: rides the banded-LSH pair pipeline (never all-pairs);
    * the split is a map-side hash; the audit joins carry only
    * (id, split) pairs keyed on doc id; output is ≤6 rows. */
  def splitLeakageAudit(documents: DataFrame, trainPct: Int = 80,
                        valPct: Int = 10): DataFrame = {
    val pairs = minhashLsh(documents)
    val split = TextAnalysis.trainValTestSplit(documents, trainPct, valPct)
    val a = split.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val b = split.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
  }

  /** The REPAIR for [[splitLeakageAudit]] (the audit→treatment
    * symmetry of expectations→drop and outliers→winsorize): for every
    * cross-split near-dup pair, drop the EVAL-side member — split
    * precedence train > val > test, so training data is never
    * touched and each eval set ends clean of near-dups it shares
    * with any higher-precedence set. Emits every doc with its split
    * and a kept flag (the audit's cross-split mass goes to zero on
    * the kept subset — spec-proven).
    *
    * Scale: the leak pairs ride the banded-LSH pipeline; the dropped
    * set (a minority by construction) is a distinct over pair rows,
    * joined back on doc_id. */
  def splitLeakageFix(documents: DataFrame, trainPct: Int = 80,
                      valPct: Int = 10): DataFrame = {
    val split = TextAnalysis.trainValTestSplit(documents, trainPct, valPct)
    val prec = (c: Column) => when(c === "train", 2)
      .when(c === "val", 1).otherwise(0)
    val a = split.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val b = split.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    val dropped = minhashLsh(documents)
      .join(a, "id_a").join(b, "id_b")
      .select(when(prec(col("split_a")) < prec(col("split_b")), col("id_a"))
        .when(prec(col("split_b")) < prec(col("split_a")), col("id_b"))
        .as("doc_id"))
      .filter(col("doc_id").isNotNull)
      .distinct()
      .withColumn("is_dropped", lit(true))
    split.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        col("is_dropped").isNull.as("kept"))
  }

  /** The SemDeDup THRESHOLD CURVE — dedup_threshold_curve's
    * embedding-space sibling: sweep candidate cosine cutoffs over the
    * quantizer-blocked pair frame computed ONCE at the loosest
    * threshold, reporting per cutoff how many pairs fire and an
    * UPPER BOUND on the prune mass: `n_dropped` counts every vector
    * with at least one lower-id over-threshold neighbor. On chains
    * (1~2, 2~3 without 1~3) a sequential greedy keep-first prune
    * would keep 3 after dropping 2, so the true greedy drop count
    * can be lower — the bound is what one pass over the pair frame
    * can compute without iterating components, and it is exact
    * whenever duplicate groups are cliques (the common case for
    * embedding near-dups). The table a team reads to pick the
    * SemDeDup threshold before paying for a corpus-wide prune;
    * [[semdedupKeep]] materializes the same rule, so curve and
    * prune agree by construction.
    *
    * Scale: one intra-cell pair join (work ∝ Σ cell²) ever — each
    * additional candidate threshold costs only a filter over the
    * already-built pair rows via a tiny literal explode; corpus size
    * arrives as a broadcast 1-row frame, never a driver scalar. */
  def semdedupCurve(embeddings: DataFrame,
                    thresholds: Seq[Double] = Seq(0.35, 0.5, 0.7, 0.9),
                    nlist: Int = 16, iters: Int = 3,
                    sampleBudget: Int = 128,
                    cacheKey: Option[String] = None): DataFrame = {
    require(thresholds.nonEmpty, "need at least one candidate threshold")
    val pairs = embeddingNearDupQuantized(embeddings, thresholds.min,
      nlist, iters, sampleBudget, cacheKey)
    val perT = pairs
      .select(col("id_b"), col("cosine"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("cosine") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_dropped"))
    val tFrame = embeddings.sparkSession
      .createDataFrame(thresholds.map(Tuple1(_)))
      .toDF("threshold")
    val total = embeddings.agg(count(lit(1)).as("n_vectors"))
    tFrame
      .join(perT, Seq("threshold"), "left")
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("n_vectors"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vectors") - coalesce(col("n_dropped"), lit(0L)))
          .as("n_survivors"),
        expr("CASE WHEN n_vectors > 0 THEN " +
          "coalesce(n_dropped, 0) * 1000000 div n_vectors END")
          .as("pruned_ppm"))
  }

  /** The TWO prune semantics over one over-threshold pair graph,
    * side by side — the calibration row a team reads before picking
    * which prune to pay for:
    *  - `n_dropped_pairwise`: what [[semdedupKeep]] (and the curve's
    *    `n_dropped`) removes — any vector with a lower-id
    *    over-threshold neighbor. Conservative: two vectors linked
    *    only TRANSITIVELY (through a shared near-dup, star graphs)
    *    both survive.
    *  - `n_dropped_component`: one survivor per CONNECTED COMPONENT
    *    (the transitive-closure prune [[Clusters.duplicateClusters]]
    *    applies to text dups) = n_in_pairs − n_components.
    * Per component of size k the pairwise rule drops ≤ k−1 (the
    * component minimum never has a lower-id neighbor), so pairwise ≤
    * component ALWAYS, with equality on cliques — the common shape
    * for embedding near-dups; the measured gap is the chain/star mass
    * in the corpus. One row out; cost = the pair join (shared shape
    * with the curve) + CC rounds on pair ENDPOINTS only (anything
    * duplicate-free never enters the loop). */
  def semdedupComponentDrop(embeddings: DataFrame, threshold: Double = 0.5,
                            nlist: Int = 16, iters: Int = 3,
                            sampleBudget: Int = 128,
                            cacheKey: Option[String] = None): DataFrame = {
    Materialize.withPersist(embeddingNearDupQuantized(embeddings, threshold,
        nlist, iters, sampleBudget, cacheKey)) { pairs =>
      val nodes = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct()
      val comps = Clusters.connectedComponents(pairs, nodes)
      val compAgg = comps.agg(count(lit(1)).as("n_in_pairs"),
        countDistinct(col("label")).as("n_components"))
      val pw = pairs.agg(coalesce(countDistinct(col("id_b")), lit(0L))
        .as("n_dropped_pairwise"))
      val tot = embeddings.agg(count(lit(1)).as("n_vectors"))
      compAgg.crossJoin(broadcast(pw)).crossJoin(broadcast(tot))
        .select(col("n_vectors"), col("n_in_pairs"), col("n_components"),
          (col("n_in_pairs") - col("n_components")).as("n_dropped_component"),
          col("n_dropped_pairwise"),
          (col("n_vectors") - (col("n_in_pairs") - col("n_components")))
            .as("n_survivors_component"))
        .pin(true)
    }
  }

  // ---------- incremental MinHash index ----------

  /** Hash-partition key for the persisted band index: band rows land
    * in `bucket=pmod(band_hash, n)` directories, so a probe reads
    * ONLY the buckets its delta hashes into (PartitionFilters prune
    * at file listing) instead of scanning the whole index. */
  val BandBuckets = 64

  def bandBucket: Column = pmod(col("band_hash"), lit(BandBuckets))

  /** Hash-partition key for the persisted SIGNATURE side of the
    * index: `sbucket = pmod(doc_id, BandBuckets)`. Probes join
    * candidates to sigs on (doc_id, sbucket), so dynamic partition
    * pruning bounds the sigs read by the candidate set — without it
    * the verify step rescanned every signature batch per probe even
    * though the band side was pruned. */
  def sigBucket(id: Column): Column =
    pmod(id, lit(BandBuckets.toLong)).cast("int")

  /** Build a persisted MinHash dedup index under `dir`: `sigs`
    * (doc_id, sig) and `bands` (doc_id, band_id, band_hash),
    * hive-partitioned on `bucket = band_hash % BandBuckets` so
    * steady-state probes are partition-pruned to the delta's buckets
    * — the full index is never rescanned. An index holds 8·numPerm
    * bytes + 16 band rows per doc — ~0.5 KB/doc regardless of
    * document size, so the nightly-dedup working set is signatures,
    * never corpus text.
    *
    * The corpus is signed ONCE: the signed frame is persisted
    * (signature-sized, ~0.5 KB/doc) and feeds sigs AND bands — no
    * parquet read-back, so one batch's sigs and bands always come
    * from the same data. In append mode the delta is anti-joined
    * against the indexed doc_ids first: re-appending an id would
    * otherwise duplicate its signature and band rows and inflate
    * every later probe. Bands are written BEFORE sigs — the sigs
    * write is the commit record (the anti-join guard keys on it), so
    * a crash between the two writes leaves only orphan band rows,
    * which probes drop when candidates inner-join back to sigs. */
  def buildLshIndex(documents: DataFrame, dir: String, shingleK: Int = 3,
                    numPerm: Int = 64, bands: Int = 16,
                    append: Boolean = false): Unit = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // appending into an empty dir is a fresh build (also what a retry
    // of a crashed FIRST append needs — no sigs yet means no guard)
    val appending = append && new java.io.File(s"$dir/sigs").exists
    val mode = if (appending) "append" else "overwrite"
    val spark = documents.sparkSession
    val signedAll = documents.select(col("doc_id"),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val delta =
      if (appending)
        signedAll.join(spark.read.parquet(s"$dir/sigs").select("doc_id"),
          Seq("doc_id"), "left_anti")
      else signedAll
    Materialize.withPersist(delta) { signed =>
      lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
        .withColumn("bucket", bandBucket.cast("int"))
        .repartition(col("bucket"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/bands")
      signed.withColumn("sbucket", sigBucket(col("doc_id")))
        .repartition(col("sbucket"))
        .write.mode(mode).partitionBy("sbucket").parquet(s"$dir/sigs")
    }
  }

  /** Dedup a delta batch against a persisted index WITHOUT touching
    * base text: sign the delta (map-only), probe the index's band
    * buckets (the delta's band rows broadcast — the big side never
    * reshuffles), then verify candidates by MinHash-ESTIMATED Jaccard
    * = fraction of equal signature components (exact integer count,
    * one final division — bit-portable). Emits (base_id, delta_id)
    * pairs at estimate ≥ threshold; delta-internal dups are a plain
    * [[minhashLsh]] over the batch. */
  def dedupAgainstIndex(delta: DataFrame, dir: String, shingleK: Int = 3,
                        numPerm: Int = 64, bands: Int = 16,
                        threshold: Double = 0.5): DataFrame =
    dedupSignedAgainstIndex(
      delta.select(col("doc_id"),
        minhashSignature(shingles(col("text"), shingleK), numPerm)
          .as("sig")),
      dir, numPerm, bands, threshold)

  /** [[dedupAgainstIndex]] over an already-signed delta
    * (doc_id, sig) — the streaming micro-batch path signs once and
    * feeds both the probe and the index append.
    *
    * The probe is PARTITION-PRUNED: the delta's band hashes are
    * collected (broadcast-small by contract) and only the matching
    * `bucket=` directories of the index are listed and read —
    * steady-state cost is O(delta's buckets), not O(index). When the
    * caller is a retried micro-batch that may have already appended
    * its own signatures (`excludeBatch`), the probe also filters out
    * that `batch=` partition, so a doc never pairs with itself and
    * intra-batch pairs are never double-reported as cross pairs. */
  def dedupSignedAgainstIndex(signedDelta: DataFrame, dir: String,
                              numPerm: Int, bands: Int,
                              threshold: Double,
                              excludeBatch: Option[Long] = None): DataFrame = {
    val spark = signedDelta.sparkSession
    val signed = signedDelta.select(col("doc_id").as("delta_id"),
      col("sig").as("delta_sig"))
    val deltaBands = lshBands(signed, "delta_id", "delta_sig",
      bands, numPerm / bands)
    // the delta side is small by contract (it broadcasts below), so
    // its distinct bucket set is a handful of ints — collect it for a
    // STATIC PartitionFilter on the index read
    val probedBuckets = deltaBands
      .select(bandBucket.cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    val bandsRead = spark.read.parquet(s"$dir/bands")
      .filter(col("bucket")
        .isin(probedBuckets.toIndexedSeq.map(Integer.valueOf): _*))
    val cand = excludeBatch.fold(bandsRead)(b =>
        bandsRead.filter(col("batch") =!= b))
      .join(broadcast(deltaBands), Seq("band_id", "band_hash"))
      .select(col("doc_id").as("base_id"), col("delta_id")).distinct()
    // the verify join carries the sigs partition column: candidates
    // broadcast, so dynamic partition pruning bounds the signature
    // read by the candidate set — like the band side, the sigs tree
    // is never rescanned whole as the index grows
    val baseSigs = spark.read.parquet(s"$dir/sigs")
      .select(col("doc_id").as("base_id"), col("sbucket"), col("sig"))
    broadcast(cand.withColumn("sbucket", sigBucket(col("base_id"))))
      .join(baseSigs, Seq("base_id", "sbucket"))
      .drop("sbucket")
      .join(broadcast(signed), "delta_id")
      .withColumn("n_eq",
        aggregate(zip_with(col("sig"), col("delta_sig"),
          (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x))
      .withColumn("est_jaccard", col("n_eq").cast("double") / numPerm)
      .filter(col("est_jaccard") >= threshold)
      .select(col("base_id"), col("delta_id"), col("est_jaccard"))
      .distinct()
  }

  /** MinHash-ESTIMATED near-dup pairs (id_a < id_b) within one signed
    * corpus: LSH bucket candidates + equal-component fraction — the
    * verification-free twin of [[minhashLsh]], for when the text is
    * unavailable or a second corpus scan unaffordable (micro-batches,
    * signature-only indexes). */
  def estimatePairsSigned(signed: DataFrame, numPerm: Int, bands: Int,
                          threshold: Double): DataFrame = {
    val banded = lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
    val cands = lshCandidates(banded, "doc_id")
    cands
      .join(signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("n_eq",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x))
      .withColumn("est_jaccard", col("n_eq").cast("double") / numPerm)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** One-pass LSH parameter sweep: the corpus is shingled and signed
    * exactly ONCE into a materialized signature table (~0.5 KB/doc —
    * a rounding error next to the text), then every candidate
    * (bands × rowsPerBand) factorization is evaluated from the
    * signatures alone. This is the tuning question every dedup
    * deployment asks — "how do candidate volume and surviving pairs
    * move as I trade precision for recall?" — and at 100 TB the only
    * affordable way to answer it: signing is the dominant cost of the
    * whole MinHash family, so the sweep must never re-touch text.
    * One summary row per config: (bands, rows_per_band,
    * n_candidates, n_dup_pairs). */
  def paramSweep(documents: DataFrame, stagingDir: String,
                 shingleK: Int = 3, numPerm: Int = 64,
                 bandConfigs: Seq[Int] = Seq(8, 16, 32),
                 threshold: Double = 0.5): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b => numPerm % b == 0),
      s"every bands config must divide numPerm=$numPerm")
    val spark = documents.sparkSession
    documents.select(col("doc_id"),
        minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
      .write.mode("overwrite").parquet(stagingDir)
    val signed = spark.read.parquet(stagingDir)
    bandConfigs.map { b =>
      estimatePairsSigned(signed, numPerm, b, threshold = 0.0)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("est_jaccard") >= threshold, 1L).otherwise(0L))
            .as("dups"))
        .select(lit(b).as("bands"), lit(numPerm / b).as("rows_per_band"),
          col("n_candidates"),
          coalesce(col("dups"), lit(0L)).as("n_dup_pairs"))
    }.reduce(_.unionByName(_))
  }

  /** Estimated-Jaccard distribution over LSH candidate pairs — the
    * threshold-tuning curve from ONE signing + candidate pass: how
    * many pairs sit at each estimate level, and how many survive any
    * given cutoff (`n_pairs_at_or_above`). est_ppm = ⌊est·10⁶⌋ is
    * exact integer arithmetic in disguise (est = m/numPerm with m an
    * integer match count), so the histogram is bit-portable. The
    * cumulative window runs over ≤ numPerm+1 aggregated rows — a
    * driver-sized frame, not the pair set. */
  def thresholdCurve(documents: DataFrame, shingleK: Int = 3,
                     numPerm: Int = 64, bands: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val signed = documents.select(col("doc_id"),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val g = estimatePairsSigned(signed, numPerm, bands, threshold = 0.0)
      .select(floor(col("est_jaccard") * 1000000L).cast("long").as("est_ppm"))
      .groupBy(col("est_ppm")).agg(count(lit(1)).as("n_pairs"))
    g.withColumn("n_pairs_at_or_above",
      sum(col("n_pairs")).over(Window.orderBy(col("est_ppm").desc)))
  }

  /** Cross-document duplicate substring spans ("Deduplicating
    * Training Data Makes Language Models Better"-style substring
    * dedup, token granularity): every maximal run of k-gram positions
    * whose k-gram also occurs in ANOTHER document, emitted per doc as
    * (span_start, span_end, n_tokens, n_dup_grams) — the input for
    * cut-the-span corpus cleaning, where doc-level dedup keeps the
    * doc but the boilerplate paragraph inside it must still go.
    *
    * Scale shape: k-grams hash to 8-byte keys, so the duplicate-type
    * discovery is a map-side-combined count shuffle over hashes
    * (never text); hits come back via a semi join on the hash; the
    * gaps-and-islands merge is a per-document window (bounded by doc
    * length). Corpus text is scanned exactly once. */
  def duplicateSpans(documents: DataFrame, k: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = documents.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("doc_len"),
      posexplode(transform(shingles(col("text"), k), sha60(_)))
        .as(Seq("pos", "h")))
    val dupTypes = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dupTypes, Seq("h"), "left_semi")
      // gaps-and-islands: consecutive duplicated positions share
      // (pos - row_number), each island is one maximal span
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      // span_end caps at the document's last token: a sub-k doc
      // matched via the whole-doc shingle fallback would otherwise
      // report a span overshooting the doc
      .agg(min(col("pos")).cast("long").as("span_start"),
        least(max(col("pos")) + lit(k - 1), max(col("doc_len")) - 1)
          .cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("n_tokens", col("span_end") - col("span_start") + 1)
      .select("doc_id", "span_start", "span_end", "n_tokens",
        "n_dup_grams")
  }

  /** Span-cut corpus cleaning: drop every token covered by a
    * [[duplicateSpans]] cross-document duplicate span and reassemble
    * the survivors in position order — the doc-preserving counterpart
    * of doc-level dedup (the doc stays; its boilerplate paragraph
    * goes). Docs cleaned to nothing still emit a row (empty
    * text_clean), so the output is corpus-cardinality.
    *
    * Scale shape: covered positions explode to the DUPLICATED token
    * mass only; the cut is a co-partitioned (doc_id, pos) anti-join;
    * reassembly re-groups per doc with a struct sort bounded by doc
    * length (the paragraphDedup anti-join discipline at token
    * granularity). */
  def spanClean(documents: DataFrame, k: Int = 6): DataFrame = {
    val spans = duplicateSpans(documents, k)
    // islands are disjoint by construction — no distinct needed
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = documents.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("tok"))
    val re = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("text_clean"),
        count(lit(1)).as("n_tokens_kept"))
    documents
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
  }

  /** Fuzzy benchmark decontamination: every train doc whose MinHash
    * signature LSH-collides with a benchmark doc at estimated Jaccard
    * ≥ threshold, summarized per train doc (hit count + max overlap) —
    * the near-duplicate complement of the exact n-gram
    * [[contamination]] check (FineWeb/Dolma-style decontamination runs
    * BOTH: exact overlap for verbatim leaks, MinHash for paraphrased
    * or lightly-edited leaks).
    *
    * Scale shape: the benchmark set is small by definition, so its
    * bands and signatures broadcast; the train corpus is signed ONCE
    * and its band rows CARRY the signature through the (map-side)
    * broadcast collision join — no second corpus scan, no
    * corpus-sized shuffle join anywhere. A pair colliding in several
    * bands scores identically each time, so the distinct runs on the
    * (small) scored pair, mirroring annLsh. */
  def contaminationFuzzy(documents: DataFrame, benchPred: Column,
                         shingleK: Int = 3, numPerm: Int = 64,
                         bands: Int = 16,
                         threshold: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val sigOf = (d: DataFrame, idAs: String) => d.select(
      col("doc_id").as(idAs),
      minhashSignature(shingles(col("text"), shingleK), numPerm).as("sig"))
    val benchSigs = sigOf(documents.filter(benchPred), "bench_id")
    val benchBands = lshBands(benchSigs, "bench_id", "sig",
      bands, numPerm / bands)
    val trainBandSig = lshBands(sigOf(documents.filter(!benchPred),
      "train_id"), "train_id", "sig", bands, numPerm / bands,
      keep = Seq("sig"))
    trainBandSig
      .join(broadcast(benchBands), Seq("band_id", "band_hash"))
      .join(broadcast(benchSigs.withColumnRenamed("sig", "sig_b")),
        "bench_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig"), col("sig_b"),
          (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numPerm)
      .filter(col("est_jaccard") >= threshold)
      .select("train_id", "bench_id", "est_jaccard").distinct()
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("est_jaccard")).as("max_est_jaccard"))
  }

  /** Bloom-prefiltered incremental exact dedup: the new documents of
    * `incoming` relative to `base`, by portable 60-bit content hash —
    * with the shuffle anti-join paid ONLY by rows the bloom filter
    * cannot rule out. A bloom filter has no false negatives, so a
    * miss proves the document is new and those rows skip the join
    * entirely; the (dup-rate + fpp) fraction that might match is
    * verified exactly. Result is IDENTICAL to the plain anti-join —
    * the filter routes, it never decides (false positives die in the
    * join), which is what keeps the output oracle-checkable.
    *
    * Scale shape: at a steady-state ingest where most arrivals are
    * new, the anti-join exchange shrinks from |incoming| to
    * ~(dup + fpp)·|incoming| rows of 16-byte pairs; the filter
    * itself is ~1 byte/base-doc (the [[RuntimeFilter]] economics,
    * applied to content hashes instead of join keys). In production
    * the base hash set would be the persisted dedup index
    * ([[buildLshIndex]]'s sigs frame); here it is derived inline. */
  def bloomIngestDedup(base: DataFrame, incoming: DataFrame,
                       expectedItems: Long = -1L,
                       fpp: Double = 0.03): DataFrame = {
    val baseHashes = base.select(sha60(col("text")).as("content_hash"))
    // auto-size by default: a fixed capacity silently degrades fpp —
    // and with it the whole routing benefit — once the base outgrows
    // it (the count is one statistics-cheap aggregate next to the
    // filter-build scan itself)
    val capacity =
      if (expectedItems > 0) expectedItems
      else math.max(base.count(), 1024L)
    val bloomBytes = RuntimeFilter.keyBloom(baseHashes, "content_hash",
      capacity, fpp)
    val inc = incoming.select(col("doc_id"),
      sha60(col("text")).as("content_hash"))
    val probe = RuntimeFilter.mightContain(base.sparkSession,
      col("content_hash"), bloomBytes)
    // miss ⇒ provably new (no bloom false negatives): map-only pass
    val definitelyNew = inc.filter(!probe)
    // possible hit ⇒ exact verification via anti-join on the hash
    val verified = inc.filter(probe)
      .join(baseHashes, Seq("content_hash"), "left_anti")
    definitelyNew.unionByName(verified)
      .select("doc_id", "content_hash")
  }

  /** Bloom-filter health audit — the approx_distinct/quantile-audit
    * pattern applied to the ingest-dedup routing filter: build the
    * bloom on a member set, probe with a DISJOINT set, and publish
    * exact set sizes plus the false-positive CONTRACT (measured fpp ≤
    * 3× configured — the raw measured count is a function of the
    * engine's bloom layout, the contract is what routing efficiency
    * depends on). Bit-array insertion is order-independent (OR), so
    * the measurement is deterministic under any partitioning.
    *
    * Scale: build = one aggregate over member hashes; probe =
    * map-only against the broadcast filter; verification anti-join
    * guards the ~2⁻⁶⁰-probability hash-collision case so "false"
    * positives are counted against true membership, not hash luck. */
  def bloomFppAudit(documents: DataFrame, fpp: Double = 0.03): DataFrame = {
    val keyed = documents.select(col("doc_id"),
      sha60(concat(lit("fpp:"), col("doc_id").cast("string")))
        .as("content_hash"))
    val members = keyed.filter(col("doc_id") % 3 =!= 0)
      .select("content_hash")
    val probes = keyed.filter(col("doc_id") % 3 === 0)
      .select("content_hash")
    val nBase = members.count()
    val bloomBytes = RuntimeFilter.keyBloom(members, "content_hash",
      math.max(nBase, 1024L), fpp)
    val mightContain = RuntimeFilter.mightContain(documents.sparkSession,
      col("content_hash"), bloomBytes)
    val hits = probes.filter(mightContain)
      .join(members, Seq("content_hash"), "left_anti")
    val fppPpm = math.round(fpp * 1000000).toInt
    hits.agg(count(lit(1)).as("n_false_positive"))
      .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
      .select(lit(nBase).as("n_base"), col("n_probes"),
        lit(fppPpm.toLong).as("fpp_configured_ppm"),
        (col("n_false_positive") * lit(1000000L) <=
          col("n_probes") * lit(3L * fppPpm)).as("fpp_ok"))
  }

  /** Degree distribution of the near-duplicate pair graph — the
    * structural audit BETWEEN pair generation ([[minhashLsh]]) and
    * clustering ([[graft.operators.Clusters]]): a healthy corpus has
    * mostly degree-0/1 documents; a heavy tail means hub documents
    * (boilerplate, templates) are about to glue unrelated clusters
    * into one giant component — the classic near-dedup failure mode
    * this histogram catches BEFORE the transitive closure pays for
    * it. Emits (degree, n_docs) including the degree-0 mass (the
    * denominator that makes the tail interpretable).
    *
    * All integer counts. Scale shape: degrees are one groupBy over
    * pair ENDPOINTS (2·|pairs| rows — already bounded by the banded
    * LSH), the zero-mass join is id-keyed, the histogram is a
    * |distinct degrees|-row map-side-combined aggregate. */
  def nearDupDegrees(documents: DataFrame, shingleK: Int = 3,
                     numPerm: Int = 64, bands: Int = 16,
                     threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLsh(documents, shingleK, numPerm, bands, threshold)
    val ends = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
    val deg = ends.groupBy("doc_id").agg(count(lit(1)).as("d"))
    documents.select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
  }
}
