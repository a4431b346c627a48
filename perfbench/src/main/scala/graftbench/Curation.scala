package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, SetJoin, TextAnalysis, VersionedTable}

/** `llm_curation`: one pass = quality/language/repetition filter →
  * exact dedup → MinHash-LSH near-dup drop → exact set-similarity join
  * (the audit of the LSH stage) → semantic dedup over embeddings, each
  * stage's output written with `VersionedTable.write`. The seeded
  * corpus carries known exact copies, near copies made by token edits
  * (true Jaccard computed here), paraphrases that only their
  * embeddings betray, and docs the filter must drop. The semantic
  * stage's IVF quantizer is trained once per corpus and then reused
  * (`cacheKey`), as a curation job freezes it across passes. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  import ctx.{spark, tracer}

  val name = "llm_curation"
  val opSeries = "pass"

  private val gen = ctx.path("gen")
  private var rep = 0
  private def docsPath = ctx.path(s"docs$rep")
  private def embPath = ctx.path(s"emb$rep")
  private def stagePath(s: String) = ctx.path(s"stages/$s")

  private var exactCopies = Seq.empty[(Long, Long)]
  /** (original, near copy, true Jaccard of word 3-shingle sets) */
  private var nearPairs = Seq.empty[(Long, Long, Double)]
  private var inputHash = ""
  private val outputHashes = mutable.ArrayBuffer[String]()
  private var nearRecall = Double.NaN
  private var nDocs = 0

  def inputSummary: String =
    s"$nDocs docs ($BaseDocs base, $ExactCopies exact copies, $NearCopies " +
      s"near copies, $Paraphrases paraphrases, $Spam repetitive, $Short " +
      s"short), embeddings dim $Dim" +
      (if (inputHash.isEmpty) "" else s"; input hash $inputHash")

  def generate(): Unit = {
    val g = new java.util.SplittableRandom(ctx.seed * 31L + 17L)
    val reserved = (TextAnalysis.Stopwords ++
      TextAnalysis.LangMarkers.flatMap(_._2)).toSet
    val vocab = Iterator.continually {
      val n = 3 + g.nextInt(7)
      (0 until n).map(_ => ('a' + g.nextInt(26)).toChar).mkString
    }.filterNot(reserved).distinct.take(VocabSize).toIndexedSeq
    val stops = Seq("the", "of", "and", "is", "to", "in", "a", "it")
    def word(): String =
      if (g.nextInt(100) < 30) stops(g.nextInt(stops.size))
      else vocab(g.nextInt(vocab.size))
    def doc(n: Int) = IndexedSeq.fill(n)(word())
    def vec(): Array[Double] = Array.fill(Dim)(g.nextGaussian())
    def near(v: Array[Double]) = v.map(_ + NoiseScale * g.nextGaussian())

    val texts = mutable.ArrayBuffer[IndexedSeq[String]]()
    val embs = mutable.ArrayBuffer[Array[Double]]()
    def add(t: IndexedSeq[String], e: Array[Double]): Long = {
      texts += t; embs += e; texts.size - 1L
    }
    (0 until BaseDocs).foreach(_ => add(doc(MinTokens + g.nextInt(MaxTokens - MinTokens)), vec()))
    def base() = g.nextInt(BaseDocs)
    exactCopies = (0 until ExactCopies).map { _ =>
      val o = base(); o.toLong -> add(texts(o), embs(o).clone())
    }
    nearPairs = (0 until NearCopies).map { _ =>
      val o = base()
      val t = texts(o).toBuffer
      (0 until 1 + g.nextInt(MaxEdits)).foreach { _ =>
        g.nextInt(3) match {
          case 0 => t(g.nextInt(t.size)) = vocab(g.nextInt(vocab.size))
          case 1 => t.insert(g.nextInt(t.size), vocab(g.nextInt(vocab.size)))
          case _ => if (t.size > MinTokens) t.remove(g.nextInt(t.size))
        }
      }
      val c = add(t.toIndexedSeq, near(embs(o)))
      (o.toLong, c, jaccard(texts(o), texts(c.toInt)))
    }
    (0 until Paraphrases).foreach { _ =>
      add(doc(MinTokens + g.nextInt(MaxTokens - MinTokens)), near(embs(base())))
    }
    (0 until Spam).foreach { _ =>
      val phrase = doc(3)
      add(IndexedSeq.fill(12)(phrase).flatten ++ doc(20), vec())
    }
    (0 until Short).foreach(_ => add(doc(5 + g.nextInt(10)), vec()))
    nDocs = texts.size

    val docRows = texts.indices.map(i =>
      Row(i.toLong, texts(i).mkString(" "), "en", s"src${i % 7}"))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), DocSchema)
      .repartition(ctx.cores).write.mode("overwrite").parquet(s"$gen/documents")
    val embRows = embs.indices.map(i =>
      Row(i.toLong, embs(i).map(_.toFloat).toSeq))
    spark.createDataFrame(java.util.Arrays.asList(embRows: _*), EmbSchema)
      .repartition(ctx.cores).write.mode("overwrite").parquet(s"$gen/embeddings")
    val d = spark.read.parquet(s"$gen/documents")
    if (tracer.traced) inputHash = RowHash.of(d, d.columns.toSeq) + "/" +
      RowHash.of(spark.read.parquet(s"$gen/embeddings").select(
        col("vec_id"), to_json(col("embedding")).as("e")), Seq("vec_id", "e"))
  }

  def load(r: Int): Unit = {
    rep = r
    VersionedTable.write(spark.read.parquet(s"$gen/documents"), docsPath)
    VersionedTable.write(spark.read.parquet(s"$gen/embeddings"), embPath)
  }

  def keepLastLoad(): Unit = (0 until rep).foreach { r =>
    Seq(s"docs$r", s"emb$r").foreach(ctx.delete)
  }

  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** Compute a stage's output inside its span, then write it as the
    * stage table's next version in a span of its own. */
  private def stage(spanName: String, table: String)(body: => DataFrame): DataFrame = {
    val out = tracer.span(spanName)(materialize(body))
    tracer.span("VersionedTable.write")(VersionedTable.write(out, stagePath(table)))
    out
  }

  def step(): Unit = {
    val cached = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame) = { cached += df; df }
    var outputs: Option[(DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)] = None
    try {
      ctx.timed("pass") {
        val docs = VersionedTable.read(spark, docsPath)
        val filtered = keep(stage("TextAnalysis.score", "filtered") {
          val q = TextAnalysis.quality(docs).select("doc_id", "quality_score")
          val l = TextAnalysis.langId(docs).select("doc_id", "predicted_lang")
          val rp = TextAnalysis.repetition(docs).select("doc_id", "is_repetitive")
          docs.join(q, "doc_id").join(l, "doc_id").join(rp, "doc_id")
            .filter(col("quality_score") >= MinQuality &&
              col("predicted_lang") === col("lang") && !col("is_repetitive"))
            .select("doc_id", "text")
        })
        val unique = keep(stage("Dedup.exact", "exact") {
          filtered.join(Dedup.exact(filtered).select(col("keep_doc_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
        })
        val (lshPairs, nearKept) = tracer.span("Dedup.minhash") {
          val p = keep(materialize(Dedup.minhashLsh(unique, threshold = Threshold)))
          p -> keep(materialize(unique.join(p.select(col("id_b").as("doc_id")),
            Seq("doc_id"), "left_anti")))
        }
        tracer.span("VersionedTable.write")(VersionedTable.write(nearKept, stagePath("near")))
        val exactPairs = keep(stage("SetJoin.exact", "audit") {
          SetJoin.similarityJoinExact(unique, tNum = ThresholdNum, tDen = ThresholdDen)
            .select("a_id", "b_id", "n_inter", "n_union")
        })
        val curated = keep(stage("Dedup.semantic", "curated") {
          val emb = VersionedTable.read(spark, embPath)
            .join(nearKept.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          Dedup.semdedupKeep(emb, threshold = SemThreshold,
            cacheKey = Some(s"perfbench-${ctx.seed}-$rep"))
        })
        outputs = Some((filtered, unique, lshPairs, exactPairs, curated))
      }
      outputs.foreach { case (f, u, l, e, c) =>
        try checkPass(f, u, l, e, c)
        catch { case x: IllegalStateException => ctx.fail(x.getMessage) }
      }
    } finally cached.foreach(_.unpersist())
  }

  /** Per-pass output checks over the pass's cached stage outputs. */
  private def checkPass(filtered: DataFrame, unique: DataFrame,
                        lshPairs: DataFrame, exactPairs: DataFrame,
                        curated: DataFrame): Unit = {
    val present = filtered.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = unique.select("doc_id").collect().map(_.getLong(0)).toSet
    val copies = exactCopies.filter { case (o, c) => present(o) && present(c) }
    val exactRecall = copies.count { case (o, c) => kept(o) != kept(c) }.toDouble /
      math.max(1, copies.size)
    val lsh = lshPairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = nearPairs.filter { case (o, c, j) =>
      j >= Threshold && kept(o) && kept(c) }
    nearRecall = truePairs.count { case (o, c, _) => lsh((o, c)) }.toDouble /
      math.max(1, truePairs.size)
    val exactJoinMissing = truePairs.count { case (o, c, _) => !exact((o, c)) }
    if (tracer.traced) {
      tracer.record("SetJoin.exact.pairs_out", exact.size.toDouble)
      tracer.record("Dedup.semantic.dropped",
        curated.filter(!col("kept")).count().toDouble)
    }
    outputHashes += RowHash.of(curated, Seq("vec_id", "cluster", "kept")) +
      s"/${lsh.size}/${exact.size}"
    if (exactRecall != 1.0) throw new IllegalStateException(s"exact-copy recall $exactRecall")
    if (exactJoinMissing > 0) throw new IllegalStateException(
      s"SetJoin missed $exactJoinMissing injected pairs at or above the threshold")
  }

  def check(): Unit = {
    if (outputHashes.distinct.size > 1)
      ctx.fail(s"curated output differs between passes: ${outputHashes.distinct.mkString(", ")}")
    outputHashes.headOption.foreach(h => println(s"[perfbench] curated output hash $h"))
  }

  def metrics(): Seq[Metric] = {
    val p = ctx.series.get("pass")
    Seq(
      Metric("curate_docs_per_s", nDocs / Stats.median(p), "docs/s",
        s"$nDocs docs / median pass ${Stats.median(p)} s"),
      Metric("near_dup_recall", nearRecall, "ratio",
        s"${nearPairs.count(_._3 >= Threshold)} injected pairs at J>=$Threshold"))
  }

  /** LSH candidates and verified pairs, recomputed outside the timed
    * passes with `minhashLsh`'s default signature and banding. */
  override def layerCounters(): Unit = {
    val docs = VersionedTable.read(spark, stagePath("exact"))
    val signed = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"))
    val cands = Dedup.lshCandidates(
      Dedup.lshBands(signed, "doc_id", "sig", 16, 4), "doc_id").count()
    tracer.record("Dedup.minhash.candidate_pairs", cands.toDouble)
    val pairs = Dedup.minhashLsh(docs, threshold = Threshold).count()
    tracer.record("Dedup.minhash.verified_frac", pairs.toDouble / math.max(1L, cands))
    val v = VersionedTable.latestVersion(stagePath("curated")).get
    tracer.record("VersionedTable.snapshot_files",
      VersionedTable.manifestEntries(stagePath("curated"), v).size.toDouble)
    tracer.record("VersionedTable.log_entries",
      VersionedTable.versions(stagePath("curated")).size.toDouble)
  }
}

object Curation {
  val BaseDocs = 700
  val ExactCopies = 70
  val NearCopies = 90
  val Paraphrases = 35
  val Spam = 20
  val Short = 10
  val VocabSize = 4000
  val MinTokens = 60
  val MaxTokens = 140
  val MaxEdits = 14
  val Dim = 32
  val NoiseScale = 0.15
  val MinQuality = 0.3
  val Threshold = 0.5
  val ThresholdNum = 1
  val ThresholdDen = 2
  val SemThreshold = 0.9
  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType)))
  val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Jaccard of the distinct word 3-shingle sets (the stage's own
    * shingling: single-space tokens, whole doc when shorter than 3). */
  def jaccard(a: IndexedSeq[String], b: IndexedSeq[String]): Double = {
    def sh(t: IndexedSeq[String]) =
      if (t.size < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
