package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Materialize.Pinnable

/** TextRank keyword scoring — PageRank over the word co-occurrence
  * graph (Mihalcea & Tarau 2004): vertices are corpus tokens, edges
  * connect words that appear adjacent anywhere in the corpus, and the
  * stationary importance score surfaces keywords that plain frequency
  * misses (a rare word adjacent to many hub words outranks a frequent
  * word in a repetitive context). Reference scope: the builder-brief
  * text-analysis family (keyword extraction next to tfidf_topterms,
  * word_pmi).
  *
  * Determinism: the entire iteration is 63-bit integer arithmetic in
  * parts-per-billion — rank(v) = (1-d)/N + d·Σ rank(u)/deg(u) becomes
  * `150000000 div N + (85 * Σ (rank_u div deg_u)) div 100` with every
  * division a truncating integer div and every Σ an order-independent
  * long sum. No float enters the fixpoint, so a fixed iteration count
  * is bit-identical across engines, partitionings and retries; the
  * DuckDB oracle unrolls the same three iterations as CTEs.
  *
  * Scale: the edge set (distinct symmetrized adjacent pairs — bounded
  * by vocabulary², in practice ~|vocab|·avg-degree) is built in one
  * corpus scan and persisted; each iteration is two bounded shuffles
  * (contributions keyed on dst + the rank join keyed on word), both
  * over |V|/|E| rows — the 100 TB corpus is read exactly once no
  * matter how many iterations run. Mass truncated by integer division
  * is lost, not redistributed: scores are a deterministic lower
  * fixpoint, which is fine for the ranking use.
  */
object TextRank {

  /** Ranks every corpus token; returns (word, deg, rank_ppb) with
    * rank_ppb the damped-PageRank score in parts-per-billion after
    * `iters` synchronous rounds over the co-occurrence graph. */
  def textRank(documents: DataFrame, iters: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    val toks = documents.select(split(col("text"), " ").as("w"))
    val prs = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), " +
          "i -> struct(w[i] as a, w[i+1] as b))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .filter(col("a") =!= col("b"))
    val edgeFrame = prs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(prs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    Materialize.withPersist(edgeFrame) { edges =>
      val deg = edges.groupBy(col("src").as("word"))
        .agg(count(lit(1)).as("deg"))
      val verts = toks.select(explode(col("w")).as("word")).distinct()
        .join(deg, Seq("word"), "left")
        .select(col("word"), coalesce(col("deg"), lit(0L)).as("deg"))
      // |vocab| is the one driver scalar (same bounded-scalar budget as
      // the cluster-convergence checks): the integer base rank needs N
      val n = verts.count()
      if (n == 0) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("word",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("deg",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rank_ppb",
              org.apache.spark.sql.types.LongType))))
      else {
        val rank0 = 1000000000L / n
        val base = 150000000L / n
        // each round materializes once via an eager pin (the CC-loop
        // discipline, optimization r14): the old persist + count() pair
        // cost the same one job but left the round's full logical plan in
        // place (ranks appears twice per round — plan size doubled each
        // round) and a CacheManager entry to clean up; the pin truncates
        // to a LogicalRDD and frees through the ContextCleaner
        var ranks = verts
          .withColumn("rank_ppb", lit(rank0))
          .pin(eager = true)
        for (_ <- 1 to iters) {
          // rank_ppb ≤ 1e9 and deg ≥ 1 on every edge row, so the damped
          // sum is ≤ 85e9 — far inside long range
          val contrib = edges
            .join(ranks.select(col("word").as("src"), col("deg").as("sdeg"),
              col("rank_ppb")), "src")
            .select(col("dst"), expr("rank_ppb div sdeg").as("c"))
            .groupBy(col("dst").as("word")).agg(sum(col("c")).as("s"))
          ranks = ranks.select("word", "deg")
            .join(contrib, Seq("word"), "left")
            .select(col("word"), col("deg"),
              (lit(base) + expr("(85 * coalesce(s, 0L)) div 100"))
                .as("rank_ppb"))
            .pin(eager = true)
        }
        ranks
      }
    }
  }

  /** The DuckDB oracle: the same three integer-ppb iterations
    * unrolled as CTEs (r0 → c1/r1 → c2/r2 → c3/r3). */
  def textRankSql(iters: Int = 3): String = {
    val head = """
      WITH toks AS (SELECT string_split(text, ' ') as w FROM documents),
      prs AS (
        SELECT p['a'] as a, p['b'] as b FROM (
          SELECT unnest(list_transform(range(greatest(len(w) - 1, 0)),
                   i -> {'a': w[i+1], 'b': w[i+2]})) as p
          FROM toks)
        WHERE p['a'] <> p['b']),
      edges AS (
        SELECT a as src, b as dst FROM prs
        UNION
        SELECT b as src, a as dst FROM prs),
      deg AS (SELECT src as word, count(*) as deg FROM edges GROUP BY 1),
      nv AS (SELECT count(*) as n
             FROM (SELECT DISTINCT unnest(w) as word FROM toks)),
      r0 AS (
        SELECT v.word, coalesce(d.deg, 0) as deg,
          (SELECT 1000000000 // n FROM nv) as rank_ppb
        FROM (SELECT DISTINCT unnest(w) as word FROM toks) v
          LEFT JOIN deg d ON d.word = v.word)"""
    val iterations = (1 to iters).map { i =>
      s""",
      c$i AS (
        SELECT e.dst as word, cast(sum(r.rank_ppb // r.deg) as bigint) as s
        FROM edges e JOIN r${i - 1} r ON r.word = e.src GROUP BY 1),
      r$i AS (
        SELECT r.word, r.deg,
          cast((SELECT 150000000 // n FROM nv)
            + (85 * coalesce(c.s, 0)) // 100 as bigint) as rank_ppb
        FROM r${i - 1} r LEFT JOIN c$i c ON c.word = r.word)"""
    }.mkString
    s"$head$iterations\n      SELECT word, deg, rank_ppb FROM r$iters"
  }
}
