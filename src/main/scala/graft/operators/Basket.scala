package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Materialize.Pinnable

/** Market-basket co-occurrence mining — the association-rule
  * front-end (Agrawal & Srikant 1994 support/lift, pair form): which
  * parts ship together in the same order more often than independence
  * predicts. Reference scope: the gold analytics family (the
  * recommendation/affinity complement of gold_part_type_revenue).
  *
  * Scale: pair expansion is per-basket, Σ k·(k−1)/2 over baskets —
  * bounded by (max basket size)·|lineitem|, never corpus² — and runs
  * AFTER a distinct that collapses repeated (order, part) lines, so a
  * part ordered twice in one basket counts once. A `maxBasket` guard
  * drops degenerate mega-baskets before expansion (the hot-bucket
  * idiom): a single pathological order cannot go quadratic. Item
  * counts are one map-side-combined shuffle; the basket total is a
  * single bounded driver scalar (same budget as the cluster
  * convergence checks). Lift is integer counts until one fixed
  * left-associated double expression, mirrored token-for-token by the
  * oracle.
  */
object Basket {

  /** Co-occurring part pairs over order baskets with support counts
    * and lift = P(a,b) / (P(a)·P(b)) in basket space:
    * (part_a, part_b, n_co, n_a, n_b, lift). */
  def marketBasket(lineitem: DataFrame, minSupport: Long = 2L,
                   maxBasket: Int = 64): DataFrame = {
    val items = lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("pk")).distinct()
    // one explicit exchange on okey shared by the size census and the
    // basket collect (the lshCandidates idiom, [[Dedup.capBuckets]]):
    // over-cap baskets are dropped BEFORE their arrays are built,
    // lineitem is read once, and the in-basket pair expansion replaces
    // the old okey self-join — the basket frame shuffles once
    val baskets = Dedup.capBuckets(items.repartition(col("okey")),
        Seq("okey"), maxBasket)
      .groupBy(col("okey"))
      .agg(sort_array(collect_list(col("pk"))).as("ids"))
      .pin(true)
    // one bounded driver scalar: the basket universe size for lift
    val nBaskets = baskets.count()
    val pairs = baskets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minSupport)
    val counts = baskets.select(explode(col("ids")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
    pairs
      .join(counts.select(col("pk").as("part_a"), col("n").as("n_a")),
        "part_a")
      .join(counts.select(col("pk").as("part_b"), col("n").as("n_b")),
        "part_b")
      .select(col("part_a"), col("part_b"), col("n_co"), col("n_a"),
        col("n_b"),
        (col("n_co").cast("double") * lit(nBaskets.toDouble) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }
}
