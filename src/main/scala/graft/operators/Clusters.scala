package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Materialize.Pinnable

/** Connected components over near-duplicate pairs — the step that
  * turns pairwise dedup output (MinHash-LSH / SimHash / embedding
  * pairs) into KEEP/DROP decisions. Pairs alone can't drive dedup:
  * with A~B and B~C but not A~C, dropping "the second of every pair"
  * removes B twice and keeps both A and C only by luck. The component
  * gives each doc a cluster id (the smallest reachable doc_id), and
  * the canonical survivor per cluster is exactly one doc.
  *
  * Algorithm: min-label propagation — every node starts labeled with
  * its own id; each round a node adopts the minimum label among itself
  * and its neighbors; converged when no label changes. Rounds needed =
  * graph diameter, and near-dup clusters are shallow (dup clusters are
  * dense — most text corpora converge in 2-4 rounds). Each round is
  * two shuffles (join labels to edges + groupBy node); the edge frame
  * is persisted once. Labels only decrease, so convergence is detected
  * by an exact decimal label-sum (map-only over the persisted frame,
  * no extra join). For adversarially DEEP graphs
  * [[connectedComponentsStar]] implements the alternating
  * large-star/small-star rewrite, cutting rounds to O(log n) where
  * propagation needs O(diameter). Lineage is truncated with a local
  * checkpoint every few rounds so deep loops don't accumulate
  * unbounded plans.
  */
object Clusters {

  /** Min-label-propagation connected components. `pairs` carries
    * undirected edges as (id_a, id_b); `nodes` is the full vertex set
    * as a single `id` column (vertices without edges become singleton
    * components). Returns (id, label) where label = min reachable id. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          maxIters: Int = 25): DataFrame = {
    Materialize.withPersist(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(pairs.select(col("id_b").as("src"),
            col("id_a").as("dst")))) { edges =>
      // round 0 fused into initialization: starting from identity labels,
      // the first propagation round is exactly min(id, min direct
      // neighbor) — one groupBy+join instead of a full loop iteration
      val nbr0 = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("m"))
      val round0 = nodes.join(nbr0, Seq("id"), "left")
        .select(col("id"),
          least(col("id"), coalesce(col("m"), col("id"))).as("label"))
      // persisted until the first round's checkpoint replaces it; on a
      // throw, withPersist releases it
      Materialize.withPersist(round0) { labels0 =>
        var labels = labels0
        // labels only decrease → the exact decimal sum strictly decreases
        // until the fixpoint; equal sums ⟺ converged
        // sum over an EMPTY frame is NULL — coalesce to zero so a corpus
        // with no near-dup pairs (empty delta, singleton stratum)
        // converges on the first check instead of NPE-ing the compare
        def labelSum(df: DataFrame): java.math.BigDecimal =
          df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO))).collect()(0)
            .getDecimal(0)
        var prevSum = labelSum(labels)
        var iter = 0
        var converged = false
        while (!converged && iter < maxIters) {
          val nbrMin = edges
            .join(labels.select(col("id").as("dst"),
              col("label").as("dst_label")), "dst")
            .groupBy(col("src").as("id"))
            .agg(min(col("dst_label")).as("nbr_label"))
          val stepped = labels
            .join(nbrMin, Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("nbr_label"), col("label")))
                .as("label"))
          // pointer-jumping shortcut from round 3 on: additionally relabel
          // through the PREVIOUS round's map — l(x) ← min(l(x),
          // l_prev(l(x))) — so label reach grows geometrically instead of
          // 1 hop/round. Measured on embedding_communities' mutual-kNN
          // graph, plain propagation needed 17 rounds (O(diameter)); with
          // the shortcut it converges in 7. The first two rounds skip the
          // extra join: shallow near-dup graphs (the common case) converge
          // before a jump could save a round, so they shouldn't pay for
          // one. Correctness is unchanged either way: l(x) is always the
          // id of a node in x's component (l_prev(y) is in y's component),
          // labels only ever decrease, and the fixpoint — where neither
          // the neighbor step nor the shortcut lowers any label — is
          // exactly label = component minimum, as before.
          val jumped =
            if (iter < 2) stepped
            else stepped
              .join(labels.select(col("id").as("label"),
                col("label").as("jump")), Seq("label"), "left")
              .select(col("id"),
                least(col("label"), coalesce(col("jump"), col("label")))
                  .as("label"))
          // LAZY local checkpoint every round: persist caches execution
          // but leaves the full LOGICAL plan in place, and each
          // un-truncated round multiplies plan size (labels appears up to
          // 3× per round), so Catalyst analysis cost grew geometrically
          // between the old every-4th-round truncations — a driver thread
          // dump showed the bench pinned in analysis tree-walks, not in
          // jobs. The lazy checkpoint is materialized by the labelSum
          // action below (no extra job) and replaces the plan with a
          // LogicalRDD for all later rounds.
          val next = jumped.pin(eager = false)
          val nextSum = labelSum(next)
          converged = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
          labels.unpersist()
          labels = next
          iter += 1
        }
        // hand back a self-contained frame: the converged labels are
        // re-materialized as local-checkpoint blocks (freed by the
        // ContextCleaner once unreferenced, unlike CacheManager entries),
        // so every frame persisted inside the loop can be released here —
        // a long-lived session accumulates nothing
        val out = labels.pin(eager = true)
        labels.unpersist()
        out
      }
    }
  }

  /** Alternating large-star/small-star connected components — the
    * O(log n)-round escalation for DEEP graphs, where plain min-label
    * propagation needs O(diameter) rounds (a 10k-hop chain = 10k
    * shuffles). Near-dup graphs are shallow and don't need this; it
    * exists for adversarial shapes (long reference chains, crawl link
    * graphs).
    *
    * Each round rewrites the edge set (one groupBy + one join per
    * half-step):
    *  - large-star: every neighbor v > u links to min(N(u) ∪ {u}) —
    *    strictly shrinks tall nodes' reach toward the minimum;
    *  - small-star: every neighbor v ≤ u (and u itself) links to the
    *    minimum — flattens the remaining short chains.
    * The edge set converges to a star per component (every node →
    * component minimum). Convergence is detected by an
    * order-independent set signature (count + exact hash sums) of the
    * distinct edge set — equal signatures ⟺ fixpoint.
    * Returns (id, label) like [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, nodes: DataFrame,
                              maxIters: Int = 40): DataFrame = {
    val edges0 = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // order-independent SET signature (count, Σ xxhash64(u,v), Σ
    // murmur3(u,v) — both sums exact decimals): both sides of the
    // fixpoint test are DISTINCT sets, so equal signatures ⟺ equal
    // sets up to a ~2⁻⁹⁶ hash-sum collision — replacing the old
    // per-round `exceptAll` set-diff (a full extra shuffle purely for
    // the convergence test) with one aggregate that doubles as the
    // lazy checkpoint's materializing action
    def edgeSig(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)),
        coalesce(sum(hash(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).collect()(0)
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    // persisted until the first round's checkpoint replaces it; on a
    // throw, withPersist releases it
    Materialize.withPersist(edges0) { persisted =>
      var edges = persisted
      var prevSig = edgeSig(edges)
      var iter = 0
      var converged = prevSig._1 == 0L
      while (!converged && iter < maxIters) {
        // large-star over both orientations: every neighbor v > u
        // re-links to m(u) = min(Γ(u) ∪ {u}); afterwards every edge
        // points large → small
        val bidir = edges.unionByName(
          edges.select(col("v").as("u"), col("u").as("v")))
        val minsL = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        val large = bidir.join(minsL, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
        // small-star on the oriented set: all (smaller) neighbors and u
        // itself re-link to the minimum — flattens the remaining chains
        val minsS = large.groupBy(col("u")).agg(min(col("v")).as("mn"))
        val small = large.join(minsS, "u")
          .select(col("v").as("u"), col("mn").as("v"))
          .unionByName(minsS.select(col("u"), col("mn").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct()
        // lazy checkpoint every round, for the same analysis-cost
        // reason as the min-label loop above (the edge set appears
        // several times per round's plan; persist alone lets the
        // logical tree — and with it per-action analysis time — grow
        // geometrically between truncations). The count() below
        // materializes it — no extra job.
        val next = small.pin(eager = false)
        // fixpoint ⟺ the edge SET is unchanged (both rewrites are
        // idempotent exactly on a union of stars) — tested by signature
        // equality, one aggregate job per round (the previous round's
        // signature is remembered, so the old side costs nothing)
        val nextSig = edgeSig(next)
        converged = nextSig == prevSig
        prevSig = nextSig
        edges.unpersist()
        edges = next
        iter += 1
      }
      // at the fixpoint each non-minimum node carries exactly one edge
      // (node → component minimum); minima and singletons label
      // themselves (min-agg keeps the extraction safe even if maxIters
      // cut the loop short of the fixpoint)
      val lbl = edges.groupBy(col("u").as("id"))
        .agg(min(col("v")).as("label"))
      val out = nodes.join(lbl, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("label"))
        .pin(eager = true)
      edges.unpersist()
      out
    }
  }

  /** Duplicate clusters over a corpus: components of the near-dup pair
    * graph, with cluster size and the canonical-survivor flag (the
    * lowest doc_id of each cluster — deterministic, engine-portable).
    * Docs in no pair are singleton clusters of themselves.
    *
    * The iterative loop runs ONLY over docs that appear in a pair —
    * at corpus scale dup-pair endpoints are a small fraction of the
    * data, so the propagation joins touch |pairs|-sized frames, never
    * the corpus; singletons are attached afterwards with one anti-join
    * (one corpus scan). The pair frame is checkpointed eagerly so the
    * two edge directions and the endpoint set don't re-run the
    * upstream dedup pipeline (LSH signing is the expensive producer). */
  def duplicateClusters(documents: DataFrame, pairs: DataFrame,
                        deep: Boolean = false): DataFrame = {
    // eager local checkpoints, not persist: the expensive upstream
    // dedup pipeline runs exactly once, the blocks are referenced by
    // the returned plan, and the ContextCleaner frees them when the
    // result is dropped — nothing is left registered in the
    // CacheManager after the call
    val p = pairs.select(col("id_a"), col("id_b"))
      .pin(eager = true)
    val paired = p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id"))).distinct()
      .pin(eager = true)
    // near-dup graphs are shallow → propagation (few rounds, cheaper
    // per round); `deep` switches to the O(log n) star rewrite for
    // adversarial diameters
    val cc =
      if (deep) connectedComponentsStar(p, paired)
      else connectedComponents(p, paired)
    val singles = documents.select(col("doc_id").as("id"))
      .join(paired, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val labeled = cc.unionByName(singles)
    val sizes = labeled.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("label")).as("is_canonical"))
  }

  /** Fold a DELTA's near-dup pairs into an existing (id, label)
    * cluster map WITHOUT revisiting the historical pair graph — the
    * nightly-crawl counterpart to [[duplicateClusters]]. The old
    * labels enter the union graph as id→label edges: a star per
    * existing component (diameter ≤ 2, edge count = |old nodes|, not
    * |old pairs|), so convergence needs ~2 rounds however deep the
    * original graph was, and the historical PAIR set — the expensive
    * thing at 100 TB — is never re-read or re-shuffled. Because the
    * label values are original member ids, the union's components and
    * their minima equal the full-graph answer exactly: folding is
    * BATCH-EQUIVALENT (the registry oracle), not an approximation.
    * `deltaNodes` carries the new ids (singletons included). Returns
    * (id, label) over old ∪ delta like [[connectedComponents]]. */
  def incrementalClusters(labels: DataFrame, deltaPairs: DataFrame,
                          deltaNodes: DataFrame,
                          maxIters: Int = 25): DataFrame = {
    val labelEdges = labels.filter(col("id") =!= col("label"))
      .select(col("id").as("id_a"), col("label").as("id_b"))
    val nodes = labels.select(col("id"))
      .unionByName(deltaNodes.select(col("id"))).distinct()
    connectedComponents(
      labelEdges.unionByName(deltaPairs.select(col("id_a"), col("id_b"))),
      nodes, maxIters)
  }

  /** Golden-record survivorship — the MDM step AFTER clustering: one
    * merged record per duplicate cluster, each field resolved by its
    * own survivorship rule rather than dropping whole duplicate rows.
    * Rules here: canonical text from the min-doc_id survivor (the
    * cluster label IS the min id under min-label propagation),
    * "most complete" for n_chars (max), "most frequent, ties to the
    * smallest value" for lang (the mode), plus the source spread.
    * Every rule is an exact aggregate or a deterministic windowed
    * pick, so the whole merge is oracle-replicable.
    *
    * Scale: one doc→cluster join keyed on doc_id, then cluster-keyed
    * map-side-combined aggregates; the mode's window runs over the
    * (cluster, lang) COUNT frame, never raw docs; the canonical text
    * join is cluster-keyed against the documents table. */
  def goldenRecords(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val cl = duplicateClusters(documents, pairs)
      .select(col("doc_id"), col("cluster_id"))
    val j = documents.join(cl, "doc_id")
    val langMode = j.groupBy(col("cluster_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("c").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("lang").as("lang_mode"))
    val agg = j.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("n_docs"),
      max(col("n_chars")).as("max_n_chars"),
      countDistinct(col("source")).as("n_sources"))
    agg
      .join(langMode, "cluster_id")
      .join(documents.select(col("doc_id").as("cluster_id"),
        col("text").as("canonical_text")), "cluster_id")
      .select(col("cluster_id").as("canonical_doc_id"), col("n_docs"),
        col("max_n_chars"), col("n_sources"), col("lang_mode"),
        col("canonical_text"))
  }

  /** Cluster-size histogram: the dedup OUTCOME report — how much of
    * the corpus is duplicated, at what cluster granularity, and how
    * many docs the apply step removes. One row per distinct cluster
    * size; `n_docs_removable` sums to (corpus − survivors).
    *
    * Scale shape: the canonical filter reduces to one row per
    * cluster, then a map-side-combined groupBy over cluster sizes —
    * output is O(distinct sizes), a frame small enough to inspect by
    * hand at any corpus scale. */
  def clusterStats(clusters: DataFrame): DataFrame =
    clusters.filter(col("is_canonical"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters"))
          .as("n_docs_removable"))

  /** Rooted-hierarchy depth by POINTER DOUBLING — the iterative-graph
    * capability the component closures don't exercise: components ask
    * "which set", a hierarchy asks "how FAR from the root" (org
    * chains, category trees, bill-of-materials levels), and Spark has
    * no recursive CTE, so the engine must traverse. Each round every
    * unfinished node jumps to its current ancestor's ancestor and
    * ADDS the two exact hop counts — the 2^r-truncated ancestor
    * invariant — finishing in ⌈log₂ depth⌉ joins instead of depth
    * self-joins (a DuckDB RECURSIVE CTE walking edge-by-edge is the
    * oracle; this plan does the same walk in logarithmic rounds).
    *
    * Edges are derived deterministically here (parent(k) =
    * sha60('tree:'‖k) mod k — strictly smaller, so acyclic with root
    * 0) to make the traversal oracle-checkable on TPC-H keys; pass
    * any (node, parent) frame through the same loop in real use.
    * Scale: per round one anc-keyed hash join over |nodes| rows +
    * one bounded driver convergence scalar; lineage cut via
    * localCheckpoint like [[connectedComponents]]. */
  def hierarchyDepth(nodes: DataFrame, idCol: String,
                     maxRounds: Int = 24): DataFrame = {
    val sha60 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.expressions.Sha60(
          org.apache.spark.sql.graft.GraftBridge.expression(c)))
    var cur = nodes.select(col(idCol).cast("long").as("node"))
      .select(col("node"),
        when(col("node") === 0, lit(0L))
          .otherwise(pmod(sha60(concat(lit("tree:"),
            col("node").cast("string"))), col("node"))).as("anc"),
        when(col("node") === 0, lit(0L)).otherwise(lit(1L)).as("d"))
      // LAZY pins throughout this loop (the CC-loop discipline): the
      // per-round `pending` convergence count is the materializing
      // action, so each round costs ONE job instead of pin + count
      .pin(eager = false)
    var round = 0
    var pending = cur.filter(col("anc") =!= 0).count()
    while (pending > 0 && round < maxRounds) {
      val hop = cur.select(col("node").as("j_node"),
        col("anc").as("j_anc"), col("d").as("j_d"))
      cur = cur.join(hop, col("anc") === col("j_node"), "left")
        .select(col("node"),
          when(col("anc") === 0, lit(0L))
            .otherwise(col("j_anc")).as("anc"),
          when(col("anc") === 0, col("d"))
            .otherwise(col("d") + col("j_d")).as("d"))
        .pin(eager = false)
      round += 1
      pending = cur.filter(col("anc") =!= 0).count()
    }
    require(pending == 0,
      s"hierarchy did not converge in $maxRounds doubling rounds")
    cur.select(col("node").as("node_id"), col("d").as("depth"))
  }

  /** Subtree aggregation along the rooted hierarchy — the
    * bill-of-materials rollup ([[hierarchyDepth]] answers "how far",
    * this answers "how much is UNDER each node": org headcount,
    * category revenue, BOM cost). Bottom-up LEVEL sweep: each round
    * the deepest unprocessed level's accumulated (count, cents)
    * totals fold into their parents — one parent-keyed
    * map-side-combined aggregate + one id-keyed join per level, so
    * total work is O(n · depth) with depth = O(log n) on this
    * derived tree; lineage cut per round like the CC loop. The
    * measure is fixed to exact integer cents (decimal(12,2)·100) and
    * carried in decimal(38,0), so every rollup is an
    * order-independent integer sum — hash-exact against DuckDB's
    * RECURSIVE-CTE ancestor expansion. */
  def subtreeRollup(nodes: DataFrame, idCol: String,
                    measureCol: String): DataFrame = {
    val sha60 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.expressions.Sha60(
          org.apache.spark.sql.graft.GraftBridge.expression(c)))
    val depths = hierarchyDepth(nodes, idCol)
    val base = nodes.select(col(idCol).cast("long").as("node"),
      (col(measureCol).cast("decimal(12,2)") * lit(100))
        .cast("long").cast("decimal(38,0)").as("cents"))
      .select(col("node"), col("cents"),
        when(col("node") === 0, lit(0L))
          .otherwise(pmod(sha60(concat(lit("tree:"),
            col("node").cast("string"))), col("node"))).as("parent"))
      // lazy: the eager `known` init pin below (or the level sweep's
      // first pin) computes and checkpoints it — no standalone job
      .pin(eager = false)
    // (optimization r13) the old bottom-up LEVEL sweep paid one join +
    // one eager checkpoint PER LEVEL — O(depth) rounds (≈19 on this
    // random-attachment tree). Rewritten as pointer-doubling ANCESTOR
    // EXPANSION (the same O(n·depth) pair volume DuckDB's recursive
    // CTE materializes): round r extends each node's known-ancestor
    // set (≤2^r hops) through its 2^r-hop ancestor, so ⌈log₂ depth⌉
    // rounds (≈5) of two tiny joins each, then ONE parent-keyed
    // aggregate folds every descendant into every ancestor. Rollups
    // stay order-independent decimal(38,0) integer sums over exactly
    // the same (ancestor, descendant) pairs — hash-identical.
    val maxDepth = depths.agg(max(col("depth"))).head().getLong(0)
    // DEPTH GUARD (optimization r14): the doubling expansion holds the
    // FULL (ancestor, descendant) transitive closure — O(n·depth)
    // pairs — at once. Log-depth hierarchies (the shape this operator
    // serves) are fine; a chain-like tree would blow memory. Past the
    // configurable depth cap, fall back to the bottom-up LEVEL SWEEP
    // (O(depth) rounds, O(n) working set) — identical sums either way.
    val doubleCap = nodes.sparkSession.conf
      .getOption("spark.graft.subtreeRollup.maxDoublingDepth")
      .map(_.toLong).getOrElse(64L)
    if (maxDepth > doubleCap)
      return rollupLevelSweep(base, depths, maxDepth)
    // known: all (node, anc) proper-ancestor pairs within 2^r hops;
    // top: the exact 2^r-hop ancestor, 0 = chain already exhausted
    // (parent(k) < k strictly, so chains are finite and acyclic)
    var known = base.filter(col("node") =!= 0)
      .select(col("node"), col("parent").as("anc"))
      .pin(true)
    var top = known.select(col("node"), col("anc").as("t"))
    var span = 1L
    while (span < maxDepth) {
      val live = top.filter(col("t") =!= 0)
      val newPairs = live
        .join(known.select(col("node").as("t"), col("anc").as("anc2")),
          Seq("t"))
        .select(col("node"), col("anc2").as("anc"))
      val newTop = live
        .join(top.select(col("node").as("t"), col("t").as("t2")),
          Seq("t"))
        .select(col("node"), col("t2").as("t"))
        .unionByName(top.filter(col("t") === 0))
      known = known.unionByName(newPairs).pin(true)
      // LAZY pin for `top`: the NEXT round's eager `known` job computes
      // (and thereby checkpoints) it — one job per round instead of
      // two, and the LAST round's newTop (which nothing downstream
      // reads) never runs. The plan is truncated to a LogicalRDD
      // either way, so per-round analysis cost is unchanged.
      top = newTop.pin(eager = false)
      span *= 2
    }
    val rolled = known
      .join(base.select(col("node"), col("cents")), Seq("node"))
      .groupBy(col("anc").as("r_node"))
      .agg(count(lit(1)).as("desc_n"),
        sum(col("cents")).cast("decimal(38,0)").as("desc_cents"))
    base
      .join(rolled, col("node") === col("r_node"), "left")
      .join(depths, col("node") === col("node_id"))
      .select(col("node").as("node_id"), col("depth"),
        (lit(1L) + coalesce(col("desc_n"), lit(0L))).as("subtree_n"),
        (col("cents") + coalesce(col("desc_cents"),
          lit(0L).cast("decimal(38,0)"))).cast("decimal(38,0)")
          .as("subtree_cents"))
  }

  /** Bottom-up per-level rollup — the pre-r13 shape, kept as the
    * deep-tree fallback: one join + one materialization per LEVEL
    * (O(depth) rounds), but the working set stays O(n) — each round
    * folds the deepest unprocessed level's subtotals into its
    * parents, never materializing ancestor-descendant pairs. */
  private def rollupLevelSweep(base: DataFrame, depths: DataFrame,
                               maxDepth: Long): DataFrame = {
    var cur = base
      .join(depths, col("node") === col("node_id"))
      .select(col("node"), col("parent"), col("depth"),
        lit(1L).as("sub_n"), col("cents").as("sub_cents"))
      .pin(true)
    var level = maxDepth
    while (level >= 1) {
      val contrib = cur.filter(col("depth") === level)
        .groupBy(col("parent").as("c_node"))
        .agg(sum(col("sub_n")).as("c_n"),
          sum(col("sub_cents")).cast("decimal(38,0)").as("c_cents"))
      cur = cur.join(contrib, col("node") === col("c_node"), "left")
        .select(col("node"), col("parent"), col("depth"),
          (col("sub_n") + coalesce(col("c_n"), lit(0L))).as("sub_n"),
          (col("sub_cents") + coalesce(col("c_cents"),
            lit(0L).cast("decimal(38,0)"))).cast("decimal(38,0)")
            .as("sub_cents"))
        .pin(true)
      level -= 1
    }
    cur.select(col("node").as("node_id"), col("depth"),
      col("sub_n").as("subtree_n"), col("sub_cents").as("subtree_cents"))
  }
}
