package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Graph measures over an edge frame — the centrality/degree half of the
 * graph toolbox next to [[Dedup]]'s connected components. Edges are any
 * `(src, dst)` DataFrame; the operators are shape-agnostic (the oracle
 * derives a bipartite customer→supplier graph from the TPC-H tables).
 *
 * PageRank here is the fixed-iteration batch variant: at 100 TB rank
 * jobs run a BOUNDED iteration count on a schedule (convergence-loop
 * driver barriers are the q67-propagation lesson — [[Dedup
 * .dedupClusters]]' O(rounds) barrier is why q84's star alternation
 * exists), and a fixed count keeps the plan a finite join chain Spark
 * executes without any driver-side convergence probe.
 */
object Graph {

  /**
   * Fixed-iteration PageRank, the classic unnormalized formulation
   * (`r'(v) = (1−d) + d·Σ_{u→v} r(u)/outdeg(u)`, ranks seeded at 1):
   * `iterations` rounds of contribute-and-sum over a DISTINCT edge
   * set, nodes with no in-links held at `1−d`; dangling nodes keep
   * their rank but contribute nothing (the standard batch-PageRank
   * mass leak, mirrored exactly by the oracle).
   *
   * Scale shape: per iteration ONE shuffle join of the edge frame
   * against the node-keyed rank frame plus one dst-keyed aggregation
   * (map-side partials) — the textbook distributed PageRank step. The
   * derived frames are MATERIALIZED before the loop (the [[kCore]] /
   * [[Dedup.dedupClusters]] discipline): `eDeg` embeds
   * the fact-join + distinct + degree derivation, and an unsevered loop
   * would re-embed that whole subplan once PER ITERATION — at 100× the
   * scan bill multiplies by the iteration count. Each iteration's
   * ranks are likewise severed, so analysis/codegen cost stays constant
   * per round instead of compounding (the r12 q118 lesson: 11 s → 42 s
   * driver-side purely from plan growth). No driver-side collect
   * anywhere; the checkpoint actions are node/edge-frame sized.
   *
   * Returns `(node, rank)` — callers order/limit.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    // the (possibly expensive) caller lineage runs EXACTLY ONCE: the
    // distinct edge set is materialized first, and every derived frame
    // (degree, node set) reads the checkpointed blocks
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .distinct().transform(Materialize(_))
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node"))).distinct()
      .transform(Materialize(_))
    val outDeg = e.groupBy("_src").agg(count(lit(1)).as("_deg"))
    // degree attached once and MATERIALIZED; every iteration reuses the
    // checkpointed blocks, never the upstream fact-join lineage
    val eDeg = e.join(outDeg, "_src").transform(Materialize(_))
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iterations) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("node", "_src"), "_src")
        .groupBy(col("_dst").as("node"))
        .agg(sum(col("rank") / col("_deg")).as("_c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("_c"), lit(0.0)))
            .as("rank"))
      // Each round references the previous ranks exactly ONCE (unlike
      // dedupClusters' twice-referencing hop), so the bare plan grows
      // LINEARLY — a fixed small chain executes fastest as one lazy job.
      // Checkpoint only every 4th round: plan-size insurance for long
      // runs without paying a full materialization job per round (r16:
      // per-round eager checkpoints were ~1/3 of q118's wall time).
      if (i % 4 == 0 && i < iterations) ranks = Materialize(ranks)
    }
    ranks
  }

  /** Top-k nodes by PageRank, ranked on the ROUNDED score with the node
    * as tiebreaker (the cross-engine determinism rule) — distributed
    * top-k first, rank window over k rows only. */
  def pageRankTopK(edges: DataFrame, srcCol: String, dstCol: String,
                   iterations: Int, k: Int,
                   damping: Double = 0.85): DataFrame =
    pageRank(edges, srcCol, dstCol, iterations, damping)
      .select(col("node"), round(col("rank"), 4).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rank").desc, col("node"))).cast("long"))
      .select("rn", "node", "rank")

  /**
   * Triangle count over an UNDIRECTED graph — the clustering/community
   * density primitive. Edges are normalized (both directions collapse
   * to one undirected edge), then ORIENTED from the lower to the
   * higher endpoint in the (degree, node) total order — the classic
   * compact-forward trick: every triangle has exactly one "apex" from
   * which both oriented edges leave, so each is counted ONCE, and
   * wedge-join work per node is bounded by its ORIENTED out-degree
   * (≤ √(2|E|) for any graph — hubs stop generating wedges because
   * high-degree nodes receive edges instead of emitting them; the
   * unoriented wedge join is Σ d(v)² and dies on any skewed graph).
   * Wedges check closure with one left-semi join against the oriented
   * edge set. Returns a ONE-row frame `(n_edges, n_wedges,
   * n_triangles)` — wedge count rides along since transitivity
   * `3·Δ/wedges` is the usual readout.
   */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // normalized edge set materialized once (the pageRank discipline):
    // referenced by the degree census, the orientation join, the closure
    // semi-join, and the edge count — four executions of the caller's
    // edge lineage (for q128, the basket-pair support join) without it
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().transform(Materialize(_))
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("_d"))
    // orient by (degree, node): lower endpoint emits the edge
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("_d").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("_d").as("_dv")), "v")
    // both wedge legs read the oriented edges; one materialization
    // instead of two degree-attach joins
    val oriented = withDeg.select(
      when(struct(col("_du"), col("u")) < struct(col("_dv"), col("v")),
        struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("_e"))
      .select(col("_e.a").as("a"), col("_e.b").as("b"))
      .transform(Materialize(_))
    // Deliberately NO shuffle-hash hint here (r17 A/B): orientation
    // already bounds the wedge legs, and the hint measured a wash both
    // scales (sf0.1 q128 1.81 -> 1.93 s, 10x q128_tri 3.03/2.70 ->
    // 2.95/2.55 s) — the sort-merge default keeps its graceful-spill
    // posture for free. twoHopReach's UNCAPPED wedge is the
    // sort-dominated shape where the hint pays (see there).
    val wedges = oriented.select(col("a"), col("b").as("x"))
      .join(oriented.select(col("a"), col("b").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
    val closed = wedges
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_semi")
    val e = und.agg(count(lit(1)).as("n_edges"))
    // graph-theoretic wedge count Σ C(d,2) — orientation-free, so an
    // independent oracle can reproduce it without mirroring our
    // orientation; d(d−1) is even, the halving is exact
    val w = deg.agg(sum(col("_d") * (col("_d") - lit(1L))).as("_s"))
      .select((col("_s") / 2).cast("long").as("n_wedges"))
    val t = closed.agg(count(lit(1)).as("n_triangles"))
    e.crossJoin(w).crossJoin(t)
  }

  /**
   * Degree census — in/out/total degree per node over the distinct
   * edge set, the profile read before any graph algorithm is tuned
   * (skew here decides salting and AQE posture downstream). Two
   * node-keyed aggregates and one outer join; never materializes
   * neighbor lists.
   */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .distinct()
    val out = e.groupBy(col("_src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("_dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("degree", col("out_deg") + col("in_deg"))
      .orderBy("node")
  }

  /**
   * Two-hop reach census: per node, the count of DISTINCT nodes
   * reachable in one or two directed hops (self excluded) — the
   * friend-of-friend expansion metric (how far does influence travel
   * past the immediate neighborhood), top-k by (reach desc, node).
   *
   * Scale shape: the edge self-join on the middle node is the standard
   * wedge join, so the candidate volume is Σ deg_in(b)·deg_out(b) —
   * hub-quadratic, exactly [[triangleCount]]'s hazard. The exact
   * uncapped variant is the oracle contract; the 100 TB posture is the
   * two optional knobs, both measured on a planted hub graph
   * (ScaleBench `two_hop_cap`, SCALE.md §16):
   *
   *  - `maxMiddleWedges`: middles whose wedge fan-out
   *    `deg_in(b)·deg_out(b)` exceeds the cap are dropped from the
   *    two-hop expansion (their one-hop edges still count) — the
   *    [[Dedup.ngramJaccardPairs]] `maxShingleDf` pattern exactly: under
   *    a skewed degree distribution the hot-middle list is tiny by
   *    construction (it IS the head the cap exists to drop), so it
   *    broadcasts and the cap is a map-side anti-join. Reach through a
   *    super-hub undercounts, which is the documented approximation —
   *    a hub middle's neighborhood is reachable by almost everyone, so
   *    it carries no ranking discrimination, only the quadratic cost.
   *  - `approxDistinct`: swaps the exact UNION-distinct for
   *    `approx_count_distinct` (HLL ±2.5% default rsd) — sketch
   *    partials merge map-side across the wedge shuffle, so reducer
   *    state is bounded by the sketch, not the neighborhood.
   *
   * The top-k rank window runs AFTER the limit (k-row frame, the
   * Search/Graph precedent).
   *
   * `decodeNode` (optional) maps the internal node key to its output
   * form BEFORE the top-k rank — the q118 long-key rule: callers with
   * string node names can run every wedge shuffle and the distinct on
   * LONG keys (a measured constant tax with strings through the
   * corpus-sized exchanges) and decode only the readout; the rank
   * applies to the DECODED form, so tie order matches an oracle
   * ordering by the string name.
   */
  def twoHopReach(edges: DataFrame, srcCol: String, dstCol: String,
                  k: Int, maxMiddleWedges: Option[Long] = None,
                  approxDistinct: Boolean = false,
                  decodeNode: Option[Column => Column] = None): DataFrame = {
    // distinct edge set materialized once (the pageRank discipline): the
    // wedge join references it on BOTH legs with different join keys (no
    // exchange is reusable across them) and the one-hop union reads it a
    // third time — without the checkpoint the caller's edge lineage (for
    // q209, the orders⋈lineitem fact join) executed three times
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .distinct().transform(Materialize(_))
    // left leg of the wedge join, optionally stripped of hot middles;
    // filtering ONE leg removes the hub's wedges entirely (the join is
    // keyed on b), so the other leg needs no second anti-join pass
    val left = maxMiddleWedges match {
      case None => e
      case Some(cap) =>
        val hot = e.groupBy(col("b").as("_m")).agg(count(lit(1)).as("_din"))
          .join(e.groupBy(col("a").as("_m")).agg(count(lit(1)).as("_dout")),
            "_m")
          .filter(col("_din") * col("_dout") > cap)
          .select(col("_m").as("b"))
        e.join(broadcast(hot), Seq("b"), "left_anti")
    }
    // SHUFFLE_HASH on the right wedge leg (guide §3.1): the planner's
    // default is a sort-merge join, which pays a full sort of BOTH
    // legs of the Σ din·dout-sized uncapped wedge (4M rows at sf0.1 —
    // q209 QBench 3.74 -> 2.86/3.13 s from skipping the two sorts).
    // The build side is one hash partition of the DISTINCT edge set —
    // bounded per partition when partition counts scale with input,
    // and AQE skew-split applies to shuffled-hash joins too. On the
    // CAPPED planted-hub shape the hint costs a little (ScaleBench 10x
    // two_hop_cap 1.68/1.71 -> 1.83/2.00 s) — the cap already removed
    // the sort volume — an accepted trade for the exact path's win.
    val two = left.join(
        e.select(col("a").as("b"), col("b").as("c")).hint("shuffle_hash"),
        "b")
      .filter(col("a") =!= col("c")).select("a", "c")
    val one = e.filter(col("a") =!= col("b"))
      .select(col("a"), col("b").as("c"))
    val perNode =
      if (approxDistinct)
        one.union(two).groupBy("a")
          .agg(approx_count_distinct(col("c")).as("reach"))
      else
        one.union(two).distinct()
          .groupBy("a").agg(count(lit(1)).as("reach"))
    val named = decodeNode match {
      case Some(f) => perNode.select(f(col("a")).as("a"), col("reach"))
      case None => perNode
    }
    val reach = named.orderBy(col("reach").desc, col("a")).limit(k)
    reach
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("reach").desc, col("a"))).cast("long"))
      .select(col("rn"), col("a").as("node"), col("reach"))
  }

  /**
   * k-core decomposition (one k): iteratively peel every node whose
   * degree in the REMAINING graph is < k until the graph is stable —
   * the standard density filter for graph-shaped curation (spam rings,
   * well-connected entity neighborhoods) and the exact fixpoint the
   * unrolled-peel oracle reproduces. Input edges are symmetrized and
   * deduped by the caller (degree = distinct neighbors).
   *
   * Per round: ONE src-keyed degree aggregate + the survivor
   * semi-filter applied to both endpoints (two shuffle joins); the
   * convergence probe is an edge COUNT (a node leaves iff an edge
   * leaves, so edge-count stability == node fixpoint) — one cheap
   * action, no driver-side data. [[Materialize]] severs each round's
   * lineage (the [[graft.operators.Dedup.dedupClusters]] discipline:
   * iteration-grown plans re-resolve super-linearly otherwise). Peel
   * depth is data-dependent but shallow on real graphs (2 rounds on
   * the bench's trade graph at every SF); `maxIter` overrun fails
   * loudly rather than returning a non-core.
   *
   * Returns `(node, core_degree)` — every k-core member with its
   * degree inside the core (≥ k by construction).
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 20): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    require(maxIter >= 1, "kCore needs maxIter >= 1")
    // EAGER checkpoints in the peel, deliberately (r17 A/B): lazy
    // checkpoints whose blocks the count() probe populates fold each
    // round into one job, but measured a wash at sf0.1 (q226 QBench
    // 1.16 eager vs 1.06/1.19 lazy) while the propagation loop's same
    // change measured 17-20% slower at 10x — keep the measured-safe
    // eager form (the checkpoint-pays rule; see dedupClusters).
    var cur = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .transform(Materialize(_))
    var prevEdges = cur.count()
    var converged = prevEdges == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val keep = cur.groupBy("a").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k).select("a")
      cur = cur
        .join(keep, "a")
        .join(keep.withColumnRenamed("a", "b"), "b")
        .select("a", "b")
        .transform(Materialize(_))
      val n = cur.count()
      converged = n == prevEdges || n == 0L
      prevEdges = n
      it += 1
    }
    require(converged,
      s"kCore did not converge in $maxIter rounds (edges=$prevEdges) — " +
        "raise maxIter; a peel this deep usually means a pathological " +
        "near-threshold chain")
    cur.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /**
   * Synchronous label propagation communities (Raghavan et al. 2007),
   * fixed-iteration batch variant: every node starts as its own label;
   * each round every node adopts the MOST FREQUENT label among its
   * neighbors, ties → the smallest label. FREQUENCY voting is what
   * separates this from [[Dedup.dedupClusters]]' min-propagation:
   * connected components always merge to one min label, LPA can hold a
   * dense community against a bridge edge — the community detector
   * next to the closure operator.
   *
   * Determinism: the textbook algorithm breaks frequency ties randomly
   * and is scan-order-dependent; here the vote is
   * `min(struct(-count, label))` — count desc, label asc — so the
   * fixed-round trajectory is engine-reproducible and the oracle
   * unrolls it CTE for CTE (the q238 posture). Fixed `iters` keeps the
   * plan a finite join chain (the PageRank rule — no driver
   * convergence probe); each round's labels materialize so lineage
   * cannot compound (the q118 lesson).
   *
   * Scale shape: per round ONE edge⋈labels shuffle join + one
   * (node, label) count + one per-node argmin — all key-partitioned,
   * nothing driver-side. Output: `(node, lbl)` over every edge
   * endpoint (isolated nodes have no neighbors to vote — callers union
   * them back if needed).
   */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 0, s"labelPropagation needs iters >= 0, got $iters")
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionAll(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .transform(Materialize(_))
    var labels = edges.select(col("x").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (i <- 1 to iters) {
      val votes = edges
        .join(labels.select(col("node").as("y"), col("lbl")), "y")
        .groupBy(col("x").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .as("_v"))
        .select(col("node"), col("_v.l").as("lbl"))
      // single-reference rounds chain lazily (the pageRank rule); every
      // 4th round checkpoints as plan-size insurance for long runs
      if (i % 4 == 0 && i < iters) labels = Materialize(labels)
    }
    labels
  }
}
