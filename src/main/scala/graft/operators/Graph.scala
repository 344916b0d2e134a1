package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge relations.
  *
  * Complements the hash-min connected components in [[Dedup]] (q80): CC
  * answers "which docs are the same?", PageRank answers "which nodes
  * matter?" — the importance signal used to weight crawl frontiers and
  * training-mix sources by link authority (Page et al. 1999).
  *
  * The 100 TB cost profile of PageRank is lopsided: deriving the edge
  * relation from raw logs is the corpus-sized work (one aggregation
  * pipeline), while each rank iteration touches only the edge/node
  * relations — a (src)-keyed equi-join plus a (dst)-keyed sum, both
  * hash-shuffles on graph-sized (not log-sized) data that AQE can
  * co-partition. Iterations unroll into one logical plan (the q126 loop
  * convention): no driver-side collect of ranks, no RDD loop; the only
  * driver scalar is the node COUNT, a bounded literal like the Similarity
  * LUT sizes.
  */
object Graph {

  /** Symmetrized, self-loop-free, deduplicated edge snapshot — the shared
    * prologue of every undirected-graph operator here. The snapshot
    * matters doubly: the union references `fwd` twice (an expensive edge
    * derivation would otherwise execute per branch, the
    * [[Dedup.connectedComponents]] concern), and the result fans out to
    * every iteration downstream.
    */
  private def symmetrized(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val fwd = Stage.snapshotDF(edges.select(col(srcCol).as("s"), col(dstCol).as("d")))
    Stage.snapshotDF(
      fwd.union(fwd.select(col("d").as("s"), col("s").as("d")))
        .filter(col("s") =!= col("d")).distinct())
  }

  /** Shared directed-graph prologue of [[pageRank]] / [[personalizedPageRank]]:
    * snapshotted edges, node universe, out-weight-normalized transition
    * probabilities, and the dangling-detection src set — ONE definition so
    * the two recursions can never diverge on the transition structure.
    */
  private def transitionPrologue(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = Stage.snapshotDF(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("double").as("w")))
    val nodes = Stage.snapshotDF(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    val outw = e.groupBy(col("src")).agg(sum("w").as("outw"))
    val enorm = Stage.snapshotDF(
      e.join(outw, "src").select(col("src"), col("dst"), (col("w") / col("outw")).as("p")))
    val srcs = Stage.snapshotDF(enorm.select("src").distinct())
    (nodes, enorm, srcs)
  }

  /** Weighted PageRank with proper dangling-mass redistribution.
    *
    * rank_{t+1}(v) = (1−d)/N + d·( Σ_{u→v} rank_t(u)·w(u,v)/outw(u)
    *                              + dangling_t/N )
    *
    * where `dangling_t` is the total rank mass sitting on nodes with no
    * outgoing edges (they donate uniformly to everyone — dropping this term
    * leaks mass and the ranks stop summing to 1).
    *
    * Every iteration ends in `round(pr, scale)`: the per-layer rounding
    * contract (q114/q126 convention) that keeps the next layer's inputs
    * bit-identical cross-engine even though per-group summation order is
    * not. The rank and edge tables each fan out to two consumers per
    * iteration (contribution join + dangling aggregate), so both are
    * snapshotted ([[Stage.snapshotDF]]) — referencing them lazily would
    * re-execute the whole upstream edge pipeline 2K times.
    *
    * Returns (node, pr) with pr rounded to `scale` decimals.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iterations: Int = 4,
      damping: Double = 0.85,
      scale: Int = 9): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    // the edge pipeline is the corpus-sized work — the prologue snapshots
    // it FIRST so the node/out-weight/transition consumers execute it once;
    // w and outw are exact integer sums widened to double, so w/outw is
    // the same division both engines
    val (nodes, enorm, srcs) = transitionPrologue(edges, srcCol, dstCol, wCol)
    val n = nodes.count() // bounded: |V|, a driver scalar by design
    // an empty edge relation has no rank vector — return the empty frame
    // instead of folding 1/0 into the reset constant (ANSI divide-by-zero)
    if (n == 0) return nodes.select(col("node"), lit(0.0).as("pr"))
    val base = lit(1.0 - damping) / n

    var ranks = nodes.withColumn("pr", lit(1.0) / n)
    for (_ <- 1 to iterations) {
      val r = Stage.snapshotDF(ranks)
      val dangling = r.join(srcs, r("node") === srcs("src"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
      val contrib = r.join(enorm, r("node") === enorm("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("con"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(base + lit(damping) * (coalesce(col("con"), lit(0.0)) + col("dm") / n), scale)
            .as("pr"))
    }
    ranks
  }

  /** Personalized PageRank — the [[pageRank]] recursion with the reset
    * (and the dangling mass) redirected to a SEED set instead of the
    * uniform vector:
    *
    *   pr(v) = (1−d)·1{v∈S}/|S| + d·(Σ_u pr(u)·p(u→v) + dm·1{v∈S}/|S|)
    *
    * — the "relevance to THESE nodes" ranking behind seed-based topic
    * ranking and related-entity retrieval, which global PageRank cannot
    * express (its scores are query-independent). Seeds enter as driver
    * literals (the codebook convention — a seed set is query-sized, not
    * corpus-sized). Same dataflow and cost shape as [[pageRank]]: the
    * edge pipeline snapshots once, each iteration is one contribution
    * shuffle + a broadcast dangling scalar, ranks round to `scale` per
    * iteration (the determinism anchor the unrolled oracle replays).
    * A seed absent from the graph contributes no mass on either engine
    * (it has no node row) — callers seed from known vertices.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      seeds: Seq[Long],
      iterations: Int = 4,
      damping: Double = 0.85,
      scale: Int = 9): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    val (nodes, enorm, srcs) = transitionPrologue(edges, srcCol, dstCol, wCol)
    val s = seeds.size
    val isSeed = col("node").isin(seeds: _*)
    val base = when(isSeed, lit((1.0 - damping) / s)).otherwise(lit(0.0))

    var ranks = nodes.withColumn("pr",
      when(isSeed, lit(1.0 / s)).otherwise(lit(0.0)))
    for (_ <- 1 to iterations) {
      val r = Stage.snapshotDF(ranks)
      val dangling = r.join(srcs, r("node") === srcs("src"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
      val contrib = r.join(enorm, r("node") === enorm("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") * col("p")).as("con"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(base + lit(damping) * (coalesce(col("con"), lit(0.0)) +
            when(isSeed, col("dm") / s).otherwise(lit(0.0))), scale)
            .as("pr"))
    }
    ranks
  }

  /** Single-source shortest hop counts (unweighted BFS) on the undirected
    * graph of `edges`. Returns (node, hops) for every node within `maxHops`
    * of `source`; unreachable nodes are absent.
    *
    * Frontier-expansion form: level h's frontier joins the symmetrized edge
    * relation and anti-joins the settled set — each level is one graph-sized
    * equi-join + one anti-join, snapshotted ([[Stage.snapshotDF]]) so the
    * plan stays level-sized instead of unrolling the whole history into an
    * exponential lineage. The loop is FIXED at `maxHops` iterations (the
    * q141 convention — no per-level driver count actions); an exhausted
    * frontier makes the remaining levels no-op joins on an empty snapshot.
    * At cluster scale each level shuffles only frontier ∪ edges — never the
    * corpus that derived the edges.
    */
  def shortestHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      source: Long,
      maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = symmetrized(edges, srcCol, dstCol)
    var dist = e.sparkSession.range(1)
      .select(lit(source).cast(e.schema("s").dataType).as("node"), lit(0).as("hops"))
    for (h <- 1 to maxHops) {
      val settled = Stage.snapshotDF(dist)
      val next = settled.filter(col("hops") === h - 1)
        .join(e, col("node") === col("s"))
        .select(col("d").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("hops"))
      dist = settled.unionByName(next)
    }
    dist
  }

  /** k-core membership (Seidman 1983): the maximal subgraph where every
    * node keeps degree ≥ k, found by iterated peeling — drop nodes under
    * degree k, restrict edges to survivors, repeat. Returns (node,
    * core_degree) for members, with their degree INSIDE the core.
    *
    * The loop is FIXED at `iterations` rounds (q141 convention — no
    * per-round driver convergence probes); peeling is monotone, so once
    * the core stabilizes further rounds are no-op filters and any
    * `iterations` ≥ the true peel depth gives the exact core (GraphSpec
    * pins 6 ≡ 9 on a chained-peel graph). Each round is one degree
    * aggregate + two semi-joins, all graph-sized; the corpus-sized work
    * stays in the edge derivation, as across the Graph family. The k-core
    * is the standard cheap preconditioner for triangle/clique work
    * (a triangle needs all three corners in the 2-core).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iterations: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    var e = symmetrized(edges, srcCol, dstCol)
    for (_ <- 1 to iterations) {
      val keep = e.groupBy("s").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select("s")
      e = Stage.snapshotDF(
        e.join(keep, Seq("s"), "left_semi")
          .join(keep.select(col("s").as("d")), Seq("d"), "left_semi"))
    }
    e.groupBy(col("s").as("node")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
  }

  /** All-pairs shortest hop counts within `maxHops` — [[shortestHops]]
    * lifted to EVERY source at once (the Pregel multi-source-BFS shape):
    * the settled relation carries (src, node, hops) and each level joins
    * the whole frontier against the edge relation in ONE shuffle, instead
    * of |V| sequential single-source traversals. State is bounded by
    * reachable pairs (≤ |V|² on the component structure), which is the
    * operator's contract: it is for GRAPH-sized relations (the nation
    * trade graph, a cluster topology), not the corpus — at 100 TB the
    * corpus-sized work stays in the edge derivation, exactly as in
    * [[pageRank]]. Feeds closeness/eccentricity centralities (q171).
    */
  def allPairsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = symmetrized(edges, srcCol, dstCol)
    var dist = e.select(col("s").as("src")).distinct()
      .select(col("src"), col("src").as("node"), lit(0).as("hops"))
    for (h <- 1 to maxHops) {
      val settled = Stage.snapshotDF(dist)
      val next = settled.filter(col("hops") === h - 1)
        .join(e, col("node") === col("s"))
        .select(col("src"), col("d").as("node")).distinct()
        .join(settled, Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(h).as("hops"))
      dist = settled.unionByName(next)
    }
    dist
  }

  /** Harmonic centrality (Marchiori & Latora 2000; Boldi & Vigna's
    * axiomatic pick): H(u) = Σ_{v ≠ u} 1/d(u,v), unreachable nodes
    * contributing 0 — the centrality that stays meaningful on
    * DISCONNECTED graphs, where closeness's (n_reached−1)/Σd silently
    * rescales per component (a 2-node island outranks the giant
    * component's hub). Built on the same multi-source BFS relation as
    * q171's closeness ([[allPairsHops]] — graph-sized by contract).
    *
    * Determinism contract: within `maxHops` every distance d ∈ 1..H, so
    * each 1/d is summed as the EXACT integer lcm(1..H)/d (all terms and
    * partial sums exact in double far below 2^53) — the float combine
    * order the shuffle picks cannot matter, unlike a naive Σ 1/d. The
    * single closing division by the lcm is one rounded expression, the
    * q171 convention.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int = 6): DataFrame = {
    // H ≤ 20 keeps the proof: lcm(1..20) ≈ 2.3e8, so partial sums stay
    // exact doubles up to ~3.8e7 reached nodes (2^53 / lcm); beyond that
    // the "combine order cannot matter" claim would silently stop holding
    require(maxHops >= 1 && maxHops <= 20, s"maxHops out of range: $maxHops")
    val l = (1 to maxHops).foldLeft(1L) { (acc, d) =>
      val g = BigInt(acc).gcd(BigInt(d)).toLong; acc / g * d
    }
    allPairsHops(edges, srcCol, dstCol, maxHops)
      .filter(col("hops") >= 1)
      .groupBy("src")
      .agg(count(lit(1)).as("n_reached"),
        sum(lit(l.toDouble) / col("hops")).as("__hx"))
      .select(col("src"), col("n_reached"),
        (round(col("__hx") / lit(l.toDouble), 6) + lit(0.0)).as("harmonic"))
  }

  /** HyperBall-style closeness (Boldi & Vigna 2013): the neighborhood
    * function per node carried as a DataSketches HLL sketch instead of a
    * settled pair relation — the CORPUS-SCALE complement to
    * [[allPairsHops]], whose (src, node, hops) state is ≤ |V|² by
    * contract. Here state is one sketch per node (|V| · 2^lgK bytes,
    * lgK=12 → 4 KB ceiling each) and each level is ONE (dst)-keyed join
    * of balls to the symmetrized edges plus ONE `hll_union_agg` — the
    * sketch-union pass per level that makes the neighborhood function
    * computable on web-scale graphs where materializing reachable pairs
    * cannot fit anywhere.
    *
    *   ball_0(v) = {v};  ball_h(v) = ball_{h−1}(v) ∪ ⋃_{(v,u)∈E} ball_{h−1}(u)
    *
    * Per-level cardinality estimates `est_h` then give
    * `total_hops = Σ_h h·(est_h − est_{h−1})` and
    * `n_reached = est_H` — the same (n_reached − 1)/total_hops closeness
    * q171 computes exactly. On graphs whose per-ball cardinality stays
    * under the sketch's sparse-mode threshold (every test graph here —
    * |V| ≤ 25) DataSketches HLL is EXACT, so the result is
    * oracle-checkable against the exact recursive-CTE closeness
    * (q181); beyond it the estimate degrades gracefully to the sketch's
    * published error (±~1.6% at lgK=12), which is the 100 TB trade the
    * operator exists to make. GraphSpec pins ≡ exact closeness on the
    * multi-component hand graph.
    *
    * Estimates are emitted as `round(est)` longs: sparse-mode exactness
    * makes the round a no-op where the oracle applies, and integral
    * outputs keep the result hash-stable.
    */
  def hyperBallCloseness(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int = 6,
      lgK: Int = 12): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = symmetrized(edges, srcCol, dstCol)
    // ball_0 = {self}; the sketch aggregate needs a group — one per node
    var ball = Stage.snapshotDF(
      e.select(col("s").as("node")).distinct()
        .groupBy("node").agg(hll_sketch_agg(col("node"), lit(lgK)).as("ball")))
    def level(h: Int, b: DataFrame): DataFrame =
      b.select(col("node"), lit(h).as("hops"),
        round(hll_sketch_estimate(col("ball"))).cast("long").as("est"))
    var levels = level(0, ball)
    for (h <- 1 to maxHops) {
      val nbr = e.join(ball.withColumnRenamed("node", "d"), "d")
        .groupBy(col("s").as("node"))
        .agg(hll_union_agg(col("ball")).as("nbr_ball"))
      ball = Stage.snapshotDF(
        ball.join(nbr, Seq("node"), "left")
          .select(col("node"),
            when(col("nbr_ball").isNull, col("ball"))
              .otherwise(hll_union(col("ball"), col("nbr_ball")))
              .as("ball")))
      levels = levels.unionByName(level(h, ball))
    }
    // total_hops = Σ h·(est_h − est_{h−1}) — one window over H·|V| rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("hops")
    levels
      .withColumn("__gain", col("est") - lag("est", 1, 0L).over(w))
      .groupBy("node")
      .agg(max("est").as("n_reached"),
        sum(when(col("hops") >= 1, col("hops") * col("__gain")).otherwise(0L))
          .as("total_hops"))
      .select(col("node"), col("n_reached"), col("total_hops"),
        round((col("n_reached") - lit(1)).cast("double") / col("total_hops"), 6)
          .as("closeness"))
  }

  /** HITS hubs and authorities (Kleinberg 1999), weighted — the DUAL
    * link-analysis scores PageRank's single importance number cannot
    * express: an authority is pointed at by good hubs, a hub points at
    * good authorities (directories vs destinations; in the trade graph,
    * supplier-heavy vs customer-heavy nations):
    *
    *   a(v) ← Σ_{u→v} w·h(u);   h(u) ← Σ_{u→v} w·a(v)
    *
    * each update normalized by its MAX (L∞) — unlike the classic L2 norm,
    * a max is combine-order-free, and L∞-normalized HITS converges to the
    * same ranking (normalization only rescales the power iteration).
    * Every layer rounds to `scale` (the q141 per-layer contract), so the
    * unrolled oracle replays bit-identical layers. Same cost shape as
    * [[pageRank]]: the edge pipeline snapshots once; each half-iteration
    * is one graph-sized equi-join + aggregate with a broadcast max.
    * Nodes with no in-edges hold authority 0 (resp. hub 0 for no
    * out-edges) — the bipartite separation the dual scores exist for.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iterations: Int = 4,
      scale: Int = 9): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = Stage.snapshotDF(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst"), col(wCol).cast("double").as("w")))
    val nodes = Stage.snapshotDF(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val filled = nodes.join(raw, Seq("node"), "left")
        .select(col("node"), coalesce(col(c), lit(0.0)).as(c))
      val mx = filled.agg(max(col(c)).as("__mx"))
      // snapshot: each score relation feeds the next half-iteration's join
      // AND (for the final pair) the output join
      Stage.snapshotDF(filled.crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("__mx") > 0, round(col(c) / col("__mx"), scale))
            .otherwise(lit(0.0)).as(c)))
    }
    val h0 = Stage.snapshotDF(nodes.withColumn("h", lit(1.0)))
    // each iteration maps the previous hubs to (authorities, hubs) — a
    // fold with no pre-loop authority state (there is none: a₁ derives
    // from h₀)
    val (a, h) = (1 to iterations).foldLeft((h0, h0)) { case ((_, hPrev), _) =>
      val aNext = normalized(
        e.join(hPrev.withColumnRenamed("node", "__s"), col("src") === col("__s"))
          .groupBy(col("dst").as("node")).agg(sum(col("w") * col("h")).as("a")), "a")
      val hNext = normalized(
        e.join(aNext.withColumnRenamed("node", "__d"), col("dst") === col("__d"))
          .groupBy(col("src").as("node")).agg(sum(col("w") * col("a")).as("h")), "h")
      (aNext, hNext)
    }
    nodes.join(a, Seq("node")).join(h, Seq("node"))
      .select(col("node"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — one number that
    * says whether hubs link to hubs (r > 0, social-graph shape) or to
    * leaves (r < 0, hub-and-spoke/internet shape). The graph-level
    * audit complementing the per-node centralities: a crawl frontier
    * weighted by PageRank behaves very differently on the two shapes.
    *
    * Exactness (the q203 linearFit contract): degrees are integers, so
    * every Σ and every closed-form cross term is DECIMAL(38,0) integer
    * algebra — combine-order-free; only the final divide-by-√ runs in
    * double on identically-cast exact operands. Each undirected edge
    * contributes BOTH directions (the standard symmetric estimator).
    * Cost: one degree aggregation + one graph-sized join + one scalar
    * fold. Returns one row (n_nodes, n_directed_edges, assortativity —
    * null on a degree-regular graph, where the variance is 0 and the
    * coefficient is undefined).
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = symmetrized(edges, srcCol, dstCol)
    val deg = Stage.snapshotDF(e.groupBy("s").agg(count(lit(1)).as("deg")))
    val xy = e
      .join(deg.select(col("s"), col("deg").as("__dx")), Seq("s"))
      .join(deg.select(col("s").as("d"), col("deg").as("__dy")), Seq("d"))
    val terms = ExactCorr.aggs(col("__dx").cast(ExactCorr.dec),
      col("__dy").cast(ExactCorr.dec))
    val g = xy.agg(terms.head, terms.tail: _*)
    val (num, vx, vy) = (ExactCorr.num, ExactCorr.denX, ExactCorr.denY)
    g.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("__m").cast("long").as("n_directed_edges"),
        when(vx > 0 && vy > 0,
          round(num / sqrt(vx * vy), 6) + lit(0.0)).as("assortativity"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection by iterated neighbor-majority voting. Labels start as node
    * ids; each round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — both choices make the
    * fixed-iteration result fully deterministic (classic LPA randomizes
    * order and ties; a cross-engine-checkable operator cannot), at the
    * documented cost that bipartite-ish regions may oscillate rather than
    * converge — `iterations` pins the answer either way.
    *
    * Each round = one (dst)-keyed join of labels to the symmetrized edges,
    * one (node, label) count, a node-partitioned max window riding the same
    * key, and a min fold — all graph-sized, snapshotted per round.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = symmetrized(edges, srcCol, dstCol)
    val byNode = org.apache.spark.sql.expressions.Window.partitionBy("node")
    var labels = e.select(col("s").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val l = Stage.snapshotDF(labels)
      labels = e
        .join(l.select(col("node").as("__n"), col("label")), col("d") === col("__n"))
        .groupBy(col("s").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__mx", max("__c").over(byNode))
        .filter(col("__c") === col("__mx"))
        .groupBy("node")
        .agg(min("label").as("label"))
    }
    labels
  }

  /** Local clustering coefficient (Watts & Strogatz 1998): per node,
    * triangles / (deg·(deg−1)/2) — "how much of my neighborhood knows
    * each other", the community-cohesion number [[triangleCounts]]'
    * raw participation can't normalize (a hub in 100 triangles over
    * 10k possible pairs is LESS clustered than a leaf in 3 of 3).
    * Degree-1 nodes have no possible pair and emit null (undefined,
    * the standard reading — not 0, which claims "open neighborhood").
    *
    * Composition: the [[triangleCounts]] enumeration (two graph-sized
    * equi-joins on the canonicalized snapshot) plus one degree
    * aggregation off the SAME snapshot, met in a node-keyed join. The
    * coefficient is one division of exact integers, rounded.
    */
  /** Canonical a<b edge snapshot + the node-iterator triangle credit —
    * ONE definition shared by [[triangleCounts]] and
    * [[clusteringCoefficients]] so the enumeration cannot diverge.
    */
  private def canonicalTriangleCounts(
      edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    val e = Stage.snapshotDF(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct())
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    (e, tri)
  }

  def clusteringCoefficients(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (e, tri) = canonicalTriangleCounts(edges, srcCol, dstCol)
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val pairs = (col("degree") * (col("degree") - 1) / 2).cast("long")
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(coalesce(col("n_triangles"), lit(0L)).cast("double") /
            pairs.cast("double"), 6) + lit(0.0)).as("clustering"))
  }

  /** Per-node triangle participation counts (undirected). Edges are
    * canonicalized to `a < b` (self-loops dropped, directions and
    * duplicates collapsed); triangles enumerate once each as ordered
    * triples `a < b < c` via two graph-sized equi-joins — the
    * node-iterator algorithm. Each found triangle then credits its three
    * corners through one explode + count.
    *
    * Scale note: the id-ordering here is the oracle-friendly form; the
    * production refinement orders corners by DEGREE (ties by id), which
    * bounds the join fan-out of hub nodes (Suri & Vassilvitskii's MR
    * node-iterator) without changing the count. Both run in two
    * hash-joins on the edge relation — graph-sized, never corpus-sized.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    canonicalTriangleCounts(edges, srcCol, dstCol)._2

  /** Doulion triangle estimation (Tsourakakis et al., KDD 2009): keep
    * each canonical edge with probability 1/`denom` — selected by a
    * DETERMINISTIC polynomial hash of the endpoint pair, so the "coin"
    * is replayable cross-engine — count triangles in the SPARSIFIED
    * graph, scale by denom³. The scale path for [[triangleCounts]]:
    * sparsification happens BEFORE the two enumeration joins, cutting
    * their input by 1/denom and the expected join work by 1/denom²,
    * which is the whole point on a hub-heavy web graph where exact
    * enumeration detonates. Emitted as an AUDIT row against the exact
    * count (the q111/q120 convention): the number that prices the
    * sparsification before a pipeline trusts it.
    */
  def triangleEstimateDoulion(
      edges: DataFrame, srcCol: String, dstCol: String, denom: Int = 2): DataFrame = {
    require(denom >= 2, s"need denom >= 2, got $denom")
    val (e, triExact) = canonicalTriangleCounts(edges, srcCol, dstCol)
    val keep = pmod((col("a") * lit(1315423911L) + col("b")) % lit(1000000007L),
      lit(denom.toLong)) === 0
    val sampled = Stage.snapshotDF(e.filter(keep))
    val triS = sampled.as("e1")
      .join(sampled.as("e2"), col("e1.b") === col("e2.a"))
      .join(sampled.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("sampled_triangles"))
    val exact = triExact.agg((sum("n_triangles") / 3).cast("long").as("exact_triangles"))
    val est = (col("sampled_triangles") *
      lit(denom.toLong * denom * denom)).as("estimate")
    triS.crossJoin(broadcast(exact))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_sampled_edges"))))
      .select(col("n_edges"), col("n_sampled_edges"),
        col("exact_triangles"), col("sampled_triangles"), est,
        when(col("exact_triangles") > 0,
          round(abs(est.cast("double") - col("exact_triangles").cast("double")) /
            col("exact_triangles").cast("double"), 6) + lit(0.0))
          .as("rel_error"))
  }

  /** Strongly connected components by mutual reachability: nodes u, v
    * share an SCC iff each reaches the other along DIRECTED edges — the
    * cycle structure undirected components ([[Dedup.connectedComponents]])
    * erase, and the question behind "which markets trade both ways" /
    * dependency-cycle detection. Component id = the smallest node in the
    * class (the hash-min labeling convention), with the size census
    * attached.
    *
    * Contract: |V|²-state like [[allPairsHops]] — directed mutuality is
    * inherently all-pairs, so this runs on DERIVED entity graphs
    * (nations, services, event types), never corpus-sized relations; the
    * frontier expansion is level-snapshotted with a fixed `maxHops`
    * unroll ≥ the graph diameter (the q167 cap convention, replayed by
    * the oracle's hop-capped recursive CTE).
    */
  def stronglyConnected(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = Stage.snapshotDF(edges
      .select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s") =!= col("d")).distinct())
    // DELTA-LAYER BFS (r19, guide §2.1/§2.5): each hop checkpoints only the
    // NEWLY reached (src, node) rows instead of re-checkpointing the whole
    // growing reach relation (the old form re-materialized O(h·|reach|)
    // rows and paid a separate count() per hop for the early exit). The
    // frontier is the last hop's delta; the anti-join right side is the
    // union of the prior delta checkpoints (checkpoint reads, no
    // recompute); the early-exit count rides the delta's materializing job
    // as an observe metric — zero rows added means every later hop is
    // provably empty, the same monotone-growth argument as before. Output
    // identical: reach = ∪ layers, and the maxHops cap is unchanged.
    // (Under reliable checkpointing the observe count doubles — harmless,
    // it is only zero-tested.)
    var layers = Vector(Stage.snapshotDF(
      e.select(col("s").as("node")).union(e.select(col("d").as("node")))
        .distinct()
        .select(col("node").as("src"), col("node"), lit(0).as("hops"))))
    var frontier = layers.head
    var h = 1
    var growing = true
    while (h <= maxHops && growing) {
      val settled = layers.reduce(_.unionByName(_))
      val obsName = s"graft.sccFrontier.${Dedup.obsId()}"
      val next = frontier
        .join(e, col("node") === col("s"))
        .select(col("src"), col("d").as("node")).distinct()
        .join(settled, Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(h).as("hops"))
        .observe(obsName, count(lit(1)).as("added"))
      val nextCk = Stage.snapshotDF(next)
      val added = next.queryExecution.observedMetrics.getOrElse(obsName,
        throw new IllegalStateException(
          s"$obsName missing after snapshot — frontier count unavailable"))
        .getAs[Long]("added") // count over zero rows is 0, never null
      if (added > 0) {
        layers = layers :+ nextCk
        frontier = nextCk
      } else growing = false
      h += 1
    }
    val fwd = Stage.snapshotDF(
      layers.map(_.select("src", "node")).reduce(_.unionByName(_)))
    val scc = fwd.as("f")
      .join(fwd.as("b"),
        col("f.src") === col("b.node") && col("f.node") === col("b.src"))
      .groupBy(col("f.src").as("node"))
      .agg(min(col("f.node")).as("scc_id"))
    val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id").select(col("node"), col("scc_id"), col("scc_size"))
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * 2003): for every NON-adjacent pair with at least `minCommon` shared
    * neighbors, the common-neighbor count and the Jaccard coefficient
    * |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| — the "which edge appears next"
    * ranking behind recommendation candidates and crawl-frontier
    * prioritization.
    *
    * Scale shape: candidate pairs are enumerated THROUGH the shared
    * neighbor (one self-join of the adjacency keyed by the wedge center),
    * so the volume is Σ_z deg(z)·(deg(z)−1)/2 — degrees, never |V|²,
    * bound the blow-up, exactly the triangle-enumeration cost profile.
    * On a hub-heavy graph that sum is dominated by a few celebrity nodes,
    * so centers with degree > `hubCap` are EXCISED from the wedge stage
    * (a hub's neighborhood is near-useless as an overlap signal — it
    * certifies popularity, not affinity — and enumerating it is
    * quadratic in its degree). The excision is a DEFINED approximation
    * replayable by any engine from the cap, and it degrades TWO things:
    * pairs whose every shared neighbor is a hub disappear, and a
    * surviving pair's `common_neighbors` (hence the Jaccard NUMERATOR)
    * counts COLD shared neighbors only — it is "overlap through
    * non-hub neighbors", not full overlap. Only the degrees — the
    * Jaccard denominators — stay exact over the FULL graph. The
    * excision is observable via the `graft.wedgeGuard` metric
    * (`hot_nodes`, `skipped_wedges` in exact decimal) — the
    * no-silent-caps convention.
    */
  def linkPrediction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      hubCap: Int = 10000,
      minCommon: Long = 1L): DataFrame = {
    require(hubCap >= 2, s"need hubCap >= 2, got $hubCap")
    val sym = symmetrized(edges, srcCol, dstCol)
    val deg = Stage.snapshotDF(
      sym.groupBy(col("s").as("node")).agg(count(lit(1)).as("degree")))
    // observe on the degree relation ALONE, snapshot-barriered before any
    // join sits above it (AQE empty-relation propagation would delete a
    // CollectMetrics node under a join — the basketGuard precedent)
    val kd = col("degree").cast("decimal(38,0)")
    val obs = deg.observe(s"graft.wedgeGuard.${Dedup.capObsId.incrementAndGet()}",
      sum(when(col("degree") > hubCap, 1L).otherwise(0L)).as("hot_nodes"),
      sum(when(col("degree") > hubCap, (kd * (kd - lit(1)) / lit(2)).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("skipped_wedges"))
    val coldCenters = Stage.snapshotDF(
      obs.filter(col("degree") <= hubCap).select(col("node")))
    // adjacency keyed by the wedge CENTER z — feeds both self-join sides
    val adjByCenter = Stage.snapshotDF(
      sym.select(col("s").as("u"), col("d").as("z"))
        .join(coldCenters, col("z") === col("node")).drop("node"))
    val cand = adjByCenter.as("l")
      .join(adjByCenter.as("r"),
        col("l.z") === col("r.z") && col("l.u") < col("r.u"))
      .groupBy(col("l.u").as("node_a"), col("r.u").as("node_b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
    val existing = sym.filter(col("s") < col("d"))
      .select(col("s").as("node_a"), col("d").as("node_b"))
    cand.join(existing, Seq("node_a", "node_b"), "left_anti")
      .join(deg.select(col("node").as("node_a"), col("degree").as("__da")), "node_a")
      .join(deg.select(col("node").as("node_b"), col("degree").as("__db")), "node_b")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        (round(col("common_neighbors").cast("double") /
          (col("__da") + col("__db") - col("common_neighbors")).cast("double"), 6)
          + lit(0.0)).as("jaccard"))
  }
}
