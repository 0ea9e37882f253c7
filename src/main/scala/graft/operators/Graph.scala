package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Cut

/** Graph operators for corpus curation. The first use case is link-graph
  * authority scoring: web-scale training-data pipelines rank hosts or
  * pages (Common-Crawl-style harmonic/PageRank scores) and use the rank
  * as a quality prior alongside per-document signals, so the engine
  * needs an iterative rank operator with the same shuffle discipline as
  * [[Dedup.connectedComponents]].
  */
object Graph {

  /** Fixed-iteration PageRank (Page et al. 1999) over a directed edge
    * list. Returns `(node, rank)` for every node appearing as a source
    * or destination; ranks sum to 1 across the graph (dangling mass is
    * redistributed uniformly each round, the standard correction).
    *
    * Determinism: iteration count is FIXED (no epsilon stop), so two
    * engines computing in IEEE float64 agree to summation-order noise —
    * which is what lets a SQL oracle mirror it with unrolled rounds.
    *
    * Scale shape (mirrors [[Dedup.connectedComponents]]):
    * - the edge list is materialized ONCE, pre-partitioned on the join
    *   key (`src`) with its static out-degree FOLDED IN (one window
    *   pass over that layout, no extra shuffle), so every round is a
    *   single `edges ⋈ ranks` — per round only the thin `(node, rank)`
    *   side moves, and the contribution agg is map-side combinable;
    * - each round's rank table is cut (reliable checkpoint when a dir
    *   is configured, executor-local otherwise) so the logical plan
    *   does not nest per round, with round N−1's storage released as
    *   soon as round N materializes;
    * - the dangling-node set (sinks: in-edges but no out-edges) is
    *   computed once; per round its mass is ONE 1-row agg broadcast
    *   into the update expression. A symmetrized graph has no sinks
    *   and that agg short-circuits to a constant-false join.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged,
      onRound: (Int, Double) => Unit = (_, _) => ())
    : DataFrame =
    pageRankWithN(edges, srcCol, dstCol, iterations, damping, scope,
      onRound)._1

  /** [[pageRank]] plus the node count it already computes internally
    * (Graph.scala's one sanctioned scalar action) — callers that
    * normalize ranks by N (x99/x105's `rank·n` contract) reuse it
    * instead of re-counting the checkpointed rank frame, saving one
    * job per query. */
  def pageRankWithN(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged,
      onRound: (Int, Double) => Unit = (_, _) => ())
    : (DataFrame, Long) = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    val dedup = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
    // out-degree is STATIC — fold it into the edge table once (a count
    // window over the src-partitioned layout, no extra shuffle), so
    // each round joins the thin rank table against ONE persisted
    // (src, dst, deg) table instead of edges ⋈ ranks ⋈ degrees
    val e = scope.persist(
      dedup.repartition(col("src"))
        .withColumn("deg", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
          .cast("double")))
    val nodes = scope.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count().toDouble
    // sinks: appear as dst but never as src — their rank would leak out
    // of the system each round without the uniform redistribution
    val sinks = scope.persist(
      nodes.join(e, col("node") === col("src"), "left_anti"))
    val hasSinks = sinks.limit(1).count() > 0
    var checkpointed = Cut(nodes.select(col("node"), lit(1.0 / n).as("rank")),
      eager = true)
    var ranks: DataFrame = checkpointed
    var round = 0
    // r16: two per-round job eliminations, both value-identical —
    // - the dangling mass is a 1-row BROADCAST inside the round's plan
    //   (the house scalar idiom) instead of a driver-side .head() —
    //   one job per round instead of two on sinks graphs;
    // - a NO-sinks round reads the previous rank table exactly once
    //   (the contribution join), so a short lazy chain between
    //   checkpoints is safe (linear plan growth, single consumer) and
    //   saves a full rank materialization per chained round. A sinks
    //   graph reads the previous table twice (dangling agg +
    //   contributions), so there each round stays materialized.
    val cutEvery = if (hasSinks) 1 else 3
    while (round < iterations) {
      val roundT0 = System.nanoTime()
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("deg")).as("__in"))
      val joined = nodes.join(contribs, col("node") === col("dst"), "left")
      val next =
        if (!hasSinks)
          joined.select(col("node"),
            (lit((1.0 - damping) / n) +
              lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                lit(0.0 / n))).as("rank"))
        else {
          val dm = ranks.join(sinks, Seq("node"))
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
          joined.crossJoin(broadcast(dm))
            .select(col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                  col("__dm") / lit(n))).as("rank"))
        }
      round += 1
      if (round % cutEvery == 0 || round == iterations) {
        val cutNext = Cut(next, eager = true)
        Cut.release(checkpointed)
        checkpointed = cutNext
        ranks = cutNext
      } else ranks = next
      // telemetry hook (default no-op): PageRankScaleDemo uses it to
      // demonstrate flat per-round cost — the claim the pre-partitioned
      // edge materialization exists to deliver (lazy chained rounds
      // report ~0; their work lands on the chain's cut round)
      onRound(round, (System.nanoTime() - roundT0) / 1e9)
    }
    (ranks, n.toLong)
  }

  /** X118 — personalized PageRank: random walk with restart into a
    * TELEPORT SET instead of the uniform vector — "authority relative
    * to these seeds" (recommendation neighborhoods from a user's
    * items, related-entity expansion from a seed list, trust
    * propagation from verified nodes). Plain [[pageRank]] answers
    * "globally important"; this answers "important FROM HERE".
    *
    * Same per-round shape and checkpoint discipline as [[pageRank]]
    * (one thin join + map-side-combinable agg per round, rank frame
    * cut each round, dangling mass one 1-row agg) — only the restart
    * vector changes: init = teleport distribution, restart and
    * dangling mass both land on the teleport set (the standard PPR
    * formulation). Emitted ranks are scaled by |S| (seeds ≈ restart
    * share) and ROUNDed at 6 dp — the x105 float contract.
    */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      teleportNodes: DataFrame, teleportCol: String,
      iterations: Int, damping: Double = 0.85,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    val dedup = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
    val e = scope.persist(
      dedup.repartition(col("src"))
        .withColumn("deg", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
          .cast("double")))
    val seeds = teleportNodes
      .select(col(teleportCol).cast("string").as("node")).distinct()
    // teleport column rides the persisted node frame: seeds in the
    // graph get 1/|S|, everything else 0 — the restart vector
    val nodesRaw = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seedsInGraph = scope.persist(nodesRaw.join(seeds, Seq("node"),
      "left_semi"))
    val sCount = seedsInGraph.count()
    require(sCount > 0, "teleport set shares no nodes with the graph")
    val tele = when(col("__seed").isNotNull, lit(1.0 / sCount))
      .otherwise(lit(0.0d))
    val nodes = scope.persist(
      nodesRaw.join(seedsInGraph.withColumn("__seed", lit(1))
          .select(col("node"), col("__seed")), Seq("node"), "left")
        .select(col("node"), tele.as("tele")))
    val sinks = scope.persist(
      nodes.join(e, col("node") === col("src"), "left_anti"))
    val hasSinks = sinks.limit(1).count() > 0
    var checkpointed = Cut(nodes.select(col("node"), col("tele").as("rank")),
      eager = true)
    var ranks: DataFrame = checkpointed
    var iter = 0
    // same r16 job eliminations as [[pageRankWithN]]: broadcast
    // dangling scalar in-plan (sinks graphs), short lazy chains
    // between cuts (no-sinks graphs — single consumer per round)
    val cutEvery = if (hasSinks) 1 else 3
    while (iter < iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("deg")).as("__in"))
      val joined = nodes.join(contribs, col("node") === col("dst"), "left")
      val next =
        if (!hasSinks)
          joined.select(col("node"),
            (lit(1.0 - damping) * col("tele") +
              lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                lit(0.0) * col("tele"))).as("rank"))
        else {
          val dm = ranks.join(sinks.select("node"), Seq("node"))
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
          joined.crossJoin(broadcast(dm))
            .select(col("node"),
              (lit(1.0 - damping) * col("tele") +
                lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                  col("__dm") * col("tele"))).as("rank"))
        }
      iter += 1
      if (iter % cutEvery == 0 || iter == iterations) {
        val cutNext = Cut(next, eager = true)
        Cut.release(checkpointed)
        checkpointed = cutNext
        ranks = cutNext
      } else ranks = next
    }
    // stabilize through DECIMAL(18,8) before the 6-dp round (the x140
    // boundary contract) — the scaled rank CAN terminate near a
    // half-boundary at digit 7, where plain double rounds disagree
    // across engines (observed live at sf0.01)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    ranks.select(col("node"),
      round((col("rank") * sCount).cast(stable), 6).cast("double")
        .as("rank_scaled"))
  }

  /** X88 — exact triangle count over an undirected graph (the standard
    * clustering/community-density statistic; on a co-purchase graph it
    * measures basket cohesion). Returns one row:
    * `(n_nodes, n_edges, n_triangles)`.
    *
    * Degree-ordered orientation (the classic node-iterator++ bound):
    * every undirected edge is oriented from its lower-(degree, id)
    * endpoint to the higher, so out-degree is O(√m) on any graph and
    * the wedge self-join does Σ outdeg² = O(m^1.5) work instead of
    * Σ deg² — the hub that would explode a naive wedge join (a
    * celebrity node, a default-id sink) contributes only IN-edges and
    * generates no wedges. Each triangle is counted exactly once, at
    * its lowest-(degree, id) corner. Three shuffles total: degrees,
    * the wedge self-join on the center, the closing-edge join on the
    * (v, w) pair.
    *
    * Input edges may be directed/duplicated/self-looped — they are
    * canonicalized (undirected, deduped, loops dropped) first.
    */
  def triangleCount(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val canon = scope.persist(
      edges.select(a.as("a"), b.as("b")).filter(col("a") =!= col("b"))
        .distinct())
    val deg = canon.select(col("a").as("n"))
      .union(canon.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = scope.persist(orientByDegree(canon, deg))
    val wedges = oriented.as("e1").join(oriented.as("e2"), "u")
      .filter(col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("wa"), col("e2.v").as("wb"))
    val closed = wedges.join(canon,
      col("wa") === col("a") && col("wb") === col("b"), "left_semi")
    val counts = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
    counts.select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Per-node local clustering coefficient
    * `c(v) = 2·T(v) / (d(v)·(d(v)−1))` — the fraction of a node's
    * neighbor pairs that are themselves connected, the standard
    * "how clique-like is this node's neighborhood" signal (community
    * cores score ~1, stars score 0). Triangles come from the SAME
    * degree-ordered orientation as [[triangleCount]] (each triangle
    * found once at its lowest-(deg, id) corner, hub wedge explosion
    * bounded at Σ outdeg²), then each found triangle credits its
    * three corners via one explode — 3 rows per triangle, not a
    * per-node re-count. Nodes with degree < 2 have no defined
    * coefficient (null). Rounded values stabilize through
    * DECIMAL(18,8) (the changepointScan boundary contract —
    * `2T/(d(d−1))` is rational and can terminate at the round digit).
    */
  def clusteringCoefficient(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val canon = scope.persist(
      edges.select(a.as("a"), b.as("b")).filter(col("a") =!= col("b"))
        .distinct())
    val deg = scope.persist(canon.select(col("a").as("n"))
      .union(canon.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val oriented = scope.persist(orientByDegree(canon, deg))
    val wedges = oriented.as("e1").join(oriented.as("e2"), "u")
      .filter(col("e1.v") < col("e2.v"))
      .select(col("u"), col("e1.v").as("wa"), col("e2.v").as("wb"))
    val closed = wedges.join(canon,
      col("wa") === col("a") && col("wb") === col("b"), "left_semi")
    val nodeTri = closed
      .select(explode(array(col("u"), col("wa"), col("wb"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("__tri"))
    val tri = coalesce(col("__tri"), lit(0L))
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    deg.join(nodeTri, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        tri.as("n_triangles"),
        when(col("d") >= 2,
          round((lit(2.0d) * tri / (col("d") * (col("d") - 1)))
            .cast(stable), 4).cast("double"))
          .as("coeff"))
  }

  /** X107 — link prediction by common-neighborhood: for every
    * NON-adjacent node pair sharing at least one neighbor, the number
    * of common neighbors and the resource-allocation index
    * `RA(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/deg(z)` (Zhou, Lü & Zhang, EPJ B
    * 2009 — consistently among the strongest local predictors; its
    * log-degree twin is Adamic–Adar). "Customers who co-purchase with
    * the same items but never together" / "likely next follow".
    *
    * Shape: every common neighbor z of (x,y) IS a wedge centered at z,
    * so the full wedge set Σ_z C(deg z, 2) is inherent to the metric
    * (unlike triangle counting, orientation can't shrink it — each
    * wedge must be credited, not found once). The guard is
    * `maxDegree`: hub centers are dropped before the wedge join. This
    * is the principled cut — a hub's per-pair contribution is 1/deg ≤
    * 1/maxDegree, vanishing exactly when the wedge count explodes
    * (pass 0 for the exact form; the oracle gates exact).
    * Already-adjacent pairs leave via one anti-join on the canonical
    * edge set; the top-k is TakeOrderedAndProject on the ROUNDED score.
    *
    * Portability: each term `1.0/deg` is one IEEE division (correctly
    * rounded, identical on any engine), cast to DECIMAL(18,10) (exact
    * decimal rendering of that double), then summed EXACTLY — no
    * float-addition-order dependence — and rounded once at the end.
    */
  def linkPrediction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      topK: Int,
      maxDegree: Long = 0,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
    : DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val canon = scope.persist(
      edges.select(a.as("a"), b.as("b")).filter(col("a") =!= col("b"))
        .distinct())
    // full symmetric adjacency: every edge is a potential wedge arm in
    // both directions (z is the CENTER, its two arms the candidates)
    val adj = canon.select(col("a").as("z"), col("b").as("nb"))
      .union(canon.select(col("b").as("z"), col("a").as("nb")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("d"))
    val centers =
      if (maxDegree > 0) adj.join(deg.filter(col("d") <= maxDegree), "z")
      else adj.join(deg, "z")
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val wedges = centers.as("l").join(centers.as("r"),
        col("l.z") === col("r.z"))
      .filter(col("l.nb") < col("r.nb"))
      .groupBy(col("l.nb").as("x"), col("r.nb").as("y"))
      .agg(count(lit(1)).as("n_common"),
        sum((lit(1.0d) / col("l.d")).cast(dec)).as("__ra"))
    wedges
      .join(canon, col("x") === col("a") && col("y") === col("b"),
        "left_anti")
      .select(col("x").as("node_a"), col("y").as("node_b"),
        col("n_common"),
        round(col("__ra").cast("double"), 6).as("ra_score"))
      .orderBy(col("ra_score").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }

  /** X114 — k-core decomposition (the k-core): iteratively peel nodes
    * of degree < `k` until every survivor has ≥ k neighbors INSIDE the
    * surviving subgraph — the standard dense-region extractor (spam
    * rings, community cores, "real" co-purchase clusters that a plain
    * degree threshold over-counts, because a high-degree node whose
    * neighbors all vanish is not dense).
    *
    * Shape per round: one degree aggregate + two semi-joins restrict
    * the edge set to surviving endpoints — every step keyed on the
    * node, map-side combinable, and the edge frame shrinks
    * MONOTONICALLY (each round's work is bounded by the previous
    * round's survivors). The driver sees one 1-row count per round
    * (the fixpoint test — the pageRank/CC loop discipline); each
    * round's frame persists and the previous round unpersists, so
    * lineage stays shallow across rounds. Converges in ≤ `maxRounds`
    * rounds or stops there deterministically — an oracle unrolling
    * exactly `maxRounds` rounds matches either way, because peeling a
    * converged graph is the identity.
    *
    * Returns surviving `(node, degree)` with the degree measured in
    * the final subgraph (≥ k at convergence).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // checkpoint each round (the pageRank/CC cut discipline): a
    // persisted-but-uncut frame keeps its full logical plan, and each
    // peel round embeds the previous plan ~5× — by round 8 the
    // ANALYZER blows the heap before a single task runs
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    var cur = Cut(edges.select(a.as("a"), b.as("b"))
      .filter(col("a") =!= col("b")).distinct(), eager = true)
    var curCount = cur.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val keep = degrees(cur).filter(col("d") >= k).select(col("n"))
      val next = Cut(cur
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")), eager = true)
      val nextCount = next.count()
      // edge-count fixpoint ⇔ node fixpoint: any peeled node had
      // degree ≥ 1 in the previous round, so its removal drops edges
      if (nextCount == curCount) {
        Cut.release(next)
        converged = true
      } else {
        Cut.release(cur)
        cur = next
        curCount = nextCount
      }
      round += 1
    }
    // no degree filter here: at convergence every survivor is ≥ k by
    // construction, and at the maxRounds cut the contract is "the
    // graph after exactly maxRounds peels" (what the oracle unrolls).
    // The final persist is released by the inter-query catalog sweep
    // (CacheScope.unmanaged discipline of the other graph ops).
    degrees(cur).select(col("n").as("node"), col("d").as("degree"))
  }

  /** X130 — multi-source shortest hops: BFS distance from a SEED SET
    * over the undirected graph ("how many co-purchase hops from the
    * promoted items", contamination radius from flagged accounts).
    * Returns `(node, hops)` for every node reached within `maxHops`.
    *
    * Per round: the current distance table joins the adjacency once
    * and re-minimizes — work bounded by edges incident to the REACHED
    * set, with the same per-round checkpoint cut as [[kCore]] (the
    * lineage-explosion guard) and one 1-row count as the fixpoint
    * test. Stops early when no new node is reached; an oracle
    * unrolling exactly `maxHops` relaxation rounds matches either way
    * (extra relaxations of a converged table are the identity).
    */
  def shortestHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int = 6): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val canon = edges.select(a.as("a"), b.as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = Cut(canon.select(col("a").as("z"), col("b").as("nb"))
      .union(canon.select(col("b").as("z"), col("a").as("nb"))), eager = true)
    val nodes = adj.select(col("z").as("node")).distinct()
    var dist = Cut(nodes
      .join(seeds.select(col(seedCol).cast("string").as("node")).distinct(),
        Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("hops")), eager = true)
    var reached = dist.count()
    require(reached > 0, "seed set shares no nodes with the graph")
    var round = 0
    var converged = false
    while (round < maxHops && !converged) {
      val relaxed = dist
        .join(adj, col("node") === col("z"))
        .select(col("nb").as("node"), (col("hops") + 1).as("hops"))
      val next = Cut(dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).as("hops")), eager = true)
      val nextReached = next.count()
      if (nextReached == reached) {
        Cut.release(next)
        converged = true
      } else {
        Cut.release(dist)
        dist = next
        reached = nextReached
      }
      round += 1
    }
    // every round's dist is materialized: the adjacency cut is dead
    Cut.release(adj)
    dist
  }

  /** [[triangleCount]]'s edge orientation, exposed so GraphSpec can
    * pin the mechanism (a max-degree hub must have out-degree 0 —
    * THAT is the Σ outdeg² bound) rather than just the final count:
    * each canon edge flows low-(degree, id) → high-(degree, id). */
  private[graft] def orientByDegree(canon: DataFrame, deg: DataFrame)
    : DataFrame =
    canon
      .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** X183 — degree assortativity (Newman, PRL 2002): the Pearson
    * correlation of endpoint degrees over the edge list — positive
    * when hubs link to hubs (social nets), negative when hubs link to
    * leaves (the hub-and-spoke shape most retail co-purchase and
    * infrastructure graphs take). The one-number structural summary
    * next to x141's per-node clustering.
    *
    * Semantics: edges canonicalize exactly like [[triangleCount]]
    * (string least/greatest, self-loops dropped, distinct); each
    * undirected edge contributes BOTH orientations to the correlation
    * (the standard symmetrized form — r is otherwise direction-
    * dependent).
    *
    * Shape: the symmetrized moments COLLAPSE onto one pass over the
    * edge list — under (x,y) ∪ (y,x), Σx = Σy = Σ(dx+dy),
    * Σx² = Σy² = Σ(dx²+dy²), Σxy = 2·Σdx·dy, and varX = varY exactly,
    * so r = cov/var with no sqrt and NO union re-evaluating the edge
    * lineage (the r14 plan audit found the union form scanning the
    * input 6×; canon/deg persist for their two readers like
    * [[clusteringCoefficient]]). All moment sums are exact decimals
    * over integer degrees; one float chain at the end; a regular
    * graph has zero degree variance → null r.
    */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String,
      roundDigits: Int = 4,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val a = least(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val b = greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
    val canon = scope.persist(edges.select(a.as("a"), b.as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = canon.select(col("a").as("n"))
      .union(canon.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val m = withDeg.agg(
      count(lit(1)).as("__ne"),
      sum((col("__da") + col("__db")).cast(dec)).as("__s"),
      sum((col("__da") * col("__db")).cast(dec)).as("__sp"),
      sum((col("__da") * col("__da") + col("__db") * col("__db"))
        .cast(dec)).as("__sq"))
    val n = (col("__ne") * 2).cast("double")
    val s = col("__s").cast("double")
    val cov = n * (lit(2.0d) * col("__sp").cast("double")) - s * s
    val vr = n * col("__sq").cast("double") - s * s
    m.select(
      col("__ne").as("n_edges"),
      round(when(vr > 0, cov / vr).cast(stable), roundDigits)
        .cast("double").as("assortativity"))
  }

  /** Power-law exponent of the degree distribution by maximum
    * likelihood (Clauset–Shalizi–Newman 2009 eq. 3.7, the discrete
    * approximation): `alpha = 1 + n / Σ ln(d / (dmin - 0.5))` over
    * nodes with degree ≥ `dmin` — the one-number "is this graph
    * scale-free and how heavy is the tail" read that decides whether
    * mean-degree capacity planning is even meaningful. Log terms ride
    * DECIMAL(18,10) per-node so the sum is order-stable.
    *
    * Shape: one degree count + one aggregate; shuffle bounded by
    * nodes.
    */
  def powerLawAlpha(edges: DataFrame, srcCol: String, dstCol: String,
      dmin: Int = 1, roundDigits: Int = 6): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1: $dmin")
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec = org.apache.spark.sql.types.DecimalType(18, 10)
    val deg = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= dmin)
    val agg = deg.agg(count(lit(1)).as("n_nodes"),
      sum(log(col("__d").cast("double") / lit(dmin - 0.5d)).cast(dec))
        .as("__ls"),
      max(col("__d")).as("max_degree"))
    agg.filter(col("n_nodes") > 0)
      .select(col("n_nodes"), lit(dmin).as("dmin"), col("max_degree"),
        round(when(col("__ls") > 0,
          lit(1.0d) + col("n_nodes").cast("double")
            / col("__ls").cast("double")).cast(stable), roundDigits)
          .cast("double").as("alpha"))
  }

  /** HITS hubs and authorities (Kleinberg 1999, "Authoritative
    * sources in a hyperlinked environment"): alternate
    * `authority(v) = Σ_{u→v} hub(u)` and `hub(u) = Σ_{u→v} auth(v)`,
    * L1-normalized and quantized to `quantDigits` decimals after
    * every half-round (the x110/x284 iterative-oracle discipline) —
    * the link-analysis complement to PageRank's random surfer: on a
    * crawl graph, pages that POINT at good content (hubs) separate
    * from the content itself (authorities).
    *
    * Shape: the PageRank scale template — edges dedup ONCE, then
    * persist TWO copies pre-partitioned on each half-round's join key
    * (the [[Dedup]] connected-components trick): the authority step
    * joins on `src`, the hub step on `dst`, and a cached plan EXPOSES
    * its partitioning, so neither half-round pays an edge-side
    * exchange — only the thin V-row score frame moves, `iterations`×2
    * times. One pre-partitioned copy alone would re-shuffle the full
    * edge table every OTHER half-step, the dominant per-round cost at
    * graph scale. Each half-round is that one join plus one 1-row L1
    * total broadcast back in; scores Cut per half-round so the plan
    * stays linear in rounds. Nodes out of a side's reach sit at
    * exactly 0 for that side.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, quantDigits: Int = 9, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(iterations >= 1 && iterations <= 64,
      s"iterations out of range: $iterations")
    val base = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
    // dedup INSIDE the src-partitioned copy: HashPartitioning(src)
    // already clusters (src, dst), so the aggregate adds no exchange —
    // one shuffle builds the deduped src copy, and the dst copy is one
    // more exchange FROM THE CACHE (never a second scan + distinct).
    val eBySrc = scope.persist(
      base.repartition(col("src")).dropDuplicates("src", "dst"))
    val eByDst = scope.persist(eBySrc.repartition(col("dst")))
    val nodes = scope.persist(eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n >= 1, "empty graph")
    // Each half-round is ONE action (the 1-row L1 collect, which also
    // materializes the persisted contrib cache). The normalized score
    // frame is a LAZY Cut (flat LogicalRDD leaf immediately; its
    // checkpoint blocks materialize inside the NEXT half-round's
    // collect job) — r19, measured in both directions: the previous
    // form eagerly counted the cut frame (a second full job per
    // half-round, 10.8 s median), while a bare lazy projection over
    // the cache nests each generation's full logical plan inside the
    // next (the InMemoryRelation pyramid of the graft.util.Cut doc —
    // the optimizer re-walks it every half-round: 23.8 s). The lazy
    // cut keeps the flat leaf AND the one-action half-round:
    // 10.8 → ~7 s isolated. The backing cache must outlive its
    // consumer: contrib caches release one generation LATE (after the
    // next half-round's collect), and the final auth/hub frames
    // survive for the output join.
    def normalized(contrib: DataFrame, key: String): (DataFrame, DataFrame) = {
      val c = scope.persist(contrib.withColumnRenamed(key, "node"))
      // The L1 total is ONE row — collect it and inline as a literal
      // (identical double to a broadcast column: same sum over the
      // same per-key column), so the half-round pays no broadcast
      // exchange and the collect doubles as c's cache materialization.
      val tot = c.agg(sum(col("__c"))).collect().head
      val totV = if (tot.isNullAt(0)) 0.0d else tot.getDouble(0)
      val out = scope.persist(Cut(
        c.select(col("node"),
          (if (totV > 0) round(col("__c") / lit(totV), quantDigits)
           else lit(0.0d)).as("__s"))))
      (out, c)
    }
    var hub = scope.persist(
      nodes.select(col("node"), round(lit(1.0d / n), quantDigits).as("__s")))
    var auth: DataFrame = null
    var authBack: DataFrame = null // cache behind `auth`
    var hubBack: DataFrame = null  // cache behind `hub` (null: nodes-backed)
    for (_ <- 1 to iterations) {
      val aRaw = eBySrc.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("__s")).as("__c"))
      val aPrevBack = authBack
      val aPrevOut = auth
      val (a2, aBack) = normalized(aRaw, "dst")
      auth = a2
      authBack = aBack
      // the collect above consumed the PREVIOUS auth's cache — release
      // it AND the superseded auth score frame itself (r19 ADVICE: the
      // lazy-cut frames' checkpoint blocks are unreachable to
      // DataFrame.unpersist — Cut.release drops them; the superseded
      // generation's last consumer was the PREVIOUS half-round's
      // collect, so both are dead here)
      if (aPrevBack != null) aPrevBack.unpersist()
      if (aPrevOut != null) {
        aPrevOut.unpersist(); Cut.release(aPrevOut)
      }
      val hRaw = eByDst.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("__s")).as("__c"))
      val hPrevBack = hubBack
      val hPrevOut = hub
      val (h2, hBack) = normalized(hRaw, "src")
      hub = h2
      hubBack = hBack
      if (hPrevBack != null) hPrevBack.unpersist()
      // hub gen N−1's last consumer was THIS iteration's aRaw collect
      // (gen 0 is a plain projection, which Cut.release leaves alone)
      hPrevOut.unpersist(); Cut.release(hPrevOut)
    }
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    nodes
      .join(hub.select(col("node"), col("__s").as("__h")), Seq("node"), "left")
      .join(auth.select(col("node"), col("__s").as("__a")), Seq("node"),
        "left")
      .select(col("node"),
        round(coalesce(col("__h"), lit(0.0d)).cast(stable), roundDigits)
          .cast("double").as("hub"),
        round(coalesce(col("__a"), lit(0.0d)).cast(stable), roundDigits)
          .cast("double").as("authority"))
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan–
    * Albert–Kumara 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks"), determinized:
    * every node starts as its own label; each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors PLUS itself, ties to the SMALLEST label. The paper's
    * asynchronous random-order update finds the same communities but
    * is unreplayable across engines; the synchronous min-label form
    * makes every round a pure function of the previous one — the
    * determinism choice every oracle-gated iterative op here makes
    * (pageRank, hits, connected components) — and the self-vote
    * breaks the classic 2-cycle oscillation on symmetric pairs (a
    * tied pair collapses to the smaller label instead of swapping
    * forever). A fixed round budget is the contract: `rounds` ≈
    * observed mixing depth (5 suffices for the dense co-purchase
    * communities this reads; label diameter, like CC, bounds it).
    *
    * Shape: the CC/pageRank scale template — the symmetrized deduped
    * edge frame persists ONCE, pre-partitioned on `dst`, the
    * per-round join key (no round pays an edge-side exchange); each
    * round shuffles only vote rows bounded by E+V into a (node,
    * label) count and a per-node argmax window (frames bounded by a
    * node's distinct neighbor labels ≤ degree); rounds are
    * checkpoint-cut with round N−1's storage released as round N
    * materializes (the r6 eager-GC discipline).
    *
    * Output: (node, community, community_size), one row per node —
    * community = the surviving label (a member node's id), size = the
    * label's member count.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 5,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val dir0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
    // symmetrize with ONE pass over the caller's edge plan (explode of
    // the two orientations — the union form evaluated it twice, r19),
    // then dedup INSIDE the dst-partitioned copy (one exchange —
    // HashPartitioning(dst) clusters (src, dst))
    val e = scope.persist(
      dir0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .repartition(col("dst"))
        .dropDuplicates("src", "dst"))
    val nodes = scope.persist(e.select(col("src").as("node")).distinct())
    var labels = Cut(nodes.select(col("node"), col("node").as("__lab")),
      eager = true)
    for (_ <- 1 to rounds) {
      val votes = e
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("__lab"))
        .union(labels)
      val counts = votes.groupBy(col("node"), col("__lab"))
        .agg(count(lit(1)).as("__cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node"))
        .orderBy(col("__cnt").desc, col("__lab"))
      val next = Cut(counts
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("__lab")), eager = true)
      Cut.release(labels)
      labels = next
    }
    val sizes = labels.groupBy(col("__lab"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("__lab"))
      .select(col("node"), col("__lab").as("community"),
        col("community_size"))
  }

  /** Newman modularity of a community ASSIGNMENT (Newman & Girvan
    * 2004, eq. 5): per community c, `Q_c = L_c/m − (D_c/2m)²` with
    * L_c = intra-community edges, D_c = summed member degree, m =
    * undirected edge count — the one-number "are these communities
    * real structure or degree luck" grade for whatever produced the
    * assignment ([[labelPropagation]], connected components, a
    * semantic clustering): Q ≈ 0 means the partition explains nothing
    * beyond random wiring, Q ≳ 0.3 is conventional community
    * structure. Edges canonicalize exactly like [[triangleCount]]
    * (undirected a<b, deduped, loops dropped); everything up to the
    * final ratio is exact integer counting, per-community terms round
    * through DECIMAL(18,8), `q_total` sums the ROUNDED contributions
    * (round-then-add, the house cross-engine sum rule).
    *
    * Shape: one degree aggregate + two broadcast-sized joins against
    * the assignment (nodes-bounded) + one per-community rollup —
    * shuffles bounded by E for the edge-side community tagging and by
    * communities for the rollup. Unassigned endpoints drop with a
    * visible `n_unassigned_nodes` column rather than silently
    * skewing the edge terms.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, nodeCol: String, communityCol: String,
      roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    // canon feeds FOUR consumers (deg, m, intra, and deg's unassigned
    // anti-join) and asg three — persisted, or every consumer replays
    // the caller's edge derivation (the x325 gate's co-purchase
    // self-join appeared 5× in the unpersisted plan)
    val canon = scope.persist(edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol).cast("string"), col(dstCol).cast("string"))
        .as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val asg = scope.persist(assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c")))
    // deg persisted (r20): it feeds the unassigned anti-join AND the
    // degC rollup here, and a before/after grading pair (x327/x330/
    // x333/x335's refinementSummary) builds PLAN-IDENTICAL deg frames
    // over the shared canon — the cache manager dedupes them, so the
    // degree pass runs once per query instead of four times
    val deg = scope.persist(canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d")))
    val m = canon.agg(count(lit(1)).as("__m"))
    val unassigned = deg.join(asg, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("__u"))
    // intra-community edge count per community
    val intra = canon
      .join(asg.select(col("node").as("a"), col("__c").as("__ca")), Seq("a"))
      .join(asg.select(col("node").as("b"), col("__c").as("__cb")), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__l"))
    // summed member degree per community (members with no edges add 0)
    val degC = asg.join(deg, Seq("node"), "left")
      .groupBy(col("__c"))
      .agg(sum(coalesce(col("__d"), lit(0L))).as("__dc"),
        count(lit(1)).as("n_nodes"))
    val mD = col("__m").cast("double")
    val perC = degC.join(intra, Seq("__c"), "left")
      .crossJoin(broadcast(m)).crossJoin(broadcast(unassigned))
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("__l"), lit(0L)).as("internal_edges"),
        col("__dc").as("degree_sum"),
        col("__m").as("m_edges"), col("__u").as("n_unassigned_nodes"),
        round(when(col("__m") > 0,
          coalesce(col("__l"), lit(0L)).cast("double") / mD -
            (col("__dc").cast("double") / (lit(2.0d) * mD)) *
            (col("__dc").cast("double") / (lit(2.0d) * mD)))
          .otherwise(lit(0.0d)).cast(stable), roundDigits)
          .cast("double").as("q_contrib"))
    perC.select(col("community"), col("n_nodes"), col("internal_edges"),
      col("degree_sum"), col("m_edges"), col("n_unassigned_nodes"),
      col("q_contrib"),
      round(sum(col("q_contrib"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast(stable), roundDigits).cast("double").as("q_total"))
  }

  /** EXACT-integer modularity numerator: Q = num/(4m²) with
    * num = Σ_c (4m·L_c − D_c²) — the rounding-free twin of
    * [[modularity]], for strict-improvement proofs (x327 grades a
    * [[modularityRefine]] sweep with it: single-move gains on a
    * sparse graph sit BELOW the grade's display rounding — measured:
    * 16 accepted moves at m=3573 gain ≥ 32/(4m²) ≈ 6e-7, invisible
    * at 6 dp — while the numerator difference is an exact positive
    * long). Long arithmetic: 4m·L_c ≤ 4E², overflow only past ~10⁹
    * edges; a deployment beyond that swaps the products to
    * DECIMAL(38,0). Output: ONE row (q_num_4m2, m_edges). */
  def modularityExactNumerator(edges: DataFrame, srcCol: String,
      dstCol: String, assignment: DataFrame, nodeCol: String,
      communityCol: String,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val canon = scope.persist(edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol).cast("string"), col(dstCol).cast("string"))
        .as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val asg = scope.persist(assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c")))
    val deg = canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val m = canon.agg(count(lit(1)).as("__m"))
    val intra = canon
      .join(asg.select(col("node").as("a"), col("__c").as("__ca")), Seq("a"))
      .join(asg.select(col("node").as("b"), col("__c").as("__cb")), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__l"))
    val degC = asg.join(deg, Seq("node"), "left")
      .groupBy(col("__c"))
      .agg(sum(coalesce(col("__d"), lit(0L))).as("__dc"))
    degC.join(intra, Seq("__c"), "left")
      .crossJoin(broadcast(m))
      .agg(sum(lit(4L) * col("__m") * coalesce(col("__l"), lit(0L)) -
        col("__dc") * col("__dc")).as("q_num_4m2"),
        max(col("__m")).as("m_edges"))
  }

  /** Community WELL-CONNECTEDNESS guard (the Leiden critique of
    * LPA/Louvain communities — Traag, Waltman & van Eck 2019,
    * "From Louvain to Leiden": both can emit internally sparse, even
    * disconnected, communities; label propagation's classic failure
    * mode is a CHAIN flooded into one label). Full γ-connectivity is
    * subset-exponential; this is the practical per-community screen:
    *
    *   - `internal_edges ≥ γ·n_nodes` for n_nodes ≥ 3 — a chain (any
    *     tree) has size−1 < γ·size at γ = 1, while anything holding a
    *     cycle passes; singletons and pairs are exempt (a pair with
    *     its edge is already a clique);
    *   - `min_internal_degree ≥ 1` for n_nodes ≥ 2 — a member with
    *     NO intra-community edge means the community is outright
    *     disconnected (the worst Louvain artifact).
    *
    * When to prefer it: run as a post-hoc screen after
    * [[labelPropagation]] (+[[modularityRefine]]) whenever the
    * communities feed a decision that assumes cohesion (dedup
    * clusters, co-purchase assortments) — flagged communities should
    * be re-split (e.g. connected components INSIDE the community)
    * rather than trusted. Not a replacement for the modularity grade:
    * Q measures against the null model, this measures internal
    * cohesion; a partition can score well on one and fail the other.
    *
    * Shape: one canonical-edge pass tagged by the assignment (E-
    * bounded), one per-member intra-degree aggregate (V-bounded), one
    * communities-bounded rollup. Output: (community, n_nodes,
    * internal_edges, min_internal_degree, well_connected). */
  def communityConnectedness(edges: DataFrame, srcCol: String,
      dstCol: String, assignment: DataFrame, nodeCol: String,
      communityCol: String, gamma: Double = 1.0,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(gamma > 0, s"gamma must be positive: $gamma")
    val canon = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol).cast("string"), col(dstCol).cast("string"))
        .as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val asg = scope.persist(assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c")))
    val intraEdges = scope.persist(canon
      .join(asg.select(col("node").as("a"), col("__c").as("__ca")), Seq("a"))
      .join(asg.select(col("node").as("b"), col("__c").as("__cb")), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .select(col("a"), col("b"), col("__ca").as("__c")))
    val intraDeg = intraEdges.select(col("a").as("node"), col("__c"))
      .union(intraEdges.select(col("b").as("node"), col("__c")))
      .groupBy(col("node"), col("__c"))
      .agg(count(lit(1)).as("__id"))
    val perC = asg.join(intraDeg, Seq("node", "__c"), "left")
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("n_nodes"),
        min(coalesce(col("__id"), lit(0L))).as("min_internal_degree"))
    val intraC = intraEdges.groupBy(col("__c"))
      .agg(count(lit(1)).as("internal_edges"))
    perC.join(intraC, Seq("__c"), "left")
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("min_internal_degree"),
        ((col("n_nodes") === 1 || col("min_internal_degree") >= 1) &&
          (col("n_nodes") <= 2 ||
            coalesce(col("internal_edges"), lit(0L)).cast("double") >=
              lit(gamma) * col("n_nodes").cast("double")))
          .as("well_connected"))
  }

  /** One-or-more Louvain-style refinement sweeps over a community
    * ASSIGNMENT (the local-move phase of Blondel et al. 2008, "Fast
    * unfolding of communities in large networks", §2 — without the
    * coarsening): each sweep, every node simultaneously evaluates
    * moving to each NEIGHBOR community and takes the best
    * positive-gain move. [[labelPropagation]] + [[modularity]] are
    * the two halves of Louvain without this loop — LPA votes by
    * label frequency (blind to degree luck), this sweep moves by the
    * modularity objective itself, turning the grade into an
    * optimizer.
    *
    * Determinism (the oracle-gate requirement every iterative op here
    * meets): the gain of moving node i from its community C to a
    * neighbor community D,
    *   ΔQ(i→D) = (k_iD − k_iC′)/m − k_i·(D_D − D_C + k_i)/(2m²)
    * (k_iD = i's edges into D, k_iC′ = i's edges into C∖{i}, D_X =
    * summed member degree with i still in C, m = undirected edge
    * count), is compared through the 2m²-SCALED form
    *   score(D) = 2m·(k_iD − k_iC′) − k_i·(D_D − D_C + k_i)
    * — exact long arithmetic end-to-end (every factor is an edge
    * count; at 2m ≈ 10¹² and k ≈ 10⁴ the product is 10¹⁶, inside
    * long), so the argmax never rides a float rounding edge. A move
    * candidate exists iff its score is STRICTLY positive (staying
    * scores 0 by definition — the D=C form degenerates to −k_i² and
    * is excluded); each node's best candidate (score desc, then
    * smallest target label) is its PROPOSAL.
    *
    * MONOTONE parallel acceptance: naively applying every proposal
    * synchronously overshoots (many nodes pile into the same target
    * and Q can DROP — measured on the co-purchase graph: one naive
    * sweep took 0.4492 → 0.4388). Instead each sweep accepts the
    * LOCALLY DOMINANT proposals (Preis 1999 / Manne–Bisseling
    * parallel greedy matching, applied to the community graph): a
    * proposal is accepted iff it is the strongest proposal — order
    * (score desc, node asc), total because node is unique — incident
    * to BOTH its source and its target community. Accepted proposals
    * therefore form a matching on communities (two accepted proposals
    * incident to one community would both be that community's
    * incident-max, hence equal), so they touch pairwise-disjoint
    * community pairs; a single move's ΔQ depends only on its own two
    * communities' terms, so the accepted moves' exact gains are
    * exactly additive and every sweep STRICTLY improves Q whenever
    * any strictly-positive proposal exists. Fully deterministic,
    * replayable by the SQL oracle. Known limitation of any
    * node-local scheme: an assignment with a SINGLE community (LPA's
    * output on a graph whose label diameter collapses, e.g. the
    * co-purchase graph at sf0.001) admits no move at all — isolating
    * a node from the universal community scores −k_i² < 0 — so the
    * sweep is a fixed point there and the gate reports
    * q_before = q_after with n_moved = 0.
    *
    * Shape: the CC/LPA scale template — canonical edges persist once;
    * per sweep ONE (node, neighbor-community) count bounded by E, one
    * communities-bounded degree rollup, one per-node argmax window
    * bounded by a node's distinct neighbor communities ≤ degree, one
    * communities-bounded incident-max window; no all-pairs anywhere.
    * Edges with an endpoint missing from the assignment contribute to
    * degrees and m (matching [[modularity]]'s grade of the same
    * assignment) but never to move candidates.
    *
    * Output: (node, community) — the refined assignment, one row per
    * assigned node. */
  def modularityRefine(edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, nodeCol: String, communityCol: String,
      sweeps: Int = 1,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(sweeps >= 1 && sweeps <= 16, s"sweeps out of range: $sweeps")
    val canon = scope.persist(canonicalEdges(edges, srcCol, dstCol))
    // symmetric adjacency off the canonical set — canon is distinct
    // and a<b, so the union is already duplicate-free; w ≡ 1 (the
    // weighted core with unit weights computes bit-identical scores)
    val e = scope.persist(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
        .withColumn("__w", lit(1L))
        .repartition(col("dst")))
    // m collected ONCE as a driver scalar (r20): one tiny job that
    // also materializes the persisted canon every later pass reuses
    val m = canon.agg(count(lit(1))).head.getLong(0)
    val asg0 = assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c"))
    refineCore(e, None, m, asg0, sweeps, scope)
      .select(col("node"), col("__c").as("community"))
  }

  /** The triangleCount/modularity canonicalization: undirected a<b
    * string edges, deduped, loops dropped. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol).cast("string"), col(dstCol).cast("string"))
        .as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** The WEIGHTED local-move engine shared by [[modularityRefine]]
    * (w ≡ 1, no self-loops) and [[louvain]]'s aggregated level
    * (integer inter-community weights + self-loop weights): per
    * sweep, per node, per neighbor community D the 2m²-scaled gain
    * `2m·(k_iD − k_iC′) − k_i·(D_D − D_C + k_i)` with k_iX = SUM of
    * edge weights into X and k_i = weighted degree + 2·self-weight —
    * every term an integer edge count, so the long arithmetic and
    * the locally-dominant acceptance replay bit-exactly in SQL at
    * both levels. `e` must be the SYMMETRIC (src, dst, __w) frame,
    * persisted and pre-partitioned on dst; `m` is the ORIGINAL
    * graph's undirected edge count/weight as a driver scalar
    * (aggregation preserves m: Σw/2 + Σself = m). Per-sweep lineage
    * cut, the LPA/CC discipline:
    * one sweep's plan references its predecessor ~6× — uncut, three
    * sweeps compose into an exponentially exploding logical plan that
    * stalls Catalyst before a single task runs (measured: sweeps=3
    * hung >9 min at sf0.001; cut, it's seconds). Returns the cut
    * (node, __c) frame. */
  private def refineCore(e: DataFrame, selfW: Option[DataFrame],
      m: Long, asg0: DataFrame, sweeps: Int,
      scope: graft.util.CacheScope): DataFrame = {
    // node-driven degrees: an aggregated super-node with ONLY a
    // self-loop (an isolated community) never appears in `e`.
    // r20: k_i is STATIC across sweeps, so it rides INSIDE the cut
    // assignment frame (node, __c, __ki) — the per-sweep deg joins
    // (degC's and own's, two V-sized shuffles each sweep) disappear
    // and deg itself has exactly one consumer, so it needs no cut.
    val edgeDeg = e.groupBy(col("src").as("node"))
      .agg(sum(col("__w")).as("__kw"))
    val degBase = asg0.select(col("node"))
      .join(edgeDeg, Seq("node"), "left")
    val deg = selfW match {
      case Some(sw) => degBase.join(sw, Seq("node"), "left")
        .select(col("node"), (coalesce(col("__kw"), lit(0L)) +
          lit(2L) * coalesce(col("__sw"), lit(0L))).as("__k"))
      case None => degBase
        .select(col("node"), coalesce(col("__kw"), lit(0L)).as("__k"))
    }
    var asg = Cut.flat(
      asg0.join(deg, Seq("node"), "left")
        .select(col("node"), col("__c"),
          coalesce(col("__k"), lit(0L)).as("__ki")), eager = true)
    for (_ <- 1 to sweeps) {
      val prev = asg
      // community degree totals — communities-bounded; lazily cut so
      // its two consumers (the __totC and __totD joins) aggregate the
      // V-sized prev leaf once, not twice
      val degC = Cut.flat(
        prev.groupBy(col("__c")).agg(sum(col("__ki")).as("__tot")))
      // i's edge weight into each ASSIGNED neighbor community
      // (includes D = C(i): that row is k_iC′)
      val nc = e
        .join(prev.select(col("node").as("dst"), col("__c").as("__cd")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("__cd"))
        .agg(sum(col("__w")).as("__kd"))
      // r20 single-shuffle candidate chain (guide §2.4): the old shape
      // joined nc back against prev twice more (own + the kic
      // self-join, each a fresh node-keyed exchange) and ranked
      // per-node candidates with a row_number window on yet another
      // node exchange. Now: attach __totD keyed on the candidate
      // community FIRST (communities-bounded side), then ONE node-keyed
      // join against (prev ⋈ degC) — its output partitioning already
      // satisfies the per-node window, so k_iC′ comes from a
      // max(when(cd = c)) over the SAME partitioning with no further
      // exchange, and the per-node best candidate is a map-side-
      // combinable min(struct) aggregate instead of a sorted window.
      val scored = nc
        .join(degC.select(col("__c").as("__cd"), col("__tot").as("__totD")),
          Seq("__cd"))
        .join(prev.join(degC.withColumnRenamed("__tot", "__totC"),
          Seq("__c")), Seq("node"))
      val wNode = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node"))
      val cand = scored
        .withColumn("__kic",
          max(when(col("__cd") === col("__c"), col("__kd"))).over(wNode))
        .filter(col("__cd") =!= col("__c"))
        .select(col("node"), col("__c"), col("__cd"),
          // m arrives as a DRIVER LITERAL (r20): it is one scalar
          // fixed for the whole call, and carrying it as a 1-row
          // broadcast frame cost a BroadcastExchange job per sweep
          (lit(2L) * lit(m) *
            (col("__kd") - coalesce(col("__kic"), lit(0L))) -
            col("__ki") * (col("__totD") - col("__totC") + col("__ki")))
            .as("__score"))
        .filter(col("__score") > 0)
      // per-node best strictly-positive candidate = the node's
      // proposal: min(struct(−score, cd)) ≡ the old
      // orderBy(score desc, cd asc) row_number = 1 (scores are exact
      // longs, so negation is total and ties break identically).
      // CUT, not persisted: props is referenced 3× (two incident legs
      // + the accept join) — as a flat leaf it's one small
      // materialization per sweep (see Cut.flat)
      val props = Cut.flat(
        cand.groupBy(col("node"), col("__c"))
          .agg(min(struct((-col("__score")).as("__ns"), col("__cd")))
            .as("__best"))
          .select(col("node"), col("__c"),
            col("__best").getField("__cd").as("__cd"),
            (-col("__best").getField("__ns")).as("__score")))
      // locally-dominant acceptance: strongest incident proposal per
      // community, accept where the proposal wins BOTH endpoints —
      // min(struct(−score, node)) ≡ orderBy(score desc, node asc) #1
      val incident = props.select(col("__c").as("__comm"), col("node"),
          col("__score"))
        .union(props.select(col("__cd").as("__comm"), col("node"),
          col("__score")))
      val winners = incident.groupBy(col("__comm"))
        .agg(min(struct((-col("__score")).as("__ns"), col("node")))
          .as("__w"))
        .select(col("__comm"), col("__w").getField("node").as("__winner"))
      val accepted = props
        .join(winners.withColumnRenamed("__comm", "__c")
          .withColumnRenamed("__winner", "__wc"), Seq("__c"))
        .join(winners.withColumnRenamed("__comm", "__cd")
          .withColumnRenamed("__winner", "__wd"), Seq("__cd"))
        .filter(col("node") === col("__wc") && col("node") === col("__wd"))
        .select(col("node"), col("__cd").as("__move"))
      val next = Cut.flat(
        prev.join(accepted, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__move"), col("__c")).as("__c"), col("__ki")),
        eager = true)
      // storage reclamation: `next` is materialized (an eager cut), so
      // this sweep's props/degC and the superseded assignment
      // generation are unreachable — free their blocks and files NOW;
      // frames are communities/V-bounded, so the in-flight footprint
      // is two generations of small frames
      Seq(props, degC, prev).foreach(Cut.release)
      asg = next
    }
    // the final assignment's own cut intentionally survives — the
    // caller reads it (one V-bounded frame per call, reclaimed by the
    // caller's lifecycle / cleanCheckpoints)
    asg.select(col("node"), col("__c"))
  }

  /** FULL two-phase Louvain (Blondel, Guillaume, Lambiotte & Lefebvre
    * 2008, §2 — both phases): [[modularityRefine]]'s node-local moves
    * stop at the resolution limit (Fortunato & Barthélémy 2007: on a
    * ring of n cliques, merging ADJACENT CLIQUES raises Q once n is
    * large, but every single-node move out of a clique scores
    * negative — the spec pins exactly that fixture). The second phase
    * breaks the limit: AGGREGATE each community to a super-node
    * (inter-community edge counts as integer weights, intra counts as
    * self-loops — m is preserved: Σw/2 + Σself = m), run the SAME
    * weighted locally-dominant sweeps on the super-graph (whole
    * communities now move/merge as units), then project the
    * super-assignment back down. Every stage is exact-integer and
    * monotone — level-0 sweeps by the [[modularityRefine]] proof,
    * aggregation is Q-preserving by construction, super-level sweeps
    * by the same proof over weighted gains — so the composite's Q
    * never drops below the seed's, and the whole chain replays
    * bit-exactly in the SQL oracle.
    *
    * Shape: level 0 is [[refineCore]] on the canonical edges; the
    * aggregation is ONE tagged-edge aggregate (E-bounded) producing a
    * communities-bounded super-graph, so the super-level sweeps cost
    * a vanishing fraction of level 0. Seed with [[labelPropagation]]
    * (the cheap E+V vote) and this is the standard
    * LPA-seeded-Louvain pipeline.
    *
    * Output: (node, community) — community ids are level-0 community
    * labels surviving as super-community representatives. */
  def louvain(edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, nodeCol: String, communityCol: String,
      sweepsPerLevel: Int = 2,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(sweepsPerLevel >= 1 && sweepsPerLevel <= 16,
      s"sweepsPerLevel out of range: $sweepsPerLevel")
    val canon = scope.persist(canonicalEdges(edges, srcCol, dstCol))
    val e1 = scope.persist(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
        .withColumn("__w", lit(1L))
        .repartition(col("dst")))
    // m collected ONCE as a driver scalar (r20): aggregation
    // preserves it (Σw/2 + Σself = m), so BOTH levels share the same
    // literal and the per-sweep 1-row broadcast job disappears
    val m = canon.agg(count(lit(1))).head.getLong(0)
    val asg0 = assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c"))
    // phase 1: node-local sweeps (returns a cut frame — read many
    // times below)
    val l1 = refineCore(e1, None, m, asg0, sweepsPerLevel, scope)
    // phase 2: aggregate communities to a weighted super-graph. Every
    // super frame is communities-bounded AND eagerly cut — flat
    // LogicalRDD leaves, or the optimizer's stats recursion chokes on
    // the cache pyramid (see Cut.flat)
    val tagged = scope.persist(canon
      .join(l1.select(col("node").as("a"), col("__c").as("__ca")), Seq("a"))
      .join(l1.select(col("node").as("b"), col("__c").as("__cb")), Seq("b")))
    val superEdges = tagged.filter(col("__ca") =!= col("__cb"))
      .select(least(col("__ca"), col("__cb")).as("a"),
        greatest(col("__ca"), col("__cb")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__w"))
    val e2 = Cut.flat(
      superEdges.select(col("a").as("src"), col("b").as("dst"), col("__w"))
        .union(superEdges.select(col("b").as("src"), col("a").as("dst"),
          col("__w")))
        .repartition(col("dst")), eager = true)
    val superSelf = Cut.flat(
      tagged.filter(col("__ca") === col("__cb"))
        .groupBy(col("__ca").as("node")).agg(count(lit(1)).as("__sw")),
      eager = true)
    val superSeed = l1.select(col("__c").as("node")).distinct()
      .select(col("node"), col("node").as("__c"))
    val l2 = refineCore(e2, Some(superSelf), m, superSeed,
      sweepsPerLevel, scope)
    // l2 is a materialized flat leaf — the super-level input cuts are
    // superseded
    Seq(e2, superSelf).foreach(Cut.release)
    // project the super-assignment down
    l1.join(l2.toDF("__c", "__super"), Seq("__c"))
      .select(col("node"), col("__super").as("community"))
  }

  /** Leiden-style REPAIR of badly-connected communities (Traag,
    * Waltman & van Eck 2019, "From Louvain to Leiden" — their central
    * guarantee: every community in the final partition is internally
    * CONNECTED, the property Louvain famously violates): re-split
    * each community into the connected components of its OWN
    * intra-community subgraph. A community that is already connected
    * keeps its label untouched; a disconnected one splits into
    * `label#rep` parts (rep = the part's lexicographically smallest
    * member — deterministic, oracle-replayable); a member with no
    * intra-community edge becomes its own singleton part.
    *
    * Q-MONOTONE BY CONSTRUCTION: splitting a community into its
    * components preserves every internal edge (a cross-part pair
    * inside one community has no edge, by definition of a component),
    * so Σ_c L_c is unchanged, while Σ_c D_c² only shrinks
    * ((Σᵢ Dᵢ)² ≥ Σᵢ Dᵢ² for Dᵢ ≥ 0) — hence
    * ΔQ = (D_c² − Σ D_part²)/4m² ≥ 0, strictly positive whenever a
    * split community has two parts with edges. The exact-integer
    * gain is visible through [[modularityExactNumerator]] like
    * x327's.
    *
    * SCREEN GUARANTEE: every output community passes
    * [[communityConnectedness]] for any γ ≤ 2/3 — n=1 is exempt, n=2
    * has its edge, and a connected n ≥ 3 community holds ≥ n−1 ≥
    * (2/3)·n internal edges. The γ=1 density floor is deliberately
    * NOT enforced by splitting: a connected tree admits no split
    * into γ=1-passing parts except pairs/singletons, which destroys
    * real structure — density failures remain the screen's REPORT;
    * disconnection is the defect this operator repairs (exactly the
    * Leiden guarantee, not more).
    *
    * Shape: intra-community edge tagging is one E-bounded pass; the
    * component labels converge by min-label propagation WITH an
    * unconditional pointer jump (label ← min(label, label∘label),
    * the Shiloach–Vishkin shortcut [[graft.operators.Dedup
    * .connectedComponents]] engages adaptively), so a diameter-D part
    * needs O(log D) rounds, each one intra-E-bounded join + one
    * V-bounded jump join, under the [[graft.util.Cut.flat]] discipline
    * with per-round release of the superseded cuts. Both steps only ever
    * lower labels toward the part minimum, so the fixpoint is the
    * true component labeling regardless of round count.
    *
    * Output: (node, community) — one row per assigned node. */
  def repairCommunities(edges: DataFrame, srcCol: String, dstCol: String,
      assignment: DataFrame, nodeCol: String, communityCol: String,
      maxRounds: Int = 24,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val canon = canonicalEdges(edges, srcCol, dstCol)
    val asg = scope.persist(assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c")))
    // intra-community edges, symmetric, pre-partitioned on the join
    // key (the CC template: the per-round propagate joins on dst)
    val intra = canon
      .join(asg.select(col("node").as("a"), col("__c").as("__ca")),
        Seq("a"))
      .join(asg.select(col("node").as("b"), col("__c").as("__cb")),
        Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .select(col("a"), col("b"))
    // NOTE (r19): the one-pass explode symmetrization used elsewhere
    // was tried here and measured no better (isolated x333 medians
    // straddled the host's noise band in both directions), so the
    // original self-union stays — the intra tagging is two broadcast
    // joins over cached inputs and is cheap to evaluate twice
    val sym = scope.persist(
      intra.select(col("a").as("src"), col("b").as("dst"))
        .union(intra.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("dst")))
    var lab = Cut.flat(asg.select(col("node"), col("node").as("__r")),
      eager = true)
    var round = 0
    var changed = 1L
    while (round < maxRounds && changed > 0) {
      val prev = lab
      val nbrMin = sym
        .join(prev.select(col("node").as("dst"), col("__r").as("__nr")),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("__nr")).as("__nm"))
      // cut the stepped frame LAZILY (r20): the jump reads it twice
      // (own row + the label lookup), and a lazy flat leaf still pays
      // the E-bounded propagate join ONCE — materialized inside the
      // next eager cut's job instead of its own job per round.
      // prev's label rides along as __r0 so the change test below is
      // a scan of the round's materialized leaf, not a V⋈V join.
      val stepped = Cut.flat(
        prev.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("__r"), coalesce(col("__nm"), col("__r")))
              .as("__r1"), col("__r").as("__r0")))
      // pointer jump: labels are node ids, so label(label) is one
      // V-bounded self-join — reach doubles per round instead of
      // stepping
      val jumped = stepped
        .join(stepped.select(col("node").as("__r1"),
          col("__r1").as("__rr")).toDF("__r1", "__rr"), Seq("__r1"))
        .select(col("node"), least(col("__r1"), col("__rr")).as("__r"),
          col("__r0"))
      val next = Cut.flat(jumped, eager = true)
      Cut.release(stepped)
      // labels only ever DECREASE (least of own and neighbors), so a
      // round changed something iff any row's __r differs from its
      // carried __r0 — one scan of the flat leaf just materialized
      changed = next.filter(col("__r") =!= col("__r0")).count()
      Cut.release(prev)
      lab = next
      round += 1
    }
    require(changed == 0L,
      s"repairCommunities did not converge in $maxRounds rounds — " +
        "raise maxRounds (components converge in O(log diameter))")
    val parts = lab.select(col("node"), col("__r")).join(asg, Seq("node"))
    val nParts = parts.groupBy(col("__c"))
      .agg(countDistinct(col("__r")).as("__np"))
    parts.join(nParts, Seq("__c"))
      .select(col("node"),
        when(col("__np") === 1, col("__c"))
          .otherwise(concat(col("__c"), lit("#"), col("__r")))
          .as("community"))
  }

  /** INCREMENTAL [[labelPropagation]] maintenance (delta-LPA — r18
    * verdict #7's shape: re-propagate labels ONLY in the
    * neighborhood of changed edges): given the CURRENT full edge set,
    * the CHANGED edges (added and/or removed pairs — pass the
    * symmetric difference), and the assignment previously computed
    * by [[labelPropagation]] over the pre-change graph at the SAME
    * `rounds`, produce an assignment IDENTICAL row-for-row to a full
    * re-run on the current graph — without touching nodes the change
    * cannot reach.
    *
    * WHY EXACT (the locality theorem synchronous fixed-round LPA
    * gives for free): a node's round-R label is a deterministic
    * function of its radius-R ball — l_R(u) = f(B(u, R)). If no
    * changed edge lies within R hops of u IN EITHER the old or the
    * new graph (checked on their UNION, since removals only grow
    * distances), the two balls are identical and u's label cannot
    * change. So:
    *
    *   1. S = B_union(changed endpoints, R) — the nodes that MAY
    *      change;
    *   2. need sets n_R = S, n_{r−1} = n_r ∪ N_new(n_r) — exactly
    *      the labels round r's votes read (n_0 ⊆ B(S, R));
    *   3. re-run the R synchronous vote rounds from l_0 = own id,
    *      computing round r's winners ONLY for n_r — every vote a
    *      node reads is available by induction, so the recomputed
    *      labels equal the full run's bit-for-bit;
    *   4. output = prev assignment outside S ∪ recomputed inside S
    *      (S-nodes no longer incident to any edge drop, matching the
    *      full run's nodes-of-the-graph domain), sizes recounted.
    *
    * Scale shape: the change's cost is BALL-bounded, not graph-
    * bounded — 2R hop expansions + R vote rounds whose frames are
    * the (tiny, broadcastable) ball sets joined against the persisted
    * pre-partitioned edge frame; a converged community structure
    * absorbing a trickle of edges re-propagates almost nothing. This
    * is the batch kernel a `foreachBatch` streaming maintainer calls
    * per micro-batch, feeding the changed rows into
    * [[graft.streaming.Stateful.membershipDeltaMonitor]] — the loop
    * the drift monitor was built for. Gate x337 pins delta ≡ full
    * re-run against the x323 oracle on a 90/10 edge split.
    *
    * Output: (node, community, community_size) — the
    * [[labelPropagation]] contract. */
  def deltaLabelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, changedEdges: DataFrame, changedSrcCol: String,
      changedDstCol: String, prevAssignment: DataFrame,
      nodeCol: String, communityCol: String, rounds: Int = 5,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    // current graph, the labelPropagation canonical form
    def sym2(d: DataFrame): DataFrame =
      d.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    val dir0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
    // one-pass explode symmetrization (r19) — the self-union form
    // evaluated the caller's edge plan twice per frame
    val e = scope.persist(
      sym2(dir0)
        .repartition(col("dst"))
        .dropDuplicates("src", "dst"))
    val chg0 = changedEdges
      .filter(col(changedSrcCol).isNotNull && col(changedDstCol).isNotNull)
      .select(col(changedSrcCol).cast("string").as("src"),
        col(changedDstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
    val chgSym = sym2(chg0)
    // influence balls expand over old ∪ new (removals only grow
    // distances, so the union bounds both graphs' reach)
    val eU = scope.persist(
      e.select(col("src"), col("dst")).union(chgSym)
        .dropDuplicates("src", "dst"))
    def grow(b: DataFrame, g: DataFrame): DataFrame =
      Cut.flat(
        g.join(b.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"))
          .union(b).distinct(), eager = true)
    // FIXED-POINT EXIT (r19 optimization): grow is monotone (the new
    // ball is a superset of the old), so equal consecutive COUNTS mean
    // equal SETS — every remaining round's grow would return the same
    // frame. On a dense graph the ball saturates in a round or two and
    // the exit saves the remaining E-sized joins + checkpoint writes;
    // the saturated set is bit-identical to the full expansion, so the
    // output is unchanged row-for-row. The cut is eager, so the
    // count() reads the just-materialized RDD — a near-free job.
    var ball = Cut.flat(
      chgSym.select(col("src").as("node"))
        .union(chgSym.select(col("dst").as("node"))).distinct(), eager = true)
    var ballN = ball.count()
    var ballClosed = false // neighbor-closed over eU
    var r0 = 0
    while (r0 < rounds && !ballClosed) {
      val b2 = grow(ball, eU)
      val n2 = b2.count()
      if (n2 == ballN) {
        // b2 == ball as a set; keep the old frame, drop the new cut
        Cut.release(b2)
        ballClosed = true
      } else {
        Cut.release(ball)
        ball = b2
        ballN = n2
      }
      r0 += 1
    }
    val mayChange = ball
    // need sets walk back out over the NEW graph only; every
    // generation stays live until the vote rounds finish. Same
    // fixed-point exit: once grow over `e` adds nothing, every earlier
    // need set equals the closed set (monotone chain), and — because
    // the closed set contains its own e-neighbors — the vote rounds'
    // semi-join against it is an identity that can be SKIPPED (votes
    // only ever produce e-neighbors of label holders, which stay
    // inside a neighbor-closed superset by induction from
    // needs(0) = the closed set).
    val needs = new Array[DataFrame](rounds + 1)
    val needsClosed = new Array[Boolean](rounds + 1)
    needs(rounds) = mayChange
    needsClosed(rounds) = false
    var needN = ballN
    var needDone = false
    for (r <- rounds - 1 to 0 by -1) {
      if (needDone) {
        needs(r) = needs(r + 1)
        needsClosed(r) = true
      } else {
        val nf = grow(needs(r + 1), e)
        val n2 = nf.count()
        if (n2 == needN) {
          // needs(r+1) is e-neighbor-closed and nf == needs(r+1)
          Cut.release(nf)
          needs(r) = needs(r + 1)
          needsClosed(r) = true
          needsClosed(r + 1) = true
          needDone = true
        } else {
          needs(r) = nf
          needN = n2
        }
      }
    }
    var lab = Cut.flat(needs(0).select(col("node"), col("node").as("__lab")),
      eager = true)
    for (r <- 1 to rounds) {
      val votes0 = e
        .join(lab.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("__lab"))
        .union(lab)
      val votes =
        if (needsClosed(r)) votes0 // semi-join is an identity (see above)
        else votes0.join(needs(r), Seq("node"), "left_semi")
      val counts = votes.groupBy(col("node"), col("__lab"))
        .agg(count(lit(1)).as("__cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node"))
        .orderBy(col("__cnt").desc, col("__lab"))
      val next = Cut.flat(counts
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("__lab")), eager = true)
      Cut.release(lab)
      lab = next
    }
    // the final vote is materialized — need-set generations are
    // superseded (mayChange excepted; the merge still reads it)
    needs.distinct.filter(_ ne mayChange).foreach(Cut.release)
    val prev = prevAssignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__lab"))
    // recomputed S-nodes still incident to an edge; a node whose last
    // edge was removed leaves the assignment like the full run
    val recomputed = lab
      .join(mayChange, Seq("node"), "left_semi")
      .join(e.select(col("src").as("node")).distinct(), Seq("node"),
        "left_semi")
    val merged = scope.persist(
      prev.join(mayChange, Seq("node"), "left_anti").union(recomputed))
    val sizes = merged.groupBy(col("__lab"))
      .agg(count(lit(1)).as("community_size"))
    merged.join(sizes, Seq("__lab"))
      .select(col("node"), col("__lab").as("community"),
        col("community_size"))
  }

  /** [[canonicalEdges]] with an integer edge weight: undirected a<b
    * string pairs, self-loops dropped, duplicate/reversed rows'
    * weights SUMMED, weights cast to long (integer weights keep the
    * whole weighted community tier oracle-exact; scale fractional
    * weights before the call). Non-positive and null weights drop. */
  private def canonicalWeightedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(weightCol).isNotNull)
      .select(least(col(srcCol).cast("string"), col(dstCol).cast("string"))
        .as("a"),
        greatest(col(srcCol).cast("string"), col(dstCol).cast("string"))
          .as("b"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("a") =!= col("b") && col("__w") > 0)
      .groupBy(col("a"), col("b")).agg(sum(col("__w")).as("__w"))

  /** WEIGHTED Newman modularity (Newman 2004, "Analysis of weighted
    * networks": Q = Σ_c [W_c/W − (S_c/2W)²] with W = total edge
    * weight, W_c = intra-community weight, S_c = summed weighted
    * member degree) — the weighted twin of [[modularity]], graded
    * through the same 8-dp decimal chain. Edge weights are INTEGER
    * (long) by the [[canonicalWeightedEdges]] contract — every count
    * in the unweighted grade generalizes to a weight sum and stays
    * exact, so the SQL oracle replays it bit-for-bit. With w ≡ 1 the
    * output equals [[modularity]]'s numbers column-for-column
    * (internal_weight = internal_edges, etc.).
    *
    * Output: (community, n_nodes, internal_weight,
    * weighted_degree_sum, m_weight, n_unassigned_nodes, q_contrib,
    * q_total). */
  def weightedModularity(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, assignment: DataFrame,
      nodeCol: String, communityCol: String, roundDigits: Int = 6,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    val stable = org.apache.spark.sql.types.DecimalType(18, 8)
    val canon = scope.persist(
      canonicalWeightedEdges(edges, srcCol, dstCol, weightCol))
    val asg = scope.persist(assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c")))
    // deg persisted — see [[modularity]] (r20): two consumers here,
    // and the before/after grading pair's plan-identical deg frames
    // dedupe onto one cache entry
    val deg = scope.persist(canon.select(col("a").as("node"), col("__w"))
      .union(canon.select(col("b").as("node"), col("__w")))
      .groupBy(col("node")).agg(sum(col("__w")).as("__d")))
    val m = canon.agg(sum(col("__w")).as("__m"))
    val unassigned = deg.join(asg, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("__u"))
    val intra = canon
      .join(asg.select(col("node").as("a"), col("__c").as("__ca")),
        Seq("a"))
      .join(asg.select(col("node").as("b"), col("__c").as("__cb")),
        Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c")).agg(sum(col("__w")).as("__l"))
    val degC = asg.join(deg, Seq("node"), "left")
      .groupBy(col("__c"))
      .agg(sum(coalesce(col("__d"), lit(0L))).as("__dc"),
        count(lit(1)).as("n_nodes"))
    val mD = col("__m").cast("double")
    degC.join(intra, Seq("__c"), "left")
      .crossJoin(broadcast(m)).crossJoin(broadcast(unassigned))
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("__l"), lit(0L)).as("internal_weight"),
        col("__dc").as("weighted_degree_sum"),
        col("__m").as("m_weight"), col("__u").as("n_unassigned_nodes"),
        round(when(col("__m") > 0,
          coalesce(col("__l"), lit(0L)).cast("double") / mD -
            (col("__dc").cast("double") / (lit(2.0d) * mD)) *
            (col("__dc").cast("double") / (lit(2.0d) * mD)))
          .otherwise(lit(0.0d)).cast(stable), roundDigits)
          .cast("double").as("q_contrib"))
      .select(col("community"), col("n_nodes"), col("internal_weight"),
        col("weighted_degree_sum"), col("m_weight"),
        col("n_unassigned_nodes"), col("q_contrib"),
        round(sum(col("q_contrib"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast(stable), roundDigits).cast("double").as("q_total"))
  }

  /** WEIGHTED [[modularityRefine]] — the same locally-dominant
    * monotone sweep engine ([[refineCore]] IS weighted; the
    * unweighted public form hardwires w ≡ 1, r18 verdict "What's
    * missing" #4) over [[canonicalWeightedEdges]]: vote weights are
    * SUM(w), m is the total edge weight, and the 2m²-scaled gain
    * `2m·(k_iD − k_iC′) − k_i·(D_D − D_C + k_i)` stays all-long
    * (integer weights; overflow only past Σw·k ~ 10¹⁸ — a deployment
    * beyond that swaps the products to DECIMAL(38,0)). The natural
    * weight for the co-purchase graph is the pair count itself: two
    * parts co-bought 50 times should bind 25× tighter than a
    * coincidence pair, and the weighted moves see exactly that. */
  def weightedModularityRefine(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, assignment: DataFrame,
      nodeCol: String, communityCol: String, sweeps: Int = 1,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(sweeps >= 1 && sweeps <= 16, s"sweeps out of range: $sweeps")
    val canon = scope.persist(
      canonicalWeightedEdges(edges, srcCol, dstCol, weightCol))
    val e = scope.persist(
      canon.select(col("a").as("src"), col("b").as("dst"), col("__w"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"),
          col("__w")))
        .repartition(col("dst")))
    // m collected ONCE as a driver scalar (r20); empty-graph sum is
    // NULL → 0, identical downstream (no edges ⇒ no candidates)
    val m = canon.agg(coalesce(sum(col("__w")), lit(0L))).head.getLong(0)
    val asg0 = assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c"))
    refineCore(e, None, m, asg0, sweeps, scope)
      .select(col("node"), col("__c").as("community"))
  }

  /** WEIGHTED two-phase [[louvain]] (Blondel et al. 2008 §2 state the
    * algorithm for weighted graphs from the start — this is that
    * form): weighted node-local sweeps, then aggregation where
    * super-edge weights are SUMS of inter-community weights and
    * self-loops sums of intra weights (total weight preserved:
    * Σw/2 + Σself = W), then the same weighted engine over the
    * super-graph. With w ≡ 1 every stage degenerates to [[louvain]]
    * bit-for-bit (SUM(1) = COUNT in long arithmetic). */
  def weightedLouvain(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, assignment: DataFrame, nodeCol: String,
      communityCol: String, sweepsPerLevel: Int = 2,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged)
      : DataFrame = {
    require(sweepsPerLevel >= 1 && sweepsPerLevel <= 16,
      s"sweepsPerLevel out of range: $sweepsPerLevel")
    val canon = scope.persist(
      canonicalWeightedEdges(edges, srcCol, dstCol, weightCol))
    val e1 = scope.persist(
      canon.select(col("a").as("src"), col("b").as("dst"), col("__w"))
        .union(canon.select(col("b").as("src"), col("a").as("dst"),
          col("__w")))
        .repartition(col("dst")))
    // m collected ONCE as a driver scalar (r20): aggregation
    // preserves the total weight, so both levels share the literal
    val m = canon.agg(coalesce(sum(col("__w")), lit(0L))).head.getLong(0)
    val asg0 = assignment
      .select(col(nodeCol).cast("string").as("node"),
        col(communityCol).cast("string").as("__c"))
    val l1 = refineCore(e1, None, m, asg0, sweepsPerLevel, scope)
    val tagged = scope.persist(canon
      .join(l1.select(col("node").as("a"), col("__c").as("__ca")),
        Seq("a"))
      .join(l1.select(col("node").as("b"), col("__c").as("__cb")),
        Seq("b")))
    val superEdges = tagged.filter(col("__ca") =!= col("__cb"))
      .select(least(col("__ca"), col("__cb")).as("a"),
        greatest(col("__ca"), col("__cb")).as("b"), col("__w"))
      .groupBy(col("a"), col("b")).agg(sum(col("__w")).as("__w"))
    val e2 = Cut.flat(
      superEdges.select(col("a").as("src"), col("b").as("dst"), col("__w"))
        .union(superEdges.select(col("b").as("src"), col("a").as("dst"),
          col("__w")))
        .repartition(col("dst")), eager = true)
    val superSelf = Cut.flat(
      tagged.filter(col("__ca") === col("__cb"))
        .groupBy(col("__ca").as("node")).agg(sum(col("__w")).as("__sw")),
      eager = true)
    val superSeed = l1.select(col("__c").as("node")).distinct()
      .select(col("node"), col("node").as("__c"))
    val l2 = refineCore(e2, Some(superSelf), m, superSeed,
      sweepsPerLevel, scope)
    Seq(e2, superSelf).foreach(Cut.release)
    l1.join(l2.toDF("__c", "__super"), Seq("__c"))
      .select(col("node"), col("__super").as("community"))
  }
}
