package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over edge lists — the iterative-join family of
  * operators (the engine's connected components lives in
  * [[Dedup.duplicateClusters]]; this adds the importance measure).
  *
  * PageRank here is FIXED-POINT INTEGER PageRank: scores are integers at a
  * caller-chosen `scale`, the damping factor is an exact rational
  * `dampNum/dampDen`, and every per-edge contribution is integer floor
  * division — so the result is bit-exact across engines and runs, and the
  * DuckDB oracle can replay the iterations verbatim (the float formulation
  * accumulates join-order ulps and cannot be hash-gated). The cost of
  * exactness: each division floors away at most `outdeg − 1` units of
  * mass per node per iteration (at scale 2^20, relative loss < 2^-10 for
  * outdeg < 1024), and dangling nodes (no out-edges) leak their damped
  * mass instead of teleporting — both deterministic, both documented
  * behavior of this operator, not noise.
  *
  * Scale shape per iteration: one join edges⋈scores on src (both sides
  * hash-partitioned on src; outdeg rides the same key), one shuffle on dst
  * for the contribution sum with map-side partials, one left join back to
  * the node set. 3 iterations = 3 rounds of that — the standard Pregel
  * round shape, no driver-side state ([[Dedup.duplicateClusters]]'s
  * checkpoint guidance applies to long chains; at the typical 3-20
  * PageRank rounds the lineage stays shallow).
  */
object Graph {

  /** `iters` rounds of integer PageRank over `edges` (src → dst, parallel
    * edges allowed — they weight the contribution like a multigraph).
    * Returns (node, score) for every node appearing as src or dst.
    *
    * score_0 = scale; score_{t+1}(v) = scale·(dampDen−dampNum) div dampDen
    *   + Σ_{u→v} (score_t(u) · dampNum) div (dampDen · outdeg(u)).
    */
  def pageRankIntFixed(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3,
      scale: Long = 1L << 20,
      dampNum: Long = 1L,
      dampDen: Long = 2L): DataFrame =
    // every weight 1: each edge adds 1 · ((score·dampNum) div (dampDen·outdeg))
    pageRankIntWeighted(edges.withColumn("__unit_w", lit(1L)), srcCol, dstCol,
      "__unit_w", iters, scale, dampNum, dampDen)

  /** `iters` rounds of integer PageRank over WEIGHTED edges (src, dst, w) —
    * the exact multigraph equivalent of [[pageRankIntFixed]] with `w`
    * parallel copies of each edge, at the cost of the GROUPED edge table
    * instead of the expanded one (a co-occurrence graph's expansion is the
    * corpus size; its grouping is the vocabulary²-bounded edge set):
    * contribution per grouped edge is `w · ((score·dampNum) div
    * (dampDen·outw))` with `outw = Σw` over the source's out-edges — the
    * floored per-copy term is identical for every parallel copy, so
    * grouping first changes nothing (spec-pinned against the expanded
    * multigraph in GraphSpec).
    */
  def pageRankIntWeighted(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      iters: Int = 3,
      scale: Long = 1L << 20,
      dampNum: Long = 1L,
      dampDen: Long = 2L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampNum > 0 && dampDen > dampNum, "damping must be a rational in (0,1)")
    require(scale % dampDen == 0, "scale must be a multiple of dampDen (exact base)")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(wCol).as("__w"))
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
    val outw = e.groupBy("__src").agg(sum("__w").as("__outw"))
    val base = scale / dampDen * (dampDen - dampNum)
    var scores = nodes.withColumn("score", lit(scale))
    (1 to iters).foreach { _ =>
      val contribs = e
        .join(scores.withColumnRenamed("node", "__src"), "__src")
        .join(outw, "__src")
        .select(col("__dst").as("node"),
          expr(s"__w * ((score * $dampNum) div ($dampDen * __outw))").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      scores = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__in"), lit(0L))).as("score"))
    }
    scores
  }

  /** Seed-sampled, k-hop-bounded betweenness centrality — Brandes'
    * dependency accumulation (Brandes, J. Math. Sociol. 2001) with the
    * standard sampling estimator (Brandes & Pich 2007: a few sources
    * stand in for all-sources) and a bounded BFS depth, both of which
    * are what makes betweenness runnable at scale at all. Forward pass:
    * `depth` synchronous BFS rounds per seed accumulating shortest-path
    * counts `σ(v) = Σ_{u∈pred(v)} σ(u)` (level-(r−1) neighbors minus
    * visited — the q274 round shape). Backward pass: per level from deep
    * to shallow, `δ(v) = Σ_{w∈succ(v)} (σ(v)·(scale + δ(w))) div σ(w)`
    * — Brandes' recurrence in scaled integers through ONE shared floor
    * chain, so the oracle replays it bit-identically (a float δ could
    * not hash-gate). Returns (node, bc) = Σ over seeds of δ, seeds
    * excluded from their own accumulation; `bc` is in `scale`-ths of a
    * path ("ppm of dependency" at the default).
    *
    * Scale shape: every round is a frontier⋈edges join + groupBy on the
    * node key with an anti-join against the visited set, per-round
    * `localCheckpoint` capping lineage; the backward pass joins adjacent
    * LEVELS only (the BFS DAG edges), never the whole graph.
    */
  def betweennessSampled(
      edges: DataFrame,
      seeds: Seq[Long],
      depth: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(depth >= 2, "depth < 2 leaves no interior node to score")
    val e = edges.select(col("u"), col("v"))
    val spark = edges.sparkSession
    val seedDf = spark.range(seeds.length)
      .select(expr(s"element_at(array(${seeds.mkString(",")}), " +
        "cast(id + 1 AS INT))").cast("long").as("seed"))
      .select(col("seed"), col("seed").as("node"),
        lit(0).as("lvl"), lit(1L).as("sg"))
    // per-round checkpoint of the accumulated set: measured FASTER than
    // checkpointing only the per-level delta and unioning materialized
    // pieces (r15 A/B: the growing union makes every downstream
    // filter/anti-join a multi-block scan, costing more than the re-write
    // of the small seed×node accumulator saves)
    var visited = seedDf.localCheckpoint()
    (1 to depth).foreach { r =>
      val frontier = visited.filter(col("lvl") === r - 1)
        .select(col("seed"), col("node").as("u"), col("sg"))
      val next = e.join(frontier, "u")
        .groupBy(col("seed"), col("v").as("node"))
        .agg(sum("sg").as("sg"))
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(r).as("lvl"), col("sg"))
      visited = visited.unionByName(next).localCheckpoint()
    }
    // backward: deepest level has δ = 0; each shallower level pulls from
    // its successor level through the scaled Brandes recurrence
    var deltas = visited.filter(col("lvl") === depth)
      .select(col("seed"), col("node"), col("sg"), lit(0L).as("delta"))
    var acc = deltas
    ((depth - 1) to 1 by -1).foreach { r =>
      val cur = visited.filter(col("lvl") === r)
        .select(col("seed"), col("node"), col("sg"))
      val succ = deltas
        .select(col("seed"), col("node").as("v"),
          col("sg").as("sg_w"), col("delta").as("delta_w"))
      val pulled = e.select(col("u").as("node"), col("v"))
        .join(succ, "v")
        .select(col("seed"), col("node"), col("sg_w"), col("delta_w"))
      deltas = cur.join(pulled, Seq("seed", "node"), "left")
        .groupBy(col("seed"), col("node"))
        .agg(max("sg").as("sg"),
          coalesce(sum(expr(s"(sg * ($scale + delta_w)) div sg_w")), lit(0L))
            .as("delta"))
        .localCheckpoint()
      acc = acc.unionByName(deltas)
    }
    acc.groupBy("node").agg(sum("delta").as("bc"))
  }

  /** Exact per-node triangle counts via DEGREE ORIENTATION — the classic
    * O(m^1.5) formulation (Chiba–Nishizeki; the shape MapReduce triangle
    * counters use): orient every undirected edge from its lower-(degree,
    * id) endpoint to the higher one, enumerate wedges only from each
    * node's ORIENTED out-neighborhood, and close them against the oriented
    * edge set. Orientation bounds every out-degree by O(√m), so the wedge
    * join — the only super-linear step — generates Σ C(outdeg, 2) =
    * O(m^1.5) rows even on skewed degree distributions, where the naive
    * undirected wedge join explodes as Σ C(deg, 2) (a single celebrity
    * node with deg 10⁶ alone would emit 5·10¹¹ wedges; oriented it emits
    * at most what the whole graph's m^1.5 allows).
    *
    * Every triangle {a,b,c} is found exactly once (from its lowest-order
    * apex), so the per-node count is the plain explode-and-sum of the
    * canonical triangle rows. All joins hash-shuffle on node keys with
    * map-side partial aggregation; no driver-side state, no iteration.
    *
    * Input edges are treated as UNDIRECTED: self-loops are dropped and
    * both directions / duplicates collapse to one canonical (lo, hi) pair
    * before counting. Returns (node, deg, n_tri) for every node with at
    * least one surviving edge; `deg` is the node's degree in the
    * canonical simple graph, so `2·n_tri / (deg·(deg−1))` is the local
    * clustering coefficient.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // The canonical edge set feeds FOUR consumers (two degree arms, the
    // orientation join, the closing-edge relation) and the oriented set
    // three (both wedge arms + closing). Left lazy, Spark re-derives the
    // whole edge-producing subtree once per consumer — at scale that is
    // 4× the pair-materialization cost. localCheckpoint stages each once
    // as executor-local blocks (the engine's staging pattern for shared
    // subtrees inside a returned plan — see Dedup.dedupAgainstIndex);
    // blocks are reclaimed by the ContextCleaner when the plan is dropped.
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct()
      .localCheckpoint()
    val deg = e.select(col("lo").as("node"))
      .union(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient lower (deg, id) → higher; lo < hi already, so the id
    // tie-break reduces the comparison to deg alone
    val low = deg.select(col("node").as("lo"), col("deg").as("__dlo"))
    val high = deg.select(col("node").as("hi"), col("deg").as("__dhi"))
    val fwd = col("__dlo") <= col("__dhi")
    val oriented = e.join(low, "lo").join(high, "hi").select(
        when(fwd, col("lo")).otherwise(col("hi")).as("s"),
        when(fwd, col("hi")).otherwise(col("lo")).as("d"),
        when(fwd, col("__dhi")).otherwise(col("__dlo")).as("__dd"))
      .localCheckpoint()
    // wedges (b, c) out of a shared apex s, ordered by the heads' own
    // (deg, id) orientation key — so the closing edge, if present, is
    // oriented b → c and one equi-join finds it
    val e1 = oriented.select(col("s"), col("d").as("b"), col("__dd").as("__db"))
    val e2 = oriented.select(col("s"), col("d").as("c"), col("__dd").as("__dc"))
    val wedges = e1.join(e2, Seq("s")).filter(
      col("__db") < col("__dc") || (col("__db") === col("__dc") && col("b") < col("c")))
    val closing = oriented.select(col("s").as("b"), col("d").as("c"))
    val tri = wedges.join(closing, Seq("b", "c"))
      .select(col("s").as("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Bounded-round k-core peeling: repeatedly remove every node whose
    * CURRENT degree is < k (each removal lowers neighbors' degrees, so the
    * peel cascades), up to `rounds` rounds. Returns one row per node:
    * `peeled_round` = the round that removed it (1-based) or 0 for k-core
    * survivors, plus the survivor's final in-core degree. The density
    * screen community/fraud pipelines run before expensive per-subgraph
    * work — PageRank (importance), triangles (local clustering) and CC
    * (reachability) answer different questions than "is this node in a
    * dense region".
    *
    * DETERMINISM over convergence: the round count is FIXED, so two
    * engines (and two cluster sizes) always produce the identical result
    * even on inputs where the cascade hasn't finished — an unconverged
    * survivor simply reports its current degree (which may be < k).
    * Exact peeling is inherently sequential (degree updates feed the next
    * round); the round-synchronous form is the standard distributed
    * relaxation, and real cascades die in O(log n)-ish rounds — the loop
    * exits early the first time a round peels nobody.
    *
    * Scale shape per round: one degree aggregation (map-side combined) and
    * two anti-joins keyed on the node id; `localCheckpoint` caps lineage
    * exactly like the CC fixpoint. The per-round emptiness check is a
    * 1-row action (anchor pattern), never a data collect.
    */
  def kCorePeel(
      edges: DataFrame,
      k: Long,
      rounds: Int = 8,
      srcCol: String = "u",
      dstCol: String = "v"): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and at least one round")
    // checkpoint the edge set FIRST and derive nodes from the checkpoint:
    // deriving both from the raw plan would run the caller's (possibly
    // expensive) edge-building join twice
    var live = edges.select(col(srcCol).as("u"), col(dstCol).as("v")).localCheckpoint()
    val nodes = live.select(col("u").as("node"))
      .union(live.select(col("v").as("node"))).distinct().localCheckpoint()
    var liveNodes = nodes
    // (node, peeled_round) accumulator — starts empty with the right schema
    var peeled = nodes.limit(0).withColumn("peeled_round", lit(0L))
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val deg = live.select(col("u").as("node"))
        .union(live.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val toPeel = liveNodes.join(deg, Seq("node"), "left")
        .filter(coalesce(col("deg"), lit(0L)) < k)
        .select("node").localCheckpoint()
      if (toPeel.isEmpty) done = true
      else {
        // peeled is a union of ≤`rounds` already-checkpointed toPeel sets —
        // lineage stays shallow without its own per-round checkpoint job
        peeled = peeled.unionByName(
          toPeel.withColumn("peeled_round", lit(r.toLong)))
        // checkpoint CADENCE, not every round: the anti-join inputs are all
        // materialized (previous checkpoint + toPeel), so a lazy round costs
        // at most one extra anti-join re-evaluation at the next consumer,
        // while a checkpoint costs a full edge-set materialization job per
        // round — every 2nd round is the measured sweet spot (r15; results
        // are plan-invariant, the q228 oracle gates them). The final
        // iteration always checkpoints so the returned frame's lineage is
        // capped for the caller.
        val ckpt = r % 2 == 0 || r == rounds
        val ln = liveNodes.join(toPeel, Seq("node"), "left_anti")
        liveNodes = if (ckpt) ln.localCheckpoint() else ln
        val lv = live
          .join(toPeel.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
          .join(toPeel.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
        live = if (ckpt) lv.localCheckpoint() else lv
      }
      r += 1
    }
    val finalDeg = live.select(col("u").as("node"))
      .union(live.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    nodes.join(peeled, Seq("node"), "left")
      .join(finalDeg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("peeled_round"), lit(0L)).as("peeled_round"),
        coalesce(col("deg"), lit(0L)).as("core_degree"))
  }

  /** Bounded-round SYNCHRONOUS label propagation (Raghavan et al. 2007's
    * community detection, in its deterministic round-synchronous form):
    * every node starts labeled with its own id; each round, every node
    * adopts the most frequent label among its NEIGHBORS, breaking count
    * ties by the SMALLEST label — so the result is a pure function of the
    * graph, never of visit order (the async formulation's coin flips are
    * exactly what a cross-engine hash gate cannot absorb). Densely
    * interconnected regions converge onto one label; the label is the
    * community id.
    *
    * DETERMINISM over convergence, like [[kCorePeel]]: the round count is
    * FIXED (label oscillation on bipartite-ish structures makes "run until
    * stable" non-terminating in the synchronous model — the known LPA
    * caveat), so two engines always produce the identical labeling.
    *
    * Scale shape per round: one join labels⋈edges on the neighbor key and
    * one two-level aggregate — (node, label) counts with map-side
    * partials, then the per-node argmax as a `max(struct(cnt, −label))`
    * single-pass aggregate (never a window over raw neighbor rows).
    * The undirected edge set feeds every round: staged once via
    * localCheckpoint ([[triangleCounts]]'s shared-subtree pattern).
    * Rounds chain LAZILY — each label relation feeds exactly the next
    * round, so a short chain is one linear plan with no materialization
    * barrier — and every third round is checkpointed so a LONG run's
    * lineage (and its re-execution cost under failure) stays bounded,
    * the [[kCorePeel]] discipline without paying a barrier per round.
    */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int = 2,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val und = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    val nodes = und.select(col("u").as("node")).distinct()
    var labels = nodes.withColumn("lab", col("node"))
    (1 to rounds).foreach { r =>
      labels = und
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lab")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lab"))
      if (r % 3 == 0 && r < rounds) labels = labels.localCheckpoint()
    }
    labels
  }
}
