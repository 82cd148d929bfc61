package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relation-derived graphs.
  *
  * The missing shape next to [[Dedup.connectedComponents]]' label
  * propagation: a FIXED-ITERATION random-walk ranking. Everything is
  * integer fixed-point — rank mass in units of `scale`, per-edge
  * contributions by integer division — so five iterations produce the
  * bit-identical table in any engine (the DuckDB oracle unrolls the same
  * five steps as CTEs), and the result is reproducible at any partition
  * count. The damping split is the classic 0.85/0.15.
  *
  * Scale shape per iteration: one join of edges to the current rank on the
  * src key + one aggregation by dst — both hash-partitioned on node ids,
  * the same two shuffles a 100 TB PageRank pays on any engine. Lineage is
  * cut every iteration ([[graft.util.Checkpoints.cut]]): five chained
  * shuffles would otherwise re-execute the whole prefix per action and
  * grow the plan unboundedly at higher iteration counts.
  */
object Graph {

  /** Directed co-occurrence graph with BOUNDED out-degree: for each `src`,
    * the `k` strongest co-partners by shared-group count (ties broken by
    * dst id, so the edge set is deterministic). The degree bound is what
    * keeps the graph sparse at ANY corpus scale — an absolute weight
    * threshold stops discriminating the moment the data grows 10x, and an
    * unthresholded co-occurrence graph over a popular group column is
    * quadratic. Input: `(group, member)` rows. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, memberCol: String,
      k: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    // dedup to one (group, member) row BEFORE the self-join: a member with
    // several rows in one group would otherwise multiply the pair rows and
    // force a count_distinct expansion after the join — deduped input makes
    // (g, src, dst) unique by construction, so a plain count suffices and
    // the join itself is smaller
    val m = df.select(col(groupCol).as("g"), col(memberCol).as("m")).distinct()
    val pairs = m.select(col("g"), col("m").as("src"))
      .join(m.select(col("g"), col("m").as("dst")), Seq("g"))
      .filter(col("src") =!= col("dst"))
      // ONE exchange serves both the count and the top-k window (r17,
      // guide §2.4 "two operations keyed the same way can share one
      // exchange"): hash(src) satisfies the groupBy(src, dst) clustering
      // (same src ⇒ same partition) AND the window's partitionBy(src), so
      // the aggregated pairs are never re-shuffled. The trade is the
      // count's map-side partial combine (guide §2.3) for a whole exchange
      // of the aggregated pair table — a win while the per-(src, dst)
      // duplication factor stays small, which the degree-bounded co-order
      // shape guarantees (w is capped by orders-per-pair, observed ~3).
      .repartition(col("src"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"))
  }

  /** [[coOccurrenceEdges]] keeping the co-occurrence count as the edge
    * weight `(src, dst, w)` — same dedup, same per-src top-k cap. */
  def coOccurrenceEdgesWeighted(df: DataFrame, groupCol: String,
      memberCol: String, k: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val m = df.select(col(groupCol).as("g"), col(memberCol).as("m")).distinct()
    m.select(col("g"), col("m").as("src"))
      .join(m.select(col("g"), col("m").as("dst")), Seq("g"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src")) // one exchange for count + window, as above
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("w"))
  }

  /** Fixed-point PageRank: `iters` exact integer steps over `edges`
    * `(src, dst)` for the node set `nodes` `(node)`. Returns `(node, r)`
    * with rank mass in units of `scale` (sum over nodes ~= scale minus
    * floor-division dust). Nodes without in-edges hold the teleport floor;
    * dangling nodes simply leak their mass to the floor term, identically
    * in the oracle. */
  def pageRankFixedPoint(edges: DataFrame, nodes: DataFrame,
      iters: Int = 5, scale: Long = 1000000000000L,
      cutEvery: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    // one bounded driver lookup sizes the teleport constant (node count is
    // a dim-table cardinality, same arrangement as the IVF training sample)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty node set")
    val base = (15L * scale / 100) / n
    // materialize the loop invariants ONCE: edges may be an expensive
    // derivation (the co-order graph is a fact-table self-join + window),
    // and a lazy plan would re-execute it inside every iteration — the
    // sf0.1 bench showed 5 iterations paying ~11 edge rebuilds (18.7 s)
    // before this cut, 5 joins of a materialized edge list after it
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    // DEFERRED ZERO-FILL (r17, VERDICT r16 #5 / guide §2.3-§2.4): the r16
    // loop joined the node-sized rank table to the edges AND zero-filled
    // the contributions over `nodes` EVERY iteration. A node's rank is
    // always `base + (85 * s) div 100` with s = its (possibly absent)
    // contribution sum, so the iterations below carry ONLY the sparse sums
    // and recover the rank inline at the edge join — one fewer node-sized
    // join per iteration, identical integer expressions throughout, and
    // iteration 1 (whose rank is the CONSTANT scale/n) needs no rank-side
    // join at all. One one-time confinement keeps this exact on ANY input:
    // the NODE-SIZED outdeg table is src-confined to `nodes` (the dense
    // inner join against the node-keyed rank dropped out-of-set srcs each
    // round; every contribution row still passes through the inner outdeg
    // join, so the confined outdeg reproduces that drop — its deg values
    // are untouched, only out-of-set rows leave). Out-of-set DSTs entering
    // the sums are inert — the confined outdeg join never lets them
    // contribute, and the final zero-fill drops them.
    val outdegC = graft.util.Checkpoints.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi"))
    var s: DataFrame = null
    for (i <- 1 to iters) {
      val withR =
        if (i == 1) e.withColumn("r", lit(scale / n))
        else e.join(s, col("src") === col("node"), "left_outer")
          .withColumn("r",
            lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .drop("node", "s")
      val contrib = withR
        .join(outdegC, "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      // lineage is cut PERIODICALLY, not per step: with the invariants
      // materialized above, nothing re-executes between iterations — only
      // the final action runs the chained plan, and a per-step cut is a
      // per-step materialization job (pure overhead at small depths). The
      // periodic cut exists to bound plan depth / codegen size when
      // callers push iters up.
      s = if (i % cutEvery == 0 && i < iters)
        graft.util.Checkpoints.cut(contrib) else contrib
    }
    // the ONE node-sized zero-fill: identical expression to the r16 next
    nodes.join(s, Seq("node"), "left_outer")
      .select(col("node"),
        (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .as("r"))
  }

  /** Weighted PageRank: a node's rank mass distributes across its
    * out-edges PROPORTIONALLY to edge weight (`c = (r · w) div wt`, wt =
    * the node's total out-weight) instead of uniformly — a strong
    * co-occurrence tie carries more endorsement than a weak one. Same
    * integer fixed-point arithmetic and loop discipline as
    * [[pageRankFixedPoint]]; `r · w` stays inside long range while
    * `scale · max_weight < 2^63` (10^12 · the bounded co-occurrence
    * counts here — orders of magnitude of headroom). */
  def pageRankWeightedFixedPoint(edges: DataFrame, nodes: DataFrame,
      iters: Int = 5, scale: Long = 1000000000000L,
      cutEvery: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty node set")
    val base = (15L * scale / 100) / n
    val e = graft.util.Checkpoints.cut(
      edges.select(col("src"), col("dst"), col("w")))
    // deferred zero-fill, the [[pageRankFixedPoint]] r17 rewrite verbatim
    // (see its comment): sparse contribution sums between iterations, rank
    // recovered inline at the edge join, src-confinement through the
    // node-sized out-weight table, ONE final zero-fill
    val outwC = graft.util.Checkpoints.cut(
      e.groupBy(col("src")).agg(sum(col("w")).as("wt"))
        .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi"))
    var s: DataFrame = null
    for (i <- 1 to iters) {
      val withR =
        if (i == 1) e.withColumn("r", lit(scale / n))
        else e.join(s, col("src") === col("node"), "left_outer")
          .withColumn("r",
            lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .drop("node", "s")
      val contrib = withR
        .join(outwC, "src")
        .select(col("dst").as("node"), expr("(r * w) div wt").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      s = if (i % cutEvery == 0 && i < iters)
        graft.util.Checkpoints.cut(contrib) else contrib
    }
    nodes.join(s, Seq("node"), "left_outer")
      .select(col("node"),
        (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .as("r"))
  }

  /** Personalized PageRank: the 15% teleport mass lands ONLY on the
    * source set (uniformly across it), never on the rest of the graph —
    * scores become "importance relative to S" (recommendation /
    * seed-expansion semantics) instead of global centrality, and nodes
    * unreachable from S score exactly 0. Same integer fixed-point
    * arithmetic and loop discipline as [[pageRankFixedPoint]]
    * (invariants materialized once, periodic lineage cuts), plus one
    * materialized per-node teleport column so the source set is joined
    * ONCE, not per iteration. */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
      sources: DataFrame, iters: Int = 5, scale: Long = 1000000000000L,
      cutEvery: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val srcs = graft.util.Checkpoints.cut(
      sources.select(col("node")).distinct())
    val m = srcs.count() // bounded: a seed set, dim-table sized
    require(m > 0, "personalized PageRank needs a non-empty source set")
    val base = (15L * scale / 100) / m
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    // DEFERRED ZERO-FILL (r17, VERDICT r16 #5 / guide §2.3-§2.4): the r16
    // loop joined the node-sized teleport table to the contributions EVERY
    // iteration only to re-materialize the zeros the next iteration's
    // `filter(r > 0)` threw away again. The iterations below carry ONLY the
    // sparse contribution sums `s` (the reached set); a node's rank is
    // recovered as `b + (85 * s) div 100` inline where needed, and the
    // node-sized zero-fill happens ONCE at the final emit — one fewer
    // node-sized join per iteration, with every integer expression
    // unchanged. Two one-time NODE-SIZED confinements keep the sparse
    // recurrence exactly equal to the dense one on ANY input: the outdeg
    // table is src-confined to `nodes` (the dense inner join against the
    // node-keyed rank dropped out-of-set srcs every iteration — every
    // contribution row passes through the inner outdeg join, so the
    // confined outdeg reproduces that drop with deg values untouched),
    // and teleport mass sits only on seeds INSIDE `nodes` (the dense
    // teleport table was built FROM nodes). Out-of-set DSTs may enter the
    // sparse sums but are inert: the confined outdeg never lets them
    // contribute and the final zero-fill drops them — exactly the rows
    // the dense zero-fill discarded each round. `m` stays the UNCONFINED
    // seed count.
    val seedB = graft.util.Checkpoints.cut(
      srcs.join(nodes.select(col("node")), Seq("node"), "left_semi"))
    val outdegC = graft.util.Checkpoints.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi"))
    var s: DataFrame = null
    for (i <- 1 to iters) {
      // r_{i-1}, sparse: seeds carry b + (85 s) div 100, pure-contribution
      // nodes carry (85 s) div 100, every absent key is exactly 0 — the
      // rows the dense form's filter(r > 0) dropped anyway
      val rSparse =
        // base == 0 (a seed set past 0.15 * scale) zeroed the dense form's
        // initial rank through its `b > 0` guard — mirror it exactly
        if (i == 1) seedB.select(col("node"),
          lit(if (base > 0) scale / m else 0L).as("r"))
        else s.join(seedB.withColumn("__b", lit(base)), Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("__b"), lit(0L)) +
              expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
      val contrib = e
        .join(rSparse.filter(col("r") > 0), col("src") === col("node"))
        .join(outdegC, "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      s = if (i % cutEvery == 0 && i < iters)
        graft.util.Checkpoints.cut(contrib) else contrib
    }
    // the ONE node-sized zero-fill: identical expression to the r16 next
    nodes.join(srcs.withColumn("is_s", lit(true)), Seq("node"), "left_outer")
      .select(col("node"),
        when(col("is_s"), lit(base)).otherwise(lit(0L)).as("b"))
      .join(s, Seq("node"), "left_outer")
      .select(col("node"),
        (col("b") + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
          .as("r"))
  }

  /** Per-node triangle counts over the UNDIRECTED support of `edges`
    * `(src, dst)` — the clustering-coefficient numerator and the standard
    * local-density signal. Returns `(node, triangles)` for every node in
    * at least one triangle; integer counts, deterministic.
    *
    * Scale design — degree-ordered orientation (the classic
    * compact-forward / Schank-Wagner scheme): each undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher, wedges
    * are enumerated only at each triangle's MINIMUM-order vertex, and the
    * closing edge check is one equi-join against the oriented edge list.
    * Orienting by degree bounds every vertex's out-degree by O(sqrt(|E|))
    * on any graph, so the wedge join's fan-out stays bounded even when a
    * hub vertex touches millions of edges — the u-keyed self-join that
    * makes or breaks triangle counting at 100 TB. Each triangle is
    * produced exactly once, so the per-node explode needs no dedup. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = graft.util.Checkpoints.cut( // reused: degrees, orientation
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orientation key: (degree, id) — a total order, so ties on degree
    // break deterministically by id
    val withK = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .withColumn("aFirst",
        col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
    val oriented = graft.util.Checkpoints.cut( // reused: 2 wedge sides + close join
      withK.select(
        when(col("aFirst"), col("a")).otherwise(col("b")).as("u"),
        when(col("aFirst"), col("b")).otherwise(col("a")).as("v"),
        when(col("aFirst"), struct(col("db").as("d"), col("b").as("i")))
          .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("kv")))
    val wedges = oriented.select(col("u"), col("v").as("x"), col("kv").as("kx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("kv").as("ky")), "u")
      .filter(col("kx") < col("ky")) // each unordered wedge once, x->y oriented
      .select(col("u"), col("x"), col("y"))
    val tri = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** One-row global summary of the UNDIRECTED support of `edges`: node and
    * edge counts, open-wedge count Σ deg·(deg−1)/2, closed wedge ends
    * (= 3 × triangle count, via [[triangleCounts]]'s oriented join — never
    * an all-pairs pass), and the global clustering coefficient
    * closed/wedges as the one mirrored double division. deg·(deg−1) is
    * always even, so the `div 2` is exact. All inputs to the division are
    * exact longs — any engine reproduces the quotient bit for bit. */
  def globalClustering(edges: DataFrame): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE: both the
    // wedge moments and triangleCounts' orientation re-derive the
    // undirected support from it — without this cut the co-order
    // fact-self-join pipeline executed twice (measured: the query was the
    // bench's slowest at 5.3 s, ~2x its share)
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    val und = e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("wedges"))
    val edgeCnt = und.agg(count(lit(1)).as("n_edges"))
    val closed = triangleCounts(e)
      .agg(coalesce(sum(col("triangles")), lit(0L)).as("closed_ends"))
    degStats.crossJoin(edgeCnt).crossJoin(closed)
      .select(col("n_nodes"), col("n_edges"), col("wedges"),
        col("closed_ends"),
        (col("closed_ends").cast("double") / col("wedges").cast("double"))
          .as("global_cc"))
  }

  /** HITS hubs-and-authorities, integer fixed point (Kleinberg 1999): over
    * the DIRECTED edge set, `iters` rounds of
    * auth(i) = Σ hub(j) over in-edges, hub(i) = Σ auth(j) over out-edges,
    * each half-step renormalized to total mass `scale` by truncating
    * division — the normalization that makes the float formulation
    * converge becomes an exact integer rescale any engine replays (the
    * oracle unrolls the same half-steps as CTEs). Nodes are the edge
    * endpoints; a node with no in-edges holds authority 0, no out-edges
    * hub 0. Returns `(node, hub, auth)` after `iters` rounds.
    *
    * Scale shape: per half-step, ONE hash join of the materialized edge
    * list to the node-sized score table, a partial-aggregated sum per
    * endpoint, and a one-row total broadcast back for the rescale —
    * identical profile to [[pageRankFixedPoint]]. Products stay in long
    * range while max-degree · scale² / scale < 2^63, i.e. scale 10^6
    * leaves 6 orders of headroom over any bounded-degree graph. */
  def hitsFixedPoint(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000L, cutEvery: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    val nodes = graft.util.Checkpoints.cut(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // The cut cadence is SCALE-DEPENDENT (r16, measured both ways). Each
    // round's rescale total embeds the whole prefix as a broadcast
    // subplan, so the LAZY plan doubles per half-step — at the sf0.1
    // registry graph (~15k edges) the 17k-line plan costs more in
    // planning + duplicated tiny-stage scheduling than the rounds
    // themselves (two-pass min: 6.8 s lazy vs 4.8 s with per-round cuts),
    // while at the 1M/8M-edge soak the lazy plan's cross-round exchange
    // reuse is the win (22 s lazy vs 44 s materialized, r9). Count the
    // ALREADY-MATERIALIZED edge cut (a cheap bounded job) and cut every
    // round below the threshold; above it keep the caller's cadence.
    // Conf `spark.graft.hits.eagerCutMaxEdges` (0 disables the eager
    // path); cuts are answer-neutral — each round's exact integer
    // arithmetic is unchanged, only where lineage is pinned moves.
    val eagerCutMax = edges.sparkSession.conf
      .getOption("spark.graft.hits.eagerCutMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    val effCutEvery =
      if (eagerCutMax > 0 && e.count() <= eagerCutMax) 1
      else cutEvery
    var hub = nodes.select(col("node"), lit(scale).as("h"))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      // ABOVE the eager-cut threshold, rounds stay LAZY — the final action
      // runs all of them as one query so the materialized edge exchange is
      // reused across every half-step join (a per-half-step
      // materialization forces e to re-shuffle each time: the 1M soak
      // measured 44 s eager vs 22 s lazy). The rescale total rides a
      // one-row broadcast subplan; lineage is cut PERIODICALLY only to
      // stop later totals re-executing an ever-deeper prefix when callers
      // raise iters. (Below the threshold effCutEvery = 1 — see above.)
      //
      // The per-half-step zero-fill below (nodes LEFT OUTER aggregate) is
      // NOT waste — it was proposed for removal (defer zero-fill to the
      // final emit, VERDICT r9 #3) and the removal MEASURED WORSE at the
      // 1M/8M soak shape, idle, round 10: dense 18.7 s; sparse half-steps
      // + explicit score-table broadcast 104.6 s (22.4 s with per-round
      // cuts); sparse + shuffle_hash pins 148 s with 12 GB shuffled;
      // sparse unhinted OOMs the 8g driver (the un-estimable aggregate
      // gets broadcast-planned). Deriving each half-step from the CUT
      // `nodes` relation is what hands the optimizer a REAL size estimate,
      // so the score side broadcasts when it fits and degrades to a
      // shuffle join automatically when it doesn't — the adaptive choice
      // the sparse form forfeits. (r9's 85.8 s hits_1m reading that
      // motivated the change was machine load: same code, idle, 18.7 s.)
      val aRaw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("v"))
      val aTot = aRaw.agg(sum(col("v")).as("sv"))
      auth = nodes.join(aRaw, Seq("node"), "left_outer")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          expr(s"coalesce(v, 0L) * ${scale}L div sv").as("a"))
      val hRaw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("v"))
      val hTot = hRaw.agg(sum(col("v")).as("sv"))
      hub = nodes.join(hRaw, Seq("node"), "left_outer")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          expr(s"coalesce(v, 0L) * ${scale}L div sv").as("h"))
      // above the eager-cut threshold and at the DEFAULT depth (3) no cut
      // fires — the whole computation is one query; the periodic cut
      // exists for callers raising iters, where later totals would
      // otherwise re-execute an ever-deeper prefix. Below the threshold
      // effCutEvery = 1 bounds the per-half-step plan doubling instead.
      if (i % effCutEvery == 0 && i < iters) {
        auth = graft.util.Checkpoints.cut(auth)
        hub = graft.util.Checkpoints.cut(hub)
      }
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Degree assortativity of the UNDIRECTED support of `edges`: the Pearson
    * correlation of endpoint degrees over the edge list with each edge
    * counted in BOTH directions (Newman 2002's r — symmetric counting is
    * what makes the x/y moments equal). All five co-moments are exact
    * integer sums over the degree-joined edge list; the correlation is
    * assembled from them in one mirrored IEEE expression, so any engine
    * reproduces it bit for bit. One row: `(n_ends, sx, sxy, sxx, r)`.
    *
    * Scale shape: degrees via one count aggregation, then two broadcastable
    * dimension joins (degree table is node-sized) onto the edge list and a
    * single global co-moment aggregation — partial map-side, no shuffle
    * carries edges. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // materialize the undirected support ONCE (r16, guide §1.2): it is
    // referenced three times below (twice building the degree table, once
    // as the join spine), and `edges` is typically an expensive derivation
    // (the co-order graph is a fact self-join + top-k window) that a lazy
    // plan would re-execute per reference — the same loop-invariant cut
    // as [[pageRankFixedPoint]]/[[hitsFixedPoint]]
    val und = graft.util.Checkpoints.cut(
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val ends = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      // both directions: (da, db) and (db, da)
      .select(explode(array(
        struct(col("da").as("x"), col("db").as("y")),
        struct(col("db").as("x"), col("da").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    ends.agg(count(lit(1)).as("n_ends"), sum(col("x")).as("sx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_ends"), col("sx"), col("sxy"), col("sxx"),
        // symmetric counting: sy = sx and syy = sxx, so r collapses to
        // (n*sxy - sx^2) / (n*sxx - sx^2) — exact integers in, one
        // division. A REGULAR graph has zero degree variance: correlation
        // is undefined there, surfaced as NULL (ANSI mode would otherwise
        // reject the division outright).
        when(col("n_ends") * col("sxx") === col("sx") * col("sx"),
            lit(null).cast("double"))
          .otherwise(
            (col("n_ends") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n_ends") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  /** Bounded-round k-core peeling over the UNDIRECTED support of `edges`:
    * `rounds` iterations of "drop every node with fewer than `kk`
    * surviving neighbors", returning the survivors with their last-round
    * degree `(node, deg)`. A FIXED round count rather than
    * run-to-convergence, for the same reason [[pageRankFixedPoint]] fixes
    * its iterations: the computation is then a pure function of the input
    * that any engine replays exactly (the oracle unrolls the same rounds
    * as CTEs), with no convergence-test action per loop. Peeling only
    * shrinks the node set, so the result is exact (the true k-core) as
    * soon as `rounds` reaches the graph's peel depth — long chains are
    * the only structures that peel slowly, and real co-occurrence graphs
    * peel in a handful of rounds (spec pins a chain actually needing
    * them).
    *
    * Scale shape per round: two semi-joins of the (materialized,
    * symmetrized) adjacency against the shrinking survivor set and one
    * count aggregation — all hash-partitioned on node ids; survivors are
    * the only state between rounds and lineage is cut there. */
  /** Deterministic random walks: `walksPerNode` walks of `steps` steps
    * from every node of the UNDIRECTED support of `edges` — the
    * graph-to-sequence corpus generator behind DeepWalk/node2vec-style
    * embedding training (Perozzi et al. KDD 2014). The "random" choice at
    * each step is the neighbor with the smallest
    * `md5(walk || step || here || neighbor)` — hash-min selection, so the
    * walk corpus is a pure function of the graph (any engine replays it
    * string-compare for string-compare; the md5-hex-min device is the
    * same one MinHash signatures use). Returns
    * `(walk_id, start, step, node)` with step 0 at the start node.
    *
    * Scale shape per step: ONE join of the walk frontier to the
    * (materialized, symmetrized) adjacency on the current node and a
    * min(struct) argmin per walk — frontier size is constant
    * (nodes x walksPerNode rows), shuffles are hash-partitioned on node
    * ids, and the frontier is the only inter-step state (lineage cut).
    * Walks stop early at sink-free nodes only if the graph is directed —
    * the symmetrized support has no sinks, so every walk runs full
    * length. */
  def randomWalks(edges: DataFrame, walksPerNode: Int = 2, steps: Int = 4): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1,
      s"bad params walksPerNode=$walksPerNode steps=$steps")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj = graft.util.Checkpoints.cut( // scanned once per step
      und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v"))))
    val starts = adj.select(col("u").as("start")).distinct()
      .crossJoin(broadcast(
        und.sparkSession.range(walksPerNode).select(col("id").cast("int").as("w"))))
    var frontier = starts.select(
      concat_ws("#", col("start"), col("w")).as("walk_id"),
      col("start"), col("start").as("node"))
    var out = frontier.select(col("walk_id"), col("start"),
      lit(0).as("step"), col("node"))
    for (s <- 1 to steps) {
      frontier = graft.util.Checkpoints.cut(
        frontier.join(adj, col("node") === col("u"))
          .select(col("walk_id"), col("start"),
            struct(md5(concat_ws("|", col("walk_id"), lit(s), col("u"), col("v"))
              .cast("binary")).as("h"), col("v").as("v")).as("hv"))
          .groupBy(col("walk_id"), col("start"))
          .agg(min(col("hv")).as("m"))
          .select(col("walk_id"), col("start"), col("m.v").as("node")))
      out = out.union(frontier.select(col("walk_id"), col("start"),
        lit(s).as("step"), col("node")))
    }
    out
  }

  /** Common-neighbors link prediction: the top-`k` NON-adjacent node
    * pairs ranked by how many neighbors they share — the classic
    * "people you may know" / co-purchase suggestion baseline
    * (Liben-Nowell & Kleinberg 2003), exact and integer-only. Ties break
    * by the pair ids, so the top-k is a total order any engine
    * reproduces. Returns `(id_a, id_b, common)` with `id_a < id_b`.
    *
    * Scale shape: wedges enumerate at their center vertex (the same
    * u-keyed self-join as [[triangleCounts]], here WITHOUT the degree
    * orientation — both endpoints of every wedge must surface), the
    * (x, y) counts partial-combine, existing edges leave via one
    * anti-join, and the final top-k is TakeOrdered, never a global
    * sort. A hub of degree D fans out D^2/2 wedge rows — the documented
    * hot spot; cap hub degree upstream ([[coOccurrenceEdges]]' top-k
    * bound) when the graph carries one. */
  def commonNeighbors(edges: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val und = graft.util.Checkpoints.cut( // reused: wedges + anti-join
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val wedges = adj.select(col("u"), col("v").as("x"))
      .join(adj.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("id_a"), col("y").as("id_b"))
      .agg(count(lit(1)).as("common"))
    wedges
      .join(und, col("id_a") === col("a") && col("id_b") === col("b"), "left_anti")
      .orderBy(col("common").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Synchronous majority-vote label propagation (Raghavan et al. 2007)
    * over the UNDIRECTED support of `edges`, `rounds` fixed iterations:
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — a total order, so
    * each round is a pure deterministic function of the last and the
    * oracle unrolls the same rounds as CTEs. Labels start as node ids.
    * Returns `(node, label)`; nodes sharing a label after the fixed
    * rounds are one community. (Classic async LPA is run-order dependent
    * — unreproducible by construction; the synchronous determinized form
    * is the one a distributed engine can honestly compute.)
    *
    * Scale shape per round: one join of the (materialized, symmetrized)
    * adjacency to the current label table on the neighbor key, a
    * (node, label) count aggregation — partial-combined, the shuffle
    * carries counts — and a min(struct) argmax per node. Labels are the
    * only inter-round state; lineage is cut there. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj = graft.util.Checkpoints.cut( // scanned once per round
      und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v"))))
    var labels = adj.select(col("u").as("node"), col("u").as("label")).distinct()
    for (_ <- 1 to rounds) {
      labels = graft.util.Checkpoints.cut(
        adj.join(labels.select(col("node").as("v"), col("label")), "v")
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("u"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("u").as("node"), col("m.l").as("label")))
    }
    labels
  }

  def kCore(edges: DataFrame, kk: Int, rounds: Int = 8): DataFrame = {
    require(kk >= 1 && rounds >= 1, s"bad params kk=$kk rounds=$rounds")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj = graft.util.Checkpoints.cut( // scanned twice per round
      und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v"))))
    var alive = adj.select(col("u").as("node")).distinct()
    var out = alive.select(col("node"), lit(0L).as("deg"))
    for (_ <- 1 to rounds) {
      out = graft.util.Checkpoints.cut(
        adj.join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= kk)
          .select(col("u").as("node"), col("deg")))
      alive = out.select(col("node"))
    }
    out
  }

  /** Bounded-round frontier BFS over the DIRECTED `edges` from a seed
    * relation: after `rounds` rounds, `(node, d)` is the exact shortest
    * hop distance for every node within `rounds` hops of a seed
    * (unreached nodes are absent). Deterministic by construction — min
    * distance is order-free.
    *
    * Scale shape, the reason this is the distributed BFS and not a
    * transitive-closure join: each round expands ONLY the frontier (nodes
    * first reached last round, kept via one anti-join against the known
    * set), so total work is O(edges-touched-once) across the whole
    * traversal — an expand-everything-each-round loop would re-join the
    * entire reached set every round, and a recursive closure without the
    * dedup would enumerate PATHS (combinatorial on dense graphs). Lineage
    * is cut on the two inter-round tables (known, frontier); rounds are
    * fixed so the oracle unrolls the identical CTE chain. */
  /** Bounded-round single-source-set shortest paths (Bellman-Ford) over
    * DIRECTED weighted `edges` `(src, dst, w)` from a seed relation: after
    * `rounds` rounds, `(node, d)` is the exact minimum path cost over all
    * paths of at most `rounds` edges (unreached nodes absent). Integer
    * weights, so the result is engine-exact.
    *
    * Scale shape — delta relaxation, the weighted twin of
    * [[bfsDistances]]'s frontier: each round relaxes ONLY the nodes whose
    * distance improved last round. A settled node's outgoing relaxations
    * were already folded into the running min the round after it settled,
    * so re-relaxing it every round (what the unrolled oracle does) adds
    * nothing — the delta set shrinks toward empty while the naive loop
    * stays O(V) joins per round. Distances only ever decrease, which is
    * why the two schedules agree round for round.
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = graft.util.Checkpoints.cut(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    var dist = seeds.select(col("node"), lit(0L).as("d"))
    var delta = dist
    for (_ <- 1 to rounds) {
      val cand = delta
        .join(e, delta("node") === e("src"))
        .groupBy(col("dst")).agg(min(col("d") + col("w")).as("nd"))
        .select(col("dst").as("node"), col("nd"))
      val merged = dist.join(cand, Seq("node"), "full_outer")
      delta = graft.util.Checkpoints.cut(
        merged.filter(col("nd").isNotNull &&
            (col("d").isNull || col("nd") < col("d")))
          .select(col("node"), col("nd").as("d")))
      dist = graft.util.Checkpoints.cut(
        merged.select(col("node"),
          least(coalesce(col("d"), col("nd")),
            coalesce(col("nd"), col("d"))).as("d")))
    }
    dist
  }

  /** Per-seed bounded BFS: [[bfsDistances]] keyed by ORIGIN — one loop
    * carries every seed's frontier as (seed, node) labels, so k landmarks
    * cost one traversal with a k-wide label, not k traversals. The input
    * to landmark (harmonic) closeness: with hop distances bounded by
    * `rounds` ≤ 4, the reciprocal ranks stay integer through the LCM
    * device (12 div d), so the centrality is exact in any engine. */
  def bfsDistancesLabeled(
      edges: DataFrame, seeds: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    var known = seeds.select(col("node").as("seed"), col("node"),
      lit(0).as("d"))
    var frontier = known
    for (i <- 1 to rounds) {
      val reached = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      frontier = graft.util.Checkpoints.cut(
        reached.join(known, Seq("seed", "node"), "left_anti")
          .select(col("seed"), col("node"), lit(i).as("d")))
      known = graft.util.Checkpoints.cut(known.unionByName(frontier))
    }
    known
  }

  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = graft.util.Checkpoints.cut(edges.select(col("src"), col("dst")))
    var known = seeds.select(col("node"), lit(0).as("d"))
    var frontier = known
    for (i <- 1 to rounds) {
      val reached = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      frontier = graft.util.Checkpoints.cut(
        reached.join(known, Seq("node"), "left_anti")
          .select(col("node"), lit(i).as("d")))
      known = graft.util.Checkpoints.cut(known.unionByName(frontier))
    }
    known
  }
}
