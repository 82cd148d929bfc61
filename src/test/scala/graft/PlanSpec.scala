package graft

/** Physical-plan regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast, partial aggregation) must stay
  * visible in the plan — a silent regression here costs orders of magnitude
  * at 100 TB even while correctness stays green. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    // formatted mode prints untruncated PushedFilters/ReadSchema
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("exact quantiles: count-only shuffles, no value sort, no percentile") {
    val p = plan("ext_quantile_exact_dist")
    // the whole point: never Spark's single-reducer percentile aggregate,
    // and every shuffle is a partial-combined COUNT — values stay put
    assert(!p.toLowerCase.contains("percentile"), "fell back to percentile()")
    assert(p.contains("partial_count"), "histogram counts must combine map-side")
    // the refinement passes read the ONE materialized value column (the
    // lineage cut), never re-scanning the source per pass
    assert(p.contains("ExistingRDD") && !p.contains("FileScan"),
      "final pass re-scans the source instead of the cut column")
  }

  test("phrase search: postings joins are equi-joins, never nested loops") {
    val p = plan("ext_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phrase adjacency must join on (doc, pos), not filter a cross product:\n$p")
    assert(p.contains("Join"), "expected positional equi-joins in the plan")
  }

  test("q1: filter pushed to parquet scan, columns pruned, partial agg") {
    val p = plan("q1_lineitem_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
    assert(p.contains("partial_sum"))
  }

  test("q3: dimension joins broadcast, top-k via TakeOrderedAndProject") {
    val p = plan("q3_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "fact-side shuffle join not expected at this scale")
  }

  test("q6: both range predicates reach the scan") {
    val p = plan("q6_filter_sum")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"))
  }

  test("q7: ship-year range pushed to scan, dims broadcast, no cartesian") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q8: PROMO filter reaches the part scan before the 8-way join") {
    val p = plan("q8_market_share")
    assert(p.contains("EqualTo(p_type,PROMO)"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q13: priority exclusion pushed into the orders scan, two-level count") {
    val p = plan("q13_custdist")
    assert(p.contains("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))"))
    assert(p.contains("partial_count"))
  }

  test("q14: single ship-month window pushed to the lineitem scan") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-09-01") &&
      p.contains("LessThan(l_shipdate,1996-10-01"))
  }

  test("q16: excluded suppliers are a broadcast anti-join; size list pushed") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"))
    assert(p.contains("In(p_size"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q17: brand filter pushed; correlated threshold is a join, not a loop") {
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("EqualTo(p_brand,Brand#5)"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q19: Catalyst extracts the disjunction's bounds into BOTH scans") {
    val p = plan("q19_disjunctive_pred")
    // the OR of three (brand,size,qty) bands must not block pushdown: the
    // quantity disjunct lands in lineitem's PushedFilters and the brand/size
    // disjunct in part's — each scan prunes before the join.
    assert("Or\\(.*l_quantity".r.findFirstIn(p).isDefined ||
      p.contains("GreaterThanOrEqual(l_quantity"))
    assert("Or\\(.*p_brand".r.findFirstIn(p).isDefined)
  }

  test("q21: sole-late-supplier is semi+anti joins, orderstatus pushed") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
    assert(p.contains("EqualTo(o_orderstatus,F)"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q2: region filter pushed; correlated min joins, no cartesian") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("EqualTo(r_name,EUROPE)"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the selective part predicate prunes lineitem BEFORE the offer
    // aggregation (broadcast semi-join on the filtered part keys), and the
    // predicate itself is pushed into the part scan
    assert(p.contains("LeftSemi"),
      s"no part-key semi-join pruning the offer aggregation:\n$p")
    assert(p.contains("EqualTo(p_size,15)") && p.contains("EqualTo(p_type,STANDARD)"),
      "part predicate must be pushed into the part scan")
  }

  test("q9: part-name substring filter pushed into the scan") {
    val p = plan("q9_nation_profit")
    assert(p.contains("StringContains(p_name,red)"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q11: nation IN-list pushed; threshold join bounded to one row") {
    val p = plan("q11_important_parts")
    assert(p.contains("In(n_name"))
    // the ONLY nested-loop allowed is the 1-row threshold broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("q20: qualified shippers return as a broadcast semi-join") {
    val p = plan("q20_excess_shippers")
    assert(p.contains("LeftSemi"))
    assert(p.contains("EqualTo(p_type,PROMO)"))
  }

  test("x34: bucketed tables join with zero Exchange before the aggregation") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
      val df = SparkEntry.queries("x34_bucketed_join")(spark, dir)
      // plan text prints top-down, so the join subtree is what FOLLOWS the
      // last (partial) HashAggregate line; the agg/orderBy above it may
      // legitimately exchange — the join itself must not
      val joinSubtree = df.queryExecution.executedPlan.toString
        .split("HashAggregate").last
      assert(!joinSubtree.contains("Exchange"),
        s"bucketed join still shuffles:\n$joinSubtree")
      assert(df.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a2: windowed aggregation is partial+final around one exchange") {
    val p = plan("a2_windowed_spend")
    assert(p.contains("partial_sum"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2) // executed+spark plan copies
  }

  test("ext_knn_brute: scoring runs through the codegen DotProduct") {
    val p = plan("ext_knn_brute")
    assert(p.contains("DotProduct") || p.contains("dotproduct"))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("x4: forward as-of is the single-shuffle union-window form") {
    val p = plan("x4_asof_forward")
    // one hash exchange on the join key feeds the running window; a naive
    // theta-join would show BroadcastNestedLoopJoin / a range-join explosion
    assert(p.contains("Window"))
    assert(!p.contains("NestedLoopJoin"), "as-of must not plan a nested-loop range join")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 2)
  }

  test("ext_dedup_embedding: LSH pairing shuffles on the bucket id, never all-pairs") {
    val p = plan("ext_dedup_embedding")
    assert(!p.contains("NestedLoopJoin"),
      "graded embedding near-dup must be the bucket join, not the O(n^2) scan")
    assert(p.contains("bucket"))
  }

  test("ext_pii_redact / ext_repetition: scan-parallel, no shuffle before output") {
    for (name <- Seq("ext_pii_redact", "ext_repetition")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name should be pure per-row expression work, found a hash shuffle")
    }
  }

  test("ext_quantize: pure projection over the embeddings scan") {
    val p = plan("ext_quantize")
    assert(!p.contains("Exchange hashpartitioning"))
    assert(!p.contains("Join"))
  }

  test("ext_bpe_tokens: scan-parallel expression, no shuffle, no join") {
    val p = plan("ext_bpe_tokens")
    assert(!p.contains("Exchange hashpartitioning"),
      "tokenization is per-row; a shuffle means the vocab leaked into a join")
    assert(!p.contains("Join"), "the merge table must be inlined, not joined")
  }

  test("x10: chunk fan-out is a Generate over the scan — no shuffle before the sort") {
    val p = plan("x10_chunk_docs")
    assert(p.contains("Generate"), "chunking should explode per row")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking must stay scan-parallel (the only exchange is the output sort's range partitioning)")
    assert(!p.contains("Join"))
  }

  test("x12: weighted repetition stays scan-parallel — explode, no shuffle, no join") {
    val p = plan("x12_weighted_repeat")
    assert(p.contains("Generate"), "copies should fan out via explode")
    assert(!p.contains("Exchange hashpartitioning"),
      "the hash draw is per-row; the only exchange is the output sort's range partitioning")
    assert(!p.contains("Join"))
  }

  test("ext_keywords: tf/df aggregate partially map-side; no all-token shuffle of raw text") {
    val p = plan("ext_keywords")
    assert(p.contains("partial_count"),
      "tf and df must partial-aggregate map-side so shuffles carry counts")
    assert(!p.contains("NestedLoopJoin"))
  }

  test("ext_embed_centroid: one hash exchange on the label, no join") {
    val p = plan("ext_embed_centroid")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning\\(label".r.findAllIn(p).size <= 2,
      "centroid pooling is a single groupBy(label) shuffle")
  }

  test("ext_centroid_assign: centroids broadcast, argmin partial-aggregates") {
    val p = plan("ext_centroid_assign")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the per-label centroid side must broadcast (it is one row per label)")
    assert(p.contains("partial_min"),
      "the argmin must combine map-side so the shuffle carries one candidate per vector")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q4: semi-join probes with the bare key; payload columns never widen") {
    val p = plan("q4_semi_join")
    assert(p.contains("LeftSemi"))
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      "the returned-lines predicate must reach the lineitem scan")
    assert(!p.contains("l_quantity"),
      "the probe side must project only the join key — no payload columns")
  }

  test("q22: anti-join build side is filtered then pruned to the bare key") {
    val p = plan("q22_anti_join")
    assert(p.contains("LeftAnti"))
    assert(p.contains("LessThan(o_orderdate"),
      "the date predicate must reach the orders scan")
    assert(!p.contains("o_totalprice"),
      "the build side must project only the join key — no payload columns")
  }

  test("x15: the z-value is a pure projection over the scan — no join, no extra shuffle") {
    val p = plan("x15_zorder")
    assert(!p.contains("Join"))
    // the graded query's final orderBy is its only exchange (oracle
    // determinism); the interleave itself adds none
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("ext_random_projection: pure projection through DotProduct, no shuffle, no join") {
    val p = plan("ext_random_projection")
    assert(p.contains("DotProduct") || p.contains("dotproduct"),
      "components must run through the codegen dot, not an interpreted HOF")
    assert(!p.contains("Join"))
    // the graded orderBy(vec_id) is the query's only exchange (range
    // partitioning for oracle determinism); the projection itself adds none
    assert(!p.contains("Exchange hashpartitioning"),
      "projection is per-row; a hash shuffle means something leaked")
  }

  test("ext_projection_distortion: broadcast pairing, band counts combine map-side") {
    val p = plan("ext_projection_distortion")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 10-query side must broadcast; a shuffle pairing is wrong at this shape")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "band counts must partial-aggregate before the q_id shuffle")
  }

  test("ext_dedup_contain: pairs via group-by-shingle, never all-pairs") {
    val p = plan("ext_dedup_contain")
    assert(!p.contains("NestedLoopJoin"),
      "containment must pair via the shingle grouping, not an O(n^2) scan")
    assert(p.contains("partial_count"),
      "shared-shingle counts must combine map-side")
  }

  test("ext_gopher_rules: scan-parallel rule metrics, no shuffle, no join") {
    val p = plan("ext_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      "every rule metric is a per-row expression; a shuffle means something leaked")
    assert(!p.contains("Join"))
  }

  test("tableSuite: k fused checks still read the table exactly once") {
    import org.apache.spark.sql.functions.col
    val orders = sources.Tables(spark, dir, "orders")
    val suite = operators.Quality.tableSuite(orders,
      completenessCols = Seq("o_custkey"),
      distinctnessCols = Seq("o_orderkey"),
      compliances = Seq("status" -> col("o_orderstatus").isin("O", "F")))
    val p = suite.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // one scan NODE = one "Location:" detail block (the tree line would
    // double-count it); separate checks would plan separate scan nodes
    assert("Location: InMemoryFileIndex".r.findAllIn(p).size == 1,
      "the fused suite must cost one scan, not one per check")
  }

  test("ext_semdedup: pairing is the within-cluster equi-join, never all-pairs") {
    // the assignment subtree sits behind a lineage cut (it feeds both join
    // sides), so this plan covers the pair stage; the argmin's partial_min
    // is pinned on ext_centroid_assign, which shares the assignment code
    val p = plan("ext_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      "the pair join must be the within-cluster equi-join, not all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on the cluster id")
  }

  test("ext_countmin_topk: sketch side broadcasts into the probe join; build combines map-side") {
    val p = plan("ext_countmin_topk")
    assert(p.contains("BroadcastHashJoin"),
      "the sketch is at most depth*width rows — probing must broadcast it")
    assert(p.contains("partial_count"),
      "the sketch build must partial-aggregate so shuffles carry counters, not tokens")
    assert(p.contains("partial_min"),
      "the row-minimum must combine map-side")
  }

  test("ext_hll_distinct: registers partial-aggregate — 100 TB collapse to 2^p rows map-side") {
    val p = plan("ext_hll_distinct")
    assert(p.contains("partial_max"),
      "the register max must combine map-side so shuffles carry registers, not shingles")
    assert(!p.contains("SortMergeJoin"),
      "everything after the registers is one-row frames — nothing may shuffle-join")
  }

  test("ext_kmv_overlap: membership joins broadcast; kmvBuild merges via TakeOrdered") {
    val p = plan("ext_kmv_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "the <=k-row sketch membership joins must broadcast")
    assert(!p.contains("SortMergeJoin(h"),
      "no sketch-side shuffle join expected")
    // the k-smallest-distinct merge sits behind the lineage cuts in the
    // composed query — pin it on the build's own plan
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("text").as("s"))
    val bp = graft.operators.Sketch.kmvBuild(docs, "s", 64)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(bp.contains("TakeOrderedAndProject"),
      "the global k-smallest-distinct merge must be a TakeOrdered over the bounded union")
  }

  test("x18: bloom screen is scan-parallel — the eval side is a plan literal, no join at all") {
    val p = plan("x18_bloom_decontaminate")
    assert(!p.contains("Join"),
      "the bloom bitmap must ship as a literal — any join means the eval " +
        "side is being shuffled or broadcast as a relation")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-doc suspect count must combine map-side")
  }

  test("SQL-registry twin: graft_fold_key SQL text optimizes to the Column form's plan") {
    GraftExtensions.register(spark)
    val sqlPlan = SparkEntry.queries("ext_text_normalize_sql")(spark, dir)
      .queryExecution.optimizedPlan.canonicalized
    val colPlan = SparkEntry.queries("ext_text_normalize")(spark, dir)
      .queryExecution.optimizedPlan.canonicalized
    // both build lower(StripAccentsExpr(UnicodeNfc(s))) over the same
    // fixture — the registry must not introduce a different tree
    assert(sqlPlan == colPlan,
      s"SQL and Column forms diverged:\n--- sql ---\n$sqlPlan\n--- col ---\n$colPlan")
  }

  test("SQL-registry twin: graft_simhash SQL text matches the Column form's values") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.col
    val viaSql = SparkEntry.queries("ext_simhash_sql")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.operators.Dedup.simhash(col("text")).as("sim"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty,
      "registry simhash diverges from the Column form")
  }

  test("ANN top-k runs as the bounded heap aggregate, not a window sort") {
    // the scale property behind the ann_ivf_1m soak numbers: the per-query
    // top-k must plan as ObjectHashAggregate over TopKByScore (map-side
    // partial aggregation, at most k entries per query per task) — a
    // regression back to row_number() would re-sort every scored candidate
    // per query (observed: 4.9 GB spill at 125M candidates)
    for (name <- Seq("ext_knn_brute", "ext_knn_ivf_exact", "ext_knn_lsh")) {
      val p = plan(name)
      assert(p.contains("ObjectHashAggregate") && p.contains("top_k_by_score"),
        s"$name must rank through the TopKByScore heap aggregate")
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
        s"$name must not fall back to the window sort")
    }
  }

  test("ext_bigram_quality: LM combines map-side and broadcasts; no sort join") {
    val p = plan("ext_bigram_quality")
    // LM counts partial-aggregate before their exchange, the aggregated
    // LM broadcasts into the scoring join (left outer: OOV bigrams keep
    // their row), and nothing falls back to a sort-merge or cartesian
    assert(p.contains("partial_count"), "LM counts must combine map-side")
    assert(p.contains("BroadcastHashJoin LeftOuter"),
      "scoring join must broadcast the aggregated LM side at this scale")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ext_bm25_search: counters combine map-side, stats broadcast, heap top-k") {
    val p = plan("ext_bm25_search")
    // tf/df/dl are count aggregations (shuffles carry counters, not
    // tokens); query-vocabulary and corpus stats broadcast into the
    // scoring join; the final top-k is the per-partition-heads operator
    assert(p.contains("partial_count"), "tf/dl counts must combine map-side")
    assert(p.contains("BroadcastHashJoin"), "df/corpus sides must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heads, not a global sort")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "corpus stats must attach as a broadcast, not a cartesian")
  }

  test("ext_weighted_sample: priorities combine map-side; winners broadcast back") {
    val p = plan("ext_weighted_sample")
    assert(p.contains("partial_min"), "per-id min-draw must combine map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "k smallest priorities must be per-partition heads")
    assert(p.contains("BroadcastHashJoin"),
      "the k winners must broadcast back onto the input")
    assert(!p.contains("SortMergeJoin"))
  }

  test("ext_quantile_sample: the corpus is never globally sorted — only the sample") {
    val p = plan("ext_quantile_sample")
    // the ONLY Sort feeding a Window must sit above the sample filter;
    // the exact branch at test scale is the same rank-selection shape, so
    // assert the plan keeps both sorts WINDOW-local (no global Exchange
    // RangePartitioning over the full relation pre-filter)
    assert(p.contains("Window"), "rank selection runs through row_number")
    assert(p.contains("md5"), "the sample filter must appear in the plan")
    assert(!p.contains("rangepartitioning(v"),
      "no range-partitioned global sort of the raw value column")
  }

  test("x24_stratified_split: one shuffle on the stratum; both windows share it") {
    val p = plan("x24_stratified_split")
    // rank + count windows must share the stratum Exchange (one
    // hashpartitioning on source), never add a second shuffle
    val exchanges = "hashpartitioning\\(source".r.findAllIn(p).length
    assert(exchanges == 1, s"expected ONE stratum hash exchange, saw $exchanges:\n$p")
    assert("\\(\\d+\\) Window".r.findAllIn(p).length == 2,
      "both windows must appear, sharing the single exchange")
  }

  test("ext_join_estimate: sketches combine map-side; no scan-side join") {
    val p = plan("ext_join_estimate")
    assert(p.contains("partial_count"), "sketch counters must combine map-side")
    // the estimate joins two counter tables — the raw relations must meet
    // only in the EXACT-truth branch (one join of the two scans is that
    // branch; the estimate side must not add a SortMergeJoin of scans)
    assert(!p.contains("CartesianProduct"))
  }

  test("ext_drift_psi: cells aggregate combinably, totals broadcast back") {
    val p = plan("ext_drift_psi")
    assert(p.contains("partial_count"), "bucket counts must combine map-side")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 2-value totals row must broadcast, not shuffle")
  }

  test("x26_resample_ffill: grid fan-out is a Generate; as-of stays one key shuffle") {
    val p = plan("x26_resample_ffill")
    assert(p.contains("Generate"), "the hourly grid must explode scan-parallel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the as-of must not plan a quadratic join")
  }

  test("x27_rolling_24h: one hash exchange on the user, range-frame window") {
    val p = plan("x27_rolling_24h")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      "rolling window must shuffle once on the key")
    assert(p.contains("RangeFrame"), "frame must be RANGE, not ROWS")
  }

  test("ext_setsim_prefix: no quadratic join; verify counts partial-aggregate") {
    val p = plan("ext_setsim_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix filtering must never plan an all-pairs join")
    assert(p.contains("partial_count"),
      "pair intersection counts must combine map-side")
  }

  test("ext_fuzzy_join: only the bounded short bucket may nested-loop") {
    val p = plan("ext_fuzzy_join")
    // the gram join is an equi-join; the one BroadcastNestedLoopJoin NODE
    // (formatted mode prints each node twice: tree + details) is the
    // documented sub-15-char fallback bucket (empty on this corpus)
    assert(!p.contains("CartesianProduct"))
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      "only the short-string bucket may plan a nested loop")
  }

  test("ext_kmeans_fp: points never shuffle for assignment — centroids broadcast") {
    val p = plan("ext_kmeans_fp")
    assert(p.contains("BroadcastExchange"), "k-row centroid side must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "an assignment planned as a point-side shuffle join defeats the design")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "argmin/update aggregations must partial-combine")
  }

  test("x35_triangles / x36_kcore: graph joins are equi-joins, never quadratic") {
    for (n <- Seq("x35_triangles", "x36_kcore")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n plans a quadratic join")
    }
  }

  test("ext_pmi_bigrams: one pair aggregation feeds marginals; top-k is TakeOrdered") {
    val p = plan("ext_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must not be a global sort")
    // the pair-count aggregation itself sits behind the lineage cut; the
    // marginal sums derived from it must still combine map-side
    assert(p.contains("partial_sum"), "marginal sums must combine map-side")
  }

  test("x40: date-range scan prunes to the selected partitions") {
    // run the query once so the layout exists, then pin the pruned scan on
    // the directory the graded row wrote (a fresh scratch dir per call)
    val graded = SparkEntry.queries("x40_partition_prune")(spark, dir)
    graded.collect()
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val base = graded.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths.head.toString
    }.getOrElse(fail("no file relation in the graded x40 plan"))
    import org.apache.spark.sql.functions.{col, lit}
    val pruned = spark.read.parquet(base)
      .filter(col("event_date") >= lit("2024-01-03").cast("date") &&
        col("event_date") <= lit("2024-01-04").cast("date"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the pruned plan"))
    assert(scan.partitionFilters.nonEmpty,
      "the date predicate must become a partition filter, not a data filter")
    val touched = scan.selectedPartitions.partitionCount
    val stored = spark.read.parquet(base).select("event_date").distinct().count()
    assert(touched == 2,
      s"scan touches $touched partitions; the predicate selects 2 of $stored days")
  }

  test("x42: the graded query's plan reads the MV, never the base scan") {
    GraftExtensions.register(spark)
    val df = SparkEntry.queries("x42_mv_rewrite")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-mv-"), s"MV rewrite did not fire:\n$p")
    assert(!p.contains("events.parquet"), s"plan still scans the base:\n$p")
  }

  test("x49: the filtered aggregate reads the MV, never the base scan") {
    GraftExtensions.register(spark)
    val df = SparkEntry.queries("x49_mv_filter")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-mv3-"), s"filtered MV rewrite did not fire:\n$p")
    assert(!p.contains("events.parquet"), s"plan still scans the base:\n$p")
  }

  test("x47: the fact scan carries a dynamic partition pruning filter") {
    val df = SparkEntry.queries("x47_dpp")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DPP filter on the partitioned scan:\n$p")
  }

  test("x46: the full-table query is answered from the refreshed MV") {
    GraftExtensions.register(spark)
    val df = SparkEntry.queries("x46_mv_refresh")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-mv2-"), s"MV rewrite did not fire:\n$p")
    assert(!p.contains("events.parquet"), s"plan still scans the base:\n$p")
  }

  test("attribution: both sides' type filters reach the scan, small side broadcast") {
    val p = plan("ext_attribution")
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,click)"),
      s"type filters did not push to the parquet scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the touch side should broadcast under the user equi-key:\n$p")
    assert(!p.contains("CartesianProduct"), "pair stage degenerated to a cross")
  }

  test("band lookup: broadcast non-equi join, fact table never shuffles before it") {
    val p = plan("ext_band_lookup")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"a 6-row rate card must broadcast, not shuffle the fact side:\n$p")
    val beforeJoin = p.substring(0, p.indexOf("BroadcastNestedLoopJoin"))
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      s"fact side shuffled before the band join:\n$p")
  }

  test("feature hash: one grouped sum, no join, histogram combines map-side") {
    val p = plan("ext_feature_hash")
    assert(!p.contains("Join"), s"featurization must be join-free:\n$p")
    assert(p.contains("partial_sum"), "signed sums must combine map-side")
  }

  test("AUC: the histogram combines map-side; no scored-row shuffle") {
    val p = plan("ext_auc")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the (segment, score) histogram must partial-aggregate map-side")
    assert(!p.contains("Join"), s"AUC needs no join:\n$p")
  }

  test("skyline: local prune runs before ANY exchange; global sort fed by it") {
    val p = plan("ext_skyline")
    // the 10M-point soak measured the windowed prune shuffling the whole
    // input (126 MB) vs 0 after the mapPartitions rewrite — the prune must
    // stay upstream of the first Exchange. Formatted mode numbers operators
    // in EXECUTION order (leaf = 1), so compare ids, not text positions.
    def opIds(name: String): Seq[Int] =
      ("""\((\d+)\) [A-Za-z]*""" + name).r.findAllMatchIn(p)
        .map(_.group(1).toInt).toSeq
    val prune = opIds("MapPartitions").headOption.getOrElse(-1)
    val exchange = opIds("Exchange").sorted.headOption.getOrElse(-1)
    assert(prune >= 1, s"expected the mapPartitions local prune:\n$p")
    assert(exchange < 0 || prune < exchange,
      s"local prune (op $prune) must run before the first exchange " +
        s"(op $exchange):\n$p")
  }

  test("basket rules: item totals and basket count broadcast onto pairs") {
    val p = plan("ext_basket_rules")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"dimension-sized item counts must broadcast:\n$p")
    assert(p.contains("partial_count"),
      "pair counting must combine map-side")
  }

  test("audience overlap: pair counting partial-aggregates map-side") {
    val p = plan("ext_audience_overlap")
    assert(p.contains("partial_count"),
      "the (type_a, type_b) counts must combine map-side")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"audience totals must broadcast onto the pair table:\n$p")
  }

  test("topk rewrite row: the optimizer supplies the heap, no Window exec") {
    GraftExtensions.register(spark)
    val p = plan("ext_topk_rewrite")
    assert("""\(\d+\) Window\b""".r.findFirstIn(p).isEmpty,
      s"the Window operator must be rewritten away:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"expected the TopKByScore heap aggregate:\n$p")
  }

  test("SQL registry: graft_zvalue matches Layout.zValue output exactly") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (255L, 1L)).toDF("x", "y")
    df.createOrReplaceTempView("graft_zv_fixture")
    val viaSql = spark.sql(
      "SELECT graft_zvalue(8, x, y) AS z FROM graft_zv_fixture ORDER BY z")
      .as[Long].collect().toSeq
    val viaCol = df.select(
        graft.operators.Layout.zValue(Seq(col("x"), col("y")), 8).as("z"))
      .orderBy(col("z")).as[Long].collect().toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }
}
