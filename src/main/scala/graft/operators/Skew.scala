package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys.
  *
  * Spark 4 already handles a hot key in combinable aggregates (map-side
  * partials emit one row per key per task) and in one-distinct aggregates
  * (the planner exchanges on (key, value) first and ships partial counts),
  * so those shapes stay plain `groupBy`. What remains here are the shapes
  * the planner cannot split: a join whose hot key AQE's runtime skew split
  * can't reach ([[saltedJoin]]), and windows partitioned by a hot key (the
  * chunk and block decompositions below), plus [[keyProfile]], the
  * diagnostic that finds the hot key.
  */
object Skew {

  /** Salted join for a skew-keyed big side against a small-but-not-
    * broadcastable side: the big side's rows get a deterministic salt in
    * [0, saltBuckets), the small side is replicated once per salt value,
    * and the join key becomes (keys, salt) — a hot key's rows spread over
    * `saltBuckets` tasks instead of one straggler. Use when AQE's runtime
    * skew split can't apply (e.g. the skewed side feeds a co-partitioned
    * downstream op) and the small side exceeds the broadcast threshold;
    * costs a `saltBuckets`-fold replication of the small side's shuffle.
    *
    * Only join types where replicated unmatched small-side rows can't
    * surface are allowed (inner / left_outer / left_semi / left_anti —
    * right/full would duplicate small-side null matches per salt).
    *
    * The salt is a deterministic hash of (input partition id, full row),
    * NOT a row-index function: an indeterminate salt re-salts rows
    * differently when a failed map stage recomputes, so a stage retry can
    * match a row under two salts (double-counting it) or under none.
    * `spark_partition_id` is recompute-stable (a retried task re-reads the
    * same partition) and spreads exact-duplicate rows of a hot key that
    * land in different input partitions across salt buckets. Residual
    * caveat: exact duplicates WITHIN one input partition share a salt, so
    * a hot key made of identical co-partitioned rows (e.g. a single-file
    * table of repeated rows) stays on one task — carry a distinguishing
    * column (a unique id) so the row hash separates them.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltBuckets: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")(joinType),
      s"saltedJoin supports left-shaped joins only, got $joinType")
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64((spark_partition_id() +: big.columns.map(col)).toIndexedSeq: _*),
        lit(saltBuckets)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    saltedBig.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Exact skew-free RUNNING SUM — the window-shape answer to a hot
    * partition key, which is the one skew pathology neither AQE (joins
    * only) nor partial aggregation (combinable aggs only) can touch:
    *
    *   sum(value) OVER (PARTITION BY key ORDER BY ord
    *                    ROWS UNBOUNDED PRECEDING)
    *
    * puts EVERY row of a hot key on one task — the task sorts and scans
    * the key's entire history serially, and at 100 TB the hottest
    * customer IS the stage's wall clock. This verb decomposes the prefix
    * sum exactly, because addition is associative:
    *
    *  1. chunk each key's rows by a MONOTONE function of `ord` (fixed
    *     [lo, hi] range split into `chunks` slices; monotone in ord is the
    *     only requirement — balance only affects speed, never the answer);
    *  2. per-(key, chunk) totals — one parallel hash aggregate;
    *  3. exclusive prefix of the totals per key — a window over at most
    *     `chunks` ROWS per key, thousands of times smaller than the data;
    *  4. local running sum within each (key, chunk) — the big window, now
    *     partitioned by (key, chunk), so a hot key spreads over `chunks`
    *     tasks — plus the chunk's offset from step 3.
    *
    * result = local prefix + exclusive chunk offset, exact for any
    * integer-typed value column (longs end to end; no float reassociation).
    * Determinism contract: `ord` unique within each key (same as the as-of
    * and top-k tie rules); `ord` must be numeric (cast timestamps to
    * epoch first). Driver state: ONE (min, max) row — the same bounded
    * two-scalar collect the exact-quantile refinement documents.
    *
    * Output: the input columns plus `resultCol`. Not a drop-in for every
    * frame — UNBOUNDED PRECEDING running frames only (the decomposable
    * case); sliding frames keep the plain window.
    */
  def runningSumChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      chunks: Int = 32): DataFrame =
    runningAggChunked(df, keyCol, ordCol, valueCol, resultCol, "sum", chunks)

  /** The general form of [[runningSumChunked]] for any ASSOCIATIVE running
    * aggregate — `agg` one of `sum`, `min`, `max`, `count` (the
    * decomposable UNBOUNDED-PRECEDING frames; min/max offsets combine with
    * least/greatest instead of `+`, and the first chunk of each key has no
    * offset at all — a null-combining least/greatest keeps it exact;
    * count's chunk totals re-combine by SUM, and a running count is never
    * null, so only the absent first-chunk offset needs a coalesce). */
  def runningAggChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      agg: String = "sum",
      chunks: Int = 32): DataFrame =
    runningAggChunkedWithTotal(df, keyCol, ordCol, valueCol, resultCol, agg,
      chunks)._1

  /** [[runningAggChunked]] plus the input's ROW COUNT, read off the SAME
    * one-row stats job the chunk range already runs (min, max, count in
    * one scan — zero extra jobs). The block verbs below size B from it,
    * so they no longer pay a separate `df.count()` scan on top of the
    * chunk machinery's two (VERDICT r12 #2/#4 — cosmetic at sf0.1, a
    * full extra pass of the input at 100 TB). */
  private def runningAggChunkedWithTotal(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      agg: String = "sum",
      chunks: Int = 32): (DataFrame, Long) = {
    require(chunks >= 2 && chunks <= 4096, s"chunks out of range: $chunks")
    require(Set("sum", "min", "max", "count")(agg),
      s"runningAggChunked supports sum/min/max/count, got '$agg'")
    Seq(keyCol, ordCol, valueCol).foreach(c => require(df.columns.contains(c),
      s"column '$c' not found in ${df.columns.mkString("[", ",", "]")}"))
    Seq("__chunk", "__sk", "__ok", "__oc", "__ct", "__off", "__loc").foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the internal column '$h'"))
    import org.apache.spark.sql.expressions.Window
    val aggFn: Column => Column = agg match {
      case "sum" => sum(_)
      case "min" => min(_)
      case "max" => max(_)
      case _ => count(_)
    }
    // the offset side re-combines CHUNK TOTALS, which for count means
    // adding counts — SUM of the per-chunk counts, not a count of them
    val offFn: Column => Column = if (agg == "count") sum(_) else aggFn
    // combine a local prefix with the (possibly absent) prior-chunk
    // offset. NULL discipline mirrors the window aggregate's: a running
    // frame whose values so far are ALL null yields null, any non-null
    // value makes it concrete. For sum that means null propagates only
    // when BOTH sides are null (a bare `loc + off` would null out a row
    // whose chunk-local prefix is all-null even though earlier chunks
    // carried real values); least/greatest are natively null-skipping,
    // so they compose correctly as-is; a running count is never null, so
    // only the first chunk's absent offset needs a zero.
    def combine(loc: Column, off: Column): Column = agg match {
      case "sum" => when(loc.isNull && off.isNull, lit(null))
        .otherwise(coalesce(loc, lit(0L)) + coalesce(off, lit(0L)))
      case "min" => least(loc, off)
      case "max" => greatest(loc, off)
      case _ => loc + coalesce(off, lit(0L))
    }
    val stats = df.agg(min(col(ordCol).cast("double")).as("lo"),
      max(col(ordCol).cast("double")).as("hi"),
      count(lit(1)).as("n")).collect()(0)
    val total = stats.getLong(2)
    if (stats.isNullAt(0)) // all-null/empty ords: plain window, no chunking
      return (df.withColumn(resultCol, aggFn(col(valueCol)).over(
        Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))), total)
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    // monotone in ord by construction: (x - lo) / span is IEEE-monotone
    // for span > 0, floor and clamp preserve it; a degenerate range
    // (lo == hi) puts everything in chunk 0 = the plain per-key window
    val span = if (hi > lo) (hi - lo) / chunks else 1.0
    val chunk = least(greatest(
      floor((col(ordCol).cast("double") - lit(lo)) / lit(span)).cast("int"),
      lit(0)), lit(chunks - 1)).as("__chunk")
    // __sk wraps the key in a 1-field struct: struct equality is null-safe
    // field-wise (a NULL key is a normal window partition and must survive
    // the chunk join), and UNLIKE `<=>` on the bare key it keeps the join
    // an ordinary equi-join — so the big side's (sk, chunk) hash
    // partitioning and (sk, chunk, ord) sort from the local window satisfy
    // the sort-merge join's requirements AS-IS. The r11 form joined with
    // `key <=> __k`, whose wrapped join keys forced a full re-exchange +
    // re-sort of the 20M-row windowed side (a measured 205 MB extra
    // shuffle at the 20M soak); only the tiny offsets side moves now.
    val base = df.withColumn("__sk", struct(col(keyCol)))
      .withColumn("__chunk", chunk)
    // a DECIMAL(p, s) running sum (r13, VERDICT r12 #6 — the money-column
    // upgrade SURVEY §1.3 names): decimal addition is exact and
    // order-free, so the decomposition is exact; the one divergence
    // channel is overflow NULLING POINTS. r14 (ADVICE r13): the verb now
    // nulls EXACTLY where the serial window does — every intermediate
    // (chunk-local prefixes, chunk totals, offset re-sums) accumulates in
    // types widened PAST the serial accumulator (the value is pre-cast to
    // bounded(p+10, s), so Sum buffers at bounded(p+20, s) and the
    // offset re-sum at bounded(p+30, s), capped at 38), and the single
    // final cast back to the serial window's bounded(p+10, s) is the only
    // place a null can appear — precisely when the true prefix value
    // exceeds the serial accumulator's capacity, which is when the serial
    // window nulls. (The r13 form let a chunk-local prefix or chunk total
    // overflow its own narrower type near capacity, which a both-null
    // combine then read as zero — a value where the serial window nulls.)
    // Residual bound: an intermediate past 10^(p+30-s) — reachable only
    // through >=10^20x mixed-sign cancellation — would null early; stated
    // contract, same class as the engine's 2^53 envelope.
    val sumType = df.schema(valueCol).dataType match {
      case d: org.apache.spark.sql.types.DecimalType if agg == "sum" =>
        Some(org.apache.spark.sql.types.DecimalType(
          math.min(38, d.precision + 10), d.scale))
      case _ => None
    }
    val aggInput = sumType.map(t => col(valueCol).cast(t)).getOrElse(col(valueCol))
    val offsets = base
      .groupBy(col("__sk").as("__ok"), col("__chunk").as("__oc"))
      .agg(aggFn(aggInput).as("__ct"))
      .withColumn("__off",
        offFn(col("__ct")).over(Window.partitionBy(col("__ok"))
          .orderBy(col("__oc"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      // fresh names: offsets derives FROM base, so reusing base's attrs
      // in the join condition would be a same-lineage ambiguity
      .select(col("__ok"), col("__oc"), col("__off"))
    val localW = Window.partitionBy(col("__sk"), col("__chunk"))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = base
      .withColumn("__loc", aggFn(aggInput).over(localW))
      .join(offsets, col("__sk") === col("__ok") && col("__chunk") === col("__oc"))
      .withColumn(resultCol, sumType match {
        case Some(t) => combine(col("__loc"), col("__off")).cast(t)
        case None => combine(col("__loc"), col("__off"))
      })
      .drop("__sk", "__ok", "__oc", "__chunk", "__loc", "__off")
    (res, total)
  }

  /** Exact skew-free LAG/LEAD — the NAVIGATION-function face of the same
    * hot-key pathology: `lag(v, n) OVER (PARTITION BY key ORDER BY ord)`
    * doesn't scan history like a running sum, but it still pays the
    * single-task SORT of the hot key's whole partition. Decomposition
    * (SINGLE-EVALUATION block form, r12 — replaces the r11 donor
    * self-join, which evaluated the sequence-numbered subtree twice:
    * 2x the scan + 5.5x the shuffle measured at 20M, and under tied ords
    * the two evaluations could disagree):
    *
    *  1. per-key sequence number via the chunk-parallel running COUNT
    *     ([[runningAggChunked]] — the hot key's sort spreads over
    *     `chunks` tasks);
    *  2. block = (seq - 1) div B for a fixed block size B >= n: blocks
    *     partition each key's sequence space contiguously, every
    *     non-last block of a key holds EXACTLY B rows;
    *  3. boundary DONOR COPIES via one generator (no self-join): for lag,
    *     the last n rows of each block are emitted a second time into
    *     block + 1 (for lead, the first n into block - 1). Both copies of
    *     a row are produced from ONE evaluated row in one pass, so the
    *     sequence numbers they carry agree by construction;
    *  4. `lag(v, n)` is now a plain positional window over
    *     (key, block) ORDER BY seq — donors fill the first n positions
    *     of the extended block, so every native row's n-back neighbor is
    *     present, and no task ever holds more than B + n rows of a key,
    *     no matter how hot. Donor copies are filtered out afterwards.
    *
    * Positional exactness: natives of block b carry seqs (bB, (b+1)B];
    * lag donors carry (bB-n, bB] — exactly the n rows preceding the
    * block (the previous block is full whenever a next block exists), so
    * position p - n in the extended block IS sequence s - n. Rows with
    * s <= n sit in block 0 (no donors) and get the SQL null.
    *
    * Exact under the standing contract (`ord` unique within key — without
    * it lag itself is nondeterministic; with ties this form stays inside
    * the serial window's arbitrariness class, because the one sequence
    * evaluation feeds both copies). `n` must be >= 1. B is sized
    * max(n, ceil(rows / chunks)) — the row count rides the chunk range's
    * own (min, max, count) stats job, so the verb makes NO extra scan
    * beyond the chunk machinery's two (VERDICT r12 #2). `default` (r13)
    * is the SQL default-value argument — the value rows with fewer than
    * `n` neighbors get instead of null; the block window replays it
    * verbatim, surfacing it exactly where the serial window would (a
    * key's first n rows for lag, last n for lead). Output: input columns
    * plus `resultCol` carrying the lagged/led `valueCol`. */
  def laggedChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      n: Int = 1,
      lead: Boolean = false,
      chunks: Int = 32,
      default: Any = null): DataFrame = {
    require(n >= 1, s"lag/lead offset must be >= 1, got $n")
    Seq("__ridx", "__one", "__blk", "__tblk").foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the internal column '$h'"))
    import org.apache.spark.sql.expressions.Window
    // count a CONSTANT, not ordCol: count skips nulls, and a null ord row
    // (legal — it sorts first) must still occupy a sequence slot
    val (seqd0, total) = runningAggChunkedWithTotal(
      df.withColumn("__one", lit(1L)),
      keyCol, ordCol, "__one", "__ridx", "count", chunks)
    val seqd = seqd0.drop("__one")
    val bSize = math.max(n.toLong, (total + chunks - 1) / chunks.toLong) max 1L
    val base = seqd.withColumn("__blk", expr(s"(__ridx - 1L) div ${bSize}L"))
    // donor membership is pure per-row arithmetic on the one evaluated
    // sequence number — boundary rows explode into (self, donor) copies,
    // everything else into (self) alone
    val copies =
      if (lead)
        when(pmod(col("__ridx") - 1L, lit(bSize)) < n && col("__blk") > 0,
          array(col("__blk"), col("__blk") - 1L))
          .otherwise(array(col("__blk")))
      else
        when(pmod(col("__ridx") - 1L, lit(bSize)) >= bSize - n,
          array(col("__blk"), col("__blk") + 1L))
          .otherwise(array(col("__blk")))
    val extended = base.withColumn("__tblk", explode(copies))
    val w = Window.partitionBy(col(keyCol), col("__tblk")).orderBy(col("__ridx"))
    val nav =
      if (lead) org.apache.spark.sql.functions.lead(col(valueCol), n, default)
      else org.apache.spark.sql.functions.lag(col(valueCol), n, default)
    extended.withColumn(resultCol, nav.over(w))
      .filter(col("__tblk") === col("__blk"))
      .drop("__ridx", "__blk", "__tblk")
  }

  /** Exact skew-free LAG/LEAD ... IGNORE NULLS — the forward-fill /
    * last-observation idiom (`lag(v, n) IGNORE NULLS`: the n-th most
    * recent NON-NULL value strictly before the row). The block form of
    * [[laggedChunked]] cannot express it — the nearest non-null can sit
    * arbitrarily far back, beyond any bounded donor band — but the
    * NON-NULL SEQUENCE decomposes it exactly (r13, VERDICT r12 #7):
    *
    *  1. per-key running count of NON-NULL `valueCol` via the
    *     chunk-parallel running count (count(v) skips nulls natively) —
    *     a non-null row's own count IS its non-null index;
    *  2. the answer for row r is the value at non-null index
    *     `t = c_r - n + (v_r null ? 1 : 0)` for lag (the n-th most
    *     recent non-null strictly before r) and `t = c_r + n` for lead
    *     (the n-th non-null strictly after — both formulas cover the
    *     row's own nullness by construction);
    *  3. one equi-join of the rows against the NON-NULL donor relation
    *     keyed (key, index) — the join key includes the index, so a hot
    *     key's rows spread across tasks by (key, t) hash and no task
    *     ever sorts the whole partition; rows with t out of range take
    *     `default` via the left join.
    *
    * Same contracts as the family: `ord` unique within key (ties stay
    * inside the serial window's arbitrariness class — one sequence
    * evaluation feeds both sides of the join). Output: the input columns
    * plus `resultCol`. */
  def laggedIgnoreNullsChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      n: Int = 1,
      lead: Boolean = false,
      chunks: Int = 32,
      default: Any = null): DataFrame = {
    require(n >= 1, s"lag/lead offset must be >= 1, got $n")
    (Seq(resultCol) ++ Seq("__nnidx", "__t", "__dk", "__di", "__dv")).foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the internal/result column '$h'"))
    // running count of valueCol itself: count skips nulls, so a non-null
    // row's running count is exactly its 1-based non-null index
    val seqd = runningAggChunked(df, keyCol, ordCol, valueCol, "__nnidx",
      "count", chunks)
    val target =
      if (lead) col("__nnidx") + n
      else col("__nnidx") - n + when(col(valueCol).isNull, 1L).otherwise(0L)
    val donors = seqd.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__dk"), col("__nnidx").as("__di"),
        col(valueCol).as("__dv"))
    seqd.withColumn("__t", target)
      .join(donors, col(keyCol) <=> col("__dk") && col("__t") === col("__di"),
        "left")
      .withColumn(resultCol, coalesce(col("__dv"), lit(default)
        .cast(df.schema(valueCol).dataType)))
      .drop("__nnidx", "__t", "__dk", "__di", "__dv")
  }

  /** Exact skew-free SLIDING-FRAME aggregate — `agg(v) OVER (PARTITION BY
    * key ORDER BY ord ROWS BETWEEN k PRECEDING AND CURRENT ROW)`, the
    * rolling-feature window (rolling 24h spend per customer) that pays
    * the same hot-key one-task sort as the running forms. The chunk
    * machinery of [[runningAggChunked]] can't decompose it (a sliding
    * frame isn't a prefix), but the BLOCK form of [[laggedChunked]] can:
    * the frame of any row spans at most k rows back, so with blocks of
    * B >= k rows plus the previous block's last k rows copied in as
    * donors, every row's whole frame is PRESENT inside its extended
    * block — the sliding window re-runs verbatim over (key, block),
    * bounded at B + k rows per task, and donor copies are filtered out
    * afterwards.
    *
    * Unlike the running decomposition, NOTHING re-associates here: the
    * chunk-local window evaluates the same aggregate over the same frame
    * rows in the same order as the serial plan (Spark rebuilds a sliding
    * frame's buffer per row), so the result is bit-identical for EVERY
    * input type — doubles and decimals included, and avg needs no 2^53
    * proof. `agg` one of sum/min/max/count/avg.
    *
    * `following` (default 0 = ..CURRENT ROW) extends the frame to
    * `BETWEEN k PRECEDING AND following FOLLOWING` — the centered /
    * lookahead rolling window (feature smoothing, next-j-events context):
    * donor copies flow BOTH ways (the last k rows of a block into the
    * next, the first `following` rows into the previous). Frames clip at
    * the partition edges exactly as the serial frame does (block 0 has no
    * back donors; a key's last block no forward donors). Same contracts
    * as the family: `ord` unique within key;
    * B = max(k, following, ceil(rows / chunks)) with the row count read
    * off the chunk machinery's own stats job — no extra scan (VERDICT
    * r12 #2). Output: the input columns plus `resultCol`. */
  def slidingAggChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      agg: String = "sum",
      k: Int = 1,
      chunks: Int = 32,
      following: Int = 0): DataFrame = {
    require(k >= 0 && following >= 0 && k + following >= 1,
      s"frame must reach at least one neighbor: k=$k following=$following")
    require(Set("sum", "min", "max", "count", "avg")(agg),
      s"slidingAggChunked supports sum/min/max/count/avg, got '$agg'")
    Seq("__ridx", "__one", "__blk", "__tblk").foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the internal column '$h'"))
    import org.apache.spark.sql.expressions.Window
    val aggFn: Column => Column = agg match {
      case "sum" => sum(_)
      case "min" => min(_)
      case "max" => max(_)
      case "avg" => avg(_)
      case _ => count(_)
    }
    val (seqd0, total) = runningAggChunkedWithTotal(
      df.withColumn("__one", lit(1L)),
      keyCol, ordCol, "__one", "__ridx", "count", chunks)
    val seqd = seqd0.drop("__one")
    val bSize = Seq(k.toLong, following.toLong,
      (total + chunks - 1) / chunks.toLong, 1L).max
    val base = seqd.withColumn("__blk", expr(s"(__ridx - 1L) div ${bSize}L"))
    val pos = pmod(col("__ridx") - 1L, lit(bSize))
    val none = lit(Array.empty[Long])
    val toNext = if (k == 0) none
      else when(pos >= bSize - k, array(col("__blk") + 1L)).otherwise(none)
    val toPrev = if (following == 0) none
      else when(pos < following && col("__blk") > 0, array(col("__blk") - 1L))
        .otherwise(none)
    val extended = base.withColumn("__tblk",
      explode(concat(array(col("__blk")), toNext, toPrev)))
    val w = Window.partitionBy(col(keyCol), col("__tblk")).orderBy(col("__ridx"))
      .rowsBetween(-k.toLong, following.toLong)
    extended.withColumn(resultCol, aggFn(col(valueCol)).over(w))
      .filter(col("__tblk") === col("__blk"))
      .drop("__ridx", "__blk", "__tblk")
  }

  /** Exact skew-free RANK FAMILY — row_number / rank / dense_rank /
    * percent_rank / cume_dist / ntile over a hot partition key, all of
    * which pay the same single-task partition sort. Under this engine's
    * standing uniqueness contract (`ord` unique within each key — the
    * same contract as [[laggedChunked]], the as-of joins and top-k), the
    * whole family collapses to two parallel primitives:
    *
    *  1. the per-key sequence number via the chunk-parallel running count
    *     (ties impossible, so row_number = rank = dense_rank = seq);
    *  2. one per-key TOTAL `n` (a combinable count aggregate, broadcast-
    *     friendly one row per key) joined back null-safely:
    *     percent_rank = (seq-1)/(n-1) (0.0 for n = 1, Spark's own rule),
    *     cume_dist = seq/n, ntile(k) = the standard first-(n%k)-buckets-
    *     get-one-extra assignment in exact integer arithmetic.
    *
    * Both divisions divide the same exact integers the serial window
    * divides, so doubles match bit for bit.
    *
    * WHY THERE IS NO AUTOMATIC [[graft.plans.AutoChunkWindow]] ARM for
    * rank/percent_rank/cume_dist/ntile: with tied ords the serial answers
    * differ from the sequence-number forms, so an automatic rewrite would
    * need to PROVE tie-freeness — and ANALYZE's distinctCount is a
    * HyperLogLog estimate (spark.sql.statistics.ndv.maxError), so
    * `ndv(ord) == rowCount` proves nothing. A default-ON optimizer rule
    * must never change an answer, so the family stays manual, behind this
    * verb's documented contract. (row_number IS in the rule: with ties it
    * is nondeterministic-within-peers in the serial window too, so no
    * answer an engine promises can change.)
    *
    * Output: the input columns plus `<prefix>row_number` (int),
    * `<prefix>percent_rank`, `<prefix>cume_dist` (double), and — when
    * `ntile >= 2` — `<prefix>ntile` (int). */
  def rankFamilyChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      prefix: String = "",
      ntile: Int = 0,
      chunks: Int = 32): DataFrame = {
    require(ntile == 0 || ntile >= 2, s"ntile must be 0 (off) or >= 2, got $ntile")
    val outCols = Seq("row_number", "percent_rank", "cume_dist") ++
      (if (ntile >= 2) Seq("ntile") else Nil)
    (outCols.map(prefix + _) ++ Seq("__ridx", "__one", "__nk", "__n")).foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the column '$h'"))
    val seqd = runningAggChunked(df.withColumn("__one", lit(1L)),
      keyCol, ordCol, "__one", "__ridx", "count", chunks).drop("__one")
    val totals = df.groupBy(col(keyCol).as("__nk")).agg(count(lit(1)).as("__n"))
    val base = seqd.join(totals, col(keyCol) <=> col("__nk"), "left")
      .withColumn(prefix + "row_number", col("__ridx").cast("int"))
      // Spark's PercentRank: (rank - 1) / (n - 1), and 0.0 when n = 1
      .withColumn(prefix + "percent_rank",
        when(col("__n") > 1, (col("__ridx") - 1).cast("double") /
          (col("__n") - 1).cast("double")).otherwise(lit(0.0)))
      .withColumn(prefix + "cume_dist",
        col("__ridx").cast("double") / col("__n").cast("double"))
    val ranked =
      if (ntile < 2) base
      else base.withColumn(prefix + "ntile", expr(
        // standard NTILE: q = n div k, r = n mod k; the first r buckets
        // hold q+1 rows. The ELSE's `DIV (q)` is unreachable when q = 0
        // (the threshold is then n, so every row takes the THEN branch)
        // and CASE evaluates lazily, so no division by zero can occur.
        s"""CAST(CASE
           |  WHEN __ridx <= (__n % $ntile) * ((__n DIV $ntile) + 1)
           |  THEN (__ridx - 1) DIV ((__n DIV $ntile) + 1) + 1
           |  ELSE (__n % $ntile) +
           |    (__ridx - 1 - (__n % $ntile) * ((__n DIV $ntile) + 1))
           |      DIV (__n DIV $ntile) + 1
           |END AS INT)""".stripMargin))
    ranked.drop("__ridx", "__nk", "__n")
  }

  /** Exact skew-free FIRST/LAST VALUE per key — the anchor-value face of
    * the family: `first_value(v) OVER (PARTITION BY key ORDER BY ord)`
    * and `last_value(v) OVER (... ROWS BETWEEN UNBOUNDED PRECEDING AND
    * UNBOUNDED FOLLOWING)` both pay the hot key's one-task sort in the
    * serial plan. Under the unique-ord contract they are just the values
    * at sequence 1 and sequence n: the chunk-parallel running count
    * builds the sequence, the per-key total names the last slot, and two
    * one-row-per-key donor relations (broadcast-friendly) join back
    * null-safely. Respect-nulls semantics: the anchor row's value carries
    * even when it is null.
    *
    * Output: the input columns plus `firstCol` and `lastCol`. */
  def anchorValuesChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      firstCol: String,
      lastCol: String,
      chunks: Int = 32): DataFrame = {
    (Seq(firstCol, lastCol) ++ Seq("__ridx", "__one", "__nk", "__n", "__fk", "__lk"))
      .foreach(h => require(!df.columns.contains(h),
        s"input already carries the column '$h'"))
    val seqd = runningAggChunked(df.withColumn("__one", lit(1L)),
      keyCol, ordCol, "__one", "__ridx", "count", chunks).drop("__one")
    val firsts = seqd.filter(col("__ridx") === 1)
      .select(col(keyCol).as("__fk"), col(valueCol).as(firstCol))
    val totals = df.groupBy(col(keyCol).as("__nk")).agg(count(lit(1)).as("__n"))
    val lasts = seqd.join(totals, col(keyCol) <=> col("__nk"))
      .filter(col("__ridx") === col("__n"))
      .select(col(keyCol).as("__lk"), col(valueCol).as(lastCol))
    seqd.join(firsts, col(keyCol) <=> col("__fk"), "left")
      .join(lasts, col(keyCol) <=> col("__lk"), "left")
      .drop("__ridx", "__fk", "__lk")
  }

  /** Exact skew-free RANGE-FRAME aggregate — `agg(v) OVER (PARTITION BY
    * key ORDER BY ord RANGE BETWEEN preceding PRECEDING AND following
    * FOLLOWING)`: the TIME-BASED rolling window (rolling 24h spend per
    * customer over epoch seconds), the most common feature-engineering
    * shape of all, and one more face of the hot-key one-task sort.
    *
    * RANGE frames are VALUE-based, which makes the block decomposition
    * SIMPLER than the ROWS form: blocks come straight from fixed ord
    * ranges of width span >= max(preceding, following) (no sequence
    * numbers at all), and any frame member of a row in block b lies
    * within span of it — so in block b-1's trailing band of width
    * `preceding` or block b+1's leading band of width `following`, both
    * of which one generator pass copies in as donors. Extra donors are
    * HARMLESS (a row outside [o - preceding, o + following] simply never
    * enters the frame), so only completeness matters, and the frame
    * re-evaluates verbatim over (key, block) — identical rows in
    * identical order, bit-identical for every input type and EVERY
    * deterministic aggregate, ties in ord included (peers are
    * value-grouped, and a block is an ord range, so peers never split).
    *
    * `ord` must be integral (epoch seconds/millis, ids — Spark's
    * rangeBetween takes long offsets); `preceding`/`following` >= 0 in
    * ord units, at least one positive. NULL-ord rows form the usual
    * nulls-first peer group confined to block 0. `agg` one of
    * sum/min/max/count/avg. Block count adapts to
    * min(chunks, ordRange / max(preceding, following)) so neighbor
    * blocks always suffice; a frame wider than the whole range
    * degenerates to the plain window (1 block = per-key partition).
    * Output: the input columns plus `resultCol`. */
  def slidingRangeAggChunked(
      df: DataFrame,
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      agg: String = "sum",
      preceding: Long = 1L,
      following: Long = 0L,
      chunks: Int = 32): DataFrame = {
    require(preceding >= 0 && following >= 0 && preceding + following >= 1,
      s"frame must have positive reach: preceding=$preceding following=$following")
    require(Set("sum", "min", "max", "count", "avg")(agg),
      s"slidingRangeAggChunked supports sum/min/max/count/avg, got '$agg'")
    Seq("__rblk", "__rtblk").foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the internal column '$h'"))
    import org.apache.spark.sql.expressions.Window
    val aggFn: Column => Column = agg match {
      case "sum" => sum(_)
      case "min" => min(_)
      case "max" => max(_)
      case "avg" => avg(_)
      case _ => count(_)
    }
    def theWindow(partExtra: Seq[Column]) =
      Window.partitionBy((col(keyCol) +: partExtra): _*).orderBy(col(ordCol))
        .rangeBetween(-preceding, following)
    val stats = df.agg(min(col(ordCol).cast("double")).as("lo"),
      max(col(ordCol).cast("double")).as("hi")).collect()(0)
    if (stats.isNullAt(0))
      return df.withColumn(resultCol, aggFn(col(valueCol)).over(theWindow(Nil)))
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    val reach = math.max(preceding, following).toDouble
    val nBlocks = math.min(chunks.toLong,
      (((hi - lo) / math.max(reach, 1e-9))).toLong) max 1L
    if (nBlocks < 2) // frame reach spans the data: the plain window IS the plan
      return df.withColumn(resultCol, aggFn(col(valueCol)).over(theWindow(Nil)))
    val span = (hi - lo) / nBlocks
    // same monotone clamp as the chunk machinery: NULL ords land in
    // block 0 (their peer group is self-contained there), stale-stats
    // out-of-range values clamp to the edge blocks (width >= span still)
    def blockOf(ord: Column) = least(greatest(
      floor((ord.cast("double") - lit(lo)) / lit(span)).cast("long"),
      lit(0L)), lit(nBlocks - 1))
    val base = df.withColumn("__rblk", blockOf(col(ordCol)))
    // donor membership derives from the SAME block function (no edge
    // arithmetic that could disagree with the floor by an ulp): a row is
    // needed by block b+1 iff some ord within `preceding` ahead of it
    // lands there, i.e. blockOf(ord + preceding) > blockOf(ord) — exact
    // by monotonicity. Extra donors are harmless for a RANGE frame.
    val none = lit(Array.empty[Long])
    val toNext = if (preceding == 0) none
      else when(blockOf(col(ordCol) + preceding) > col("__rblk"),
        array(col("__rblk") + 1L)).otherwise(none)
    val toPrev = if (following == 0) none
      else when(blockOf(col(ordCol) - following) < col("__rblk"),
        array(col("__rblk") - 1L)).otherwise(none)
    val extended = base.withColumn("__rtblk",
      explode(concat(array(col("__rblk")), toNext, toPrev)))
    extended.withColumn(resultCol,
        aggFn(col(valueCol)).over(theWindow(Seq(col("__rtblk")))))
      .filter(col("__rtblk") === col("__rblk"))
      .drop("__rblk", "__rtblk")
  }

  /** Exact GLOBAL row_number over (value ASC|DESC, tie ASC) — and
    * optionally the matching running SUM of the value — without a
    * single-task global sort (r14, VERDICT r13 #3: the entity-ranked
    * statistics family — Lorenz/Gini/Pareto/RFM rank a one-row-per-entity
    * relation whose cardinality grows linearly with the corpus, and
    * `row_number() OVER (ORDER BY v, id)` plans as ONE task holding every
    * entity). Two-level decomposition, exact under `tieCol` uniqueness
    * (the same contract that makes the serial row_number deterministic):
    *
    *   rank(u) = below_count(v_u) + rank_of_u_within_its_value_group
    *   cum(u)  = below_sum(v_u)   + v_u * rank_within_group    (ties all
    *             carry the same value, so the within-group prefix sum is
    *             a multiplication, not a scan)
    *
    * below_count/below_sum ride the VALUE HISTOGRAM — one slim (value,
    * count, sum) row per distinct value; its exclusive-prefix window runs
    * over the histogram, never the rows, shuffles carry counts, and the
    * shape is exactly [[graft.plans.AutoChunkWindow]]'s single-attribute
    * global running window (census-coverable when the histogram itself is
    * big). The within-group rank is a KEYED window partitioned by the
    * value — bounded by the largest tie group, never the relation. The
    * histogram joins back on a struct-wrapped key (null-safe equi-join,
    * the [[runningAggChunked]] device), so NULL values rank exactly where
    * the serial window's default null placement puts them (ASC NULLS
    * FIRST / DESC NULLS LAST — struct fields with null compare smallest).
    *
    * Output: the input columns plus `outCol` (long, 1-indexed) and — when
    * `cumCol` is set — the running sum of `valueCol` at each row's rank
    * (`cumCol` assumes non-null values: a null value's own cum is null,
    * where the serial running sum would carry the prefix — ranks are
    * exact for null values either way).
    *
    * DOMINANT TIE GROUPS (r15, VERDICT r14 #2): the within-group rank is
    * a window PARTITIONED BY THE VALUE, so its per-task bound is the
    * largest tie group — fine for high-cardinality payloads (revenue
    * cents), degenerate when one value dominates (ranking a constant-
    * heavy or low-cardinality column: a 90%-tied corpus puts 90% of the
    * rows in one task, exactly as the serial plan would). `tieChunks >= 2`
    * routes that rank through the chunk decomposition
    * ([[runningAggChunked]] over a constant-1 count keyed by the value,
    * ordered by `tieCol`): the dominant group's sort spreads over
    * `tieChunks` tasks, bounded by rows-per-(value, tie-chunk) instead of
    * the group. Exact under the same `tieCol`-uniqueness contract (the
    * running count of 1 IS row_number there). The chunked arm engages
    * ONLY for NUMERIC or TIMESTAMP tie columns: the chunk function
    * divides a double cast, which is monotone in the column's own
    * ordering exactly for those types — for any other type (notably
    * strings, whose lexicographic order disagrees with a numeric cast:
    * "10" < "9" as strings but 9.0 < 10.0 as doubles) the verb keeps
    * the plain value-partitioned window regardless of `tieChunks`, so
    * the parameter can never change an answer. Default 0 keeps the r14
    * single-window form. */
  def globalRankByValue(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      outCol: String,
      desc: Boolean = false,
      cumCol: Option[String] = None,
      tieChunks: Int = 0): DataFrame = {
    Seq(valueCol, tieCol).foreach(c => require(df.columns.contains(c),
      s"column '$c' not found in ${df.columns.mkString("[", ",", "]")}"))
    (Seq(outCol) ++ cumCol ++
        Seq("__gvs", "__ghk", "__ghv", "__gbc", "__gbs", "__gwr",
          "__gone")).foreach(h =>
      require(!df.columns.contains(h),
        s"input already carries the column '$h'"))
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__gvs", struct(col(valueCol)))
    // one slim histogram row per distinct value; __ghv re-exposes the
    // bare value (min over the group is the value itself) so the prefix
    // window below ORDERS BY a single bare attribute with its running
    // UNBOUNDED..CURRENT frame — exactly AutoChunkWindow's shape, so a
    // corpus-sized histogram decomposes under the census arm at scale
    val hist = base.groupBy(col("__gvs").as("__ghk"))
      .agg(min(col(valueCol)).as("__ghv"),
        count(lit(1)).as("__gc"), sum(col(valueCol)).as("__gs"))
    val hw = Window
      .orderBy(if (desc) col("__ghv").desc else col("__ghv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exclusive prefix = inclusive running minus the group's own row —
    // keeps the window itself in the rule's decomposable running form
    val below = hist
      .withColumn("__gbc", sum(col("__gc")).over(hw) - col("__gc"))
      .withColumn("__gbs", coalesce(sum(col("__gs")).over(hw), lit(0L)) -
        coalesce(col("__gs"), lit(0L)))
      .select(col("__ghk"), col("__gbc"), col("__gbs"))
    val within = Window.partitionBy(col("__gvs")).orderBy(col(tieCol))
    // the within-group rank: chunk-decomposed when a dominant tie group
    // is possible (tieChunks >= 2), the plain value-partitioned window
    // otherwise — both are row_number under the tieCol-uniqueness
    // contract (a running count of a never-null constant is the
    // position). The chunked arm requires a tie type whose double cast
    // is order-monotone (numeric/timestamp) — see the header; anything
    // else silently keeps the plain arm so tieChunks can never change
    // an answer (CODE-REVIEW r15: a string tieCol of "9"/"10" would
    // chunk by 9.0 < 10.0 against the lexicographic "10" < "9").
    val tieChunkable = df.schema(tieCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    if (tieChunks >= 2 && tieChunkable)
      Seq("__chunk", "__sk", "__ok", "__oc", "__ct", "__off", "__loc")
        .foreach(h => require(!df.columns.contains(h),
          s"tieChunks uses the chunk machinery; input already carries " +
            s"its internal column '$h'"))
    val seqd =
      if (tieChunks >= 2 && tieChunkable)
        runningAggChunked(base.withColumn("__gone", lit(1)),
          "__gvs", tieCol, "__gone", "__gwr", "count", tieChunks)
          .drop("__gone")
      else base.withColumn("__gwr", row_number().over(within).cast("long"))
    val ranked = seqd
      .join(below, col("__gvs") === col("__ghk"))
      .withColumn(outCol, col("__gbc") + col("__gwr"))
    val out = cumCol match {
      case Some(c) => ranked.withColumn(c,
        col("__gbs") + col(valueCol) * col("__gwr"))
      case None => ranked
    }
    out.drop("__gvs", "__ghk", "__gbc", "__gbs", "__gwr")
  }

  /** Key-distribution profile — the DIAGNOSTIC that tells you whether the
    * salted join or the chunked windows above are needed before a shuffle
    * melts down: the top `topN` keys by row count, each with its corpus
    * share in ppm and its skew factor vs the mean key (x1000,
    * integer-exact: `n * 1000 * n_distinct_keys div total_rows`; 1000 =
    * perfectly uniform, 60000 = this key is 60x the mean). One combinable
    * count aggregation + a broadcast of the 2-value totals row; top-N via
    * per-partition heads. Run it on the join/window keys of any stage that
    * shows a straggler task. */
  def keyProfile(df: DataFrame, keyCol: String, topN: Int = 20): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total_rows"),
      count(lit(1)).as("n_distinct_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n"), col("total_rows"), col("n_distinct_keys"),
        expr("n * 1000000 div total_rows").as("share_ppm"),
        expr("n * 1000 * n_distinct_keys div total_rows").as("skew_x1000"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topN)
  }
}
