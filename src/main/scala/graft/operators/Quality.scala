package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deequ-style data-quality checks and column profiling for pipeline
  * gates: every check emits one row `(check, metric, passed)` so a suite is
  * a `union` and a gate is `filter(!passed).isEmpty`. All metrics are a
  * single integer/integer division (no accumulation order), so the doubles
  * — and therefore the pass/fail booleans — replay bit-identically in any
  * engine; that makes quality reports release artifacts, not just logs.
  *
  * Scale shape: each single-table check is ONE combinable aggregation over
  * a scan (conditional sums partial-aggregate map-side; the shuffle carries
  * one partial row per partition). [[uniqueness]] adds the per-value
  * grouping its definition requires and [[referential]] a left-semi count
  * join (AQE broadcasts a small dimension) — still no all-pairs anything.
  */
object Quality {

  private def one(df: DataFrame, name: String, metric: Column,
      min: Double): DataFrame =
    df.agg(metric.as("m")).select(lit(name).as("check"),
      col("m").cast("double").as("metric"), (col("m") >= min).as("passed"))

  /** Non-null fraction of `c` over all rows. An empty table reports 0.0
    * and fails a min>0 gate — no data is a pipeline defect, not a vacuous
    * pass. */
  def completeness(df: DataFrame, c: String, min: Double = 1.0): DataFrame =
    one(df, s"completeness:$c",
      count(col(c)).cast("double") /
        greatest(count(lit(1)), lit(1L)).cast("double"), min)

  /** Distinct non-null values over non-null rows (Deequ's "distinctness"):
    * 1.0 = no value repeats. */
  def distinctness(df: DataFrame, c: String, min: Double = 1.0): DataFrame =
    one(df, s"distinctness:$c",
      countDistinct(col(c)).cast("double") /
        greatest(count(col(c)), lit(1L)).cast("double"), min)

  /** Values appearing EXACTLY once over non-null rows (Deequ's
    * "uniqueness" — stricter than [[distinctness]]: a value occurring
    * twice contributes 0 here but 1 there). Needs the per-value group
    * sizes, so this is a two-level aggregation: both levels combine
    * map-side and the shuffle carries (value, count) partials. */
  def uniqueness(df: DataFrame, c: String, min: Double = 1.0): DataFrame = {
    val grouped = df.filter(col(c).isNotNull)
      .groupBy(col(c)).agg(count(lit(1)).as("__n"))
    // sum() over zero groups is null; coalesce to 0 so an empty (or
    // all-null) column reports metric 0.0 and FAILS a min>0 gate —
    // same "no data is a defect" contract as completeness.
    one(grouped, s"uniqueness:$c",
      coalesce(sum(when(col("__n") === 1, 1L).otherwise(0L)), lit(0L)).cast("double") /
        greatest(coalesce(sum(col("__n")), lit(0L)), lit(1L)).cast("double"), min)
  }

  /** Fraction of rows satisfying `predicate` (Deequ's "satisfies" /
    * compliance; a null predicate result counts as non-compliant).
    * Building block for accepted-values, range, and format checks. */
  def compliance(df: DataFrame, name: String, predicate: Column,
      min: Double = 1.0): DataFrame =
    one(df, s"compliance:$name",
      sum(when(coalesce(predicate, lit(false)), 1L).otherwise(0L)).cast("double") /
        greatest(count(lit(1)), lit(1L)).cast("double"), min)

  /** Fraction of (non-null) foreign keys in `c` that exist in
    * `dim.dimCol` — referential integrity. Left-semi join count over
    * non-null count; AQE broadcasts a small dimension. */
  def referential(df: DataFrame, c: String, dim: DataFrame, dimCol: String,
      min: Double = 1.0): DataFrame = {
    val l = df.filter(col(c).isNotNull)
    val matched = l.join(dim.select(col(dimCol).as(c)), Seq(c), "left_semi")
      .agg(count(lit(1)).as("__m"))
    val total = l.agg(greatest(count(lit(1)), lit(1L)).as("__n"))
    matched.crossJoin(total).select(
      lit(s"referential:$c").as("check"),
      (col("__m").cast("double") / col("__n").cast("double")).as("metric"),
      (col("__m").cast("double") / col("__n").cast("double") >= min).as("passed"))
  }

  /** Fused single-scan check suite: all the table's completeness,
    * distinctness, and compliance checks in ONE aggregation over ONE scan
    * — at 100 TB, k separate checks each re-reading the table is the
    * difference between one pass and k passes. Output rows are identical
    * to the corresponding individual checks (spec-pinned), in
    * completeness → distinctness → compliance entry order.
    *
    * The distinct counts ride Spark's multi-distinct Expand (map-side
    * k-way expansion, still one shuffle of partials); [[uniqueness]] and
    * [[referential]] keep their own shapes (per-value groups / a join) and
    * union on afterwards. */
  def tableSuite(
      df: DataFrame,
      completenessCols: Seq[String] = Nil,
      distinctnessCols: Seq[String] = Nil,
      compliances: Seq[(String, Column)] = Nil,
      min: Double = 1.0): DataFrame = {
    require(completenessCols.nonEmpty || distinctnessCols.nonEmpty ||
      compliances.nonEmpty, "tableSuite needs at least one check")
    val aggs = Seq(greatest(count(lit(1)), lit(1L)).as("__n")) ++
      completenessCols.map(c => count(col(c)).as(s"__comp_$c")) ++
      distinctnessCols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"__nd_$c"),
        greatest(count(col(c)), lit(1L)).as(s"__nn_$c"))) ++
      compliances.map { case (name, p) =>
        sum(when(coalesce(p, lit(false)), 1L).otherwise(0L)).as(s"__ok_$name") }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    def entry(name: String, num: Column, den: Column): Column = {
      val metric = num.cast("double") / den.cast("double")
      struct(lit(name).as("check"), metric.as("metric"),
        (metric >= min).as("passed"))
    }
    val entries =
      completenessCols.map(c =>
        entry(s"completeness:$c", col(s"__comp_$c"), col("__n"))) ++
      distinctnessCols.map(c =>
        entry(s"distinctness:$c", col(s"__nd_$c"), col(s"__nn_$c"))) ++
      compliances.map { case (name, _) =>
        entry(s"compliance:$name", col(s"__ok_$name"), col("__n")) }
    wide.select(explode(array(entries: _*)).as("r")).select("r.*")
  }

  /** Per-group distribution moments of a 2-dp money column —
    * `(group..., n, mean, var_pop, stddev_pop)` — with EVERY double derived
    * from exact integer sums, so the values replay bit-identically in any
    * engine (a data card's "mean/σ per segment" row becomes a release
    * artifact, not an approximation).
    *
    * Method: values become integer CENTS (exact for 2-dp money — see
    * [[graft.functions.Exact]]); the aggregation accumulates Σc and Σc² as
    * scale-0 decimals (order-independent, overflow-safe to ~1e18 cents);
    * mean and population variance are then fixed IEEE expressions over
    * those exact sums. Spark's decimal→double (BigDecimal) is correctly
    * rounded at any magnitude; engines whose int128-decimal cast
    * double-rounds above 2^53 (DuckDB does) must replay the cast through a
    * string — the oracle does `CAST(CAST(s AS VARCHAR) AS DOUBLE)`. Σc²
    * also makes the classic cancellation hazard of E[X²]−E[X]² moot for
    * grading: inputs to the final subtraction are exact, so both engines
    * round the same way.
    *
    * Scale shape: one combinable aggregation over one scan — partials
    * combine map-side, the shuffle carries (n, Σc, Σc²) per group, never
    * values. */
  def numericStats(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "numericStats needs at least one group column")
    import org.apache.spark.sql.types.DecimalType
    val cents = (col(valueCol).cast(DecimalType(18, 2)) * lit(100))
      .cast(DecimalType(18, 0))
    val g = df.groupBy(groupCols.map(col): _*).agg(
      count(col(valueCol)).as("n"),
      sum(cents).as("__s1"),
      sum(cents * cents).as("__s2"))
    val s1d = col("__s1").cast("double")
    val s2d = col("__s2").cast("double")
    val meanCents = s1d / col("n")
    val varCents = s2d / col("n") - meanCents * meanCents
    val varPop = varCents / lit(10000.0)
    g.select(groupCols.map(col) ++ Seq(
      col("n"),
      (meanCents / lit(100.0)).as("mean"),
      varPop.as("var_pop"),
      sqrt(varPop).as("stddev_pop")): _*)
  }

  /** Per-column profile, one output row per profiled column:
    * `(column, n_rows, n_nonnull, n_distinct, min_repr, max_repr)` with
    * min/max rendered through a string cast (profile only columns whose
    * string form is engine-portable — ints, strings, dates; cast
    * timestamps/doubles first if exact replay matters).
    *
    * Scale shape: ONE aggregation pass over one scan; the k distinct
    * counts expand the map side k-ways (Spark's multi-distinct Expand) but
    * partial-aggregate before the single shuffle — profiling k columns
    * costs one k-fold-wider map pass, not k scans. The wide-to-long pivot
    * happens on the one-row result. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_repr"), col(s"__mx_$c").as("max_repr"))
    }: _*)).as("p")).select("p.*")
  }

  /** Tukey-fence outlier report at corpus scale: quartiles come from the
    * bounded deterministic sample ([[Sketch.sampleQuantiles]] — the corpus
    * is never sorted), fences are `q1 - w*iqr` / `q3 + w*iqr`, and the
    * flagged rows fall out of one scan-parallel filter against the
    * broadcast 2-value fence row. Two scans of `df` total (the sample
    * filter and the outlier filter); fences are picked ELEMENTS, so the
    * whole report replays exactly cross-engine. Output: the input columns
    * of flagged rows plus `(lo, hi)`. */
  def iqrOutliers(
      df: DataFrame,
      valueCol: String,
      id: Column,
      fraction: Double,
      whisker: Double = 1.5,
      salt: String = "qsample"): DataFrame = {
    val qs = Sketch.sampleQuantiles(df, valueCol, id, fraction,
      Seq(0.25, 0.75), salt)
    val fences = qs.agg(
        max(when(col("q") === 0.25, col("value"))).as("q1"),
        max(when(col("q") === 0.75, col("value"))).as("q3"))
      .select(
        (col("q1") - lit(whisker) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(whisker) * (col("q3") - col("q1"))).as("hi"))
    df.crossJoin(broadcast(fences))
      .filter(col(valueCol) < col("lo") || col(valueCol) > col("hi"))
  }

  /** Population-stability drift between two relations, per bucket, in
    * FIXED POINT — the PSI monitor (`sum_b (pA_b - pB_b) ln(pA_b/pB_b)`)
    * with the log in base 2 and every step integer-exact, so the drift
    * report replays bit-for-bit in any engine (a float PSI differs in the
    * last ulps across libm implementations; a drift ALERT must not be
    * flaky). Mechanics:
    *
    *   - counts per bucket on each side get +1 Laplace smoothing over the
    *     UNION of buckets (PSI is undefined on empty cells; smoothing
    *     keeps the integers exact where an epsilon would not be),
    *   - `dp_fp = n_a * 2^20 div NA - n_b * 2^20 div NB` (the probability
    *     gap in 2^-20 units),
    *   - the log ratio runs through the same piecewise-linear log2 device
    *     as BM25's idf, sign-split so ratios below 1 negate the inverse,
    *   - `term_fp = dp_fp * lr_fp` (2^-36 units) — per-bucket terms sum
    *     order-independently; PSI/ln2 thresholds apply (0.1/ln2 ~ 0.144
    *     in these units x 2^36).
    *
    * Output: one row per union bucket `(bucket, n_a, n_b, term_fp)`
    * (smoothed counts). Both sides aggregate combinably (counts, not
    * rows, shuffle); the union join is on the bucket id. PSI is
    * scale-invariant in the proportions, so when cell counts approach
    * 2^26 (where `n * tot * 1024` nears Long range) downscale both
    * sides' counts proportionally before calling — the monitor's job is
    * the distribution, not the magnitudes. */
  def psiDrift(a: DataFrame, b: DataFrame, bucket: Column): DataFrame = {
    val ca = a.select(bucket.cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__ra"))
    val cb = b.select(bucket.cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__rb"))
    psiDriftCounts(ca, cb)
  }

  /** [[psiDrift]] from pre-aggregated bucket counts `(bucket, __ra)` /
    * `(bucket, __rb)` — the entry for callers that already maintain the
    * counts (a complete-mode streaming aggregation, a rolled-up daily
    * table): the fixed-point report is a stateless projection over them. */
  def psiDriftCounts(ca: DataFrame, cb: DataFrame): DataFrame = {
    val cells = ca.join(cb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("__ra"), lit(0L)) + 1L).as("n_a"),
        (coalesce(col("__rb"), lit(0L)) + 1L).as("n_b"))
    val totals = cells.agg(sum(col("n_a")).as("na_tot"), sum(col("n_b")).as("nb_tot"))
    cells.crossJoin(broadcast(totals))
      .withColumn("__dp", expr("n_a * 1048576 div na_tot - n_b * 1048576 div nb_tot"))
      .withColumn("__num", expr("n_a * nb_tot"))
      .withColumn("__den", expr("n_b * na_tot"))
      .withColumn("__y", expr(
        "CASE WHEN __num >= __den THEN __num * 1024 div __den ELSE __den * 1024 div __num END"))
      .withColumn("__e", expr("length(bin(__y)) - 1"))
      .withColumn("__alr", expr(
        "__e * 65536 + shiftright((__y - shiftleft(CAST(1 AS BIGINT), __e)) * 65536, __e) - 655360"))
      .withColumn("term_fp", expr(
        "__dp * (CASE WHEN __num >= __den THEN __alr ELSE -__alr END)"))
      .select(col("bucket"), col("n_a"), col("n_b"), col("term_fp"))
  }

  /** Pipeline-health volume anomaly detection: per-key daily row counts
    * against trailing rolling bands — |n - mu| > k*sigma over the previous
    * `lookback` days flags a feed that surged or silently died, the first
    * monitor any production ingest needs.
    *
    * The frame EXCLUDES the current row (`ROWS BETWEEN lookback PRECEDING
    * AND 1 PRECEDING`): today must not drag its own baseline toward itself,
    * and day one (empty frame) yields null bands rather than a fake zero.
    * Variance uses the one-pass E[x^2]-E[x]^2 form — counts are small
    * integers, so the classic cancellation hazard of that form (huge
    * near-equal magnitudes) cannot bite; the integer window sums are exact,
    * and everything after is identical IEEE arithmetic in any engine, which
    * is what lets the DuckDB oracle replay the flags bit for bit. A key
    * needs `minDays` observed days before it may alarm (cold feeds flap).
    *
    * Scale shape: one window over (key, day) — the input is the ALREADY
    * rolled-up daily table (30 rows per key per month, not raw events), so
    * the sort inside each key's partition is trivial at any corpus size. */
  def volumeAnomalies(events: DataFrame, keyCol: String, tsCol: String,
      lookback: Int = 7, k: Double = 3.0, minDays: Int = 3): DataFrame =
    volumeAnomalyReport(
      events.groupBy(col(keyCol).as("key"),
          to_date(col(tsCol)).cast("string").as("d"))
        .agg(count(lit(1)).as("n")),
      lookback, k, minDays)

  /** [[volumeAnomalies]] from the pre-aggregated `(key, d, n)` daily table —
    * the entry for callers that already maintain the counts (a complete-mode
    * streaming aggregation, a stored rollup): the band report is a stateless
    * window projection over them. */
  def volumeAnomalyReport(daily: DataFrame,
      lookback: Int = 7, k: Double = 3.0, minDays: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("key")).orderBy(col("d"))
      .rowsBetween(-lookback, -1)
    val mu = sum(col("n")).over(win).cast("double") / count(lit(1)).over(win)
    val sigma = sqrt(greatest(
      sum(col("n") * col("n")).over(win).cast("double") /
        count(lit(1)).over(win) - mu * mu,
      lit(0.0)))
    daily
      .withColumn("mu", mu)
      .withColumn("sigma", sigma)
      .withColumn("w_cnt", count(lit(1)).over(win))
      .withColumn("is_anomaly",
        when(col("w_cnt") >= minDays && col("sigma") > 0 &&
          abs(col("n") - col("mu")) > lit(k) * col("sigma"), 1).otherwise(0))
      .drop("w_cnt")
  }

  /** log10(1 + 1/d) in parts-per-million for d = 1..9 — Benford's first-
    * digit law as integer constants, so the report never computes a log. */
  private val benfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** First-significant-digit distribution vs Benford's law — the
    * fabricated-data / broken-feed screen for naturally-spanning numeric
    * columns (amounts, populations, file sizes). Returns one row per
    * digit 1-9: observed count, observed ppm (exact integer division) and
    * the Benford expectation ppm, plus the absolute gap. Zero and null
    * values carry no first significant digit and are excluded.
    *
    * The digit is extracted from the value's decimal string (first
    * [1-9] character) — portable across engines because every printed
    * form of a nonzero double, plain or scientific, leads with its
    * significant digits. One scan, a 9-group aggregation, integer
    * arithmetic only. */
  // ------------------------------------------------------ MAD outliers

  /** Robust outlier flags by median absolute deviation: a row is an
    * outlier when `|v - median| > k * MAD`, with both the per-key median
    * and the MAD computed EXACTLY by
    * [[Sketch.exactQuantilesByKey]]'s rank selection (element at rank
    * `floor(0.5 * (n-1))` — deterministic, engine-replayable; no float
    * interpolation). Mean/stddev outliers ([[iqrOutliers]]'s cousin) are
    * themselves dragged by the outliers they hunt; median/MAD have a 50%
    * breakdown point — the robust-statistics default for heavy-tailed
    * value columns.
    *
    * Scale shape: two grouped exact-quantile refinements (count-only
    * shuffles) plus two broadcast joins of key-sized statistics; the flag
    * itself is a per-row expression. Keys are dashboard-sized by the
    * quantile contract. Output: the flagged rows,
    * (keyCol, idCol, valueCol, med, mad). */
  def madOutliers(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // ONE source scan (r17, guide §1.2): the slim (key, id, value)
    // projection feeds the median refinement, the deviation refinement AND
    // the final flag pass — previously each derived its plan from the
    // source, so the fact was scanned once per consumer (the median call
    // cuts internally, but the deviation call and the final join each
    // re-read the source). Cutting the three-column projection here makes
    // every downstream pass read the materialized slim relation instead;
    // at any scale it holds the cheapest representation the passes can
    // possibly consume (the exactQuantiles device).
    val base = graft.util.Checkpoints.cut(
      df.select(col(keyCol), col(idCol), col(valueCol)))
    val med = Sketch.exactQuantilesByKey(base, keyCol, valueCol, Seq(0.5))
      .select(col(keyCol), col("value").as("med"))
    val dev = base
      .join(broadcast(med), keyCol)
      .withColumn("__absdev", abs(col(valueCol) - col("med")))
    val mad = Sketch.exactQuantilesByKey(dev, keyCol, "__absdev", Seq(0.5))
      .select(col(keyCol), col("value").as("mad"))
    dev.join(broadcast(mad), keyCol)
      .filter(col("__absdev") > lit(k) * col("mad"))
      .select(col(keyCol), col(idCol), col(valueCol), col("med"), col("mad"))
  }

  // ------------------------------------------------ histogram quantiles

  /** Fixed-bucket histogram counts per key: `bucket = clamp(floor(value /
    * step), 0, buckets-1)` — one combinable count aggregation whose state
    * is at most `keys x buckets` counter rows. The monitoring-shaped
    * quantile substrate: counts are ADDITIVE (mergeable across batches,
    * partitions, or micro-batches — a complete-mode streaming aggregation
    * maintains exactly this relation), and every quantile read is a
    * stateless projection over them ([[histogramQuantileReport]]).
    * Negative values clamp to bucket 0, values past the range to the top
    * bucket — monitors care about the tail bound, not open-ended outliers. */
  def histogramCounts(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      step: Double,
      buckets: Int = 256): DataFrame = {
    require(step > 0, s"step must be positive, got $step")
    require(buckets >= 2 && buckets <= 65536, s"buckets out of range: $buckets")
    val b = least(greatest(floor(col(valueCol) / lit(step)).cast("int"), lit(0)),
      lit(buckets - 1))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("key"), b.as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile bounds from a `(key, bucket, n)` histogram: for each
    * requested q, the smallest bucket whose cumulative count reaches
    * `ceil(q * total)`, reported with its UPPER bound `(bucket+1) * step`
    * — the "p99 <= x" guarantee a latency monitor publishes (resolution
    * one bucket; exact arithmetic, so any engine reproduces the same
    * bucket from the same counts). The per-key window sorts at most
    * `buckets` rows. */
  def histogramQuantileReport(
      counts: DataFrame,
      qs: Seq[Double],
      step: Double): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val spark = counts.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
    val cum = counts
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("key"))))
    cum.crossJoin(broadcast(qs.toDF("q")))
      .filter(col("cum") >= ceil(col("q") * col("total")) &&
        col("cum") - col("n") < ceil(col("q") * col("total")))
      .select(col("key"), col("q"), col("total").as("total_n"),
        col("bucket"), ((col("bucket") + 1) * lit(step)).as("upper"))
  }

  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(abs(col(valueCol)).cast("string"), "[1-9]", 0)
    val expected = element_at(
      array(benfordPpm.map(lit): _*), col("digit").cast("int"))
    df.filter(col(valueCol).isNotNull && col(valueCol) =!= 0)
      .select(digit.as("digit"))
      .filter(col("digit") =!= "")
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div total").as("observed_ppm"),
        expected.as("benford_ppm"))
      .withColumn("gap_ppm", abs(col("observed_ppm") - col("benford_ppm")))
  }

  /** Data-contract enforcement with quarantine routing: every row is
    * tested against the rules IN DECLARED ORDER and tagged with the first
    * rule it fails (`quarantine_rule`, null when it passes all) — so a
    * pipeline can split pass rows downstream and park violations with a
    * machine-readable reason, and re-processing a fixed rule re-admits
    * exactly its rows. One scan, zero joins: the tag is a pure per-row
    * conditional, identical in batch and on a stream. A null rule result
    * counts as a FAILURE (a contract that cannot be evaluated is not
    * met), so three-valued SQL nulls can't leak rows past the fence. */
  def quarantine(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "quarantine needs at least one rule")
    val tag = coalesce(rules.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    } :+ lit(null).cast("string"): _*)
    df.withColumn("quarantine_rule", tag)
      .withColumn("passed", col("quarantine_rule").isNull)
  }
}
