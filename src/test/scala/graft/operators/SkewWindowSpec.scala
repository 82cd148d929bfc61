package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Skew window verbs: value parity with the plain window on random
  * and hot-key data, range-boundary rows, nulls and ties. Each verb is a
  * forced AutoChunkWindow arm, so each test is a differential pin of that
  * arm; the plan test checks that every verb's rewrite actually fired. */
class SkewWindowSpec extends SparkSpec {
  import spark.implicits._

  private def plain(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("run", sum(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  test("parity with the plain running window, random keys and orders") {
    val df = spark.range(5000L).select(
      pmod(xxhash64(col("id")), lit(7L)).as("k"),
      col("id").as("o"), // unique ord
      pmod(xxhash64(col("id"), lit(3)), lit(1000L)).as("v"))
    val got = Skew.runningSumChunked(df, "k", "o", "v", "run", chunks = 8)
      .select(col("k"), col("o"), col("run"))
    val want = plain(df).select(col("k"), col("o"), col("run"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "chunked running sum diverges from the window form")
    assert(got.count() == 5000L, "row count must be preserved")
  }

  test("hot key (90% of rows) and exact range-boundary ords") {
    // ords include the exact lo (0) and hi (9999); key 0 owns 90%
    val df = spark.range(10000L).select(
      when(pmod(col("id"), lit(10L)) < 9, lit(0L)).otherwise(col("id") % 5 + 1)
        .as("k"),
      col("id").as("o"),
      lit(1L).as("v"))
    val got = Skew.runningSumChunked(df, "k", "o", "v", "run", chunks = 16)
    val want = plain(df)
    assert(got.select(col("k"), col("o"), col("run"))
      .exceptAll(want.select(col("k"), col("o"), col("run"))).isEmpty,
      "hot-key decomposition diverges")
    // the hot key's final running value = its row count (v = 1 throughout)
    val hotMax = got.filter(col("k") === 0).agg(max(col("run")))
      .collect()(0).getLong(0)
    assert(hotMax == 9000L, s"hot key prefix must end at 9000, got $hotMax")
  }

  test("plan: the row-scale window is partitioned by (key, chunk)") {
    // non-constant key: a literal k would be constant-folded OUT of the
    // window partition spec and the pin would misread the plan
    val df = spark.range(1000L).select(
      pmod(col("id"), lit(3L)).as("k"), col("id").as("o"), lit(1L).as("v"))
    val p = Skew.runningSumChunked(df, "k", "o", "v", "run")
      .queryExecution.optimizedPlan.toString
    // the local window must carry the chunk in its partition spec — that
    // IS the skew fix (a key-only partition spec would serialize hot
    // keys). The key rides inside the rule's struct surrogate (null-safe
    // equi-join key), so the spec reads (__graft_chunk_sk, __graft_chunk).
    assert(raw"windowspecdefinition\(__graft_chunk_sk#\d+, __graft_chunk#\d+".r
      .findFirstIn(p).isDefined, s"(sk, chunk)-partitioned window missing:\n$p")
    val bigWindowByKeyOnly =
      raw"windowspecdefinition\((__graft_chunk_sk|k)#\d+L?, o#\d+L".r.findFirstIn(p)
    assert(bigWindowByKeyOnly.isEmpty,
      s"row-scale window still partitioned by key alone:\n$p")
    // every routed verb is a forced AutoChunkWindow arm: a declined
    // rewrite would still pass the value-parity tests (the plain window
    // is exact), so the decomposition's attributes must be in each plan
    val dec = df.withColumn("v", col("v").cast("decimal(12,2)"))
    val routed: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "runningSumChunked" -> Skew.runningSumChunked(df, "k", "o", "v", "x"),
      "runningAggChunked(count)" ->
        Skew.runningAggChunked(df, "k", "o", "v", "x", "count"),
      "runningAggChunked(decimal sum)" ->
        Skew.runningAggChunked(dec, "k", "o", "v", "x", "sum"),
      "laggedChunked(lag)" -> Skew.laggedChunked(df, "k", "o", "v", "x", 2),
      "laggedChunked(lead, default)" -> Skew.laggedChunked(df, "k", "o", "v",
        "x", 1, lead = true, default = -1L),
      "slidingAggChunked" -> Skew.slidingAggChunked(df, "k", "o", "v", "x",
        "avg", 3, following = 2),
      "slidingRangeAggChunked" -> Skew.slidingRangeAggChunked(df, "k", "o",
        "v", "x", "sum", preceding = 30L),
      "rankFamilyChunked" -> Skew.rankFamilyChunked(df, "k", "o", ntile = 4),
      "anchorValuesChunked" ->
        Skew.anchorValuesChunked(df, "k", "o", "v", "f", "l"),
      "laggedIgnoreNullsChunked" ->
        Skew.laggedIgnoreNullsChunked(df, "k", "o", "v", "x"))
    routed.foreach { case (verb, out) =>
      assert(out.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
        s"$verb: the forced rewrite declined, the plan is the plain window:\n" +
          out.queryExecution.optimizedPlan)
    }
  }

  test("min/max variants match their plain windows (offset-less first chunk)") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(4000L).select(
      pmod(xxhash64(col("id")), lit(5L)).as("k"),
      col("id").as("o"),
      (pmod(xxhash64(col("id"), lit(9)), lit(2001L)) - 1000L).as("v")) // +/- values
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fns: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Seq("min" -> (min(_)), "max" -> (max(_)))
    for ((a, fn) <- fns) {
      val got = Skew.runningAggChunked(df, "k", "o", "v", "run", a, chunks = 8)
        .select(col("k"), col("o"), col("run"))
      val want = df.withColumn("run", fn(col("v")).over(w))
        .select(col("k"), col("o"), col("run"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"running $a diverges from the window form")
    }
  }

  test("property: chunked == plain for random data and chunk counts") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260815)
    for (trial <- 1 to 5) {
      val n = 200 + rnd.nextInt(800)
      val keys = 1 + rnd.nextInt(6)
      val rows = (0 until n).map(i =>
        (rnd.nextInt(keys).toLong, i.toLong, (rnd.nextInt(2001) - 1000).toLong))
      val df = rows.toDF("k", "o", "v")
      val chunks = 2 + rnd.nextInt(60)
      val agg = Seq("sum", "min", "max")(rnd.nextInt(3))
      val got = Skew.runningAggChunked(df, "k", "o", "v", "run", agg, chunks)
        .select(col("k"), col("o"), col("run"))
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        agg match { case "sum" => sum(_); case "min" => min(_); case _ => max(_) }
      val want = df.withColumn("run", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("k"), col("o"), col("run"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (n=$n keys=$keys chunks=$chunks agg=$agg) diverged")
    }
  }

  test("null values follow the window aggregate's null discipline") {
    import org.apache.spark.sql.expressions.Window
    // key 1: leading nulls (running stays null until the first value),
    // a mid-stream null (running carries), and an all-null key 2 — with
    // chunks sized so null runs cross chunk boundaries
    val rows: Seq[(Long, Long, Option[Long])] = Seq(
      (1L, 0L, None), (1L, 1L, None), (1L, 2L, Some(5L)), (1L, 3L, None),
      (1L, 4L, Some(2L)), (2L, 5L, None), (2L, 6L, None))
    val df = rows.toDF("k", "o", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for (a <- Seq("sum", "min", "max")) {
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        a match { case "sum" => sum(_); case "min" => min(_); case _ => max(_) }
      val got = Skew.runningAggChunked(df, "k", "o", "v", "run", a, chunks = 3)
        .select(col("k"), col("o"), col("run"))
      val want = df.withColumn("run", fn(col("v")).over(w))
        .select(col("k"), col("o"), col("run"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"null discipline diverges for $a: got ${got.collect().toSeq} " +
          s"want ${want.collect().toSeq}")
    }
  }

  test("running count: adds chunk offsets, skips NULL values, never null") {
    import org.apache.spark.sql.expressions.Window
    // NULL values thin the count (count(v) skips them) and the chunk size
    // forces multi-chunk keys, so the offset ADD is load-bearing: a
    // min/max-style combine would undercount everything past chunk 0
    val rows: Seq[(Long, Long, Option[Long])] = (0L until 300L).map { i =>
      (i % 3, i, if (i % 5 == 0) None else Some(i))
    }
    val df = rows.toDF("k", "o", "v")
    val got = Skew.runningAggChunked(df, "k", "o", "v", "run", "count", chunks = 6)
      .select(col("k"), col("o"), col("run"))
    val want = df.withColumn("run", count(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("k"), col("o"), col("run"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "chunked running count diverges from the window form")
    assert(got.filter(col("run").isNull).isEmpty, "a running count is never null")
  }

  test("NULL partition keys are a normal partition, not dropped rows") {
    import org.apache.spark.sql.expressions.Window
    // a NULL key is a real window partition in the plain form — the chunk
    // join must keep it (ADVICE r10: === on the key silently dropped them)
    val rows: Seq[(Option[Long], Long, Long)] = (0L until 200L).map { i =>
      (if (i % 4 == 0) None else Some(i % 3), i, i % 17)
    }
    val df = rows.toDF("k", "o", "v")
    for (a <- Seq("sum", "min", "max")) {
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        a match { case "sum" => sum(_); case "min" => min(_); case _ => max(_) }
      val got = Skew.runningAggChunked(df, "k", "o", "v", "run", a, chunks = 8)
      assert(got.count() == 200L, s"$a: NULL-key rows were dropped")
      val want = df.withColumn("run", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(got.select(col("k"), col("o"), col("run"))
        .exceptAll(want.select(col("k"), col("o"), col("run"))).isEmpty &&
        want.select(col("k"), col("o"), col("run"))
          .exceptAll(got.select(col("k"), col("o"), col("run"))).isEmpty,
        s"$a diverges on NULL keys")
    }
  }

  test("laggedChunked: lag/lead parity with the plain window — hot key, " +
      "NULL keys, NULL values, offsets 1 and 3") {
    import org.apache.spark.sql.expressions.Window
    // 70% hot key plus a NULL key partition; every 6th value NULL (lag
    // must CARRY a null donor value, distinct from the no-donor null)
    val rows: Seq[(Option[Long], Long, Option[Long])] = (0L until 500L).map { i =>
      (if (i % 9 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        i,
        if (i % 6 == 0) None else Some(i % 23))
    }
    val df = rows.toDF("k", "o", "v")
    for (lead <- Seq(false, true); n <- Seq(1, 3)) {
      val got = Skew.laggedChunked(df, "k", "o", "v", "x", n, lead, chunks = 8)
        .select(col("k"), col("o"), col("x"))
      val fn = if (lead) org.apache.spark.sql.functions.lead(col("v"), n)
        else org.apache.spark.sql.functions.lag(col("v"), n)
      val want = df.withColumn("x",
          fn.over(Window.partitionBy(col("k")).orderBy(col("o"))))
        .select(col("k"), col("o"), col("x"))
      assert(got.count() == 500L, s"lead=$lead n=$n: rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"lead=$lead n=$n diverges from the plain window")
    }
  }

  test("laggedChunked: explicit default surfaces exactly where the serial " +
      "window's does (r13)") {
    import org.apache.spark.sql.expressions.Window
    val rows: Seq[(Option[Long], Long, Option[Long])] = (0L until 500L).map { i =>
      (if (i % 9 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        i,
        if (i % 6 == 0) None else Some(i % 23))
    }
    val df = rows.toDF("k", "o", "v")
    for (lead <- Seq(false, true); n <- Seq(1, 3)) {
      val got = Skew.laggedChunked(df, "k", "o", "v", "x", n, lead, chunks = 8,
          default = -99L)
        .select(col("k"), col("o"), col("x"))
      val fn = if (lead) org.apache.spark.sql.functions.lead(col("v"), n, -99L)
        else org.apache.spark.sql.functions.lag(col("v"), n, -99L)
      val want = df.withColumn("x",
          fn.over(Window.partitionBy(col("k")).orderBy(col("o"))))
        .select(col("k"), col("o"), col("x"))
      // the default must fire ONLY for rows with fewer than n real
      // neighbors (never where a donor should have been) — parity over a
      // hot key with NULL values distinguishes carried-null from default
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"lead=$lead n=$n explicit default diverges from the plain window")
    }
  }

  test("laggedIgnoreNullsChunked: parity with lag/lead IGNORE NULLS — hot " +
      "key, NULL keys, dense and sparse nulls, defaults (r13)") {
    import org.apache.spark.sql.expressions.Window
    // every 2nd value NULL in the hot key (sparse non-nulls force the
    // n-th previous non-null far beyond any bounded donor band — the
    // shape the block form cannot express), every 3rd elsewhere
    val rows: Seq[(Option[Long], Long, Option[Long])] = (0L until 600L).map { i =>
      (if (i % 11 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        i,
        if ((i % 10 < 7 && i % 2 == 0) || i % 3 == 0) None else Some(i % 23))
    }
    val df = rows.toDF("k", "o", "v")
    for (lead <- Seq(false, true); n <- Seq(1, 3);
         dflt <- Seq(null, java.lang.Long.valueOf(-99L))) {
      val got = Skew.laggedIgnoreNullsChunked(
          df, "k", "o", "v", "x", n, lead, chunks = 8, default = dflt)
        .select(col("k"), col("o"), col("x"))
      val fn = if (lead)
        org.apache.spark.sql.functions.lead(col("v"), n, dflt, true)
      else org.apache.spark.sql.functions.lag(col("v"), n, dflt, true)
      val want = df.withColumn("x",
          fn.over(Window.partitionBy(col("k")).orderBy(col("o"))))
        .select(col("k"), col("o"), col("x"))
      assert(got.count() == 600L, s"lead=$lead n=$n: rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"lead=$lead n=$n default=$dflt diverges from IGNORE NULLS window")
    }
  }

  test("runningAggChunked: DECIMAL money sums decompose exactly, result " +
      "keeps the serial window's type (r13)") {
    import org.apache.spark.sql.expressions.Window
    // 2-dp money with NULLs and a 70% hot key — decimal addition is
    // exact and order-free, so chunked == serial bit for bit
    val rows: Seq[(Option[Long], Long, Option[java.math.BigDecimal])] =
      (0L until 500L).map { i =>
        (if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
          i,
          if (i % 6 == 0) None
          else Some(java.math.BigDecimal.valueOf(i * 37 % 9973 - 4000, 2)))
      }
    val df = rows.toDF("k", "o", "v")
      .withColumn("v", col("v").cast("decimal(12,2)"))
    val got = Skew.runningAggChunked(df, "k", "o", "v", "run", "sum", chunks = 8)
      .select(col("k"), col("o"), col("run"))
    val want = df.withColumn("run", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("k"), col("o"), col("run"))
    assert(got.schema("run").dataType == want.schema("run").dataType,
      s"decimal result type drifted: ${got.schema("run").dataType} vs " +
        s"${want.schema("run").dataType}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "decimal running sum diverges from the plain window")
  }

  test("block verbs: NO extra count scan at build time — the row total " +
      "rides the chunk stats job (r13, VERDICT r12 #2)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = spark.range(3000L).select(
      pmod(col("id"), lit(3L)).as("k"), col("id").as("o"),
      pmod(col("id"), lit(17L)).as("v"))
    def jobsDuring(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1500) } // listener bus is async — settle
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // building the running verb costs exactly the fused (min, max, count)
    // stats job; the block verbs must cost the SAME — the r12 form ran a
    // separate df.count() on top (a full extra pass of the input)
    val base = jobsDuring { Skew.runningAggChunked(df, "k", "o", "v", "x", "sum", 8); () }
    val lagJobs = jobsDuring { Skew.laggedChunked(df, "k", "o", "v", "x", 2, chunks = 8); () }
    val slideJobs = jobsDuring { Skew.slidingAggChunked(df, "k", "o", "v", "x", "sum", 5, chunks = 8); () }
    assert(lagJobs == base,
      s"laggedChunked build ran $lagJobs jobs vs the stats job's $base — the count scan is back")
    assert(slideJobs == base,
      s"slidingAggChunked build ran $slideJobs jobs vs the stats job's $base — the count scan is back")
  }

  test("laggedChunked: single evaluation — one scan, no self-join (r12)") {
    // the r11 donor self-join evaluated the whole sequence-numbered
    // subtree twice (verdict #1: 2x scan, 5.5x shuffle) and its two
    // evaluations could disagree under tied ords (ADVICE). The block form
    // duplicates boundary rows with a GENERATOR from one evaluated pass:
    // the plan must carry exactly one scan of the source and one Expand
    val df = spark.range(2000L).select(
      pmod(col("id"), lit(3L)).as("k"), col("id").as("o"),
      pmod(col("id"), lit(17L)).as("v"))
    val p = Skew.laggedChunked(df, "k", "o", "v", "x", n = 2, chunks = 8)
      .queryExecution.optimizedPlan.toString
    // two scans is the chunk machinery's own audited shape (base rows +
    // the tiny per-(key, chunk) totals aggregate); the r11 self-join
    // doubled THAT to four. The block form must stay at two.
    val scans = "Range \\(0, 2000".r.findAllIn(p).size
    assert(scans == 2,
      s"sequence subtree must be evaluated once (2 scans), found $scans:\n$p")
    assert(p.contains("Expand"),
      s"boundary duplication must be a generator, not a self-join:\n$p")
    assert(!p.contains("LeftOuter"), s"donor self-join must be gone:\n$p")
  }

  test("laggedChunked: tied ords stay inside the serial arbitrariness class") {
    import org.apache.spark.sql.expressions.Window
    // ords tie in groups of 4, but tied rows carry the SAME value, so
    // every serial ordering yields one answer — the block form must
    // produce exactly it (the one sequence evaluation feeds both the row
    // and its donor copy, so no cross-copy disagreement can appear)
    val df = spark.range(800L).select(
      pmod(col("id"), lit(2L)).as("k"),
      (col("id") / 4).cast("long").as("o"),      // ties of 4
      ((col("id") / 4).cast("long") % 13).as("v")) // value = f(ord)
    for (lead <- Seq(false, true)) {
      val got = Skew.laggedChunked(df, "k", "o", "v", "x", n = 1, lead,
          chunks = 8).select(col("k"), col("o"), col("x"))
      val fn = if (lead) org.apache.spark.sql.functions.lead(col("v"), 1)
        else org.apache.spark.sql.functions.lag(col("v"), 1)
      val want = df.withColumn("x",
          fn.over(Window.partitionBy(col("k")).orderBy(col("o"))))
        .select(col("k"), col("o"), col("x"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"lead=$lead: tied-ord answer left the serial class")
    }
  }

  test("slidingAggChunked: parity with the plain sliding frame — all five " +
      "aggs, hot key, NULL keys, NULL values, frame larger than block") {
    import org.apache.spark.sql.expressions.Window
    val rows: Seq[(Option[Long], Long, Option[Long])] = (0L until 600L).map { i =>
      (if (i % 9 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        i,
        if (i % 6 == 0) None else Some(i % 23 - 11))
    }
    val df = rows.toDF("k", "o", "v")
    for (a <- Seq("sum", "min", "max", "count", "avg"); k <- Seq(3, 40)) {
      // chunks = 16 on 600 rows gives B = max(k, 38): k = 40 exercises
      // the frame-wider-than-naive-block case (B must clamp up to k)
      val got = Skew.slidingAggChunked(df, "k", "o", "v", "r", a, k, chunks = 16)
        .select(col("k"), col("o"), col("r"))
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        a match { case "sum" => sum(_); case "min" => min(_)
          case "max" => max(_); case "avg" => avg(_); case _ => count(_) }
      val want = df.withColumn("r", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(-k.toLong, Window.currentRow)))
        .select(col("k"), col("o"), col("r"))
      assert(got.count() == 600L, s"$a k=$k: rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"sliding $a k=$k diverges from the plain frame")
    }
  }

  test("slidingAggChunked: bit-identical on DOUBLES (nothing re-associates)") {
    import org.apache.spark.sql.expressions.Window
    // the running decomposition must gate FP sums (re-association), the
    // sliding one must NOT: it evaluates the same frame rows in the same
    // order as the serial plan — exact equality on doubles IS the claim
    val df = spark.range(500L).select(
      pmod(col("id"), lit(3L)).as("k"), col("id").as("o"),
      (xxhash64(col("id")).cast("double") / 1e7).as("v"))
    val got = Skew.slidingAggChunked(df, "k", "o", "v", "r", "sum", 7, chunks = 8)
      .select(col("k"), col("o"), col("r"))
    val want = df.withColumn("r", sum(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o")).rowsBetween(-7, 0)))
      .select(col("k"), col("o"), col("r"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "sliding double sum must match the serial frame bit for bit")
  }

  test("slidingAggChunked property: random aggs, frames (incl. FOLLOWING) " +
      "and chunk counts") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260816)
    for (trial <- 1 to 8) {
      val n = 150 + rnd.nextInt(500)
      val keys = 1 + rnd.nextInt(5)
      val rows = (0 until n).map(i =>
        (rnd.nextInt(keys).toLong, i.toLong, (rnd.nextInt(2001) - 1000).toLong))
      val df = rows.toDF("k", "o", "v")
      // both-direction frames: k PRECEDING .. j FOLLOWING with either
      // side allowed to be 0 (but not both) — donors flow both ways
      val k = rnd.nextInt(31)
      val j = if (k == 0) 1 + rnd.nextInt(20) else rnd.nextInt(20)
      val chunks = 2 + rnd.nextInt(40)
      val agg = Seq("sum", "min", "max", "count", "avg")(rnd.nextInt(5))
      val got = Skew.slidingAggChunked(df, "k", "o", "v", "r", agg, k, chunks,
          following = j)
        .select(col("k"), col("o"), col("r"))
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        agg match { case "sum" => sum(_); case "min" => min(_)
          case "max" => max(_); case "avg" => avg(_); case _ => count(_) }
      val want = df.withColumn("r", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(-k.toLong, j.toLong)))
        .select(col("k"), col("o"), col("r"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (n=$n keys=$keys k=$k j=$j chunks=$chunks agg=$agg) diverged")
    }
  }

  test("slidingRangeAggChunked: parity with the plain RANGE frame — all " +
      "five aggs, hot key, TIED ords, NULL keys/values, both directions") {
    import org.apache.spark.sql.expressions.Window
    // ord ties in groups of 3 (RANGE frames are value-based — peers must
    // be exact, which the ord-range blocks guarantee by construction)
    val rows: Seq[(Option[Long], Long, Option[Long])] = (0L until 600L).map { i =>
      (if (i % 9 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        (i / 3) * 7, // tied, non-contiguous ord values
        if (i % 6 == 0) None else Some(i % 23 - 11))
    }
    val df = rows.toDF("k", "o", "v")
    for (a <- Seq("sum", "min", "max", "count", "avg");
         (p, f) <- Seq((50L, 0L), (30L, 20L), (0L, 40L))) {
      val got = Skew.slidingRangeAggChunked(df, "k", "o", "v", "r", a,
          preceding = p, following = f, chunks = 16)
        .select(col("k"), col("o"), col("r"))
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        a match { case "sum" => sum(_); case "min" => min(_)
          case "max" => max(_); case "avg" => avg(_); case _ => count(_) }
      val want = df.withColumn("r", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o")).rangeBetween(-p, f)))
        .select(col("k"), col("o"), col("r"))
      assert(got.count() == 600L, s"$a ($p,$f): rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"range $a ($p preceding, $f following) diverges from the plain frame")
    }
    // frame wider than the data's ord span: degenerates to the plain
    // window (nBlocks < 2), still correct
    val wide = Skew.slidingRangeAggChunked(df, "k", "o", "v", "r", "sum",
        preceding = 100000L, chunks = 8)
      .select(col("k"), col("o"), col("r"))
    val wantWide = df.withColumn("r", sum(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o")).rangeBetween(-100000L, 0)))
      .select(col("k"), col("o"), col("r"))
    assert(wide.exceptAll(wantWide).isEmpty && wantWide.exceptAll(wide).isEmpty,
      "degenerate wide frame diverges")
  }

  test("slidingRangeAggChunked property: random reaches, ties and chunks") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260817)
    for (trial <- 1 to 6) {
      val n = 150 + rnd.nextInt(400)
      val keys = 1 + rnd.nextInt(5)
      val tie = 1 + rnd.nextInt(4)
      val rows = (0 until n).map(i =>
        (rnd.nextInt(keys).toLong, (i / tie).toLong * (1 + rnd.nextInt(3)),
          (rnd.nextInt(2001) - 1000).toLong))
      val df = rows.toDF("k", "o", "v")
      val p = rnd.nextInt(40).toLong
      val f = if (p == 0) 1L + rnd.nextInt(30) else rnd.nextInt(30).toLong
      val chunks = 2 + rnd.nextInt(40)
      val agg = Seq("sum", "min", "max", "count", "avg")(rnd.nextInt(5))
      val got = Skew.slidingRangeAggChunked(df, "k", "o", "v", "r", agg,
          p, f, chunks)
        .select(col("k"), col("o"), col("r"))
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        agg match { case "sum" => sum(_); case "min" => min(_)
          case "max" => max(_); case "avg" => avg(_); case _ => count(_) }
      val want = df.withColumn("r", fn(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o")).rangeBetween(-p, f)))
        .select(col("k"), col("o"), col("r"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (n=$n keys=$keys tie=$tie p=$p f=$f chunks=$chunks " +
          s"agg=$agg) diverged")
    }
  }

  test("rankFamilyChunked: parity with the plain rank family — hot key, " +
      "NULL keys, single-row keys, ntile with q=0 and q>0 buckets") {
    import org.apache.spark.sql.expressions.Window
    // hot key 0 (70%), a NULL-key partition, and key 99 with ONE row
    // (percent_rank's n=1 -> 0.0 rule; ntile's q=0 branch)
    val rows: Seq[(Option[Long], Long, Long)] = ((0L until 400L).map { i =>
      (if (i % 9 == 0) None else if (i % 10 < 7) Some(0L) else Some(i % 4 + 1),
        i, i % 13)
    } :+ ((Some(99L), 400L, 7L)))
    val df = rows.toDF("k", "o", "v")
    val got = Skew.rankFamilyChunked(df, "k", "o", ntile = 5, chunks = 8)
      .select(col("k"), col("o"), col("row_number"), col("percent_rank"),
        col("cume_dist"), col("ntile"))
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
    val want = df
      .withColumn("row_number", row_number().over(w))
      .withColumn("percent_rank", percent_rank().over(w))
      .withColumn("cume_dist", cume_dist().over(w))
      .withColumn("ntile", org.apache.spark.sql.functions.ntile(5).over(w))
      .select(col("k"), col("o"), col("row_number"), col("percent_rank"),
        col("cume_dist"), col("ntile"))
    assert(got.count() == 401L, "rows dropped")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "rank family diverges from the plain windows")
    // rank == dense_rank == row_number under the unique-ord contract
    val rk = df.withColumn("rank", rank().over(w))
      .withColumn("row_number", row_number().over(w))
    assert(rk.filter(col("rank") =!= col("row_number")).isEmpty,
      "fixture violates the unique-ord contract")
  }

  test("anchorValuesChunked: first/last value parity — NULL anchors carry, " +
      "hot key, NULL keys, single-row keys") {
    import org.apache.spark.sql.expressions.Window
    // key 0 hot (70%); NULL-key partition; key 99 single-row; the first
    // row of key 1 and the LAST row of key 2 carry NULL values (respect-
    // nulls: the anchor's null must carry, distinct from a missing join)
    val rows: Seq[(Option[Long], Long, Option[Long])] = ((0L until 300L).map { i =>
      val k = if (i % 9 == 0) None
        else if (i % 10 < 7) Some(0L) else Some(i % 3 + 1)
      val v = if (k == Some(1L) && i < 30) None        // early rows of key 1
        else if (k == Some(2L) && i > 270) None        // late rows of key 2
        else Some(i % 17)
      (k, i, v)
    } :+ ((Some(99L), 300L, Some(5L))))
    val df = rows.toDF("k", "o", "v")
    val got = Skew.anchorValuesChunked(df, "k", "o", "v", "fv", "lv", chunks = 8)
      .select(col("k"), col("o"), col("fv"), col("lv"))
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
    val want = df
      .withColumn("fv", first(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lv", last(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("k"), col("o"), col("fv"), col("lv"))
    assert(got.count() == 301L, "rows dropped")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "anchor values diverge from the plain windows")
  }

  test("empty input and degenerate (single-ord) range") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("k", "o", "v")
    assert(Skew.runningSumChunked(empty, "k", "o", "v", "run").count() == 0)
    val one = Seq((1L, 5L, 7L), (2L, 5L, 9L)).toDF("k", "o", "v")
    val r = Skew.runningSumChunked(one, "k", "o", "v", "run")
      .select(col("k"), col("run")).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 7L, 2L -> 9L), s"got $r")
  }

  test("globalRankByValue: rank + cum parity with the serial global " +
      "window, both directions, heavy ties; no row-level global sort") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties: only 13 distinct values over 5k rows; unique tie ids
    val df = spark.range(5000L).select(
      col("id").as("u"),
      pmod(xxhash64(col("id")), lit(13L)).as("v"))
    for (desc <- Seq(false, true)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.orderBy(ord, col("u").asc)
      val want = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val got = Skew.globalRankByValue(df, "v", "u", "r", desc = desc,
        cumCol = Some("cum"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"globalRankByValue (desc=$desc) diverges from the serial window")
      // plan pin: the only unpartitioned window runs over the 13-row
      // HISTOGRAM, never the 5k-row relation — every partition-less
      // Window node's child carries the histogram columns
      val globalWins = got.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWins.nonEmpty, "expected the histogram prefix window")
      globalWins.foreach { w =>
        assert(w.child.output.exists(_.name == "__gc"),
          s"global window must ride the histogram, not the rows:\n$w")
      }
    }
    // NULL values rank at their direction's default placement
    val withNulls = spark.range(100L).select(col("id").as("u"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(pmod(col("id"), lit(5L))).as("v"))
    for (desc <- Seq(false, true)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val want = withNulls.withColumn("r",
        row_number().over(Window.orderBy(ord, col("u").asc)).cast("long"))
      val got = Skew.globalRankByValue(withNulls, "v", "u", "r", desc = desc)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"null values (desc=$desc) must rank at the default placement")
    }
  }

  test("globalRankByValue: a 90%-tied fixture — tieChunks decomposes the " +
      "dominant tie group's rank, exact vs the serial window, and no " +
      "Window stays partitioned by the bare value (r15, VERDICT r14 #2)") {
    import org.apache.spark.sql.expressions.Window
    // the degenerate shape the r14 watch-item named: one value holds 90%
    // of the rows, so the within-group rank's value-partitioned window
    // puts 9k of 10k rows in ONE task; a few stragglers share the rest
    val df = spark.range(10000L).select(
      col("id").as("u"),
      when(col("id") % 10 < 9, lit(7L))
        .otherwise(pmod(col("id"), lit(5L))).as("v"))
    for (desc <- Seq(false, true)) {
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.orderBy(ord, col("u").asc)
      val want = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val got = Skew.globalRankByValue(df, "v", "u", "r", desc = desc,
        cumCol = Some("cum"), tieChunks = 8)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"tieChunks form (desc=$desc) diverges from the serial window")
      // plan pin: with tieChunks on, NO window may partition by the bare
      // value struct alone — the within-group rank must carry the chunk
      // column too, so the 90% group is bounded by rows-per-(value,
      // chunk), never the group
      val valueOnlyWins = got.queryExecution.optimizedPlan.collect {
        case win: org.apache.spark.sql.catalyst.plans.logical.Window
            if win.partitionSpec.length == 1 &&
              win.partitionSpec.head.references.exists(
                _.name.contains("__gvs")) &&
              win.orderSpec.nonEmpty => win
      }
      assert(valueOnlyWins.isEmpty,
        s"the dominant tie group still rides a value-only window:\n" +
          s"${got.queryExecution.optimizedPlan}")
      // and the chunk machinery is actually in the plan
      assert(got.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
        "tieChunks must route through the chunk decomposition")
    }
    // default (tieChunks = 0) stays the r14 plan — consuming rows are
    // untouched by the new parameter
    val legacy = Skew.globalRankByValue(df, "v", "u", "r")
    assert(!legacy.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
      "default tieChunks must keep the single-window form")
    // STRING tie columns must IGNORE tieChunks (the chunk function's
    // double cast is not monotone in lexicographic order — "10" < "9"
    // as strings but 9.0 < 10.0 as doubles): the "9"/"10" fixture is
    // exactly the divergence a chunked string arm would produce
    val sdf = spark.range(40L).select(
      concat(lit(""), (col("id") + 5)).as("u"), // "5".."44": lex != numeric
      pmod(col("id"), lit(2L)).as("v"))
    val sw = Window.orderBy(col("v").asc, col("u").asc)
    val sWant = sdf.withColumn("r", row_number().over(sw).cast("long"))
    val sGot = Skew.globalRankByValue(sdf, "v", "u", "r", tieChunks = 8)
    assert(!sGot.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
      "string tieCol must keep the plain within-group window")
    assert(sGot.exceptAll(sWant).isEmpty && sWant.exceptAll(sGot).isEmpty,
      "string tieCol ranks must match the serial lexicographic window")
  }
}
