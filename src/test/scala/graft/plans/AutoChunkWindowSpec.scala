package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats-driven hot-key running-window rewrite: fires on the proven
  * shape (avg-hot and histogram-hot), stays value-identical (nulls
  * included), and leaves every non-matching shape alone. */
class AutoChunkWindowSpec extends SparkSpec {

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit =
    graft.GraftSession.withConfs(spark, kvs: _*)(body)

  private def freshTable(t: String)(writer: => Unit): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    writer
  }

  private def runSum(t: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.table(t).withColumn("run", sum(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def chunked(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("__graft_chunk")

  private lazy val avgHotTable: String = {
    val t = "graft_autochunk_avg"
    freshTable(t) {
      // 2 keys x 10k rows (avg 5,000/key), every 7th value NULL — the
      // rewrite must replay the window's null discipline end to end
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    t
  }

  test("avg-hot path: fires, plan carries the chunk join, values identical") {
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val df = runSum(avgHotTable)
      assert(chunked(df), s"rewrite must fire:\n${df.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        val plain = runSum(avgHotTable)
        assert(!chunked(plain), "disable conf must work")
        want = plain.collect().toSet
      }
      assert(df.collect().toSet == want, "rewrite changed the answer")
    }
  }

  test("histogram path: a 30% heavy hitter fires without the avg signal") {
    val t = "graft_autochunk_hist"
    freshTable(t) {
      withConfs("spark.sql.statistics.histogram.enabled" -> "true") {
        // key 0 holds 30% of 10k rows; 7k other keys keep the average tiny
        spark.range(10000L).select(
            when(pmod(col("id"), lit(10L)) < 3, lit(0L))
              .otherwise(col("id")).as("k"),
            col("id").as("o"),
            pmod(xxhash64(col("id")), lit(100L)).as("v"))
          .write.saveAsTable(t)
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
      }
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000000") { // avg signal OFF
      val df = runSum(t)
      assert(chunked(df),
        s"histogram heavy hitter must fire:\n${df.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = runSum(t).collect().toSet
      }
      assert(df.collect().toSet == want, "rewrite changed the answer")
    }
  }

  test("RANGE default frame and min/max variants fire and stay identical") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      // the bare SQL spelling (no ROWS clause) defaults to RANGE
      // UNBOUNDED..CURRENT — peers can't straddle chunks, so it decomposes
      val rangeQ =
        s"""SELECT k, o, sum(v) OVER (PARTITION BY k ORDER BY o) AS run
           |FROM $avgHotTable""".stripMargin
      val rdf = spark.sql(rangeQ)
      assert(chunked(rdf), s"RANGE frame must fire:\n${rdf.queryExecution.optimizedPlan}")
      var rWant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        rWant = spark.sql(rangeQ).collect().toSet
      }
      assert(rdf.collect().toSet == rWant, "RANGE rewrite changed the answer")
      // min and max (nulls included in the fixture)
      for ((a, fn) <- Seq[(String, org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column)]("min" -> (min(_)), "max" -> (max(_)))) {
        def q = spark.table(avgHotTable).withColumn("run", fn(col("v")).over(
          Window.partitionBy(col("k")).orderBy(col("o"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        assert(chunked(q), s"$a must fire")
        var want: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          want = q.collect().toSet
        }
        assert(q.collect().toSet == want, s"$a rewrite changed the answer")
      }
    }
  }

  test("NULL partition keys survive the rewrite (null-safe key join)") {
    val t = "graft_autochunk_nullkey"
    freshTable(t) {
      // every 5th key NULL — a NULL key is a normal window partition and
      // the chunk join must keep all of its rows (ADVICE r10: EqualTo on
      // the key silently dropped them)
      spark.range(10000L).select(
          when(col("id") % 5 === 0, lit(null).cast("long"))
            .otherwise(pmod(col("id"), lit(2L))).as("k"),
          col("id").as("o"),
          pmod(xxhash64(col("id")), lit(100L)).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val df = runSum(t)
      assert(chunked(df), s"must fire:\n${df.queryExecution.optimizedPlan}")
      assert(df.count() == 10000L, "NULL-key rows were dropped by the rewrite")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = runSum(t).collect().toSet
      }
      assert(df.collect().toSet == want, "NULL-key rewrite changed the answer")
    }
  }

  test("multi-expression Window: all-decomposable fires once, mixed stays plain") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // sum + min + max over one spec land in ONE Window node — all three
      // decompose, so the node rewrites as a whole and stays identical
      def all3 = spark.table(avgHotTable)
        .withColumn("rs", sum(col("v")).over(w))
        .withColumn("rm", min(col("v")).over(w))
        .withColumn("rx", max(col("v")).over(w))
      assert(chunked(all3),
        s"3-expression node must fire:\n${all3.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = all3.collect().toSet
      }
      assert(all3.collect().toSet == want, "multi-expression rewrite changed the answer")
      // one non-decomposable expression in the node leaves ALL of it
      // plain — a half-rewritten node would pay both windows. avg here is
      // non-decomposable BECAUSE avgHotTable is ANALYZEd for k/o only: no
      // v stats -> no 2^53 proof. (stddev can't serve as the foil: its
      // cast-extracted argument puts it in its OWN Window node, and the
      // sum node then fires correctly on its own.)
      val mixed = spark.table(avgHotTable)
        .withColumn("rs", sum(col("v")).over(w))
        .withColumn("ra", avg(col("v")).over(w))
      assert(!chunked(mixed),
        s"mixed sum+unprovable-avg node must stay plain:\n${mixed.queryExecution.optimizedPlan}")
    }
  }

  test("running count fires and ADDS across chunks (count(v) and count(*))") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // count(v) skips the fixture's NULL values; count(*) counts rows —
      // both must ADD chunk offsets (a greatest-style combine would
      // undercount every chunk past the first, ~7/8 of the rows here)
      for ((label, c) <- Seq("count_v" -> count(col("v")),
          "count_star" -> count(lit(1)))) {
        def q = spark.table(avgHotTable).withColumn("run", c.over(w))
        assert(chunked(q), s"$label must fire:\n${q.queryExecution.optimizedPlan}")
        var want: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          want = q.collect().toSet
        }
        assert(q.collect().toSet == want, s"$label rewrite changed the answer")
      }
    }
  }

  test("row_number fires as a chunked running count (latest-record dedup idiom)") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
      def q = spark.table(avgHotTable).withColumn("rn", row_number().over(w))
      assert(chunked(q), s"row_number must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      // o is unique, so row_number is fully determined — exact equality
      assert(q.collect().toSet == want, "row_number rewrite changed the answer")
      // the idiom the arm exists for: keep the latest record per key
      def latest = q.filter(col("rn") === 1)
      var wantLatest: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantLatest = latest.collect().toSet
      }
      assert(latest.collect().toSet == wantLatest,
        "latest-record-per-key dedup diverged under the rewrite")
      // row_number DESC — the spelling users actually write for "latest
      // record first" — fires too (r13, DESC NULLS LAST mirror)
      def desc = spark.table(avgHotTable).withColumn("rn",
        row_number().over(Window.partitionBy(col("k")).orderBy(col("o").desc)))
      assert(chunked(desc), "descending row_number must fire (r13)")
      var wantDesc: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantDesc = desc.collect().toSet
      }
      assert(desc.collect().toSet == wantDesc,
        "descending row_number rewrite changed the answer")
    }
  }

  test("DESC NULLS LAST mirror: running aggregates, row_number and lag " +
      "fire on the descending default; off-default pairings fire for the " +
      "count/position arms (r14; anchor kinds have their own r15 test)") {
    import org.apache.spark.sql.expressions.Window
    // null ords included: DESC NULLS LAST puts them AFTER every value,
    // and the mirrored chunk function must send them to the LAST chunk
    val t = "graft_autochunk_desc"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          when(col("id") % 13 === 0, lit(null).cast("long"))
            .otherwise(col("id")).as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val wb = Window.partitionBy(col("k")).orderBy(col("o").desc)
      def q = spark.table(t)
        .withColumn("run", sum(col("v")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(wb))
        .withColumn("prev", lag(col("v"), 2).over(wb))
        .withColumn("roll", min(col("v")).over(wb.rowsBetween(-4, 0)))
      assert(chunked(q),
        s"DESC default node must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "DESC rewrite changed the answer")
      // DESC RANGE frames fire too (r14): the ord-block stage runs on
      // the negated axis, so "preceding" maps to the same +back
      // arithmetic in both orientations
      def rdesc = spark.table(avgHotTable).withColumn("s",
        sum(col("v")).over(Window.partitionBy(col("k"))
          .orderBy(col("o").desc).rangeBetween(-100, 0)))
      assert(chunked(rdesc),
        s"DESC RANGE sliding must fire:\n${rdesc.queryExecution.optimizedPlan}")
      var wantR: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantR = rdesc.collect().toSet
      }
      assert(rdesc.collect().toSet == wantR,
        "DESC RANGE rewrite changed the answer")
      // OFF-DEFAULT null placements fire for the count/position/value-leg
      // arms (r14): null ords go to the chunk the PLACEMENT names; only
      // the struct(ord, v) kinds stay default-placement-gated
      for ((mk, name) <- Seq(
          ((c: org.apache.spark.sql.Column) => c.desc_nulls_first,
            "DESC NULLS FIRST"),
          ((c: org.apache.spark.sql.Column) => c.asc_nulls_last,
            "ASC NULLS LAST"))) {
        val wOff = Window.partitionBy(col("k")).orderBy(mk(col("o")))
        def qOff = spark.table(t)
          .withColumn("run", sum(col("v")).over(
            wOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rn", row_number().over(wOff))
          .withColumn("rk", rank().over(wOff))
        assert(chunked(qOff),
          s"$name must fire:\n${qOff.queryExecution.optimizedPlan}")
        var wantOff: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantOff = qOff.collect().toSet
        }
        assert(qOff.collect().toSet == wantOff,
          s"$name rewrite changed the answer")
      }
    }
  }

  test("anchor kinds fire on OFF-DEFAULT placements: first_value and the " +
      "forward-fill IGNORE-NULLS twins under ASC NULLS LAST / DESC NULLS " +
      "FIRST, running and full frames, exact parity (r15)") {
    import org.apache.spark.sql.expressions.Window
    // exactly ONE null-ord row per key: within-peer-group picks are the
    // serial window's own arbitrariness class, so a parity SET compare
    // is only deterministic when every null peer group is a singleton
    // (the shared fixtures carry ~770-row null groups by design)
    val t = "graft_autochunk_anchor_off"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          when(col("id") < 2, lit(null).cast("long"))
            .otherwise(col("id")).as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      for ((mk, name) <- Seq(
          ((c: org.apache.spark.sql.Column) => c.desc_nulls_first,
            "DESC NULLS FIRST"),
          ((c: org.apache.spark.sql.Column) => c.asc_nulls_last,
            "ASC NULLS LAST"))) {
        val wOff = Window.partitionBy(col("k")).orderBy(mk(col("o")))
        val running = wOff.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)
        def fOff = spark.table(t)
          .withColumn("fv", first_value(col("v")).over(running))
          .withColumn("fnn", first(col("v"), ignoreNulls = true).over(running))
          .withColumn("fill", last(col("v"), ignoreNulls = true).over(running))
        assert(chunked(fOff),
          s"running anchor kinds under $name must fire:\n${fOff.queryExecution.optimizedPlan}")
        var wantF: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantF = fOff.collect().toSet
        }
        assert(fOff.collect().toSet == wantF,
          s"running anchor rewrite under $name changed the answer")
        // FULL-FRAME spelling: Aggregate + join-back, no Window survives
        val full = wOff.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        def aOff = spark.table(t)
          .withColumn("fv", first_value(col("v")).over(full))
          .withColumn("lv", last(col("v")).over(full))
          .withColumn("lnn", last(col("v"), ignoreNulls = true).over(full))
        assert(aOff.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
          }.isEmpty,
          s"full-frame anchor kinds under $name must fire:\n${aOff.queryExecution.optimizedPlan}")
        var wantA: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantA = aOff.collect().toSet
        }
        assert(aOff.collect().toSet == wantA,
          s"full-frame anchor rewrite under $name changed the answer")
      }
    }
  }

  test("multi-column ORDER BY fires: trailing sort keys replay chunk-" +
      "locally for the running/rank/nav/sliding arms — the first key " +
      "drives the chunk and trailing keys need no stats; anchor kinds " +
      "stay single-key (r15)") {
    import org.apache.spark.sql.expressions.Window
    // o1 carries heavy ties (50 values + nulls) so the trailing key o2
    // genuinely decides the order; o2 is unique, making every function
    // below tie-deterministic; o2 is DESC to pin mixed directions, and
    // o2 is deliberately NOT ANALYZE'd — only the chunk-driving first
    // key needs statistics
    val t = "graft_autochunk_multiord"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          when(col("id") % 11 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(50L))).as("o1"),
          col("id").as("o2"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o1")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k"))
        .orderBy(col("o1"), col("o2").desc)
      def q = spark.table(t)
        .withColumn("run", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("dr", dense_rank().over(w))
        .withColumn("prev", lag(col("v"), 2).over(w))
        .withColumn("roll", avg(col("v")).over(w.rowsBetween(-4, 0)))
      assert(chunked(q),
        s"multi-ord node must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want,
        "multi-ord rewrite changed the answer")
      // the anchor kinds' struct combine encodes exactly one key's
      // direction/placement — a trailing sort key keeps them plain
      val fv = spark.table(t).withColumn("f",
        first_value(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(!chunked(fv),
        "anchor kinds with trailing sort keys must stay plain")
    }
  }

  test("lag/lead fire via the single-evaluation block stage, SQL-default " +
      "form only") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
      // lag 2 + lead 1 + a running sum in ONE node: chunk join + ONE
      // Expand block stage (donor copies both directions), all from one
      // rewrite. The fixture's NULL values must carry through donors (a
      // null donor value is distinct from the no-donor null — both are
      // null in SQL, and parity covers the first-2/last-1 rows per key
      // either way).
      def q = spark.table(avgHotTable)
        .withColumn("prev2", lag(col("v"), 2).over(w))
        .withColumn("next1", lead(col("v"), 1).over(w))
        .withColumn("rs", sum(col("v")).over(w
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(chunked(q), s"lag/lead must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "lag/lead rewrite changed the answer")
      // single evaluation (r12, replaces the r11 donor self-joins that
      // re-evaluated the whole chunk subtree per shift and could read
      // DIFFERENT sequence numbers under tied ords): the plan must carry
      // exactly one Expand, no outer join, and the chunk machinery's own
      // two scans of the source — not four
      val p = q.queryExecution.optimizedPlan.toString
      assert("Expand".r.findAllIn(p).size == 1,
        s"block stage must be ONE Expand:\n$p")
      assert(!p.contains("LeftOuter"), s"donor self-join must be gone:\n$p")
      val scans = s"Relation spark_catalog.default.$avgHotTable".r
        .findAllIn(p).size
      assert(scans == 2, s"expected the chunk machinery's 2 scans, got $scans:\n$p")
      // explicit LITERAL defaults fire too (r13): the block window
      // replays the function verbatim, so the default surfaces exactly
      // where the serial window's does — a key's first n rows for lag,
      // last n for lead
      val withDefault = spark.table(avgHotTable)
        .withColumn("x", lag(col("v"), 1, -1).over(w))
        .withColumn("y", lead(col("v"), 2, -7).over(w))
      assert(chunked(withDefault),
        s"lag/lead with literal defaults must fire:\n${withDefault.queryExecution.optimizedPlan}")
      var dWant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        dWant = spark.table(avgHotTable)
          .withColumn("x", lag(col("v"), 1, -1).over(w))
          .withColumn("y", lead(col("v"), 2, -7).over(w))
          .collect().toSet
      }
      assert(withDefault.collect().toSet == dWant,
        "explicit-default lag/lead rewrite changed the answer")
      // IGNORE NULLS stays plain: the nearest non-null can sit
      // arbitrarily far back, beyond any bounded donor band
      val ignoreNulls = spark.table(avgHotTable)
        .withColumn("x", lag(col("v"), 1, null, true).over(w))
      assert(!chunked(ignoreNulls), "lag IGNORE NULLS must stay plain")
    }
  }

  test("sliding ROWS frames fire — exact for every type, no FP/decimal gate") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o")).rowsBetween(-5, 0)
      // sum + avg + min over one sliding spec; avg needs NO 2^53 proof
      // here (avgHotTable has no v stats) and NULL values must clip the
      // frame exactly as the serial plan does
      def q = spark.table(avgHotTable)
        .withColumn("s5", sum(col("v")).over(w))
        .withColumn("a5", avg(col("v")).over(w))
        .withColumn("m5", min(col("v")).over(w))
      assert(chunked(q), s"sliding node must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      // Set[Row] equality is bitwise on doubles — nothing re-associates in
      // a sliding frame, so exact equality IS the claim
      assert(q.collect().toSet == want, "sliding rewrite changed the answer")
      // DOUBLE sliding sum fires too — same reasoning, no FP gate
      val fp = "graft_autochunk_fp_slide"
      freshTable(fp) {
        spark.range(10000L).select(
            pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
            (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / 7.0).as("v"))
          .write.saveAsTable(fp)
        spark.sql(s"ANALYZE TABLE $fp COMPUTE STATISTICS FOR COLUMNS k, o")
      }
      def fq = spark.table(fp).withColumn("s", sum(col("v")).over(w))
      assert(chunked(fq), "double sliding sum must fire (nothing re-associates)")
      var fwant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        fwant = fq.collect().toSet
      }
      assert(fq.collect().toSet == fwant,
        "double sliding sum must stay bit-identical")
      // centered and lookahead frames (k PRECEDING .. j FOLLOWING): the
      // block stage feeds donors BOTH directions
      val wCentered = Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(-3, 2)
      val wAhead = Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(0, 4)
      def cq = spark.table(avgHotTable)
        .withColumn("c", sum(col("v")).over(wCentered))
        .withColumn("f", min(col("v")).over(wAhead))
      assert(chunked(cq), "centered/lookahead frames must fire")
      var cwant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        cwant = cq.collect().toSet
      }
      assert(cq.collect().toSet == cwant,
        "centered/lookahead rewrite changed the answer")
      // mixed node: sliding + lag + running sum + row_number — one rewrite
      val wb = Window.partitionBy(col("k")).orderBy(col("o"))
      def mixed = spark.table(avgHotTable)
        .withColumn("s5", sum(col("v")).over(w))
        .withColumn("p1", lag(col("v"), 1).over(wb))
        .withColumn("rs", sum(col("v")).over(wb.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(wb))
      assert(chunked(mixed), "mixed sliding+lag+running+rownum node must fire")
      var mwant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        mwant = mixed.collect().toSet
      }
      assert(mixed.collect().toSet == mwant, "mixed rewrite changed the answer")
    }
  }

  test("RANGE sliding frames fire via ord blocks — ties, any deterministic " +
      "aggregate, no-fire on mixing and on frame-spans-the-data") {
    import org.apache.spark.sql.expressions.Window
    // tied ords (RANGE peers) — the value-based frame must stay exact
    val t = "graft_autochunk_range"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          ((col("id") / 3).cast("long") * 5).as("o"), // ties of 3, stride 5
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
        .rangeBetween(-100, 0)
      val wc = Window.partitionBy(col("k")).orderBy(col("o"))
        .rangeBetween(-60, 40)
      // sum + stddev + collect-size: the relaxed any-deterministic-agg
      // latitude (stddev/collect are NOT in the running arm's aggArg)
      def q = spark.table(t)
        .withColumn("s", sum(col("v")).over(w))
        .withColumn("sd", stddev_samp(col("v")).over(w))
        .withColumn("c", count(col("v")).over(wc))
      assert(chunked(q),
        s"RANGE sliding must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      // bitwise Set[Row] equality — identical frame rows in identical
      // order, doubles included
      assert(q.collect().toSet == want, "RANGE rewrite changed the answer")
      // mixing ord-block and seq-block kinds in one node: stays plain
      val mixed = spark.table(t)
        .withColumn("s", sum(col("v")).over(w))
        .withColumn("p", lag(col("v"), 1).over(
          Window.partitionBy(col("k")).orderBy(col("o"))))
      assert(!chunked(mixed),
        "a node mixing RANGE sliding with lag must stay plain")
      // frame reach ~ the whole ord span: serial is already the plan
      val wide = spark.table(t).withColumn("s", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rangeBetween(-20000, 0)))
      assert(!chunked(wide), "a frame spanning the data must stay plain")
      // ROWS sliding with a relaxed aggregate (stddev) also fires now
      def rq = spark.table(avgHotTable).withColumn("sd",
        stddev_samp(col("v")).over(Window.partitionBy(col("k"))
          .orderBy(col("o")).rowsBetween(-7, 0)))
      assert(chunked(rq), "ROWS sliding stddev must fire (relaxed agg set)")
      var rwant: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        rwant = rq.collect().toSet
      }
      assert(rq.collect().toSet == rwant, "ROWS stddev rewrite changed the answer")
    }
  }

  test("no statistics -> never fires, on ANY shape (cbo off or un-ANALYZEd)") {
    import org.apache.spark.sql.expressions.Window
    // the REGRESSION side of the stats gates (VERDICT r11 #6): a
    // default-ON rule must never make an un-ANALYZE'd production table
    // pay the rewrite. Sweep every arm over a stats-less view, then over
    // the ANALYZE'd table with cbo OFF.
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1",
      "spark.graft.autoChunk.perKeyRows" -> "1") {
      spark.range(10000L).select(pmod(col("id"), lit(2L)).as("k"),
          col("id").as("o"), col("id").as("v"))
        .createOrReplaceTempView("autochunk_nostats_sweep")
      def shapes(t: org.apache.spark.sql.DataFrame) = {
        val wb = Window.partitionBy(col("k")).orderBy(col("o"))
        val wr = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Seq(
          "running sum" -> t.withColumn("x", sum(col("v")).over(wr)),
          "running count" -> t.withColumn("x", count(col("v")).over(wr)),
          "running min" -> t.withColumn("x", min(col("v")).over(wr)),
          "running avg" -> t.withColumn("x", avg(col("v")).over(wr)),
          "row_number" -> t.withColumn("x", row_number().over(wb)),
          "lag" -> t.withColumn("x", lag(col("v"), 1).over(wb)),
          "sliding sum" -> t.withColumn("x",
            sum(col("v")).over(wb.rowsBetween(-5, 0))))
      }
      withConfs("spark.sql.cbo.enabled" -> "true") {
        for ((label, q) <- shapes(spark.table("autochunk_nostats_sweep")))
          assert(!chunked(q), s"$label fired without statistics")
      }
      withConfs("spark.sql.cbo.enabled" -> "false") {
        for ((label, q) <- shapes(spark.table(avgHotTable)))
          assert(!chunked(q), s"$label fired with cbo disabled")
      }
    }
  }

  test("running avg: fires only under the 2^53 stats proof, bit-identical") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // proof-friendly fixture: |v| <= 100, 10k rows -> bound 1e6 << 2^53,
    // and v ANALYZED (the proof needs v's min/max stats, not just k/o's)
    val t = "graft_autochunk_avg_proof"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(201L)) - 100L).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o, v")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = spark.table(t).withColumn("run", avg(col("v")).over(w))
      assert(chunked(q), s"proven avg must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      // Set[Row] equality compares doubles bitwise — that IS the claim:
      // under the proof the rewrite is exact, not approximately equal
      assert(q.collect().toSet == want, "avg rewrite changed the answer")
      // avg on the k/o-only-analyzed fixture: no v stats -> no proof -> plain
      val noStats = spark.table(avgHotTable).withColumn("run", avg(col("v")).over(w))
      assert(!chunked(noStats), "avg without the v-stats proof must stay plain")
    }
    // full-range v: bound = 10k * ~9.2e18 >> 2^53 -> proof fails -> plain
    val big = "graft_autochunk_avg_big"
    freshTable(big) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
          xxhash64(col("id")).as("v"))
        .write.saveAsTable(big)
      spark.sql(s"ANALYZE TABLE $big COMPUTE STATISTICS FOR COLUMNS k, o, v")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val q = spark.table(big).withColumn("run", avg(col("v")).over(w))
      assert(!chunked(q),
        "avg whose serial double accumulation can exceed 2^53 must stay plain")
    }
  }

  test("FP sums are gated: double sum stays plain unless allowFloat opts in") {
    val t = "graft_autochunk_fp"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
          (pmod(xxhash64(col("id")), lit(100L)).cast("double") / 7.0).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      // the rewrite re-associates addition, so a Float/Double sum must
      // NOT be touched — an optimizer rule can never change an answer,
      // even in ulps. FP sums have no opt-in: setting the old allowFloat
      // key changes nothing.
      assert(!chunked(runSum(t)), "double sum must stay plain")
      withConfs("spark.graft.autoChunk.allowFloat" -> "true") {
        assert(!chunked(runSum(t)),
          "double sum must stay plain even with allowFloat=true set")
      }
      // min/max never re-combine values — they fire on doubles regardless
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mx = spark.table(t).withColumn("run", max(col("v")).over(w))
      assert(chunked(mx), "double max must still fire")
    }
  }

  test("does NOT fire: no stats; unproven decimal running sum") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000") {
      // stats-less view: no fire
      spark.range(10000L).select(pmod(col("id"), lit(2L)).as("k"),
          col("id").as("o"), col("id").as("v"))
        .createOrReplaceTempView("autochunk_nostats")
      assert(!chunked(spark.sql(
        """SELECT k, o, sum(v) OVER (PARTITION BY k ORDER BY o
          |ROWS UNBOUNDED PRECEDING) AS run FROM autochunk_nostats""".stripMargin)))
      // stats present, but non-matching shapes must stay plain
      // (RANGE sliding frames now FIRE via the ord-block arm — their
      // no-fire edges, mixing and frame-spans-the-data, live in the
      // RANGE-sliding test; DESC NULLS LAST fires since r13 — its
      // parity lives in the DESC-mirror test)
      val t = spark.table(avgHotTable)
      // (ASC NULLS LAST / DESC NULLS FIRST fire since r14 — count/
      // position parity lives in the DESC-mirror test; the anchor kinds
      // fire off-default since r15 with their own parity test)
      // decimal over a CAST argument: no column stats on the expression,
      // so the decimalExact overflow proof can't hold -> plain (the
      // proven-attribute decimal arm has its own test below)
      val dec = t.withColumn("run",
        sum(col("v").cast("decimal(18,2)")).over(
          Window.partitionBy(col("k")).orderBy(col("o"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(!chunked(dec), "unproven decimal sum must not fire")
    }
  }

  test("mixed running + RANGE sliding in ONE node fires and stays exact " +
      "(ADVICE r12 high: rslide legs must not reach the chunk aggregate)") {
    import org.apache.spark.sql.expressions.Window
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val wb = Window.partitionBy(col("k")).orderBy(col("o"))
      // Spark collapses same-(partition, order) windows with different
      // frames into ONE node — exactly the shape sum() running + sum()
      // RANGE-sliding produces. Before the r13 fix this built
      // Max(<AggregateExpression>) inside the totals Aggregate and
      // emitted a bogus Greatest alias that shadowed the ord-block one.
      def q = spark.table(avgHotTable)
        .withColumn("rs", sum(col("v")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("roll", sum(col("v")).over(wb.rangeBetween(-100, 0)))
        .withColumn("rn", row_number().over(wb))
      assert(chunked(q),
        s"mixed running+RANGE node must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want,
        "mixed running+RANGE rewrite changed the answer")
      // count/min running variants mixed with a centered RANGE frame
      def q2 = spark.table(avgHotTable)
        .withColumn("rc", count(col("v")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rm", min(col("v")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("roll", max(col("v")).over(wb.rangeBetween(-60, 40)))
      assert(chunked(q2), "running count/min + centered RANGE must fire")
      var want2: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want2 = q2.collect().toSet
      }
      assert(q2.collect().toSet == want2,
        "running+centered-RANGE rewrite changed the answer")
    }
  }

  test("ORDER BY timestamp fires — UnixMicros maps the ord to the stats' " +
      "unit (VERDICT r12 #3)") {
    import org.apache.spark.sql.expressions.Window
    val t = "graft_autochunk_ts"
    freshTable(t) {
      // event times with sub-second spread; every 7th value NULL keeps
      // the null discipline in play. NOTE: no null ord here — a NULL
      // timestamp is legal (chunk 0) but kept for the dedicated check.
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          timestamp_millis(lit(1704060000000L) + col("id") * 137L).as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      val wb = Window.partitionBy(col("k")).orderBy(col("o"))
      val wr = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the query people actually write: running spend ORDER BY ts —
      // plus the navigation/sequence arms over the same timestamp ord
      def q = spark.table(t)
        .withColumn("run", sum(col("v")).over(wr))
        .withColumn("rn", row_number().over(wb))
        .withColumn("prev", lag(col("v"), 1).over(wb))
      assert(chunked(q),
        s"timestamp ord must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "timestamp-ord rewrite changed the answer")
      // NULL timestamps sort first and land in chunk 0 — parity holds
      val tn = "graft_autochunk_ts_null"
      freshTable(tn) {
        spark.range(10000L).select(
            pmod(col("id"), lit(2L)).as("k"),
            when(col("id") % 11 === 0, lit(null).cast("timestamp"))
              .otherwise(timestamp_millis(lit(1704060000000L) + col("id") * 137L))
              .as("o"),
            pmod(xxhash64(col("id")), lit(100L)).as("v"))
          .write.saveAsTable(tn)
        spark.sql(s"ANALYZE TABLE $tn COMPUTE STATISTICS FOR COLUMNS k, o")
      }
      def qn = spark.table(tn).withColumn("run", sum(col("v")).over(wr))
      assert(chunked(qn), "null-bearing timestamp ord must still fire")
      var wantN: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantN = qn.collect().toSet
      }
      assert(qn.collect().toSet == wantN,
        "null-timestamp rewrite changed the answer")
      // the arms COMPOSE: row_number over the timestamp DESC — the
      // verbatim latest-record labeling — fires and stays identical
      def qd = spark.table(t).withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("o").desc)))
      assert(chunked(qd), "DESC timestamp row_number must fire")
      var wantD: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantD = qd.collect().toSet
      }
      assert(qd.collect().toSet == wantD,
        "DESC-timestamp rewrite changed the answer")
      // ...but the FILTERED spelling (rn = 1) belongs to Spark's own
      // InferWindowGroupLimit, whose exec prunes per key MAP-SIDE before
      // any exchange — the rule must stay out (explicit child guard) and
      // leave the group-limit plan intact
      val filtered = qd.filter(col("rn") === 1)
      val fp = filtered.queryExecution.optimizedPlan.toString
      assert(!fp.contains("__graft_chunk"),
        s"rule must not fire on a WindowGroupLimit child:\n$fp")
      assert(fp.contains("WindowGroupLimit"),
        s"Spark's group-limit rewrite should own the rank filter:\n$fp")
      // a timestamp-ord RANGE frame takes CalendarInterval bounds — the
      // node must stay plain (the interval literal fails boundedRange)
      val ri = spark.sql(
        s"""SELECT k, o, sum(v) OVER (PARTITION BY k ORDER BY o
           |RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS r
           |FROM $t""".stripMargin)
      assert(!chunked(ri), "interval RANGE over timestamp ord must stay plain")
    }
  }

  test("first_value fires via the struct(ord, v) leg — both directions, " +
      "null ords/values; IGNORE NULLS fires via the masked leg (r14); " +
      "unorderable values stay plain") {
    import org.apache.spark.sql.expressions.Window
    // EXACTLY one null ord per key (ids 0 and 1): the serial first row
    // under ASC NULLS FIRST is then DETERMINISTIC — with several tied
    // first ords the serial pick is nondeterministic-within-peers (the
    // row_number situation) and no exact-set assertion is possible.
    // Null values elsewhere: respect-nulls must CARRY them (k=0's first
    // row has v null: id 0 is divisible by 7).
    val t = "graft_autochunk_first"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          when(col("id") < 2, lit(null).cast("long"))
            .otherwise(col("id")).as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      for (descDir <- Seq(false, true)) {
        val wb = Window.partitionBy(col("k"))
          .orderBy(if (descDir) col("o").desc else col("o"))
        // first_value + a running sum in ONE node — the struct leg rides
        // the same chunk join as the sum leg
        def q = spark.table(t)
          .withColumn("fv", first_value(col("v")).over(wb))
          .withColumn("rs", sum(col("v")).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        assert(chunked(q),
          s"first_value (desc=$descDir) must fire:\n${q.queryExecution.optimizedPlan}")
        var want: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          want = q.collect().toSet
        }
        assert(q.collect().toSet == want,
          s"first_value (desc=$descDir) rewrite changed the answer")
      }
      // IGNORE NULLS (r14, VERDICT r13 #5): first_value/last_value with
      // null-v rows masked out of the struct leg — fires in both
      // directions and stays value-identical. last_value(v, true) over
      // the running frame IS forward fill — the imputation idiom.
      for (descDir <- Seq(false, true)) {
        val wb = Window.partitionBy(col("k"))
          .orderBy(if (descDir) col("o").desc else col("o"))
        def ign = spark.table(t)
          .withColumn("fnn", first_value(col("v"), lit(true)).over(wb))
          .withColumn("ffill", last(col("v"), ignoreNulls = true).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        assert(chunked(ign),
          s"IGNORE NULLS (desc=$descDir) must fire:\n${ign.queryExecution.optimizedPlan}")
        var wantIg: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantIg = ign.collect().toSet
        }
        assert(ign.collect().toSet == wantIg,
          s"IGNORE NULLS (desc=$descDir) rewrite changed the answer")
      }
      // unorderable value type (map): a struct field must sort — plain
      val m = spark.table(t).withColumn("fv",
        first_value(map(col("k"), col("v"))).over(
          Window.partitionBy(col("k")).orderBy(col("o"))))
      assert(!chunked(m), "first_value of an unorderable type must stay plain")
    }
  }

  test("DECIMAL running sum fires under the overflow proof, exact; " +
      "unproven/oversized decimals stay plain (VERDICT r12 #6)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // money fixture: DECIMAL(12,2) in [-500.00, 499.99], 10k rows ->
    // every partial sum bounded by 1e4 * 500 = 5e6 << 10^(22-2)/2 —
    // the proof holds with orders of magnitude to spare
    val t = "graft_autochunk_dec"
    freshTable(t) {
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
          when(col("id") % 7 === 0, lit(null).cast("decimal(12,2)"))
            .otherwise(((pmod(xxhash64(col("id")), lit(100000L)) - 50000L)
              .cast("decimal(12,2)") / 100).cast("decimal(12,2)")).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o, v")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = spark.table(t).withColumn("run", sum(col("v")).over(w))
      assert(chunked(q),
        s"proven decimal sum must fire:\n${q.queryExecution.optimizedPlan}")
      // the alias must keep the serial window's result type exactly
      assert(q.schema("run").dataType.simpleString == "decimal(22,2)",
        s"result type drifted: ${q.schema("run").dataType}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "decimal rewrite changed the answer")
      // decimal sum mixed with min/count in one node — all decompose
      def q2 = spark.table(t)
        .withColumn("rs", sum(col("v")).over(w))
        .withColumn("rm", min(col("v")).over(w))
        .withColumn("rc", count(col("v")).over(w))
      assert(chunked(q2), "decimal multi-expression node must fire")
      var want2: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want2 = q2.collect().toSet
      }
      assert(q2.collect().toSet == want2,
        "decimal multi-expression rewrite changed the answer")
      // no v stats -> no overflow proof -> plain
      val noStats = "graft_autochunk_dec_nostats"
      freshTable(noStats) {
        spark.range(10000L).select(
            pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
            (col("id") % 100).cast("decimal(12,2)").as("v"))
          .write.saveAsTable(noStats)
        spark.sql(s"ANALYZE TABLE $noStats COMPUTE STATISTICS FOR COLUMNS k, o")
      }
      assert(!chunked(spark.table(noStats)
          .withColumn("run", sum(col("v")).over(w))),
        "decimal sum without value stats must stay plain")
      // stats present but the bound fails: DECIMAL(38,0) clamps the
      // result precision at 38, so values ~1e35 x 10k rows overflow the
      // 10^38 capacity with no headroom left
      val big = "graft_autochunk_dec_big"
      freshTable(big) {
        spark.range(10000L).select(
            pmod(col("id"), lit(2L)).as("k"), col("id").as("o"),
            (lit(new java.math.BigDecimal("1" + "0" * 35)) +
              pmod(col("id"), lit(7L)).cast("decimal(38,0)")).cast("decimal(38,0)").as("v"))
          .write.saveAsTable(big)
        spark.sql(s"ANALYZE TABLE $big COMPUTE STATISTICS FOR COLUMNS k, o, v")
      }
      assert(!chunked(spark.table(big)
          .withColumn("run", sum(col("v")).over(w))),
        "a decimal sum that can overflow the headroom must stay plain")
      // decimal AVG stays plain (Average's decimal division is not
      // replayed by the integral sum/count decomposition)
      assert(!chunked(spark.table(t)
          .withColumn("run", avg(col("v")).over(w))),
        "decimal avg must stay plain")
    }
  }

  test("no-catalog-stats arms: bare parquet fires via the one-scan census " +
      "— global (VERDICT r13 #4) and keyed via the sketch probe (r15, " +
      "VERDICT r14 #1); sub-threshold relations stay plain") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_census").toString
    // bare parquet, NEVER analyzed: rowCount/colStats absent by
    // construction — the exact state of every pipeline that skips ANALYZE
    spark.range(20000L).select(
        pmod(col("id"), lit(4L)).as("k"), col("id").as("o"),
        when(col("id") % 7 === 0, lit(null).cast("long"))
          .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
      .write.mode("overwrite").parquet(dir)
    def t = spark.read.parquet(dir)
    val wg = Window.orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      // global running sum + row_number + avg in one node: the census
      // provides the row count, the ord range AND the avg 2^53 proof
      def q = t.withColumn("run", sum(col("v")).over(wg))
        .withColumn("rn", row_number().over(Window.orderBy(col("o"))))
        .withColumn("av", avg(col("v")).over(wg))
      assert(chunked(q),
        s"census global arm must fire on bare parquet:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "census rewrite changed the answer")
      // KEYED window on the same bare parquet (r15, VERDICT r14 #1):
      // the sketch probe in the census scan proves avg-hotness (4 keys
      // x 5000 rows vs perKeyRows=1000) — fires without ANALYZE
      def keyed = t.withColumn("run", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(chunked(keyed),
        s"keyed census probe must fire on bare parquet:\n${keyed.queryExecution.optimizedPlan}")
      var wantK: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantK = keyed.collect().toSet
      }
      assert(keyed.collect().toSet == wantK,
        "keyed census rewrite changed the answer")
      // size threshold not met -> plain (no census job either)
      withConfs("spark.graft.autoChunk.censusMinBytes" -> "1099511627776") {
        assert(!chunked(t.withColumn("run", sum(col("v")).over(wg))),
          "sub-threshold relations must stay plain")
      }
    }
  }

  test("keyed census heavy-hitter signal: one key holding >= hotShare " +
      "fires even when the AVERAGE key is cold; a uniform key space with " +
      "a cold average stays plain (r15, VERDICT r14 #1)") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_hotkey").toString
    // 20k rows: 60% land on key 0, the rest spread over ~8000 distinct
    // keys — rows/ndv ~ 2.5, so the avg-hot signal CANNOT fire under
    // perKeyRows=1e6 and ONLY the ApproxTopK heavy-hitter estimate can
    // (key 0's share 0.6 >= the 0.2 HotShare). This is THE latest-record-
    // per-hot-key ingest shape on bare, never-ANALYZEd parquet.
    spark.range(20000L).select(
        when(col("id") % 10 < 6, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("o"),
        pmod(xxhash64(col("id")), lit(100L)).as("v"))
      .write.mode("overwrite").parquet(dir)
    def t = spark.read.parquet(dir)
    def w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = t.withColumn("run", sum(col("v")).over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("o"))))
      assert(chunked(q),
        s"heavy-hitter probe must fire:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want,
        "heavy-hitter keyed rewrite changed the answer")
      // the FULL-FRAME arm rides the same keyed probe: the per-group
      // total on bare parquet rewrites to Aggregate + join-back with no
      // surviving Window node
      def qf = t.withColumn("tot", sum(col("v")).over(
        Window.partitionBy(col("k"))))
      assert(qf.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.isEmpty,
        s"full-frame keyed census must fire:\n${qf.queryExecution.optimizedPlan}")
      var wantT: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantT = qf.collect().toSet
      }
      assert(qf.collect().toSet == wantT,
        "full-frame keyed census rewrite changed the answer")
      // uniform keys, cold average: NEITHER signal may fire — the probe
      // must not hallucinate hotness on an even distribution
      val dir2 = java.nio.file.Files.createTempDirectory("graft_unif").toString
      spark.range(20000L).select(col("id").as("k"), col("id").as("o"),
          lit(1L).as("v"))
        .write.mode("overwrite").parquet(dir2)
      val q2 = spark.read.parquet(dir2)
        .withColumn("run", sum(col("v")).over(w))
      assert(!chunked(q2),
        "uniform keys with a cold average must stay plain")
    }
  }

  test("the ANALYZE path stays primary: a stats-bearing keyed table fires " +
      "via catalogGate with ZERO census scans even when the keyed probe " +
      "is enabled (r15, the VERDICT r14 #1 'keep ANALYZE primary' pin)") {
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1", // census WOULD be allowed
      "spark.graft.autoChunk.chunks" -> "8") {
      val r0 = AutoChunkWindow.censusRuns.get
      val df = runSum(avgHotTable)
      assert(chunked(df), "catalog stats must fire the rewrite")
      assert(AutoChunkWindow.censusRuns.get == r0,
        "catalog stats decided — the probe must not launch a census scan")
    }
  }

  test("derived-EXPRESSION windows fire via the census: PARTITION BY and " +
      "ORDER BY expressions arrive as extracted _w0 projections, which " +
      "catalog stats can never cover but the one-scan census can — " +
      "timestamp ord included (r15 pin)") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_expr").toString
    // bare parquet with a raw timestamp and a wide id: the query below
    // partitions by an EXPRESSION of id and orders by a TIMESTAMP — the
    // analyzer projects both as _w0-style attributes below the Window,
    // so no ANALYZE could ever gate them; the census proves the range
    // in the stats unit (epoch micros) and the sketch probe the hotness
    spark.range(20000L).select(
        col("id"),
        org.apache.spark.sql.functions.timestamp_micros(
          col("id") * 1000000L + 1600000000000000L).as("ts"),
        pmod(xxhash64(col("id")), lit(100L)).as("v"))
      .write.mode("overwrite").parquet(dir)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = spark.read.parquet(dir)
        .withColumn("run", sum(col("v")).over(
          Window.partitionBy(pmod(col("id"), lit(4L)))
            .orderBy(col("ts"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(chunked(q),
        s"derived-expression window must fire via census:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want,
        "derived-expression census rewrite changed the answer")
    }
  }

  test("census cache freshness: per-plan caching, invalidateCensus() and " +
      "an expired censusTtlSec each force a re-census; defaults keep the " +
      "JVM-lifetime cache (VERDICT r14 #3)") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    spark.range(15000L).select(col("id").as("o"),
        pmod(col("id"), lit(97L)).as("v"))
      .write.mode("overwrite").parquet(dir)
    def t = spark.read.parquet(dir)
    val wg = Window.orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = t.withColumn("run", sum(col("v")).over(wg))
      AutoChunkWindow.invalidateCensus()
      val r0 = AutoChunkWindow.censusRuns.get
      assert(chunked(q))
      assert(AutoChunkWindow.censusRuns.get == r0 + 1,
        "first planning must census once")
      assert(chunked(q))
      assert(AutoChunkWindow.censusRuns.get == r0 + 1,
        "same plan: the cache must answer without a scan")
      AutoChunkWindow.invalidateCensus()
      assert(chunked(q))
      assert(AutoChunkWindow.censusRuns.get == r0 + 2,
        "invalidateCensus() must force a re-census on next planning")
    }
  }

  test("census over a double ord containing NaN must not crash planning — " +
      "the window stays plain and still answers (ADVICE r14, medium)") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_nan").toString
    // Spark's max() over doubles treats NaN as greatest, so the census
    // collects max(o) = NaN — the r14 statBigDecimal(BigDecimal(NaN))
    // threw NumberFormatException INSIDE the optimizer; the r15 stance
    // is None -> unprovable range -> plain window
    spark.range(5000L).select(
        when(col("id") === 0, lit(Double.NaN))
          .otherwise(col("id").cast("double")).as("o"),
        lit(1L).as("v"))
      .write.mode("overwrite").parquet(dir)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1") {
      val q = spark.read.parquet(dir)
        .withColumn("run", sum(col("v")).over(Window.orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(!chunked(q),
        "a non-finite censused ord range must leave the window plain")
      assert(q.collect().length == 5000, "the plain plan must still run")
    }
  }

  test("rank family fires: rank/dense_rank/percent_rank/cume_dist exact " +
      "under heavy ties and null ords, both directions; ntile exact on " +
      "unique ords (r14)") {
    import org.apache.spark.sql.expressions.Window
    val t = "graft_autochunk_rankfam"
    freshTable(t) {
      // 300 distinct ord values over 10k rows = heavy ties, plus a null
      // peer group (every 11th row): rank/dense/percent/cume are
      // tie-DETERMINISTIC, so exact set equality must hold
      spark.range(10000L).select(
          pmod(col("id"), lit(2L)).as("k"),
          when(col("id") % 11 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(300L))).as("o"),
          col("id").as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o, v")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.chunks" -> "8") {
      for (descDir <- Seq(false, true)) {
        val wb = Window.partitionBy(col("k"))
          .orderBy(if (descDir) col("o").desc else col("o"))
        def q = spark.table(t)
          .withColumn("rk", rank().over(wb))
          .withColumn("dr", dense_rank().over(wb))
          .withColumn("pr", percent_rank().over(wb))
          .withColumn("cd", cume_dist().over(wb))
        assert(chunked(q),
          s"rank family (desc=$descDir) must fire:\n${q.queryExecution.optimizedPlan}")
        var want: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          want = q.collect().toSet
        }
        assert(q.collect().toSet == want,
          s"rank family (desc=$descDir) rewrite changed the answer")
      }
      // ntile is POSITION-based (nondeterministic within peers, like
      // row_number) — assert exactness on the unique ord, where the
      // serial answer is well-defined
      val wv = Window.partitionBy(col("k")).orderBy(col("v"))
      def qn = spark.table(t).withColumn("nt", ntile(7).over(wv))
        .withColumn("rn", row_number().over(wv))
      assert(chunked(qn),
        s"ntile must fire:\n${qn.queryExecution.optimizedPlan}")
      var wantN: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        wantN = qn.collect().toSet
      }
      assert(qn.collect().toSet == wantN, "ntile rewrite changed the answer")
    }
  }

  test("FULL-FRAME arm: agg OVER (PARTITION BY k) / OVER () rewrites to " +
      "Aggregate + join-back — keyed via stats, grand total via census; " +
      "gated kinds stay plain (r14)") {
    import org.apache.spark.sql.expressions.Window
    val t = "graft_autochunk_full"
    freshTable(t) {
      // NULL partition keys included: they must survive as an ordinary
      // group through the struct join
      spark.range(10000L).select(
          when(col("id") % 17 === 0, lit(null).cast("long"))
            .otherwise(pmod(col("id"), lit(2L))).as("k"),
          col("id").as("o"),
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o, v")
    }
    def windowless(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000") {
      val wk = Window.partitionBy(col("k"))
      def q = spark.table(t)
        .withColumn("tot", sum(col("v")).over(wk))
        .withColumn("n", count(col("v")).over(wk))
        .withColumn("hi", max(col("v")).over(wk))
        .withColumn("av", avg(col("v")).over(wk))
      assert(chunked(q) || q.queryExecution.optimizedPlan.toString
          .contains("__graft_full"),
        s"full-frame node must fire:\n${q.queryExecution.optimizedPlan}")
      assert(windowless(q), "the rewrite must eliminate the Window node")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "full-frame rewrite changed the answer")
      // the ordered-but-unbounded spelling is the same value and fires
      val qo = spark.table(t).withColumn("tot", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      assert(windowless(qo), "explicit UNBOUNDED..UNBOUNDED must fire")
      // grand total on BARE PARQUET via the census (the `X OVER ()`
      // idiom this round swept out of the registry by hand)
      val dir = java.nio.file.Files.createTempDirectory("graft_full").toString
      spark.table(t).write.mode("overwrite").parquet(dir)
      withConfs("spark.graft.autoChunk.censusMinBytes" -> "1") {
        def g = spark.read.parquet(dir)
          .withColumn("tot", sum(col("v")).over(Window.partitionBy()))
        assert(windowless(g),
          s"grand total must fire via census:\n${g.queryExecution.optimizedPlan}")
        var wantG: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantG = g.collect().toSet
        }
        assert(g.collect().toSet == wantG, "grand-total rewrite changed the answer")
      }
      // gated kind: a double sum stays plain
      val fp = spark.table(t).withColumn("tot",
        sum(col("v").cast("double")).over(wk))
      assert(!windowless(fp), "FP full-frame sum must stay plain")
      // ANCHOR kinds over the full frame (r14): first/last value — and
      // the IGNORE NULLS forms — ride struct legs inside the aggregate;
      // "the final value per key on every row" with no per-key task
      for (descDir <- Seq(false, true)) {
        val wo = Window.partitionBy(col("k"))
          .orderBy(if (descDir) col("o").desc else col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        def anchor = spark.table(t)
          .withColumn("fv", first_value(col("v")).over(wo))
          .withColumn("lv", last(col("v")).over(wo))
          .withColumn("lnn", last(col("v"), ignoreNulls = true).over(wo))
        assert(windowless(anchor),
          s"anchor kinds (desc=$descDir) must fire:\n${anchor.queryExecution.optimizedPlan}")
        var wantA: Set[org.apache.spark.sql.Row] = null
        withConfs("spark.graft.autoChunk.enabled" -> "false") {
          wantA = anchor.collect().toSet
        }
        assert(anchor.collect().toSet == wantA,
          s"anchor rewrite (desc=$descDir) changed the answer")
      }
      // off-default placements fire since r15 — parity lives in the
      // dedicated "anchor kinds fire on OFF-DEFAULT placements" test
      // (singleton null peer groups make the set compare deterministic)
    }
  }

  test("census arm fires on a DERIVED AGGREGATE child — the entity-ranked " +
      "histogram shape decomposes end to end (VERDICT r13 #3)") {
    // the exact shape the Lorenz/Gini/Pareto/RFM rows produce after the
    // r14 sweep: a per-entity aggregate, then globalRankByValue whose
    // only global window rides the value histogram. Derived aggregates
    // never carry catalog stats — the census is the ONLY gate that can
    // prove hotness here, and it must execute the aggregate child
    // mid-optimization without recursing.
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      val perUser = spark.range(40000L)
        .select(pmod(xxhash64(col("id")), lit(8000L)).as("u"),
          pmod(xxhash64(col("id"), lit(5)), lit(1000L)).as("c"))
        .groupBy(col("u")).agg(sum(col("c")).as("cents"))
      def q = graft.operators.Skew.globalRankByValue(
        perUser, "cents", "u", "r", cumCol = Some("cum"))
      assert(chunked(q),
        s"the histogram prefix window must chunk via census:\n${q.queryExecution.optimizedPlan}")
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want,
        "census rewrite over the aggregate child changed the answer")
    }
  }

  test("HOT-KEY SPLIT (r16, VERDICT r15 #1): a heavy-hitter census fire " +
      "routes only the proven-hot keys through chunks, the lukewarm tail " +
      "through the ORIGINAL plain window — Union plan, identical answers, " +
      "hotSplit=false reverts to whole-relation chunking") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toString
    // the ingest straggler shape: 60% of 20k rows on key 0, the rest
    // spread over ~8000 distinct keys — avg-cold, heavy-hitter-hot, so
    // the ONLY fire signal is the ApproxTopK sketch, which also names
    // key 0's hash for the split
    spark.range(20000L).select(
        when(col("id") % 10 < 6, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("o"),
        when(col("id") % 7 === 0, lit(null).cast("long"))
          .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
      .write.mode("overwrite").parquet(dir)
    def t = spark.read.parquet(dir)
    def w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000000", // avg signal OFF
      "spark.graft.autoChunk.hotSplitMinRows" -> "5000", // key 0: ~12000
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      def q = t.withColumn("run", sum(col("v")).over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("o"))))
      val plan = q.queryExecution.optimizedPlan
      // shape: one Union; a chunked leg (struct-key window machinery) and
      // a PLAIN tail leg — a Window over the ORIGINAL key whose aliases
      // carry the __graft_chunk_tail marker (the fixed-point guard)
      assert(plan.collect {
          case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
        }.length == 1,
        s"hot split must emit exactly one Union:\n$plan")
      assert(plan.toString.contains("__graft_chunk_sk"),
        s"the hot leg must be the chunk decomposition:\n$plan")
      val tails = plan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(
              _.name.startsWith("__graft_chunk_tail")) => wn
      }
      assert(tails.length == 1,
        s"the tail leg must be ONE plain window with marker aliases:\n$plan")
      assert(tails.head.partitionSpec.exists {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name == "k"
          case _ => false
        }, "the tail window must keep the ORIGINAL partition key")
      // answer-neutral: every key lands whole on exactly one exact leg
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "hot-key split changed the answer")
      // no key reaches hotSplitMinRows: whole-relation chunking, no Union
      // (the r15 shape)
      withConfs("spark.graft.autoChunk.hotSplitMinRows" -> Long.MaxValue.toString) {
        val p2 = q.queryExecution.optimizedPlan
        assert(p2.collect {
            case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
          }.isEmpty && p2.toString.contains("__graft_chunk"),
          s"hotSplitMinRows=Long.MaxValue must chunk the whole relation:\n$p2")
        assert(q.collect().toSet == want,
          "whole-relation chunking changed the answer")
      }
    }
  }

  test("catalog tri-state (r16, ADVICE r15 medium): complete ANALYZE stats " +
      "that decide NOT-HOT suppress the census — no planning-time scan for " +
      "a question the catalog already answered") {
    val t = "graft_autochunk_cold"
    freshTable(t) {
      // 10k rows over 10k distinct keys: rowCount + ndv present and
      // conclusively cold (avg 1 row/key against perKeyRows = 1000)
      spark.range(10000L).select(col("id").as("k"), col("id").as("o"),
          lit(1L).as("v"))
        .write.saveAsTable(t)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1") { // census WOULD be allowed
      AutoChunkWindow.invalidateCensus()
      val r0 = AutoChunkWindow.censusRuns.get
      val df = runSum(t)
      assert(!chunked(df), "a catalog-cold table must stay plain")
      df.queryExecution.optimizedPlan // force planning
      assert(AutoChunkWindow.censusRuns.get == r0,
        "catalog stats decided not-hot — the census must not launch")
    }
  }

  test("census cache eviction (r16, VERDICT r15 #2): past censusCacheMax " +
      "the OLDEST entry is evicted, not the whole cache — no re-census " +
      "storm on overflow") {
    import org.apache.spark.sql.expressions.Window
    val dirs = (0 until 3).map { i =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_lru$i").toString
      spark.range(2000L + i).select(col("id").as("o"), lit(1L).as("v"))
        .write.mode("overwrite").parquet(d)
      d
    }
    def q(i: Int) = spark.read.parquet(dirs(i)).withColumn("run",
      sum(col("v")).over(Window.orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.censusCacheMax" -> "2") {
      AutoChunkWindow.invalidateCensus()
      val r0 = AutoChunkWindow.censusRuns.get
      q(0).queryExecution.optimizedPlan
      q(1).queryExecution.optimizedPlan
      q(2).queryExecution.optimizedPlan // overflow: evicts the OLDEST (0)
      assert(AutoChunkWindow.censusRuns.get == r0 + 3,
        "three distinct plans census once each")
      q(2).queryExecution.optimizedPlan
      q(1).queryExecution.optimizedPlan
      assert(AutoChunkWindow.censusRuns.get == r0 + 3,
        "entries 1 and 2 must SURVIVE the overflow — eviction is " +
          "oldest-only, not clear-all")
      q(0).queryExecution.optimizedPlan
      assert(AutoChunkWindow.censusRuns.get == r0 + 4,
        "the evicted oldest entry re-censuses on next planning")
    }
  }

  test("injectOptimizerRule path: the PRE-InferWindowGroupLimit rank-limit " +
      "shape stays plain while running windows still chunk (ADVICE r13)") {
    import org.apache.spark.sql.expressions.Window
    // bare parquet + the census arm: self-contained in the fresh session
    // (a second session over the same context does NOT share the
    // in-memory catalog), and the sharpest guard probe — absent the
    // guard, the census arm WOULD fire on the global rn=1 shape
    val dir = java.nio.file.Files.createTempDirectory("graft_inject").toString
    spark.range(20000L).select(
        pmod(col("id"), lit(4L)).as("k"), col("id").as("o"),
        pmod(xxhash64(col("id")), lit(100L)).as("v"))
      .write.mode("overwrite").parquet(dir)
    val oldDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    val oldActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    // a FRESH session over the same context, extensions injected the
    // production way — the rule now runs in the operator-optimization
    // batches, BEFORE Spark's InferWindowGroupLimit
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    try {
      Seq("spark.graft.autoChunk.minRows" -> "1000",
        "spark.graft.autoChunk.perKeyRows" -> "1000",
        "spark.graft.autoChunk.censusMinBytes" -> "1",
        "spark.graft.autoChunk.chunks" -> "8")
        .foreach { case (k, v) => s2.conf.set(k, v) }
      def t = s2.read.parquet(dir)
      // sanity: the rule IS live on this path — a global running sum
      // chunks via the census arm
      val run = t.withColumn("run", sum(col("v")).over(
        Window.orderBy(col("o"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(run.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
        s"rule must fire via injectOptimizerRule:\n${run.queryExecution.optimizedPlan}")
      // the latest-record idiom: row_number() = 1 must be LEFT for
      // Spark's map-side group-limit prune, exactly as on the
      // extraOptimizations path (the r13 child guard alone was dead code
      // here — the rule used to chunk first and hide the shape)
      val latest = t
        .withColumn("rn", row_number().over(Window.orderBy(col("o").desc)))
        .filter(col("rn") === 1)
      val fp = latest.queryExecution.optimizedPlan.toString
      assert(!fp.contains("__graft_chunk"),
        s"rank-limit shape must stay plain on the inject path:\n$fp")
      // Spark's own prune owns the shape: WindowGroupLimit for keyed
      // rank filters; for the GLOBAL rn=1 form LimitPushDownThroughWindow
      // does even better — a map-side LocalLimit top-1 before the sort
      assert(fp.contains("WindowGroupLimit") || fp.contains("LocalLimit"),
        s"Spark's group-limit/limit-pushdown rewrite should own the rank filter:\n$fp")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      oldDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      oldActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
  }

  test("CATALOG hot-key split (r17, VERDICT r16 #2): an ANALYZE'd table " +
      "whose histogram names the heavy hitter plans the Union split " +
      "WITHOUT a census scan — same shape as the sketch path, identical " +
      "answers, hotSplit=false reverts to whole-relation chunking") {
    val t = "graft_autochunk_hist_split"
    freshTable(t) {
      withConfs("spark.sql.statistics.histogram.enabled" -> "true") {
        // key 0 holds 30% of 10k rows; ~7k other keys keep the average
        // tiny — avg-cold, histogram-hot: exactly the shape the census
        // path splits, here answered ENTIRELY from ANALYZE statistics
        spark.range(10000L).select(
            when(pmod(col("id"), lit(10L)) < 3, lit(0L))
              .otherwise(col("id")).as("k"),
            col("id").as("o"),
            when(col("id") % 7 === 0, lit(null).cast("long"))
              .otherwise(pmod(xxhash64(col("id")), lit(100L))).as("v"))
          .write.saveAsTable(t)
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS k, o")
      }
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000000", // avg signal OFF
      "spark.graft.autoChunk.hotSplitMinRows" -> "1000", // key 0: ~3000
      "spark.graft.autoChunk.censusMinBytes" -> "1", // census WOULD be allowed
      "spark.graft.autoChunk.chunks" -> "8") {
      AutoChunkWindow.invalidateCensus()
      val r0 = AutoChunkWindow.censusRuns.get
      def q = runSum(t)
      val plan = q.queryExecution.optimizedPlan
      // the catalog answered alone: NO planning-time scan launched
      assert(AutoChunkWindow.censusRuns.get == r0,
        "the histogram named the hot key — the census must not launch")
      // sketch-path shape parity: one Union, the chunked hot leg, ONE
      // plain tail Window keeping the ORIGINAL partition key
      assert(plan.collect {
          case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
        }.length == 1,
        s"catalog hot split must emit exactly one Union:\n$plan")
      assert(plan.toString.contains("__graft_chunk_sk"),
        s"the hot leg must be the chunk decomposition:\n$plan")
      val tails = plan.collect {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window
            if wn.windowExpressions.exists(
              _.name.startsWith("__graft_chunk_tail")) => wn
      }
      assert(tails.length == 1,
        s"the tail leg must be ONE plain window with marker aliases:\n$plan")
      assert(tails.head.partitionSpec.exists {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name == "k"
          case _ => false
        }, "the tail window must keep the ORIGINAL partition key")
      // answer-neutral: every key lands whole on exactly one exact leg
      var want: Set[org.apache.spark.sql.Row] = null
      withConfs("spark.graft.autoChunk.enabled" -> "false") {
        want = q.collect().toSet
      }
      assert(q.collect().toSet == want, "catalog hot split changed the answer")
      // no key reaches hotSplitMinRows: whole-relation chunking, no Union
      // (the r16 shape)
      withConfs("spark.graft.autoChunk.hotSplitMinRows" -> Long.MaxValue.toString) {
        val p2 = q.queryExecution.optimizedPlan
        assert(p2.collect {
            case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
          }.isEmpty && p2.toString.contains("__graft_chunk"),
          s"hotSplitMinRows=Long.MaxValue must chunk the whole relation:\n$p2")
        assert(q.collect().toSet == want,
          "whole-relation chunking changed the answer")
      }
      assert(AutoChunkWindow.censusRuns.get == r0,
        "no arm of this test may launch a census scan")
    }
  }

  test("split-plan ExprId insurance (r17, VERDICT r16 #8): EXTRA optimizer " +
      "passes over the Union split leave the legs independent — still one " +
      "Union, disjoint leg outputs, identical answers") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_split_xid").toString
    spark.range(20000L).select(
        when(col("id") % 10 < 6, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("o"),
        pmod(xxhash64(col("id")), lit(100L)).as("v"))
      .write.mode("overwrite").parquet(dir)
    def t = spark.read.parquet(dir)
    def w = Window.partitionBy(col("k")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withConfs(
      "spark.graft.autoChunk.minRows" -> "1000",
      "spark.graft.autoChunk.perKeyRows" -> "1000000",
      "spark.graft.autoChunk.hotSplitMinRows" -> "5000",
      "spark.graft.autoChunk.censusMinBytes" -> "1",
      "spark.graft.autoChunk.chunks" -> "8") {
      val q = t.withColumn("run", sum(col("v")).over(w))
      val p1 = q.queryExecution.optimizedPlan
      def unions(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collect {
          case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
        }
      assert(unions(p1).length == 1, s"split must fire:\n$p1")
      val want = q.collect().toSet
      // feed the ALREADY-OPTIMIZED split plan back through the full
      // analyze+optimize pipeline — the "later pass" scenario. The
      // fixed-point guard must not re-gate the tail (no nested Union),
      // re-resolution must not cross-wire the legs' attributes, and the
      // answer must hold.
      val q2 = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, p1)
      val p2 = q2.queryExecution.optimizedPlan
      val us = unions(p2)
      assert(us.length == 1,
        s"extra optimizer passes must keep exactly one Union:\n$p2")
      // the legs legitimately SHARE the leaf relation's attribute ids
      // (Union resolves children by position); the independence that must
      // survive is of the COMPUTED columns — each leg's window result has
      // its own ExprId, so a pass rewriting one leg cannot reach into the
      // other's expressions
      val leafIds = p2.collectLeaves().flatMap(_.output.map(_.exprId)).toSet
      val legOut = us.head.children.map(
        _.output.map(_.exprId).toSet.diff(leafIds))
      assert(legOut.forall(_.nonEmpty),
        s"each leg must carry its own computed window column:\n$p2")
      assert(legOut(0).intersect(legOut(1)).isEmpty,
        s"the legs' computed columns must stay ExprId-independent:\n$p2")
      assert(q2.collect().toSet == want,
        "re-optimizing the split plan changed the answer")
    }
  }
}
