package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Streaming chunked running aggregate: per-batch results concatenate to
  * the batch window's answer for every agg, NULL keys/values follow the
  * window discipline, replay and restart recover from the stateDir
  * snapshots, and a real MemoryStream query drives the foreachBatch path
  * end to end. */
class ChunkedRunningSpec extends SparkSpec {
  import spark.implicits._

  /** 600 rows, 3 keys + every 7th key NULL, every 5th value NULL; ord is
    * globally unique and increasing, so slicing it into batches preserves
    * the per-key arrival-order contract. */
  private def fixture: Seq[(Option[Long], Long, Option[Long])] =
    (0L until 600L).map { i =>
      (if (i % 7 == 0) None else Some(i % 3),
        i,
        if (i % 5 == 0) None else Some(i % 97 - 48))
    }

  private def plain(df: DataFrame, agg: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      agg match {
        case "sum" => sum(_); case "min" => min(_)
        case "max" => max(_); case _ => count(_)
      }
    df.withColumn("run", fn(col("v")).over(
      Window.partitionBy(col("k")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def assertParity(got: DataFrame, want: DataFrame, label: String): Unit = {
    val g = got.select(col("k"), col("o"), col("run"))
    val w = want.select(col("k"), col("o"), col("run"))
    assert(g.count() == w.count(), s"$label: row count diverged")
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      s"$label: streaming chunked running diverges from the batch window")
  }

  test("3-batch parity with the batch window for sum/min/max/count, " +
      "NULL keys and values included") {
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      fixture.slice(0, 150), fixture.slice(150, 400), fixture.slice(400, 600))
    // chunks = 1 is the plain-window baseline mode (same cross-batch
    // offset mechanics, no intra-batch decomposition) — the soak pair's
    // A arm must be just as correct as the B arm
    for (agg <- Seq("sum", "min", "max", "count"); chunks <- Seq(1, 4)) {
      val captured = ArrayBuffer.empty[DataFrame]
      val fn = ChunkedRunning.foreachBatch("k", "o", "v", "run", agg, chunks) {
        (out, _) => captured += out.persist(); out.count(); ()
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        fn(b.toDF("k", "o", "v"), i.toLong)
      }
      val got = captured.reduce(_ unionAll _)
      assertParity(got, plain(all, agg), s"$agg/chunks=$chunks")
      captured.foreach(_.unpersist())
    }
  }

  test("stateDir: replayed batch recomputes against pre-batch offsets " +
      "(idempotent), fresh closure restarts from the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkrun").toString
    val all = fixture.toDF("k", "o", "v")
    val batches = Seq(
      fixture.slice(0, 200), fixture.slice(200, 450), fixture.slice(450, 600))
    val captured = scala.collection.mutable.Map.empty[Long, Seq[org.apache.spark.sql.Row]]
    def mkFn() = ChunkedRunning.foreachBatch(
        "k", "o", "v", "run", "sum", chunks = 4, stateDir = Some(dir)) {
      (out, id) =>
        captured(id) = out.select(col("k"), col("o"), col("run")).collect().toSeq
    }
    val fn = mkFn()
    fn(batches(0).toDF("k", "o", "v"), 0L)
    fn(batches(1).toDF("k", "o", "v"), 1L)
    val firstB1 = captured(1L)
    // replay batch 1 (foreachBatch's failure contract): same answer
    fn(batches(1).toDF("k", "o", "v"), 1L)
    assert(captured(1L).toSet == firstB1.toSet,
      "replayed batch diverged from its first run")
    // a stray off_* marker entry must be IGNORED by the regex-guarded
    // name parse, not crash the restart (ADVICE r11: the old
    // `drop(4).toLong` threw NumberFormatException on any such entry)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "off_tmp"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "off_9x"))
    // a FRESH closure (query restart) continues from the durable snapshot
    val fn2 = mkFn()
    fn2(batches(2).toDF("k", "o", "v"), 2L)
    val got = captured.values.flatten.toSeq
    val want = plain(all, "sum").select(col("k"), col("o"), col("run"))
      .collect().toSeq
    assert(got.size == want.size, s"got ${got.size} rows, want ${want.size}")
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap,
      "restart continuation diverged from the batch window")
  }

  test("chunks = 0 selects per batch: hot batches chunk, uniform batches " +
      "stay plain, answers identical either way") {
    // the r11 soak showed chunks = 32 costs ~34% wall on a small batch
    // even when 60%-hot — auto mode must pick the plain window there and
    // the decomposition only when one key's slice is big enough. The
    // sink observes the decision through the result plan (the chunked
    // path carries __graft_chunk; the plain path is a bare window).
    val plans = ArrayBuffer.empty[Boolean]
    val outs = ArrayBuffer.empty[DataFrame]
    val fn = ChunkedRunning.foreachBatch("k", "o", "v", "run", "sum",
        chunks = 0, autoHotRows = 200L, autoChunks = 4) { (out, _) =>
      plans += out.queryExecution.optimizedPlan.toString.contains("__graft_chunk")
      outs += out.persist(); out.count(); ()
    }
    // batch 0: 400 rows, key 0 holds 300 (>= 200) -> must chunk
    val hot = (0L until 400L).map(i =>
      (if (i % 4 < 3) 0L else i % 5 + 1, i, i % 17))
    // batch 1: 400 rows over 12 uniform keys (~34 each < 200) -> plain
    val uniform = (400L until 800L).map(i => (i % 12, i, i % 17))
    fn(hot.toDF("k", "o", "v"), 0L)
    fn(uniform.toDF("k", "o", "v"), 1L)
    assert(plans.toSeq == Seq(true, false),
      s"auto census decided ${plans.toSeq}, want chunked then plain")
    val got = outs.reduce(_ unionAll _)
    val want = plain((hot ++ uniform).toDF("k", "o", "v"), "sum")
    assert(got.select(col("k"), col("o"), col("run"))
      .exceptAll(want.select(col("k"), col("o"), col("run"))).isEmpty &&
      want.select(col("k"), col("o"), col("run"))
        .exceptAll(got.select(col("k"), col("o"), col("run"))).isEmpty,
      "auto-chunk run diverged from the batch window")
    outs.foreach(_.unpersist())
  }

  test("end-to-end: MemoryStream -> foreachBatch writer, parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    val results = ArrayBuffer.empty[org.apache.spark.sql.Row]
    val ms = MemoryStream[(Long, Long, Long)]
    val fn = ChunkedRunning.foreachBatch("k", "o", "v", "run", "sum", chunks = 4) {
      (out, _) =>
        results.synchronized {
          results ++= out.select(col("k"), col("o"), col("run")).collect()
        }
        ()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chunkrun-ms").toString
    val q = ms.toDF().toDF("k", "o", "v")
      .writeStream.foreachBatch(fn)
      .option("checkpointLocation", ckpt).start()
    val rows = (0L until 300L).map(i => (i % 2, i, i % 13))
    try {
      rows.grouped(100).foreach { c =>
        ms.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = results.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = plain(rows.toDF("k", "o", "v"), "sum")
      .select(col("k"), col("o"), col("run"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got.toSeq == want, "MemoryStream run diverged from the batch window")
  }

  test("auto HOT-KEY SPLIT (r17, VERDICT r16 #1): a heavy-hitter batch " +
      "routes only the hot key through chunks, the lukewarm tail through " +
      "the plain window — Union plan, cross-batch parity with the batch " +
      "window") {
    // 60%-hot shape in miniature: key 0 holds 300 of 500 rows per batch
    // (>= autoHotRows 200), ~40 lukewarm keys hold ~5 each (< 200) — the
    // stream_running_auto soak shape. NULL values keep the null
    // discipline honest.
    def mk(lo: Long, hi: Long): Seq[(Long, Long, Option[Long])] =
      (lo until hi).map { i =>
        (if (i % 5 < 3) 0L else i % 40 + 1, i,
          if (i % 11 == 0) None else Some(i % 17))
      }
    val plans = ArrayBuffer.empty[(Boolean, Boolean, Int)]
    val outs = ArrayBuffer.empty[DataFrame]
    val fn = ChunkedRunning.foreachBatch("k", "o", "v", "run", "sum",
        chunks = 0, autoHotRows = 200L, autoChunks = 4) { (out, _) =>
      val op = out.queryExecution.optimizedPlan
      plans += ((op.toString.contains("__graft_chunk"),
        op.toString.contains("Union"),
        op.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.length))
      outs += out.persist(); out.count(); ()
    }
    fn(mk(0L, 500L).toDF("k", "o", "v"), 0L)
    fn(mk(500L, 1000L).toDF("k", "o", "v"), 1L)
    plans.foreach { case (chunked, union, _) =>
      assert(chunked && union,
        s"each hot batch must SPLIT (chunk leg + Union), got $plans")
    }
    val got = outs.reduce(_ unionAll _)
    val want = plain(mk(0L, 1000L).toDF("k", "o", "v"), "sum")
    assertParity(got, want, "auto hot-split")
    outs.foreach(_.unpersist())
  }
}
