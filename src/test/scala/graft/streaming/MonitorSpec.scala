package graft.streaming

import graft.SparkSpec
import graft.streaming.SpendingPipeline.{Config, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Monitor captures real per-batch progress with a bounded buffer and
  * exposes it as a queryable DataFrame. */
class MonitorSpec extends SparkSpec {

  private def drainBus(deadlineMs: Long = 5000)(ready: => Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    while (!ready && System.currentTimeMillis() - t0 < deadlineMs) Thread.sleep(50)
  }

  test("captures per-batch input, state and watermark from a live query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mon = new Monitor().attach(spark)
    val ms = MemoryStream[String]
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily, Sink.Memory("monitor_spec"),
      Config(), "monitor_spec")
    val batches = 3
    val perBatch = 5000L
    try {
      (0 until batches).foreach { b =>
        val chunk = graft.sources.DataGen
          .transactionsJson(spark, perBatch, startId = b * perBatch)
          .collect().map(_.getString(0))
        ms.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      drainBus() {
        mon.batches.filter(_.query_name == "monitor_spec")
          .map(_.input_rows).sum >= batches * perBatch
      }
    } finally { q.stop(); mon.detach(spark) }

    val got = mon.batches.filter(b => b.query_name == "monitor_spec" && b.input_rows > 0)
    assert(got.map(_.input_rows).sum == batches * perBatch,
      s"captured ${got.map(_.input_rows).sum} input rows")
    assert(got.forall(_.state_rows > 0), "stateful query must report state rows")
    assert(got.last.watermark.nonEmpty, "watermark must be reported after batch 1")
    // the layer split is the query's own progress, batch for batch
    val progress = q.recentProgress.map(p => p.batchId -> p).toMap
    got.foreach { b =>
      val p = progress(b.batch_id)
      def ms(k: String): Long = p.durationMs.get(k).longValue
      assert((b.trigger_ms, b.add_batch_ms, b.wal_commit_ms, b.commit_offsets_ms) ==
        ((ms("triggerExecution"), ms("addBatch"), ms("walCommit"), ms("commitOffsets"))),
        s"batch ${b.batch_id}: $b vs ${p.durationMs}")
      assert(b.state_commit_ms == p.stateOperators.map(_.commitTimeMs).sum)
      assert(b.trigger_ms > 0 && b.add_batch_ms > 0, s"a data batch takes time: $b")
    }
    // and it is queryable with the engine itself
    val df = mon.toDF(spark).filter(col("query_name") === "monitor_spec")
    assert(df.agg(sum(col("input_rows"))).as[Long].head() >= batches * perBatch)
  }

  test("stateGrowthAlarm flags only monotone state growth over the lookback") {
    import spark.implicits._
    val mon = new Monitor()
    def feed(q: String, rows: Seq[Long]): Unit = rows.zipWithIndex.foreach {
      case (r, i) =>
        mon.record(Monitor.Batch(q, i.toLong, "", 10L, 1.0, r, r * 100, "", 0L, 0L, 0L, 0L, 0L))
    }
    // leaky: strictly climbing across every recent batch (no eviction)
    feed("leaky", Seq(100L, 200L, 300L, 400L, 500L, 600L))
    // healthy: grows then plateaus — eviction is keeping up
    feed("healthy", Seq(100L, 200L, 300L, 300L, 300L, 300L))
    // young: strictly climbing but fewer than lookback batches — not enough
    // evidence (every pipeline's first batches grow from zero)
    feed("young", Seq(100L, 200L, 300L))
    val got = mon.stateGrowthAlarm(spark, lookback = 5)
      .select("query_name", "from_rows", "to_rows")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("leaky", 200L, 600L)), s"got $got")
  }

  test("buffer is bounded: old batches evict past maxBatches") {
    val mon = new Monitor(maxBatches = 4)
    (0L until 10L).foreach(i =>
      mon.record(Monitor.Batch("q", i, "", 1L, 1.0, 0L, 0L, "", 0L, 0L, 0L, 0L, 0L)))
    assert(mon.batches.map(_.batch_id) == Seq(6L, 7L, 8L, 9L))
  }
}
