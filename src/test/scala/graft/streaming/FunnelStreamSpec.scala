package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming funnel: progress must survive micro-batch boundaries, the
  * window must gate advancement, and out-of-order step types must not
  * advance the state. */
class FunnelStreamSpec extends SparkSpec {
  import FunnelStream.{Ev, Reach}

  test("funnel state advances across batches; window and order gate it") {
    graft.GraftSession.withConfs(spark, graft.GraftSession.RocksDbState) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Ev]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sfun").toString
      val q = FunnelStream.reaches(ms.toDS(), Seq("signup", "view", "click"),
          windowSec = 100L).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("funnel_spec_t").option("checkpointLocation", ckpt).start()
      try {
        // batch 1: user 1 signs up; user 2 views FIRST (wrong order — no
        // reach), then signs up
        ms.addData(Ev(1L, "signup", 10_000000L, 1L),
          Ev(2L, "view", 5_000000L, 2L), Ev(2L, "signup", 8_000000L, 3L))
        q.processAllAvailable()
        // batch 2: user 1's view lands inside the window (cross-batch
        // advance); user 2's view is 200s after signup — outside the
        // 100s window, must NOT advance
        ms.addData(Ev(1L, "view", 50_000000L, 4L),
          Ev(2L, "view", 208_000000L, 5L))
        q.processAllAvailable()
        // batch 3: user 1 clicks (step 3); user 2 tries to click while
        // still stuck on step 1 — no reach
        ms.addData(Ev(1L, "click", 60_000000L, 6L),
          Ev(2L, "click", 209_000000L, 7L))
        q.processAllAvailable()
        val got = spark.table("funnel_spec_t").as[Reach].collect()
          .sortBy(r => (r.user_id, r.step)).toSeq
        assert(got == Seq(
          Reach(1L, 1, 10_000000L), Reach(1L, 2, 50_000000L),
          Reach(1L, 3, 60_000000L), Reach(2L, 1, 8_000000L)), got.toString)
      } finally q.stop()
    }
  }
}
