package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Cross-batch sequence stitching: a pair spanning a micro-batch boundary
  * must emit exactly once (the ValueState the operator exists for), and a
  * batch's unordered per-key slice is folded in (ts_us, event_id) order. */
class TransitionsSpec extends SparkSpec {
  import Transitions.{Ev, Pair}

  test("pairs stitch across batches; in-batch disorder is sorted") {
    graft.GraftSession.withConfs(spark, graft.GraftSession.RocksDbState) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Ev]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-trans").toString
      val q = Transitions.pairs(ms.toDS()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("transitions_spec_t").option("checkpointLocation", ckpt).start()
      try {
        // batch 1, user 7 out of order in the slice (b@20 fed before a@10):
        // sorted fold must yield a->b, not b->a; equal-ts tie at 20 breaks
        // by event_id (b id=2 before c id=3)
        ms.addData(Ev(7L, "b", 20L, 2L), Ev(7L, "a", 10L, 1L), Ev(7L, "c", 20L, 3L))
        q.processAllAvailable()
        // batch 2: d@30 pairs with the STORED c (boundary stitch); user 9's
        // first-ever event emits nothing
        ms.addData(Ev(7L, "d", 30L, 4L), Ev(9L, "z", 5L, 5L))
        q.processAllAvailable()
        val got = spark.table("transitions_spec_t").as[Pair].collect()
          .sortBy(p => (p.user_id, p.from_type, p.to_type)).toSeq
        assert(got == Seq(Pair(7L, "a", "b"), Pair(7L, "b", "c"),
          Pair(7L, "c", "d")), got.toString)
      } finally q.stop()
    }
  }
}
