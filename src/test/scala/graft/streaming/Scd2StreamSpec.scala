package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming SCD2 changelog: change rows emit only on attribute
  * transitions, version counters survive micro-batch boundaries (the
  * ValueState continuity the operator exists for), and a batch's unordered
  * iterator is folded in (ts, id) order. */
class Scd2StreamSpec extends SparkSpec {
  import Scd2Stream.{Change, Ev}

  test("transitions emit once; state carries versions across batches") {
    graft.GraftSession.withConfs(spark, graft.GraftSession.RocksDbState) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Ev]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2s").toString
      val q = Scd2Stream.changes(ms.toDS()).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("scd2_spec_t").option("checkpointLocation", ckpt).start()
      try {
        // batch 1, deliberately out of order within the batch: A x@10 x@20 y@30
        ms.addData(Ev("A", 30L, "y", 3), Ev("A", 10L, "x", 1), Ev("A", 20L, "x", 2))
        q.processAllAvailable()
        // batch 2: y@40 continues the run (no emit), x@50 is version 3;
        // B starts fresh at version 1
        ms.addData(Ev("A", 40L, "y", 4), Ev("A", 50L, "x", 5), Ev("B", 15L, "z", 6))
        q.processAllAvailable()
        val got = spark.table("scd2_spec_t").as[Change].collect()
          .sortBy(c => (c.key, c.version)).toSeq
        assert(got == Seq(
          Change("A", "x", 10L, 1L), Change("A", "y", 30L, 2L),
          Change("A", "x", 50L, 3L), Change("B", "z", 15L, 1L)), got.toString)
      } finally q.stop()
    }
  }
}
