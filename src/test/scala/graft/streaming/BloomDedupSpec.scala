package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Sharded-bloom streaming dedup: first occurrence passes, cross-batch
  * re-sends drop, state is a fixed bitmap per shard regardless of input.
  * The exact-equality grading against batch dedup is stream_bloom_dedup's
  * oracle; these are the behavioral invariants. */
class BloomDedupSpec extends SparkSpec {
  import BloomDedup.Doc

  private def runDedup(batches: Seq[Seq[Doc]], nShards: Int = 8,
      mBits: Int = 1 << 14): (Seq[(Long, String)], Seq[Long]) = {
    graft.GraftSession.withConfs(spark, graft.GraftSession.RocksDbState) {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Doc]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-bloomdedup").toString
      val q = BloomDedup.dedup(ms.toDS(), nShards = nShards, mBits = mBits)
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName("bloom_dedup_spec_t").option("checkpointLocation", ckpt).start()
      val stateRows = try {
        batches.map { b =>
          ms.addData(b.toIndexedSeq)
          q.processAllAvailable()
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        }
      } finally q.stop()
      val out = spark.table("bloom_dedup_spec_t")
        .as[(Long, String)].collect().toSeq.sorted
      (out, stateRows)
    }
  }

  test("first occurrence passes; later batches' re-sends drop") {
    val b1 = (1 to 300).map(i => Doc(i.toLong, s"fp$i"))
    val b2 = (201 to 500).map(i => Doc(i.toLong + 1000, s"fp$i")) // 100 dups
    val b3 = (1 to 100).map(i => Doc(i.toLong + 2000, s"fp$i"))   // all dups
    val (out, _) = runDedup(Seq(b1, b2, b3))
    assert(out.map(_._2).distinct.size == out.size, "emitted a duplicate fp")
    assert(out.size == 500, s"expected 500 uniques, got ${out.size}")
    // first-wins: every kept doc_id is the FIRST carrier of its fp
    assert(out.forall { case (id, _) => id <= 2000 },
      "a re-sent copy was kept over the first occurrence")
  }

  test("state rows stay at the shard count — never grows with input") {
    val batches = (0 until 5).map(b =>
      (0 until 400).map(i => Doc((b * 400 + i).toLong, s"u${b * 400 + i}")))
    val (out, stateRows) = runDedup(batches, nShards = 8)
    assert(out.size == 2000)
    // one ValueState row per touched shard, forever
    assert(stateRows.last <= 8, s"state rows grew: $stateRows")
    assert(stateRows.distinct.size <= 2, s"state curve not flat: $stateRows")
  }

  test("positions replay the batch bloom family; params validated") {
    // JVM positions == Sketch.bloomPositions evaluated by Spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fps = Seq("alpha", "beta", "gamma")
    val sparkSide = fps.toDF("fp")
      .select(graft.operators.Sketch.bloomPositions(col("fp"), 4, 1 << 14, "bloom"))
      .as[Seq[Int]].collect()
    val jvmSide = fps.map(BloomDedup.positions(_, 4, 1 << 14, "bloom").toSeq)
    assert(sparkSide.toSeq.map(_.toSeq) == jvmSide)
    intercept[IllegalArgumentException] {
      BloomDedup.dedup(null.asInstanceOf[org.apache.spark.sql.Dataset[Doc]], nShards = 0)
    }
  }
}
