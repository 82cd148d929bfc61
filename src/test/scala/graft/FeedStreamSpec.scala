package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[SparkEntry.feedStream]], the harness the single-source graded stream
  * rows run on: one micro-batch per fed `Seq`, a restart that keeps the
  * checkpointed offsets AND state, and no query left running after a
  * failure. */
class FeedStreamSpec extends SparkSpec {
  import spark.implicits._

  test("each inner Seq arrives as exactly one micro-batch, in order") {
    val batches = Seq(Seq(1, 2, 3), Seq(4), Seq(5, 6))
    val seen = mutable.Buffer.empty[(Long, Seq[Int])]
    def record(id: Long, rows: Seq[Int]): Unit = seen.synchronized { seen += id -> rows }
    SparkEntry.feedStream(spark, batches) { ds =>
      ds.toDF("v").writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        record(id, b.as[Int].collect().toSeq.sorted)
      }
    }
    assert(seen.toSeq == batches.zipWithIndex.map { case (b, i) => i.toLong -> b })
  }

  test("restartAfter calls sink again on the same checkpoint: a row re-fed " +
      "after the restart is dropped by the recovered dedup state") {
    val t0 = 1704060000L
    val batches = Seq(
      Seq("a" -> t0, "b" -> (t0 + 1)),
      Seq("c" -> (t0 + 2)),
      Seq("b" -> (t0 + 1), "d" -> (t0 + 3)))
    var starts = 0
    val byBatch = mutable.Map.empty[Long, Seq[String]]
    SparkEntry.feedStream(spark, batches, restartAfter = Some(2)) { ds =>
      starts += 1
      ds.toDF("id", "t")
        .withColumn("ts", timestamp_seconds(col("t")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("id")
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          val ids = b.select(col("id")).as[String].collect().toSeq
          byBatch.synchronized { byBatch(id) = ids }
        }
    }
    assert(starts == 2)
    // keyed by batch id, so an engine replay would overwrite, not add:
    // a second "b" can only come from lost dedup state
    assert(byBatch.values.flatten.toSeq.sorted == Seq("a", "b", "c", "d"),
      byBatch.toSeq.sortBy(_._1).toString)
  }

  test("a sink failing on batch k makes feedStream throw and leaves no " +
      "query running") {
    val err = intercept[Exception] {
      SparkEntry.feedStream(spark, Seq(Seq(1), Seq(2), Seq(3))) { ds =>
        ds.toDF("v").writeStream.foreachBatch { (_: DataFrame, id: Long) =>
          if (id == 1L) throw new IllegalStateException("sink failed on batch 1")
        }
      }
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(e => Option(e.getMessage).exists(_.contains("sink failed on batch 1"))),
      err.toString)
    assert(spark.streams.active.isEmpty)
  }
}
