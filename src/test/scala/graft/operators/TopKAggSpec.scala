package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bounded heap aggregate behind `Similarity.topKPerQuery` must stay
  * value-identical to the window-rank reference form
  * (`graft.Twins.topKPerQueryWindow`) — same ranks, same tie-breaks
  * (cosine DESC, vec_id ASC), same k-truncation — while shuffling at most
  * k entries per query per task. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scored relation dense in score TIES: 9 queries x 400
    * candidates with only 20 distinct scores, so tie-breaking by vec_id
    * decides most ranks. */
  private def scored(n: Long) = spark.range(n).select(
    (col("id") % 9).as("q_id"),
    col("id").as("vec_id"),
    ((pmod(xxhash64(col("id")), lit(20L))).cast("double") / 20.0).as("cosine"))

  test("heap aggregate matches the window reference (ties, small k)") {
    val s = scored(3600L)
    val fast = Similarity.topKPerQuery(s, 7)
    val ref = graft.Twins.topKPerQueryWindow(s, 7)
    assert(fast.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    assert(fast.count() == 9 * 7)
  }

  test("k larger than the group yields the whole group, ranked") {
    val s = scored(45L) // 9 queries x 5 candidates
    val fast = Similarity.topKPerQuery(s, 100)
    val ref = graft.Twins.topKPerQueryWindow(s, 100)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    assert(fast.count() == 45)
  }

  test("string-keyed candidates fall back to the window and still rank") {
    val s = Seq(("q1", "a", 0.9), ("q1", "b", 0.9), ("q1", "c", 0.5))
      .toDF("q_id", "vec_id", "cosine")
    val got = Similarity.topKPerQuery(s, 2)
      .orderBy("rank").select("vec_id", "rank").as[(String, Int)].collect().toSeq
    assert(got == Seq(("a", 1), ("b", 2))) // tie 0.9/0.9 broken by vec_id asc
  }

  test("empty input yields empty output on the heap path") {
    val s = scored(0L)
    assert(Similarity.topKPerQuery(s, 5).isEmpty)
  }

  test("graft_top_k SQL registry form matches the window reference") {
    scored(900L).createOrReplaceTempView("topk_scored")
    val sql = spark.sql(
      """SELECT q_id, e.id AS vec_id, e.score AS cosine,
        |  CAST(pos + 1 AS INT) AS rank
        |FROM (SELECT q_id, graft_top_k(cosine, vec_id, 4) AS top
        |  FROM topk_scored GROUP BY q_id)
        |LATERAL VIEW posexplode(top) x AS pos, e""".stripMargin)
    val ref = graft.Twins.topKPerQueryWindow(scored(900L), 4)
    assert(sql.exceptAll(ref).isEmpty && ref.exceptAll(sql).isEmpty)
  }
}
