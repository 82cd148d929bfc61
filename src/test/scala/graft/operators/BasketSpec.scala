package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Oracle rows prove the sf0.01 values; these pin the rule arithmetic on a
  * hand-counted basket set and the graph summary on known-shape graphs. */
class BasketSpec extends SparkSpec {

  test("pairRules counts, bp fields and lift on a hand-counted basket set") {
    import spark.implicits._
    // 4 baskets; (a,b) together in 2, a in 3, b in 3; duplicate line in
    // basket 1 must not double-count
    val rows = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "b"), (4L, "c"))
    val got = Basket.pairRules(rows.toDF("b", "i"), "b", "i", minPairs = 1L)
      .orderBy("item_a", "item_b").collect()
    val ab = got.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getAs[Long]("n_ab") == 2L)
    assert(ab.getAs[Long]("n_a") == 3L)
    assert(ab.getAs[Long]("n_b") == 3L)
    assert(ab.getAs[Long]("n_baskets") == 4L)
    assert(ab.getAs[Long]("support_bp") == 5000L)   // 2/4
    assert(ab.getAs[Long]("conf_a_to_b_bp") == 6666L) // 2/3 truncated
    assert(ab.getAs[Double]("lift") == (2.0 * 4.0) / (3.0 * 3.0))
    // all three pairs present at minPairs=1: ab, ac, bc
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("globalClustering: triangle graph is fully clustered, path is not") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val Row(n: Long, e: Long, w: Long, c: Long, cc: Double) =
      Graph.globalClustering(tri).head()
    assert((n, e, w, c) == (3L, 3L, 3L, 3L) && cc == 1.0)

    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val Row(pn: Long, pe: Long, pw: Long, pc: Long, pcc: Double) =
      Graph.globalClustering(path).head()
    assert((pn, pe, pw, pc) == (3L, 2L, 1L, 0L) && pcc == 0.0)
  }
}
