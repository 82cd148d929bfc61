package graft.operators

import graft.SparkSpec

/** The contrastive-training data tier: hard negatives/positives must
  * respect the label predicate and exact ranking, and triplet assembly
  * must pair every anchor's hardest positive with all of its sampled
  * negatives. (Cross-engine determinism is graded by the
  * ext_hard_negatives / ext_negative_sample / x54_triplets oracles; this
  * spec pins the semantic invariants on adversarial data.) */
class ContrastiveSpec extends SparkSpec {
  import spark.implicits._

  // two tight same-label clusters far apart, plus a stray opposite-label
  // point INSIDE each cluster — the nearest neighbor overall shares the
  // label, so a wrong predicate flips the result
  private def emb = Seq(
    (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.99f, 0.05f)),
    (3L, 1, Seq(0.98f, 0.08f)), // opposite-label stray near cluster 0
    (4L, 1, Seq(0.0f, 1.0f)), (5L, 1, Seq(0.05f, 0.99f)),
    (6L, 0, Seq(0.08f, 0.98f)) // opposite-label stray near cluster 1
  ).toDF("vec_id", "label", "embedding")

  test("hardNegatives picks the nearest DIFFERENT-label vector") {
    val q = emb.filter($"vec_id" === 1L).withColumnRenamed("vec_id", "q_id")
    val top = Similarity.hardNegatives(emb, q, k = 2)
      .orderBy($"rank").as[(Long, Long, Int, Double, Int)].collect().toList
    // nearest different-label to (1,0) is the stray id 3 (label 1)
    assert(top.head._2 == 3L && top.head._3 == 1, s"got $top")
    assert(top.forall(_._3 != 0), "a negative shares the anchor's label")
  }

  test("hardPositives picks the nearest SAME-label vector, never self") {
    val q = emb.filter($"vec_id" === 1L).withColumnRenamed("vec_id", "q_id")
    val top = Similarity.hardPositives(emb, q, k = 2)
      .orderBy($"rank").as[(Long, Long, Int, Double, Int)].collect().toList
    assert(top.head._2 == 2L && top.forall(_._3 == 0), s"got $top")
    assert(top.forall(_._2 != 1L), "self returned as its own positive")
  }

  test("triplet assembly: every anchor gets its one positive x k negatives") {
    val q = emb.filter($"vec_id" <= 2L).withColumnRenamed("vec_id", "q_id")
    val pos = Similarity.hardPositives(emb, q, k = 1)
      .select($"q_id".as("anchor_id"), $"vec_id".as("pos_id"))
    val neg = Sampling.negativeSample(emb, k = 3)
      .filter($"vec_id" <= 2L)
      .select($"vec_id".as("anchor_id"), $"neg_slot", $"neg_id", $"neg_label")
    val trip = pos.join(neg, "anchor_id")
      .as[(Long, Long, Int, Long, Int)].collect()
    assert(trip.length == 2 * 3)
    val lbl = emb.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    trip.foreach { case (a, p, _, n, nl) =>
      assert(lbl(p) == lbl(a), s"positive $p label differs from anchor $a")
      assert(nl != lbl(a) && lbl(n) == nl, s"negative $n mislabeled for $a")
    }
  }
}
