package graft.operators

import graft.SparkSpec

class KmeansSpec extends SparkSpec {
  import spark.implicits._

  // two tight, well-separated clusters in 4-d; ids interleave the clusters
  // so the lowest-id init seeds one centroid in each
  private def twoBlobs = Seq(
    (1L, Seq(0.10f, 0.10f, 0.00f, 0.00f)),
    (2L, Seq(0.90f, 0.90f, 0.50f, 0.50f)),
    (3L, Seq(0.12f, 0.08f, 0.01f, -0.01f)),
    (4L, Seq(0.88f, 0.92f, 0.49f, 0.52f)),
    (5L, Seq(0.09f, 0.11f, -0.02f, 0.02f)),
    (6L, Seq(0.91f, 0.89f, 0.51f, 0.48f))
  ).toDF("vec_id", "embedding")

  test("kmeansFixedPoint separates two blobs and converges to their cores") {
    val a = Similarity.kmeansFixedPoint(twoBlobs, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a(1) == a(3) && a(3) == a(5), s"low blob split: $a")
    assert(a(2) == a(4) && a(4) == a(6), s"high blob split: $a")
    assert(a(1) != a(2), s"blobs merged: $a")
  }

  test("kmeansFixedPoint is partition-count invariant and rerun-identical") {
    val a = Similarity.kmeansFixedPoint(twoBlobs, k = 2, iters = 3)
    val b = Similarity.kmeansFixedPoint(twoBlobs.repartition(5), k = 2, iters = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "assignment depends on partitioning")
  }

  test("silhouette: agrees with the trainer's assignment, bounded, separable blobs score high") {
    val sil = Similarity.silhouetteSimplified(twoBlobs, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val km = Similarity.kmeansFixedPoint(twoBlobs, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    // own cluster and a2 are EXACTLY the trainer's assignment and dist2
    km.foreach { case (id, (cl, d2)) =>
      assert(sil(id)._1 == cl && sil(id)._2 == d2, s"id $id drifted") }
    // b >= a by construction; s in [0, 1] here and near 1 on tight blobs
    sil.values.foreach { case (_, a2, b2, s) =>
      assert(b2 >= a2 && s >= 0.0 && s <= 1.0)
      assert(s > 0.9, s"tight separable blobs scored s=$s") }
  }

  test("silhouette: a point sitting ON its centroid with b=0 too scores 0, not NaN") {
    // two identical points seed two centroids at the same location:
    // a2 = b2 = 0 for both -> the max(a,b)=0 guard must yield 0.0
    val dup = Seq(
      (1L, Seq(0.5f, 0.5f)), (2L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val s = Similarity.silhouetteSimplified(dup, k = 2, iters = 1)
      .select("sil").as[Double].collect()
    assert(s.forall(_ == 0.0), s"degenerate silhouette: ${s.toSeq}")
  }

  test("an emptied cluster keeps its previous centroid (no crash, no vanishing k)") {
    // k=3 over the two blobs: the centroid seeded on vec 3 (same blob as
    // vec 1) loses all points to centroid 0 after one update; later
    // iterations must still run with 3 live centroid rows
    val a = Similarity.kmeansFixedPoint(twoBlobs, k = 3, iters = 3)
    assert(a.count() == 6)
    assert(a.select("cluster").distinct().count() <= 3)
  }

  test("quantization floors (not rounds): a value just under a grid line drops") {
    // 0.0000151f * 65536 = 0.9896: floor -> 0 where round() would give 1,
    // so both sub-grid values collapse onto the same quantized vector [0]
    val eps = Seq((1L, Seq(0.0000076f)), (2L, Seq(0.0000151f)), (3L, Seq(0.9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansFixedPoint(eps, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    // vecs 1 and 2 both quantize to [0] (floor) -> same cluster, dist2 0
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == byId(2L)._2)
    assert(byId(1L)._3 == 0L && byId(2L)._3 == 0L)
  }

  test("mismatched embedding width fails loudly") {
    val ragged = Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.kmeansFixedPoint(ragged, k = 1, iters = 1).collect()
    }
    assert(e.getMessage.contains("width"), s"unexpected: ${e.getMessage}")
  }
}
