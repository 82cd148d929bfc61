package graft.operators

import graft.SparkSpec

/** Behavioral tests for keyword extraction and label-centroid pooling (the
  * DuckDB oracle hash-checks both on real data; these pin the semantics on
  * hand-computable inputs and the ordered/fast centroid agreement). */
class KeywordsCentroidSpec extends SparkSpec {
  import spark.implicits._

  test("topKeywords ranks by tf desc, then rarity (df asc), then token") {
    val docs = Seq(
      // doc 1: "apple" tf=3; "banana" and "cherry" tie at tf=1 -> the one
      // in fewer docs (cherry, df=1) outranks banana (df=2)
      (1L, "apple apple apple banana cherry"),
      (2L, "banana date date"),
      (3L, "elder elder elder elder")).toDF("doc_id", "text")
    val got = TextAnalysis.topKeywords(docs, k = 2)
      .select("doc_id", "rank", "keyword")
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("apple", "cherry"))
    assert(got(2L) == Seq("date", "banana"))
    assert(got(3L) == Seq("elder"))
  }

  test("labelCentroids computes the hand-checked mean per label") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), 0),
      (2L, Array(3.0f, 6.0f), 0),
      (3L, Array(10.0f, 20.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(df)
      .select("label", "n", "dim_idx", "value")
      .as[(Int, Long, Int, Double)].collect()
      .map(r => (r._1, r._3) -> (r._2, r._4)).toMap
    assert(got((0, 0)) == (2L, 2.0))
    assert(got((0, 1)) == (2L, 4.0))
    assert(got((1, 0)) == (1L, 10.0))
    assert(got((1, 1)) == (1L, 20.0))
  }

  test("nearestCentroid assigns well-separated clusters to their own centroid") {
    val df = Seq(
      // cluster A around (0, 0), cluster B around (10, 10); point 5 sits in
      // cluster B's space but carries label 0 — it must be ASSIGNED to 1
      (1L, Array(0.0f, 0.5f), 0), (2L, Array(0.5f, 0.0f), 0),
      (3L, Array(10.0f, 9.5f), 1), (4L, Array(9.5f, 10.0f), 1),
      (5L, Array(9.0f, 9.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.nearestCentroid(df)
      .select("vec_id", "label_true", "assigned_label")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // centroid 0 = mean of points 1,2,5 = (3.17, 3.17); centroid 1 = (9.75, 9.75)
    assert(got(1L) == (0, 0) && got(2L) == (0, 0))
    assert(got(3L) == (1, 1) && got(4L) == (1, 1))
    assert(got(5L) == (0, 1), "the mislabeled point must be re-assigned")
  }

  test("centroid fold orders by the NATIVE id — string ids included") {
    // values chosen so float association DISCRIMINATES the fold order:
    // ascending-id order (1e16 + -1e16) + 1.0 = 1.0, while the
    // embedding-byte order a lossy cast("long") degraded to (string ids ->
    // null) folds (-1e16 + 1.0) + 1e16 = 0.0. The documented contract is
    // the id order: mean must be 1.0 / 3.
    val df = Seq(
      ("a", Array(1.0e16), 0),
      ("b", Array(-1.0e16), 0),
      ("c", Array(1.0), 0)).toDF("vec_id", "embedding", "label")
    val v = Similarity.labelCentroids(df)
      .select("value").as[Double].head()
    assert(v == 1.0 / 3, s"expected the ascending-id fold (1/3), got $v")
  }

  test("null or ragged embeddings fail loudly instead of null-poisoning a centroid") {
    def messages(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).take(8).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // a null row would fold null + x = null through the whole label
    val withNull = Seq((1L, Array(1.0f, 2.0f), 0), (2L, null: Array[Float], 0))
      .toDF("vec_id", "embedding", "label")
    val eN = intercept[Exception] { Similarity.labelCentroids(withNull).collect() }
    assert(messages(eN).contains("null-poison"), messages(eN))
    val eNA = intercept[Exception] { Similarity.nearestCentroid(withNull).collect() }
    assert(messages(eNA).contains("null-poison"), messages(eNA))
    // a short row would zip_with-pad nulls into the tail of the sum
    val ragged = Seq((1L, Array(1.0f, 2.0f), 0), (2L, Array(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val eR = intercept[Exception] { Similarity.labelCentroids(ragged).collect() }
    assert(messages(eR).contains("ragged embedding width"), messages(eR))
    // cross-label raggedness (each label internally consistent) must fail
    // at ASSIGNMENT: squared-L2 across mismatched widths is undefined
    val crossRagged = Seq(
      (1L, Array(1.0f, 2.0f), 0), (2L, Array(3.0f, 4.0f), 0),
      (3L, Array(1.0f, 2.0f, 3.0f), 1)).toDF("vec_id", "embedding", "label")
    val eX = intercept[Exception] { Similarity.nearestCentroid(crossRagged).collect() }
    assert(messages(eX).contains("does not match centroid width"), messages(eX))
  }

  test("semDedupPairs = brute all-pairs restricted to shared clusters, exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val t = 0.3
    val got = Similarity.semDedupPairs(emb, threshold = t)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // the defining property: exactly the brute-force near-dup pairs whose
    // two members landed in the same nearest-centroid cluster — nothing
    // extra, nothing lost within a cluster
    val cluster = Similarity.nearestCentroid(emb)
      .select("vec_id", "assigned_label")
      .as[(Long, Int)].collect().toMap
    val brute = Dedup.embeddingNearDups(emb, threshold = t)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect()
      .filter(p => cluster(p._1) == cluster(p._2)).toSet
    assert(got == brute, s"got ${got.size} pairs, expected ${brute.size}")
    assert(got.nonEmpty, "threshold too high to exercise the check")
  }
}
