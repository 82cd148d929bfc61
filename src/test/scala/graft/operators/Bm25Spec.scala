package graft.operators

import graft.SparkSpec

/** Fixed-point BM25 invariants: agreement with the true double-precision
  * formula (the quantization must not disturb the ranking on realistic
  * spreads), monotonicity in tf, idf ordering of rare vs common terms.
  * The exact cross-engine replay is graded by ext_bm25_search. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // 40 docs over a 6-token vocabulary with varied lengths and tf mixes;
  // "rare" appears in 4 docs, "common" in all
  private lazy val docs = (1 to 40).map { i =>
    val rare = if (i % 10 == 0) Seq.fill(i / 10)("rare") else Seq.empty
    val common = Seq.fill(1 + i % 7)("common")
    val filler = Seq.fill(5 + (i * 13) % 23)(s"filler${i % 5}")
    (i.toLong, (rare ++ common ++ filler).mkString(" "))
  }.toDF("doc_id", "text")

  private def trueBm25(
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val toks = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = toks.length
    val avgdl = toks.map(_._2.length).sum.toDouble / n
    terms.flatMap { term =>
      val df = toks.count(_._2.contains(term))
      val idf = math.log((n + 1.0) / (df + 0.5)) / math.log(2)
      toks.flatMap { case (id, ts) =>
        val tf = ts.count(_ == term)
        if (tf == 0) None
        else Some(id -> idf * tf * (k1 + 1) /
          (tf + k1 * (1 - b + b * ts.length / avgdl)))
      }
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }
  }

  test("fixed-point ranking matches true double BM25 on the test corpus") {
    val terms = Seq("rare", "common")
    val got = TextAnalysis.bm25Search(docs, terms, k = 40)
      .select("doc_id", "score_fp").as[(Long, Long)].collect()
    val want = trueBm25(terms)
    assert(got.length == want.size)
    // same contents...
    assert(got.map(_._1).toSet == want.keySet)
    // ...and the same order (compare against the double ranking; the
    // avgdl floor + pl2 quantization must not flip any pair here)
    val wantOrder = want.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(got.map(_._1).toSeq == wantOrder,
      s"fixed-point order ${got.map(_._1).toSeq} != double order $wantOrder")
  }

  test("score is monotone in tf; rare terms outscore common at equal tf") {
    val flat = (1 to 20).map { i =>
      (i.toLong, (Seq.fill(i)("hit") ++ Seq.fill(21 - i)("pad")).mkString(" "))
    }.toDF("doc_id", "text") // constant dl=21 so ONLY tf varies
    val scores = TextAnalysis.bm25Search(flat, Seq("hit"), k = 20)
      .select("doc_id", "score_fp").as[(Long, Long)].collect().toMap
    (2 to 20).foreach { i =>
      assert(scores(i.toLong) > scores(i.toLong - 1),
        s"tf=$i did not outscore tf=${i - 1}")
    }

    val mixed = ((1 to 9).map(i => (i.toLong, "common x y z")) :+
      (10L, "rare x y z") :+ (11L, "common a b c") :+ (12L, "rare a b c"))
      .toDF("doc_id", "text")
    val s2 = TextAnalysis.bm25Search(mixed, Seq("rare", "common"), k = 12)
      .select("doc_id", "score_fp").as[(Long, Long)].collect().toMap
    assert(s2(10L) > s2(1L), "rare term (df=2) must outscore common (df=10)")
  }

  test("phraseSearch: consecutive-only, overlapping, position-exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),       // one match at pos 1
      (2L, "b c x b c"),     // two matches, first at 0
      (3L, "c b"),           // reversed order: no match
      (4L, "b x c"),         // gap: no match
      (5L, "b b b"),         // overlapping "b b": 2 matches
      (6L, "B   C")          // normalize: case + whitespace collapse
    ).toDF("doc_id", "text")
    val bc = TextAnalysis.phraseSearch(d, Seq("b", "c"))
      .as[(Long, Long, Int)].collect().toList
    assert(bc == List((1L, 1L, 1), (2L, 2L, 0), (6L, 1L, 0)), s"got $bc")
    val bb = TextAnalysis.phraseSearch(d, Seq("b", "b"))
      .as[(Long, Long, Int)].collect().toList
    assert(bb == List((5L, 2L, 0)), s"overlap: $bb")
    // single-token phrase degenerates to postings lookup
    assert(TextAnalysis.phraseSearch(d, Seq("x")).count() == 2)
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearch(d, Seq.empty)
    }
  }

  test("only matching docs are returned; k truncates; params validated") {
    val hits = TextAnalysis.bm25Search(docs, Seq("rare"), k = 40)
    assert(hits.count() == 4)
    assert(TextAnalysis.bm25Search(docs, Seq("common"), k = 3).count() == 3)
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Search(docs, Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Search(docs, Seq("x"), k = 0)
    }
  }
}
