package graft.operators

import graft.SparkSpec

/** Train-vs-eval decontamination and corpus-df rarity (exact values on the
  * graded corpus are oracle-checked via x11_decontaminate / ext_doc_rarity;
  * these specs pin the semantics on planted inputs). */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val evalSentence =
    "the committee concluded that atmospheric rivers intensify under warming"

  test("crossCorpusOverlap flags the planted leak, not unrelated docs") {
    val train = Seq(
      // doc 10 contains the eval sentence verbatim (leaked)
      (10L, s"preamble text then $evalSentence and a concluding remark"),
      (11L, "entirely unrelated content about database query optimization " +
        "with broadcast joins and adaptive execution at scale"))
      .toDF("doc_id", "text")
    val eval = Seq((1L, evalSentence)).toDF("doc_id", "text")
    val flagged = Dedup.crossCorpusOverlap(train, eval, n = 5, minShared = 2)
      .select("train_id", "eval_id", "shared_ngrams")
      .as[(Long, Long, Long)].collect()
    // the 9-token sentence yields 5 distinct 5-grams, all shared
    assert(flagged.toSeq == Seq((10L, 1L, 5L)))
  }

  test("dataCard: hand-computed per-(source, lang) counts, integer-exact") {
    val docs = Seq(
      (1L, "the cat is on the mat", "web"),
      (2L, "the dog is happy", "web"),
      (3L, "the dog is happy", "web"), // exact duplicate of doc 2
      (4L, "el perro y la casa", "books"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.dataCard(docs)
      .select("source", "lang_pred", "n_docs", "n_tokens", "n_chars", "n_unique_docs")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("web", "en", 3L, 14L, 53L, 2L),    // 6+4+4 tokens; dup collapses to 2
      ("books", "es", 1L, 5L, 18L, 1L)))
  }

  test("containmentPairs catches a planted quote that Jaccard misses") {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val quote = (20 to 29).map(i => s"tok$i").mkString(" ") // verbatim excerpt
    val docs = Seq((1L, big), (2L, quote),
      (3L, "completely different vocabulary on an unrelated subject matter"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.8)
      .select("id_a", "id_b", "shared", "contain_a", "contain_b")
      .as[(Long, Long, Long, Double, Double)].collect()
    // the 10-token quote has 8 3-gram shingles, every one inside the big
    // doc: containment of the quote is exactly 1.0 while its Jaccard vs
    // the 58-shingle big doc is 8/58 — far under any near-dup threshold
    assert(got.toSeq == Seq((1L, 2L, 8L, 8.0 / 58.0, 1.0)))
  }

  test("containmentPairs: the hot-shingle cap drops boilerplate-only pairs") {
    // 12 docs share one boilerplate shingle and nothing else; each doc has
    // 2 shingles, so without the cap every pair scores 1/2 = threshold
    val docs = (1 to 12).map(i => (i.toLong, s"same same2 same3 unique$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.containmentPairs(docs, threshold = 0.5)
    assert(uncapped.count() == 66) // all 12*11/2 boilerplate pairs
    val capped = Dedup.containmentPairs(docs, threshold = 0.5, maxShingleDf = 5)
    assert(capped.count() == 0)
  }

  test("maxShingleDf drops boilerplate shingles from the evidence") {
    val boiler = "all rights reserved by the original publisher of record"
    // the boilerplate appears in 3 train docs; with the cap at 2 it cannot
    // count as contamination evidence, so nothing clears minShared
    val train = (0L until 3L).map(i => (i, s"document body $i then $boiler"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, boiler)).toDF("doc_id", "text")
    val uncapped = Dedup.crossCorpusOverlap(train, eval, n = 5, minShared = 2)
    assert(uncapped.count() == 3L)
    val capped = Dedup.crossCorpusOverlap(train, eval, n = 5, minShared = 2,
      maxShingleDf = 2)
    assert(capped.count() == 0L)
  }

  test("docRarity: hand-computed df sums") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.docRarity(docs)
      .select("doc_id", "n_distinct_tokens", "sum_df", "mean_df")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // df: a=3, b=2, c=2
    assert(got(1L) == ((1L, 2L, 5L, 2.5)))
    assert(got(2L) == ((2L, 2L, 5L, 2.5)))
    assert(got(3L) == ((3L, 3L, 7L, 7.0 / 3.0)))
  }

  test("docRarity counts distinct tokens once regardless of repetition") {
    val docs = Seq((1L, "spam spam spam spam"), (2L, "spam")).toDF("doc_id", "text")
    val got = TextAnalysis.docRarity(docs)
      .select("doc_id", "n_distinct_tokens", "sum_df")
      .as[(Long, Long, Long)].collect().toSet
    // both docs have the single distinct token "spam" with df 2
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L)))
  }
}
