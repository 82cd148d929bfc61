package graft.operators

import graft.SparkSpec

/** Behavioral tests for the passage-level tile dedup family
  * (`Dedup.wordTiles` / `passageDedup` / `boilerplateTiles`); the DuckDB
  * oracle grades the same operators on the full sf tables. */
class PassageDedupSpec extends SparkSpec {
  import spark.implicits._

  test("wordTiles tiles the token stream exactly, last tile short") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val tiles = Dedup.wordTiles(docs, tileWords = 3)
      .orderBy("tile_idx")
      .select("tile_idx", "n_tiles", "tile")
      .as[(Long, Long, String)].collect().toSeq
    assert(tiles == Seq((0L, 3L, "a b c"), (1L, 3L, "d e f"), (2L, 3L, "g h")))
  }

  test("wordTiles normalizes case and whitespace before tiling") {
    val docs = Seq((1L, "  The   QUICK\tbrown  ")).toDF("doc_id", "text")
    val tiles = Dedup.wordTiles(docs, tileWords = 2)
      .select("tile").as[String].collect().toSeq.sorted
    assert(tiles == Seq("brown", "the quick"))
  }

  test("passageDedup keeps first occurrence and drops a fully-copied doc") {
    // doc 2 repeats doc 1's text verbatim -> every one of its tiles loses
    // the keep-first race and the doc vanishes; doc 3 shares one passage
    // with doc 1 but keeps its unique tail
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, shared),
      (2L, shared),
      (3L, shared + " unique tail here omega")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, tileWords = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tiles", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 3L)) // doc 2 fully deduplicated away
    assert(out.head == ((1L, 2L, 2L, shared)))
    // doc 3: tiles are [alpha beta gamma][delta epsilon zeta][unique tail
    // here][omega]; the first two lose to doc 1, the tail survives in order
    assert(out(1) == ((3L, 4L, 2L, "unique tail here omega")))
  }

  test("passageDedup within-doc repetition keeps only the first copy") {
    val docs = Seq((7L, "x y z x y z x y z")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, tileWords = 3)
      .select("n_kept", "clean_text").as[(Long, String)].collect().head
    assert(out == ((1L, "x y z")))
  }

  test("boilerplateTiles strips corpus-hot tiles from every doc") {
    // "header line" opens all 4 docs (df 4 > maxDf 3); bodies survive
    val docs = Seq(
      (1L, "header line body one"),
      (2L, "header line body two"),
      (3L, "header line body three"),
      (4L, "header line body four")).toDF("doc_id", "text")
    val out = Dedup.boilerplateTiles(docs, maxDf = 3, tileWords = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, "body one"), (2L, 1L, "body two"),
      (3L, 1L, "body three"), (4L, 1L, "body four")))
  }

  test("boilerplateTiles below the df cap is the identity reassembly") {
    val docs = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val out = Dedup.boilerplateTiles(docs, maxDf = 3, tileWords = 2)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out == Seq("a b c d", "e f g h"))
  }

  test("a doc that is pure boilerplate vanishes from the output") {
    val docs = (Seq((9L, "legal notice")) ++
      (1L to 5L).map(i => (i, s"legal notice real content $i"))).toDF("doc_id", "text")
    val out = Dedup.boilerplateTiles(docs, maxDf = 4, tileWords = 2)
    assert(!out.select("doc_id").as[Long].collect().contains(9L))
  }
}
