package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Portable reference forms ("twins") of the native expressions and plans
  * in main. Each twin is the interpreted higher-order-function or window
  * definition of its native counterpart's semantics; specs assert the
  * native form value-identical to it. Nothing in main calls a twin. */
object Twins {

  /** [[Dedup.wordShingles]] as a HOF over the normalized tokens, including
    * first-occurrence order and the short-doc null. */
  def wordShinglesHof(text: Column, n: Int = 3): Column = {
    val toks = split(Dedup.normalize(text), " ")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
  }

  /** [[Dedup.minhashSignature]]: hash j of shingle s is md5(s + "#" + j),
    * minimum taken lexicographically over hex strings. */
  def minhashSignatureHof(shingles: Column, k: Int = 12): Column =
    array((0 until k).map { j =>
      array_min(transform(shingles, s => md5(concat(s, lit("#" + j)).cast("binary"))))
    }: _*)

  /** LSH band keys of a signature: `bands` runs of `r` values, each hashed
    * to one bucket key (the `MinHashBandKeys` expression's semantics). */
  def bandKeys(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|", (0 until r).map(i => element_at(sig, b * r + i + 1)): _*)
        .cast("binary"))
    }: _*)

  /** [[Dedup.simhash]]: 60 per-bit vote folds over
    * conv(substr(md5(t),1,15),16,10) of the distinct tokens. */
  def simhashHof(text: Column): Column = {
    val toks = array_distinct(split(Dedup.normalize(text), " "))
    val tokHash = (t: Column) => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")
    val bitCols = (0 until 60).map { b =>
      val vote = aggregate(toks, lit(0),
        (acc, t) => acc +
          when(shiftright(tokHash(t), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** [[graft.functions.Vectors.dot]]: index-ordered double products summed
    * left to right. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** [[graft.functions.Vectors.l2Squared]]: index-ordered squared
    * differences summed left to right. */
  def l2SquaredHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** [[TextAnalysis.topBigramCount]]: run-length fold over the sorted
    * bigram array. */
  def topBigramCountHof(text: Column): Column =
    aggregate(
      array_sort(TextAnalysis.bigrams(text)),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** [[graft.operators.Spend.dedupeBy]] as a window: the first row per key
    * under the same total order (`order`, then the whole row). */
  def dedupeByWindow(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val row = struct(df.columns.toIndexedSeq.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((order.map(c => col(c).asc) :+ row.asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** [[graft.operators.Similarity.topKPerQuery]] as a window rank: cosine
    * descending, vec_id ascending, first `k` per q_id. */
  def topKPerQueryWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
