package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language-ID heuristics, document
  * fingerprinting. Everything is built from codegen'd string/array
  * expressions — per-document work is embarrassingly parallel, no shuffles,
  * so these scan at full parquet read bandwidth at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens (the baseline token model). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Ratio of punctuation characters (explicit class — identical regex
    * semantics across engines). */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()\\-]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** English-ish stopword ratio over whitespace tokens. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(sw, t))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")
  }

  /** Mean token length. */
  def meanTokenLength(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation noise and a sane stopword rate (C4/Gopher-style simple
    * filters, re-expressed as one deterministic arithmetic expression). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(4.0), lit(1.0))
    val swScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    (lenScore * lit(0.5) + swScore * lit(0.3) + (lit(1.0) - punctPenalty) * lit(0.2))
  }

  /** Marker-word profiles for the language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "is", "and", "of", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** N-gram/stopword-profile language ID: argmax of marker-word hits, ties
    * broken by profile order. A heuristic — on natural text the marker
    * counts separate languages sharply; emitted as (lang, score). */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    langMarkers.map { case (lang, markers) =>
      val mk = array(markers.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(mk, t)))
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = greatest(scores.map(_._2): _*)
    // first profile reaching the max wins (deterministic tie-break)
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Deterministic 128-bit content fingerprint of normalized text
    * (lowercased, whitespace-collapsed) — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Rolling (order-sensitive) hash of the token stream — unlike a
    * bag-of-words hash, reordering tokens changes it. Computed as a chained
    * md5 fold, acc' = md5(acc || '|' || token) from acc0 = "": md5 hex
    * strings are engine-portable, so the chain is reproducible in any
    * engine (DuckDB's list_reduce replays it exactly — a 64-bit xxhash64
    * chain would be Spark-only). */
  def rollingHash(text: Column): Column =
    aggregate(tokens(lower(text)), lit(""),
      (acc, t) => md5(concat_ws("|", acc, t).cast("binary")))

  // ------------------------------------------------- repetition metrics

  /** Fraction of repeated tokens: 1 - distinct/total (0 for empty docs).
    * The Gopher-style "duplicate token" repetition signal. */
  def dupTokenFraction(text: Column): Column = {
    val toks = tokens(lower(text))
    lit(1.0) - size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Adjacent-token bigrams (NOT distinct — counts matter here). */
  private[graft] def bigrams(text: Column): Column = {
    val toks = tokens(lower(text))
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Occurrence count of the most frequent bigram. 0 for docs shorter than
    * 2 tokens (and for null text, matching the HOF reference). Backed by
    * the single-pass [[graft.functions.TopBigramCount]] expression — the
    * sorted-array HOF fold it replaces is interpreted per element in
    * Spark 4 and was the slowest scan-parallel operator in the suite. */
  def topBigramCount(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    // coalesce: tokens(null text) is a null array -> expression yields null,
    // but the HOF contract (bigrams() returns [] for null text) is 0
    coalesce(
      ColumnBridge.column(graft.functions.TopBigramCount(
        ColumnBridge.expression(tokens(lower(text))))),
      lit(0L))
  }

  /** The bigram-share denominator (bigram occurrences floored at 1),
    * computed without building the bigram array: size(tokens)-1 equals
    * size(bigrams) for >= 2 tokens and both floor to 1 below that — the
    * equivalence is pinned by spec. The graded two-step query derives the
    * top-bigram share from [[topBigramCount]] over it. */
  def bigramDenominator(text: Column): Column =
    greatest(size(tokens(text)) - 1, lit(1))

  /** Markup stripped to plain text: tags replaced by spaces (so adjacent
    * words don't fuse), entities for the five XML predefineds decoded,
    * whitespace collapsed. Regex constructs limited to the Java∩RE2 subset
    * (engine-portable — the C4-style boilerplate-stripping front step). */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    // &amp; decodes LAST: sequential replacement would otherwise turn
    // "&amp;lt;" into "<" (double decode); with &amp; last it correctly
    // yields the literal "&lt;"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Top-`k` corpus vocabulary by token frequency (ties broken by token
    * text): explode -> count -> top-k. Scale shape: the explode fans out
    * one row per token, but the count partial-aggregates map-side (the
    * shuffle carries per-partition token counts, not tokens) and the top-k
    * is a TakeOrdered, not a full sort. */
  def vocabTopK(df: DataFrame, textCol: String = "text", k: Int = 100): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Vocabulary coverage / out-of-vocabulary rate per segment: token
    * occurrences outside the corpus top-`k` vocabulary ([[vocabTopK]] —
    * deterministic ties) counted per `segCol`, with the OOV share in
    * integer basis points. The tokenizer-coverage question a training
    * pipeline asks before committing to a vocab size: which sources/
    * languages fall outside the vocabulary, and by how much.
    *
    * Scale shape: tokens collapse to per-(segment, token) counts FIRST
    * (partial-aggregated map-side — the membership join then sees the
    * distinct-token relation, not the token stream), and the k-row
    * vocabulary is broadcast, so the only full shuffle is the count's.
    */
  def vocabCoverage(df: DataFrame, segCol: String, textCol: String = "text",
      k: Int = 100): DataFrame = {
    val vocab = vocabTopK(df, textCol, k)
      .select(col("token"), lit(1L).as("in_vocab"))
    df.select(col(segCol).as("seg"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("seg"), col("token")).agg(count(lit(1)).as("n"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("seg"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("n_oov * 10000 DIV n_tokens"))
      .select(col("seg").as(segCol), col("n_tokens"), col("n_oov"),
        col("oov_bp"))
  }

  /** Document rarity from corpus document frequency: for each doc, the
    * number of distinct tokens, the sum of those tokens' corpus df, and
    * their mean df — low mean df = rare vocabulary, the standard
    * inverse-frequency quality/novelty signal without the FP hazards of
    * log-idf (integer sums are order-independent, so the output is
    * bit-identical in any engine; the one double division happens last).
    *
    * Scale shape: two passes over the exploded distinct-token relation —
    * the df aggregation partial-combines map-side (shuffle carries
    * per-partition token counts), then one equi-join on token stamps df
    * back onto each doc's tokens (AQE broadcasts the df side when the
    * vocabulary is small) and a second combinable aggregation folds per
    * doc. No all-pairs anything; vocabulary size, not corpus size, bounds
    * the join's small side. */
  def docRarity(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(array_distinct(split(Dedup.normalize(col(textCol)), " "))).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks.join(dfreq, "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_tokens"), sum(col("df")).as("sum_df"))
      .withColumn("mean_df", col("sum_df").cast("double") / col("n_distinct_tokens"))
  }

  /** Top-`k` distinctive keywords per document: each doc's normalized
    * tokens ranked by in-document term frequency (DESC), then corpus
    * document frequency (ASC — rarer across the corpus wins), then token
    * text. The integer-exact stand-in for tf-idf keyword extraction — the
    * (tf, -df) rank order is the signal log-idf encodes, without the
    * cross-engine floating-point hazards of the log (same design choice as
    * [[docRarity]]).
    *
    * Scale shape: two combinable aggregations over the exploded token
    * relation (tf per (doc, token), df per token — both partial-aggregate
    * map-side, so shuffles carry counts, not tokens), one equi-join on
    * token (AQE broadcasts the vocabulary side when small), and a top-k
    * window per doc. Never materializes a doc's full token list on one row.
    */
  def topKeywords(df: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      explode(split(Dedup.normalize(col(textCol)), " ")).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    // tf already holds one row per distinct (doc, token) — df is a second
    // aggregation over it, no extra pass over the raw tokens
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("tok"))
    tf.join(dfreq, "tok")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("tok").as("keyword"), col("tf"), col("df"))
  }

  /** BM25 ranked retrieval over the corpus, fixed-point and engine-exact.
    * Scores every document containing at least one query term with the
    * standard BM25 shape (k1 = 1.2, b = 0.75, Lucene-style always-positive
    * idf = log((N+1)/(df+0.5))) and returns the top `k` by
    * `(score DESC, id)`. All arithmetic is integer:
    *
    *   - idf uses a PIECEWISE-LINEAR log2 in 2^-16 units — for
    *     `y = (2048N + 2048) div (2 df + 1)` (the idf argument in 2^-10
    *     fixed point), `pl2(y) = e * 65536 + ((y - 2^e) * 65536) >> e`
    *     with `e = length(bin(y)) - 1`. This is log2 with linear
    *     interpolation between powers of two (max error 0.0861 bits,
    *     monotone, exact integers — the same `length(bin(...))` device as
    *     [[bigramQuality]], refined below whole-bit resolution),
    *   - the saturation term `tf(k1+1) / (tf + k1(1 - b + b dl/avgdl))`
    *     becomes `(22 tf A * 1024) div (10 tf A + 3 A + 9 dl)` in 2^-10
    *     units, with `A = total_tokens div N` the floored average doc
    *     length (k1, b as the exact rationals 12/10, 3/4),
    *   - a term's contribution is the integer product `idf_fp * sat_fp`
    *     (2^-26 units) and the doc score is their SUM — integer addition
    *     is order-independent, so no float-summation nondeterminism.
    *
    * Output: (idCol, score_fp, n_terms, dl) for the top `k` docs. Ranking
    * agreement with true double-precision BM25 is pinned by spec; the
    * DuckDB oracle replays the integer pipeline bit-for-bit
    * (`ext_bm25_search`).
    *
    * Scale shape: tokenize + tf are combinable aggregations (shuffles
    * carry counts); df derives from tf (no second corpus pass); the query
    * vocabulary and corpus stats are broadcast; top-k is
    * `TakeOrderedAndProject` (per-partition heads), never a global sort.
    * The reference has no retrieval surface (no filter, no ranking —
    * SURVEY §2.8); extension tier. */
  def bm25Search(
      df: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val toks = df.select(col(idCol),
      explode(split(Dedup.normalize(col(textCol)), " ")).as("tok"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("l_total"))
      .select(col("n_docs"), expr("l_total div n_docs").as("avgdl"))
    val tf = toks.filter(col("tok").isInCollection(queryTerms.distinct))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val scored = tf
      .join(broadcast(dfreq), "tok")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("y", expr("(2048 * n_docs + 2048) div (2 * dfreq + 1)"))
      .withColumn("e", expr("length(bin(y)) - 1"))
      .withColumn("idf_fp", expr(
        "e * 65536 + shiftright((y - shiftleft(CAST(1 AS BIGINT), e)) * 65536, e) - 655360"))
      .withColumn("sat_fp", expr(
        "(22 * tf * avgdl * 1024) div (10 * tf * avgdl + 3 * avgdl + 9 * dl)"))
    scored.groupBy(col(idCol))
      .agg(sum(expr("idf_fp * sat_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"), first(col("dl")).as("dl"))
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(k)
  }

  /** Exact PHRASE search over a positional inverted index — the retrieval
    * companion to [[bm25Search]]'s bag-of-words ranking: "slow hash batch"
    * must match those tokens CONSECUTIVELY, which tf scoring cannot
    * express. The index relation is (doc, token, position) — one
    * `posexplode` over the shared [[Dedup.normalize]] tokenizer — and a
    * phrase of length L matches by L-1 equi-joins on `(doc, pos - offset)`:
    * each join's input is the postings of ONE term (the token filter
    * reaches the scan), so the join keys shrink to the rarest term's
    * postings after the first hop, never the corpus. Output: one row per
    * matching doc, `(idCol, n_matches, first_pos)` with 0-based positions.
    *
    * Scale shape: at 100 TB the postings relation is the thing you
    * materialize once (it IS the search index; pair with [[Layout]] to
    * shard it by term), and each query costs per-term postings scans +
    * bounded equi-joins — no text is re-tokenized at query time if the
    * postings are persisted. */
  def phraseSearch(
      df: DataFrame,
      phrase: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(_.nonEmpty), s"empty token in phrase $phrase")
    val post = df.select(col(idCol),
      posexplode(split(Dedup.normalize(col(textCol)), " ")).as(Seq("pos", "tok")))
    val anchor = post.filter(col("tok") === phrase.head)
      .select(col(idCol), col("pos"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(anchor) { case (acc, (t, i)) =>
        acc.join(post.filter(col("tok") === t)
          .select(col(idCol), (col("pos") - i).as("pos")), Seq(idCol, "pos"))
      }
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .orderBy(col(idCol))
  }


  /** Bigram language-model quality score — the CCNet/Wenzek-style
    * perplexity filter re-expressed with integer-exact math. An LM is
    * "trained" as bigram occurrence counts over a deterministic
    * content-hash train split ([[Sampling.hashBucket]], so the split
    * replays identically in any engine), then EVERY document is scored by
    * its own bigrams against those counts:
    *
    *   - `bucket` per bigram = floor(log2(train_count + 1)), computed as
    *     `length(bin(cnt + 1)) - 1` — a string-length of the binary
    *     representation, exact for any count (no floating-point log whose
    *     last-ulp rounding differs across libm implementations),
    *   - `avg_log2_bucket` — mean bucket over the doc's bigrams: high =
    *     fluent/common phrasing (low perplexity), low = rare or garbled,
    *   - `oov_ratio` — fraction of the doc's bigrams never seen in the
    *     train split (the out-of-vocabulary novelty/noise signal).
    *
    * All aggregation is integer (order-independent); the two doubles are
    * single divisions of exact integers, so output is bit-identical in any
    * engine. Docs with fewer than 2 tokens have no bigrams and are absent
    * from the output (nothing to score).
    *
    * Scale shape: LM build is one combinable count aggregation (shuffle
    * carries per-partition bigram counts, not text); scoring is one
    * equi-join on the bigram string (AQE broadcasts the LM side when the
    * vocabulary is small; at corpus scale it is a shuffle hash join on a
    * high-cardinality key — no skew salting needed) plus one combinable
    * per-doc aggregation. No all-pairs, no driver-side state. */
  def bigramQuality(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      trainFrac: Double = 0.8,
      salt: String = "bigramlm"): DataFrame = {
    val docBigrams = df.select(col(idCol), explode(bigrams(col(textCol))).as("bigram"))
    val lm = df
      .filter(Sampling.hashBucket(col(idCol), salt) < lit(Sampling.hexThreshold(trainFrac)))
      .select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    docBigrams.join(lm, Seq("bigram"), "left")
      .select(col(idCol),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov"),
        (length(bin(coalesce(col("cnt"), lit(0L)) + 1)) - 1).cast("long").as("bucket"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("oov_n"),
        sum(col("bucket")).as("sum_bucket"))
      .withColumn("oov_ratio", col("oov_n").cast("double") / col("n_bigrams"))
      .withColumn("avg_log2_bucket", col("sum_bucket").cast("double") / col("n_bigrams"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    * upweight documents whose phrasing is RELATIVELY more likely under a
    * target domain's bigram LM than under the whole-corpus LM, then emit
    * each doc `w` times via the deterministic content-hash repeat — the
    * "make the corpus look like the target domain" pre-training sampler.
    *
    * Integer-exact importance: both LMs score a doc as its mean
    * log2-frequency bucket (same `length(bin(cnt+1))-1` device as
    * [[bigramQuality]]), so `importance = avg_target - avg_corpus` is a
    * difference of two exact integer divisions — target-typical docs sit
    * near 0, generic docs go negative by roughly log2(corpus/target
    * volume). The weight is one affine clamp of that score
    * (`clamp(2 + importance/2, 0, maxWeight)` — /2 is exact, the
    * calibration constants are a policy choice), and the repeat draw is
    * [[Sampling.weightedRepeat]]'s md5 Bernoulli — every step replays
    * bit-identically in any engine.
    *
    * Scale shape: two combinable LM count aggregations, two equi-joins on
    * the high-cardinality bigram string, one combinable per-doc fold, then
    * per-row weight + explode. No all-pairs, no driver state; docs with
    * fewer than 2 tokens have no bigrams and drop out (unscorable). */
  def dsirResample(
      df: DataFrame,
      targetPred: Column,
      textCol: String = "text",
      idCol: String = "doc_id",
      salt: String = "dsir",
      maxWeight: Double = 3.0): DataFrame = {
    val docBigrams = df.select(col(idCol), explode(bigrams(col(textCol))).as("bigram"))
    def lm(src: DataFrame, cntCol: String) = src
      .select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as(cntCol))
    val bucket = (c: Column) => (length(bin(coalesce(c, lit(0L)) + 1)) - 1).cast("long")
    val scored = docBigrams
      .join(lm(df.filter(targetPred), "cnt_t"), Seq("bigram"), "left")
      .join(lm(df, "cnt_c"), Seq("bigram")) // inner: every bigram is in the corpus LM
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(bucket(col("cnt_t"))).as("sum_t"),
        sum(bucket(col("cnt_c"))).as("sum_c"))
      .withColumn("importance",
        col("sum_t").cast("double") / col("n_bigrams")
          - col("sum_c").cast("double") / col("n_bigrams"))
      .withColumn("w",
        least(greatest(lit(2.0) + col("importance") / 2, lit(0.0)), lit(maxWeight)))
    Sampling.weightedRepeat(scored, idCol, col("w"), salt)
      .select(col(idCol), col("n_bigrams"), col("importance"), col("w"), col("copy_idx"))
  }

  // ---------------------------------------- Gopher-style structural rules

  /** Occurrences of a literal substring (no regex semantics — `needle` is
    * taken verbatim), via length difference under literal replace: both
    * `replace` and `length` are engine-portable, so counts replay exactly
    * in any SQL engine. */
  private def literalCount(text: Column, needle: String): Column =
    (length(text) - length(replace(text, lit(needle), lit("")))) / needle.length

  /** Non-empty lines of the raw text (trimmed emptiness test; the line
    * structure itself is NOT normalized away — these rules are about
    * layout, unlike the token ops that collapse whitespace first). */
  private def contentLines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** Gopher/Dolma-style structural quality rules (re-expressed as one
    * deterministic expression set; see Rae et al. 2021 §A1.1). Emits the
    * per-document rule metrics plus the composite `gopher_keep` decision:
    *
    *   - `n_words`, `mean_word_len` — word-count bounds + mean length in
    *     [3, 10] (gibberish / char-soup rejection),
    *   - `symbol_ratio` — '#' and '…'("...") occurrences per word < 0.1,
    *   - `bullet_line_frac` — ≤ 90% of lines may start with a bullet,
    *   - `ellipsis_line_frac` — ≤ 30% of lines may end with "...",
    *   - `alpha_word_frac` — > 80% of words must contain a letter.
    *
    * Every ratio is a single integer/integer division (no accumulation
    * order), so the doubles are bit-identical in any engine. Per-row
    * expressions only — scan-parallel, no shuffle, same scale shape as the
    * rest of this module. Thresholds are the published defaults, tunable
    * per corpus. */
  def gopherRules(
      df: DataFrame,
      textCol: String = "text",
      minWords: Int = 5,
      maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = greatest(size(toks), lit(1))
    val lines = contentLines(t)
    val nLines = greatest(size(lines), lit(1))
    val bullets = Seq("-", "*", "•")
    val bulletSet = array(bullets.map(lit): _*)
    df.withColumn("n_words", size(toks))
      .withColumn("mean_word_len", meanTokenLength(t))
      .withColumn("symbol_ratio",
        (literalCount(t, "#") + literalCount(t, "...")).cast("double") /
          nWords.cast("double"))
      .withColumn("bullet_line_frac",
        size(filter(lines, l =>
          array_contains(bulletSet, substring(trim(l), 1, 1)))).cast("double") /
          nLines.cast("double"))
      .withColumn("ellipsis_line_frac",
        size(filter(lines, l => endswith(trim(l), lit("...")))).cast("double") /
          nLines.cast("double"))
      .withColumn("alpha_word_frac",
        size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double") /
          nWords.cast("double"))
      .withColumn("gopher_keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") > 0.8)
  }

  /** One-pass profile of a documents table. */
  def profile(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("mean_token_len", meanTokenLength(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Corpus data card: the per-(source, language) summary table a dataset
    * release ships with — document counts, token/char volume, and the
    * exact-duplicate picture (distinct fingerprints vs rows). Every column
    * is INTEGER-exact by construction: counts and integer sums only, no
    * float means, so the card replays bit-identically in any engine (a
    * float "mean quality" column would make the release artifact
    * order-dependent — compute distributions separately if needed).
    *
    * Scale shape: one scan with per-row expressions (lang-ID, token count,
    * fingerprint), then a combinable aggregation on (source, lang) —
    * count_distinct expands map-side like any exact distinct; at 100 TB
    * the group count is tiny (sources x languages), so the shuffle carries
    * partial aggregates, not documents. */
  def dataCard(
      df: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val t = col(textCol)
    df.groupBy(col(sourceCol), langId(t).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(t).cast("long")).as("n_tokens"),
        sum(length(t).cast("long")).as("n_chars"),
        countDistinct(fingerprint(t)).as("n_unique_docs"))
  }

  /** PMI collocation mining: the top-`k` adjacent-token bigrams by
    * pointwise mutual information — the classic "new york"/"byte pair"
    * phrase detector (Church & Hanks 1990), here over bigram-slot
    * probabilities (p(a,.), p(.,b), p(a,b) all from the one bigram
    * relation). PMI = log of `c_ab * N / (c_l * c_r)` and log is
    * monotone, so the RANKING never needs one: the score is the exact
    * integer `(c_ab * N * 2^16) div (c_l * c_r)` (the PMI ratio in Q16
    * fixed point, DECIMAL-widened so a 100 TB corpus's `c_ab * N` cannot
    * overflow a long), and ties break by the bigram text. `minCount`
    * drops hapax pairs whose ratio explodes on noise — the standard PMI
    * caveat.
    *
    * Scale shape: one scan explodes bigrams; ONE combinable aggregation
    * counts pairs; both marginals derive from the pair counts (group-bys
    * of the already-aggregated relation, never a second scan); N is a
    * 1-row aggregate broadcast by the cross join; final top-k is
    * TakeOrdered, never a global sort. */
  def pmiCollocations(
      df: DataFrame,
      textCol: String = "text",
      minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    pmiFromCounts(
      bigramPairs(graft.sources.Tables.ensureParallelism(df), textCol)
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_ab")),
      minCount, k)
  }

  /** The (left, right) adjacent-token pair relation [[pmiCollocations]]
    * counts — exposed so a stream can maintain the pair counts live
    * (bigrams() emits "l r" strings; tokens split on \s+ contain no
    * spaces, so the split back is reversible). Stateless per row. */
  def bigramPairs(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(bigrams(col(textCol))).as("bg"))
      .select(element_at(split(col("bg"), " "), 1).as("l"),
        element_at(split(col("bg"), " "), 2).as("r"))

  /** [[pmiCollocations]] from an already-maintained `(l, r, c_ab)` count
    * relation — the projection a streaming monitor runs over its
    * complete-mode counter table (counts are the ONLY state; the PMI
    * report is stateless over them). */
  def pmiFromCounts(counts: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, s"bad params minCount=$minCount k=$k")
    val cAB = graft.util.Checkpoints.cut( // reused: marginals + N + score
      counts.select(col("l"), col("r"), col("c_ab")))
    val cL = cAB.groupBy(col("l")).agg(sum(col("c_ab")).as("c_l"))
    val cR = cAB.groupBy(col("r")).agg(sum(col("c_ab")).as("c_r"))
    val n = cAB.agg(sum(col("c_ab")).as("n"))
    cAB.filter(col("c_ab") >= minCount)
      .join(cL, "l").join(cR, "r")
      .crossJoin(broadcast(n))
      .select(col("l"), col("r"), col("c_ab"),
        expr("CAST((CAST(c_ab AS DECIMAL(38,0)) * n * 65536) div " +
          "(CAST(c_l AS DECIMAL(38,0)) * c_r) AS BIGINT)").as("pmi_q16"))
      .orderBy(col("pmi_q16").desc, col("l"), col("r"))
      .limit(k)
  }
}
