package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every candidate-generation step is a bucket join (shuffle
  * on a band/block key), never an all-pairs comparison; the quadratic work
  * only happens inside buckets, which is the standard LSH contract. Hashes
  * used in oracle-checked paths are md5 hex strings compared
  * lexicographically — deterministic and engine-portable (no seed files).
  */
object Dedup {

  /** Normalized text: lowercased, whitespace-collapsed, trimmed. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content fingerprint; keeps the lowest id per group
    * (deterministic, unlike a bare dropDuplicates). A min_by aggregation on
    * the fingerprint: duplicates partial-combine map-side and nothing is
    * sorted — on a duplicate-heavy 100 TB corpus the shuffle carries one
    * candidate row per fingerprint per input partition, not every row (a
    * window form would shuffle and sort the whole corpus). */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val row = struct(df.columns.toIndexedSeq.map(col): _*)
    // min_by(row, struct(id)): the struct wrapper makes the ordering key
    // non-null at the top level (a bare min_by ordering IGNORES null-id
    // rows — a group of all-null ids would have produced an all-null row;
    // wrapped, a null id just sorts first like the window form's
    // nulls-first asc), and ONLY the id is compared — a min(struct(id,
    // full-row)) ordering would require every column to be orderable and
    // break on map-typed payloads. Ties on id (same fingerprint AND same
    // id) pick an arbitrary copy — such rows are full duplicates by
    // construction of any sane id, so the kept values are identical.
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(row.as("__row"), struct(col(idCol).as("__id"))).as("__row"))
      .select(col("__row.*"))
  }

  // -------------------------------------------------------------- minhash

  /** Distinct word n-gram shingles of normalized text. Documents shorter
    * than `n` tokens yield null (no shingles — they take no part in
    * near-dup candidate generation, and the SQL oracle's generate_series
    * formulation agrees). Backed by the single-pass
    * [[graft.functions.WordShingles]] expression: the HOF form it replaces
    * interpreted its lambda per element and copied each n-token slice —
    * the dominant cost of every shingle-based operator. */
  def wordShingles(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.WordShingles(
      ColumnBridge.expression(split(normalize(text), " ")), n))
  }

  /** MinHash signature: k independent hash minima. Hash j of shingle s is
    * md5(s + "#" + j); the minimum is lexicographic over hex strings, which
    * every engine orders identically. Backed by the single-pass
    * [[graft.functions.MinHashMd5]] expression (~30x the interpreted form). */
  def minhashSignature(shingles: Column, k: Int = 12): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.MinHashMd5(ColumnBridge.expression(shingles), k))
  }

  /** The banded-signature relation (id, band, key) — the STORABLE index
    * side of MinHash dedup: 32-byte keys, `bands` rows per doc, tiny at any
    * corpus size. Persist this for the accepted corpus; a future batch
    * dedups against it via [[minhashCandidatesIncremental]] without ever
    * re-shingling old documents. */
  def minhashBands(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 4): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // signature + banding fused in one expression: a projected signature
    // column would be re-evaluated per element_at after project-collapse
    val keys = ColumnBridge.column(graft.functions.MinHashBandKeys(
      ColumnBridge.expression(wordShingles(col(textCol))), k, bands))
    graft.sources.Tables.ensureParallelism(df).select(col(idCol).as("id"),
      posexplode(keys).as(Seq("band", "key")))
  }

  /** Candidate near-duplicate pairs (idA < idB) that share at least one LSH
    * band. One shuffle on (band, key); bucket-local self-join. */
  def minhashCandidates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 4): DataFrame = {
    // lineage cut: both sides of the self-join reference this subtree —
    // without it the signature pass runs twice. Tracked so the session can
    // release the blocks post-query (Checkpoints.releaseAll).
    val e = graft.util.Checkpoints.cut(minhashBands(df, textCol, idCol, k, bands))
    e.as("x").join(e.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Incremental MinHash dedup — the shape a production corpus actually
    * runs: candidates between a NEW batch and the union of itself with the
    * already-banded corpus, never old x old (those pairs were adjudicated
    * when the old docs were accepted; re-emitting them would re-litigate
    * the whole corpus on every batch). `oldBands` is a [[minhashBands]]
    * relation — typically read back from storage, so old documents are
    * never re-shingled. Output (id_a, id_b), id_a < id_b, both orders of
    * new-vs-old membership included.
    *
    * Scale shape: identical to [[minhashCandidates]] — one shuffle on
    * (band, key) — but the shingle/signature pass runs ONLY over the new
    * batch; the corpus side contributes bare 32-byte keys. */
  def minhashCandidatesIncremental(
      newDf: DataFrame,
      oldBands: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 4): DataFrame = {
    val bNew = graft.util.Checkpoints.cut( // referenced by both join sides
      minhashBands(newDf, textCol, idCol, k, bands))
    val all = bNew.withColumn("nw", lit(true))
      .unionByName(oldBands.select(col("id"), col("band"), col("key"))
        .withColumn("nw", lit(false)))
    all.as("x").join(all.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id") && (col("x.nw") || col("y.nw")))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Verified near-duplicates: MinHash candidates whose true shingle-set
    * Jaccard clears `threshold`. The exact check only runs on candidate
    * pairs — LSH prunes the quadratic space first.
    *
    * Scale shape: candidates are a tiny fraction of the corpus (that is
    * LSH's whole point), so the corpus is semi-join-pruned to docs that
    * appear in some candidate pair BEFORE the (expensive) shingle
    * re-computation — the verification pass shingles only candidate docs,
    * not the whole table. Only bare id lists are ever broadcast; shingle
    * arrays stay distributed (a broadcast of shingles would blow the
    * driver on a large corpus). */
  def nearDuplicates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.7,
      k: Int = 12,
      bands: Int = 4): DataFrame = {
    // lineage cut: cand is referenced three times (id prune + 2 joins);
    // it is a tiny (id_a, id_b) relation
    val cand = graft.util.Checkpoints.cut(minhashCandidates(df, textCol, idCol, k, bands))
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    // shingle ONLY candidate docs: broadcast the bare ids as a semi-join
    // filter under the shingle projection
    val sh = graft.util.Checkpoints.cut( // reused by both sides of the pair join
      graft.sources.Tables.ensureParallelism(df)
        .join(broadcast(candIds), col(idCol) === col("id"), "left_semi")
        .select(col(idCol).as("id"), wordShingles(col(textCol)).as("sh")))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ----------------------------------------------------- decontamination

  /** Train-vs-eval n-gram decontamination: the (train doc, eval doc) pairs
    * sharing at least `minShared` distinct word `n`-gram shingles — the
    * standard pre-training check that benchmark/eval text has not leaked
    * into the training corpus. Output: (train_id, eval_id, shared_ngrams).
    *
    * Scale shape: a single equi-join on the shingle string (shuffle on
    * shingle; the eval side is tiny in practice and AQE broadcasts it) —
    * never a doc x doc comparison. `maxShingleDf` drops shingles appearing
    * in more than that many TRAIN rows before the join: boilerplate n-grams
    * ("all rights reserved ...") are both useless as contamination evidence
    * and the hot keys that would skew the shuffle — the cap bounds any
    * single shingle's join fan-out at maxShingleDf x eval-side occurrences.
    */
  def crossCorpusOverlap(
      train: DataFrame,
      eval: DataFrame,
      n: Int = 5,
      minShared: Int = 2,
      maxShingleDf: Int = Int.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = train.select(col(idCol).as("train_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val e = eval.select(col(idCol).as("eval_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val filtered =
      if (maxShingleDf == Int.MaxValue) t
      else {
        // hot-shingle list is tiny (only shingles OVER the cap); anti-join
        // prunes before the cross-corpus join
        val hot = t.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf).select(col("sh"))
        t.join(hot, Seq("sh"), "left_anti")
      }
    filtered.join(e, Seq("sh"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Bloom-screened decontamination — [[crossCorpusOverlap]]'s 100 TB
    * front-end. The eval corpus's shingle set collapses to an `mBits`-bit
    * bloom filter ([[Sketch.bloomBuild]]) that ships inside the plan as a
    * literal, so the train side is screened SCAN-PARALLEL: no train-shingle
    * shuffle and no hot-shingle skew (the exact join shuffles every train
    * shingle ON THE SHINGLE STRING, where boilerplate n-grams are exactly
    * the hot keys its `maxShingleDf` cap exists for; here the only shuffle
    * is the per-doc suspect count, keyed by `train_id` — uniform by
    * construction). One-sided like the sketch: a leaked eval shingle is
    * NEVER missed, false positives inflate `n_suspect` at rate
    * ~(1 - e^{-kn/m})^k — size `mBits` to make that negligible, then
    * either act on the screen directly or run the exact join over the
    * (tiny) flagged remainder. Output: (train_id, n_shingles, n_suspect)
    * for train docs with at least `minSuspect` suspect shingles. */
  def bloomDecontaminate(
      train: DataFrame,
      eval: DataFrame,
      n: Int = 5,
      k: Int = 3,
      mBits: Int = 1 << 17,
      minSuspect: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val bitmap = Sketch.bloomBuild(
      eval.select(explode(wordShingles(col(textCol), n)).as("sh")),
      "sh", k, mBits)
    bloomScreen(train, bitmap, n, k, mBits, minSuspect, textCol, idCol)
  }

  /** The screen half of [[bloomDecontaminate]] against a PREBUILT bitmap —
    * the shape a persisted filter ([[Sketch.bloomSave]]/[[Sketch.bloomLoad]])
    * deploys: the eval set is scanned once ever; every later training-data
    * job runs only this scan-parallel membership pass. Parameters must
    * match the build (load returns them alongside the bitmap). */
  def bloomScreen(
      train: DataFrame,
      bitmap: Array[Long],
      n: Int = 5,
      k: Int = 3,
      mBits: Int = 1 << 17,
      minSuspect: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      salt: String = "bloom"): DataFrame =
    graft.sources.Tables.ensureParallelism(train)
      .select(col(idCol).as("train_id"),
        explode(wordShingles(col(textCol), n)).as("sh"))
      .select(col("train_id"),
        Sketch.bloomMaybe(col("sh"), bitmap, k, mBits, salt).as("maybe"))
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("maybe"), lit(1L)).otherwise(lit(0L))).as("n_suspect"))
      .filter(col("n_suspect") >= minSuspect)

  // ---------------------------------------------------------- containment

  /** Asymmetric near-dup: per pair, the shingle-set containment in both
    * directions — C(a in b) = |sh(a) ∩ sh(b)| / |sh(a)| and the mirror.
    * Catches what symmetric Jaccard misses: a short doc quoted inside a
    * long one has Jaccard ~ |a|/|b| (tiny) but containment ~ 1. Pairs are
    * kept when EITHER direction clears `threshold`. Output:
    * (id_a, id_b, shared, contain_a, contain_b), id_a < id_b.
    *
    * Scale shape: group the posting list by shingle and emit the i<j
    * member combinations IN-LIST (one shuffle on the shingle, one on the
    * pair — a posting self-join would shuffle the exploded relation twice
    * and was measurably slower). Shared counts are integers (shingle sets
    * are distinct), so the score is one exact division — engine-portable.
    * Per-shingle fan-out is df^2, so `maxShingleDf` caps it: boilerplate
    * shingles over the cap are dropped — useless as containment evidence,
    * and exactly the keys that would skew the pair shuffle (uncapped, one
    * df-D shingle emits D^2/2 pairs; set the cap at 100 TB). df-1 shingles
    * pair with nothing and are dropped with the same filter. Docs with
    * fewer than `n` tokens have no shingles and never pair (the same
    * contract the Jaccard path has). */
  def containmentPairs(
      df: DataFrame,
      threshold: Double = 0.8,
      n: Int = 3,
      maxShingleDf: Int = Int.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val posts = graft.sources.Tables.ensureParallelism(df)
      .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("id"), size(col("sh")).as("nsh"), explode(col("sh")).as("s"))
    // sort_array orders members by id (struct comparison is lexicographic
    // on the first field), so x before y in the list means x.id < y.id
    val lists = posts.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("id"), col("nsh")))).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxShingleDf)
    val pair = lists.select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y => struct(
          x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          x.getField("nsh").as("na"), y.getField("nsh").as("nb")))))).as("p"))
    pair.groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"), col("shared"),
        (col("shared").cast("double") / col("na")).as("contain_a"),
        (col("shared").cast("double") / col("nb")).as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= threshold)
  }

  // ------------------------------------------------------ prefix filtering

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family — Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008): every
    * pair whose distinct-shingle Jaccard is at least `thrNum/thrDen`,
    * with NO false negatives — the guarantee MinHash banding
    * ([[nearDuplicates]]) trades away — yet never an all-pairs compare.
    *
    * Each document's shingles are sorted by ascending document frequency
    * (ties by token text — a total order any engine reproduces), and only
    * the first `len - ceil(t*len) + 1` tokens (the PREFIX) enter the
    * candidate equi-join. Lossless by the prefix-filter theorem: Jaccard
    * >= t forces an overlap of at least ceil(t*max(la,lb)) tokens, and
    * under a shared total order two sets overlapping that much must meet
    * inside these prefixes. The threshold is a rational `thrNum/thrDen`
    * and the final filter compares `inter*thrDen >= union*thrNum` in
    * integers, so the accept set is bit-exact in any engine.
    *
    * Scale shape: the candidate join is an equi-join on single prefix
    * tokens — and because the order is df-ASCENDING, prefixes hold each
    * document's RAREST shingles, so the join's buckets are small by
    * construction (a df-D token fans out at most D^2/2 pairs, and prefix
    * tokens have the smallest D in the corpus — the hot boilerplate keys
    * that skew every posting-list join never reach this one). The length
    * filter `t*lb <= la <= lb/t` prunes inside the join, and the PPJoin
    * positional filter prunes after it: a pair whose best shared prefix
    * token sits so late in both lists that the remaining suffixes cannot
    * reach the required overlap `alpha = ceil(t*(la+lb)/(1+t))` is
    * discarded without verification. Verification itself is a COUNT join,
    * not an array intersect: the postings of candidate documents
    * self-join on the token and aggregate to exact per-pair intersection
    * sizes (map-side combined — the shuffle carries partial counts), so
    * no shingle array ever moves through the verify shuffle. Replacing
    * the array-intersect verify with this count join took the sf0.1
    * benched row from 12.4 s to ~4 s at 600k candidates. */
  def prefixJaccardPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      thrNum: Int = 3,
      thrDen: Int = 10,
      n: Int = 3): DataFrame = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold must be a rational in (0,1]: $thrNum/$thrDen")
    val toks = graft.util.Checkpoints.cut( // reused: df counts, ranking, verify
      graft.sources.Tables.ensureParallelism(df)
        .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
        .filter(col("sh").isNotNull)
        .select(col("id"), explode(col("sh")).as("t")))
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // per-doc shingle list in global (df asc, token asc) order; collect_list
    // is partition-order-dependent but sort_array restores determinism
    // ((df, t) is unique within a doc — shingles are distinct)
    val ranked =
      toks.join(dfreq, "t")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("st"))
        .select(col("id"),
          transform(col("st"), x => x.getField("t")).as("s"),
          size(col("st")).as("len"))
    // prefix length p = len - ceil(t*len) + 1, ceil done in integers; the
    // 1-based position inside the sorted list rides along for the
    // positional filter
    val p = col("len") - floor((col("len") * thrNum + (thrDen - 1)) / thrDen) + 1
    val pref = ranked.select(col("id"), col("len"),
      posexplode(slice(col("s"), lit(1), p.cast("int"))).as(Seq("pos0", "t")))
      .select(col("id"), col("len"), (col("pos0") + 1).as("pos"), col("t"))
    // per-match overlap upper bound: every common token sits at or after
    // this match in BOTH sorted lists, so inter <= min(la-ia, lb-ib) + 1;
    // a pair survives if its best match could still reach alpha
    val ub = least(col("len_a") - col("pos_a"), col("len_b") - col("pos_b")) + 1
    // required overlap alpha = ceil(t*(la+lb)/(1+t)), in integers
    val alphaNum = (col("len_a") + col("len_b")) * thrNum
    val alpha = floor((alphaNum + (thrNum + thrDen - 1)) / (thrNum + thrDen))
    val cand = graft.util.Checkpoints.cut( // reused: id prune + final join
      pref.select(col("id").as("id_a"), col("len").as("len_a"),
          col("pos").as("pos_a"), col("t"))
        .join(pref.select(col("id").as("id_b"), col("len").as("len_b"),
          col("pos").as("pos_b"), col("t")), "t")
        .filter(col("id_a") < col("id_b"))
        // Jaccard >= t forces t <= min(la,lb)/max(la,lb): both directions
        .filter(col("len_b") * thrDen >= col("len_a") * thrNum &&
          col("len_a") * thrDen >= col("len_b") * thrNum)
        .groupBy(col("id_a"), col("id_b"), col("len_a"), col("len_b"))
        .agg(max(ub).as("best_ub"))
        .filter(col("best_ub") >= alpha)
        .select(col("id_a"), col("id_b"), col("len_a"), col("len_b")))
    // verify by COUNTING shared tokens in the postings of candidate docs —
    // partial-aggregated pair counts, no shingle arrays in the shuffle
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val postsC = toks.join(broadcast(candIds), Seq("id"), "left_semi")
    val inter = postsC.select(col("id").as("id_a"), col("t"))
      .join(postsC.select(col("id").as("id_b"), col("t")), "t")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("id_a", "id_b")) // jaccard >= t implies inter >= 1
      .withColumn("uni", col("len_a") + col("len_b") - col("inter"))
      .filter(col("inter") * thrDen >= col("uni") * thrNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
  }

  // ------------------------------------------------------- record linkage

  /** EXACT edit-distance self-join (record linkage / fuzzy matching):
    * every pair of strings with Levenshtein distance at most `maxDist`,
    * found via positional q-gram blocking (Gravano et al. VLDB 2001) —
    * never an all-pairs scan of the corpus.
    *
    * Candidate generation: each string explodes into its positional
    * `q`-grams; pairs meet in an equi-join on the gram with positions
    * within `maxDist` of each other, and survive only with at least
    * `max(la,lb) - q + 1 - q*maxDist` matching grams (one edit destroys at
    * most `q` of the longer string's grams — the Gravano count bound, so
    * the filter is LOSSLESS; our per-gram match count can only overcount
    * the bound's one-to-one matching, which keeps it safe). Pairs where
    * both strings are shorter than `q*(maxDist+1)` fall outside the
    * bound's guarantee and go through a short-string bucket instead —
    * all-pairs over only the sub-15-char entries, a vanishing fraction of
    * any real corpus. Verification runs the real `levenshtein` ONLY on
    * surviving candidates, with the `|la-lb| <= maxDist` length prune
    * first. Output: (id_a, id_b, distance), integer-exact in any engine.
    *
    * Input: `df` with one string per row. Scale shape: the gram join
    * shuffles (gram, position) keys; the count filter collapses the
    * fan-out before any string comparison runs; short strings aside, no
    * stage is quadratic in the corpus. */
  def editDistancePairs(
      df: DataFrame,
      strCol: String,
      idCol: String,
      maxDist: Int = 4,
      q: Int = 3): DataFrame = {
    val base = prepStrings(df, strCol, idCol)
    editDistanceCandidates(base, base, maxDist, q, selfJoin = true)
  }

  /** The CROSS-relation form of [[editDistancePairs]] — the production
    * entity-resolution shape: match every `left` record against `right`
    * (dirty feed vs clean master), `(id_a, id_b, distance)` with `id_a`
    * from `left`. Identical lossless blocking; the two relations' grams
    * meet in the same equi-join, and a left id never compares against
    * another left id. */
  def editDistanceLink(
      left: DataFrame,
      right: DataFrame,
      strCol: String,
      idCol: String,
      maxDist: Int = 4,
      q: Int = 3): DataFrame =
    editDistanceCandidates(
      prepStrings(left, strCol, idCol), prepStrings(right, strCol, idCol),
      maxDist, q, selfJoin = false)

  private def prepStrings(df: DataFrame, strCol: String, idCol: String): DataFrame =
    graft.util.Checkpoints.cut( // reused: grams, shorts, verify joins
      graft.sources.Tables.ensureParallelism(df)
        .select(col(idCol).as("id"), col(strCol).as("v"))
        .filter(col("v").isNotNull)
        .withColumn("len", length(col("v"))))

  /** Shared body of [[editDistancePairs]]/[[editDistanceLink]]: q-gram
    * candidate generation with the Gravano count bound over prepped
    * `(id, v, len)` relations, then the levenshtein verify. `selfJoin`
    * dedups unordered pairs by `id_a < id_b`; the cross form keeps every
    * (left, right) combination once by construction. */
  private def editDistanceCandidates(
      baseA: DataFrame, baseB: DataFrame,
      maxDist: Int, q: Int, selfJoin: Boolean): DataFrame = {
    require(maxDist >= 0 && q >= 1, s"bad params maxDist=$maxDist q=$q")
    val pairFilter =
      if (selfJoin) col("id_a") < col("id_b") else lit(true)
    val minGuaranteed = q * (maxDist + 1)
    def grams(base: DataFrame) = base.filter(col("len") >= q)
      .select(col("id"), col("len"), explode(
        transform(sequence(lit(1), col("len") - (q - 1)),
          i => struct(i.as("pos"), col("v").substr(i, lit(q)).as("g")))).as("pg"))
      .select(col("id"), col("len"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val candGram = grams(baseA).select(col("id").as("id_a"),
        col("len").as("len_a"), col("pos").as("pos_a"), col("g"))
      .join(grams(baseB).select(col("id").as("id_b"), col("len").as("len_b"),
        col("pos").as("pos_b"), col("g")), "g")
      .filter(pairFilter)
      .filter(abs(col("pos_a") - col("pos_b")) <= maxDist)
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .groupBy(col("id_a"), col("id_b"), col("len_a"), col("len_b"))
      .agg(count(lit(1)).as("matches"))
      .filter(col("matches") >=
        greatest(lit(1), greatest(col("len_a"), col("len_b")) - (q - 1) - q * maxDist))
      .select(col("id_a"), col("id_b"))
    // pairs where BOTH sides are short enough to defeat the count bound:
    // brute-force only this tiny bucket
    val candShort = baseA.filter(col("len") < minGuaranteed)
      .select(col("id").as("id_a"), col("len").as("len_a"))
      .crossJoin(baseB.filter(col("len") < minGuaranteed)
        .select(col("id").as("id_b"), col("len").as("len_b")))
      .filter(pairFilter)
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("id_a"), col("id_b"))
    candGram.union(candShort).distinct()
      .join(baseA.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(baseB.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("distance", levenshtein(col("v_a"), col("v_b")))
      .filter(col("distance") <= maxDist)
      .select(col("id_a"), col("id_b"), col("distance"))
  }

  // -------------------------------------------------------------- simhash

  /** 60-bit SimHash over distinct whitespace tokens: per-bit majority vote
    * of md5-derived token hashes, via the single-pass
    * [[graft.functions.SimHash64]] expression. Scan-parallel, no shuffle,
    * and engine-portable (oracle-checkable). */
  def simhash(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val toks = array_distinct(split(normalize(text), " "))
    ColumnBridge.column(graft.functions.SimHash64(ColumnBridge.expression(toks)))
  }

  /** Near-dup pairs by SimHash: block on 4 15-bit chunks, then verify
    * bit_count(xor) <= maxHamming inside buckets. Complete recall is
    * guaranteed only for maxHamming <= 3 (pigeonhole over 4 blocks); larger
    * thresholds return the bucket-reachable subset. */
  def simhashPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    // lineage cut: the self-join would otherwise compute the simhash scan
    // on both sides; the (id, sim) relation is 16 bytes/doc
    val withSim = graft.util.Checkpoints.cut(
      graft.sources.Tables.ensureParallelism(df)
        .select(col(idCol).as("id"), simhash(col(textCol)).as("sim")))
    val blocks = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("sim"), b * 15).bitwiseAND(lit(0x7FFFL))
      }: _*)).as(Seq("block", "key")))
    blocks.as("x").join(blocks.as("y"),
        col("x.block") === col("y.block") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------ duplicate clusters

  /** Connected components over a near-duplicate pair list: the step that
    * turns pairwise candidates into DUPLICATE CLUSTERS, so a dedup pass can
    * keep one canonical doc per cluster (min id) instead of dropping both
    * ends of every pair.
    *
    * Iterative min-label propagation PLUS pointer halving: each round every
    * node takes the minimum label among itself, its neighbors, and its
    * current component's component (`comp(comp(id))` — the jump that turns
    * O(diameter) rounds into O(log diameter), so even a chain-shaped
    * duplicate graph thousands of hops long converges inside the default
    * round budget). Converged when no label changes; the convergence flag
    * is computed inside the same lineage-cut pass (one Spark job per round
    * plus a near-free checkpoint scan). The driver-side loop only checks
    * convergence — no row data ever collects.
    *
    * Output: (doc_id, component) for every doc appearing in `pairs`, with
    * `component` = min doc id reachable. Deterministic.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val edges = graft.util.Checkpoints.cut(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .union(pairs.select(col(bCol).as("a"), col(aCol).as("b"))))
    var labels = graft.util.Checkpoints.cut(
      edges.groupBy(col("a").as("id")).agg(min(col("b")).as("m"))
        .select(col("id"), least(col("id"), col("m")).as("comp")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // candidates for each node's new label: neighbors' labels...
      val prop = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("comp"))
      // ...and the label of the node's own label (pointer halving)
      val hop = labels.as("l")
        .join(labels.as("m"), col("l.comp") === col("m.id"))
        .select(col("l.id").as("id"), col("m.comp").as("comp"))
      val next = graft.util.Checkpoints.cut(
        labels.union(prop).union(hop).groupBy("id").agg(min(col("comp")).as("comp"))
          .join(labels.select(col("id"), col("comp").as("__prev")), "id")
          .select(col("id"), col("comp"), (col("comp") =!= col("__prev")).as("__changed")))
      converged = next.filter(col("__changed")).isEmpty
      labels = next.select(col("id"), col("comp"))
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "(raise maxIter; 25 rounds with pointer halving covers ~2^25-hop chains)")
    labels
  }

  /** Canonical-doc filter: drop every document that belongs to a duplicate
    * cluster but is not its minimum-id member. No broadcast hint: on a
    * heavily-duplicated 100 TB corpus the loser list is a large fraction of
    * the corpus (far beyond broadcast size), so the anti-join must be free
    * to shuffle — AQE still broadcasts it when it turns out small. */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    keepCanonicalByLabels(df, connectedComponents(pairs), idCol)

  /** Same filter from precomputed [[connectedComponents]] labels — use this
    * when the caller also needs the cluster labels, so the iterative CC
    * loop runs once, not twice. */
  def keepCanonicalByLabels(df: DataFrame, labels: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val losers = labels.filter(col("id") =!= col("comp")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Survivorship / golden-record merge — entity resolution's last mile:
    * where [[keepCanonicalByLabels]] KEEPS one member row per duplicate
    * cluster, this FUSES the cluster into one merged record whose fields
    * are independently resolved by deterministic rules (longest text,
    * ties to the smallest id; lexicographic-min source and lang; max
    * n_chars), so the survivor can carry its best values from DIFFERENT
    * members. Every rule is an argmin/argmax via min/max(struct(...)) —
    * one grouped aggregate per cluster, combinable map-side, never a
    * per-cluster window sort. Unclustered docs are their own cluster. */
  def goldenRecords(docs: DataFrame, labels: DataFrame): DataFrame = {
    val lab = docs.join(labels, docs("doc_id") === labels("id"), "left_outer")
      .select(coalesce(col("comp"), col("doc_id")).as("cluster"),
        col("doc_id"), col("text"), col("source"), col("lang"),
        col("n_chars"))
    lab.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_members"),
      max(struct(length(col("text")).as("l"), (-col("doc_id")).as("nid"),
        col("text").as("v"))).getField("v").as("text"),
      min(col("source")).as("source"),
      min(col("lang")).as("lang"),
      max(col("n_chars")).as("n_chars"))
  }

  // ------------------------------------------------ passage-level dedup

  /** Fixed-size word tiles of normalized text — the passage granularity
    * shared by [[passageDedup]] and [[boilerplateTiles]]. Each doc with at
    * least one token yields `ceil(n_tokens / tileWords)` rows stamped
    * (`tile_idx`, `n_tiles`, `tile`), where `tile` is the space-joined
    * run of `tileWords` tokens starting at `tile_idx * tileWords` (the
    * doc's last tile may be shorter). Pure per-row expression + explode —
    * scan-parallel, no shuffle, fan-out stays distributed (the same shape
    * as Sampling.chunkDocs, which plans cut points; this one carries the
    * text payload because downstream compares tile content). */
  def wordTiles(
      df: DataFrame,
      tileWords: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(tileWords > 0, s"tileWords must be positive, got $tileWords")
    // Defense-in-depth, provably dead today: size() returns an int and
    // arrays cap at 2^31-1 elements, so start = tile_idx*tileWords+1 can
    // never exceed Int.MaxValue while the split() above succeeds. The guard
    // stays as a cheap invariant check in case a future Spark lifts the
    // array-size cap (slice() takes an int start and would then wrap).
    val start = col("tile_idx") * tileWords + 1
    val startInt = when(start <= lit(Int.MaxValue.toLong), start.cast("int"))
      .otherwise(raise_error(concat(
        lit(s"wordTiles: doc exceeds ${Int.MaxValue} tokens (tile start "),
        start.cast("string"), lit(") — split the doc upstream"))))
    df.select(col(idCol), split(normalize(col(textCol)), " ").as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("n_tiles",
        (floor((size(col("__toks")) - 1).cast("double") / tileWords) + 1).cast("long"))
      .withColumn("tile_idx", explode(sequence(lit(0L), col("n_tiles") - 1)))
      .withColumn("tile", array_join(
        slice(col("__toks"), startInt, lit(tileWords)), " "))
      .drop("__toks")
  }

  /** Passage-level keep-first dedup (the CCNet/RefinedWeb treatment at a
    * coarse fixed-tile granularity): the corpus is cut into
    * `tileWords`-word tiles, each distinct tile keeps only its FIRST
    * occurrence in global (`idCol`, tile_idx) order, and every doc is
    * reassembled from its surviving tiles. Output:
    * (idCol, n_tiles, n_kept, clean_text), one row per doc that kept at
    * least one tile — a doc whose every passage appeared earlier vanishes
    * entirely (full-document dedup is the degenerate case).
    *
    * Scale shape: tiling is scan-parallel; the winner per tile fingerprint
    * is a min(struct) aggregation on md5(tile) — duplicates partial-combine
    * map-side, the shuffle carries one candidate per fingerprint per input
    * partition (never a corpus-wide sort), and the winning struct carries
    * its payload so there is NO join back to the tile relation. Reassembly
    * is one groupBy on the doc id with an in-group array_sort (groups are
    * per-doc, bounded by doc length). Two shuffles total at any corpus
    * size; the fingerprint shuffle carries md5 keys, not full tile text. */
  def passageDedup(
      df: DataFrame,
      tileWords: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = wordTiles(df, tileWords, textCol, idCol)
    // min(struct(id, tile_idx, payload)): lexicographic on (id, tile_idx)
    // — the global first occurrence — while n_tiles/tile ride along
    val kept = t.groupBy(md5(col("tile")).as("__fp"))
      .agg(min(struct(col(idCol).as("id"), col("tile_idx").as("tile_idx"),
        col("n_tiles").as("n_tiles"), col("tile").as("tile"))).as("__w"))
    reassemble(kept.select(col("__w.id").as(idCol), col("__w.tile_idx"),
      col("__w.n_tiles"), col("__w.tile")), idCol)
  }

  /** Corpus-level boilerplate removal: tiles whose document frequency
    * exceeds `maxDf` (headers, footers, license blocks — the head of the
    * tile distribution) are dropped from EVERY doc, and docs are
    * reassembled from what remains. Output as [[passageDedup]]; a doc made
    * entirely of boilerplate vanishes.
    *
    * Scale shape: the hot set is the df-capped head of the distribution —
    * small by definition (at most total_tiles / maxDf distinct entries) —
    * counted with a partial-combining distinct agg and pruned with a
    * left_anti join (no broadcast hint: AQE broadcasts it when it fits,
    * the same contract as crossCorpusOverlap's df cap). */
  def boilerplateTiles(
      df: DataFrame,
      maxDf: Int,
      tileWords: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val t = wordTiles(df, tileWords, textCol, idCol)
      .withColumn("__fp", md5(col("tile")))
    val hot = t.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__fp"))
    reassemble(t.join(hot, Seq("__fp"), "left_anti").drop("__fp"), idCol)
  }

  /** Shared reassembly for the tile filters: surviving
    * (id, tile_idx, n_tiles, tile) rows back to one row per doc, tiles
    * re-joined in tile_idx order. */
  private def reassemble(kept: DataFrame, idCol: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(max(col("n_tiles")).as("n_tiles"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tile_idx"), col("tile")))),
          x => x.getField("tile")), " ").as("clean_text"))

  // ---------------------------------------------------- embedding cosine

  /** Near-duplicate pairs by embedding cosine >= threshold. Brute-force
    * variant: all pairs (use only when one side fits the nested-loop
    * broadcast); the scale path buckets through Similarity.lsh first. */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    // spread the streamed side of the nested-loop join across all cores (a
    // single parquet file would otherwise pin the whole O(n^2) scoring on
    // one task)
    val n = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      Vectors.norm(col(embCol)).as("nrm"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Vectors.cosinePrenormed(col("a.emb"), col("a.nrm"), col("b.emb"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The 100 TB path for embedding near-dup: sign-LSH buckets first, pairs
    * only within buckets (one shuffle on the bucket id). Recall < 1 by
    * construction — a pair is found only if no hyperplane separates it;
    * `nPlanes = 0` degenerates to the exact all-pairs scan. */
  def embeddingNearDupsLsh(
      df: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      dim: Int = Similarity.InferDim,
      seed: Long = 42L): DataFrame = {
    val d = Similarity.resolveDim(df, embCol, dim)
    val n = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      Vectors.norm(col(embCol)).as("nrm"),
      Similarity.lshBucket(col(embCol), nPlanes, d, seed).as("bucket"))
    n.as("a").join(n.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Vectors.cosinePrenormed(col("a.emb"), col("a.nrm"), col("b.emb"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
