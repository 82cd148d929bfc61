package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / quota operators for training-data
  * pipelines.
  *
  * Everything here is CONTENT-keyed, not RNG-keyed: a doc's split assignment
  * is a pure function of its id and a salt string, so (a) re-running the
  * pipeline — or running it on a different engine — assigns identically
  * (validated against DuckDB), (b) adding data never reshuffles existing
  * assignments (the property that keeps eval sets uncontaminated as a 100 TB
  * corpus grows), and (c) no row ever depends on partitioning or row order.
  * Per-row expressions only — no shuffle for split assignment; quota capping
  * shuffles once on its key like any windowed rank.
  */
object Sampling {

  /** First 8 hex chars of md5(id # salt) — a uniform draw in [0, 16^8),
    * compared lexicographically (hex strings order identically in every
    * engine; no integer conversion needed). */
  def hashBucket(id: Column, salt: String): Column =
    substring(md5(concat(id.cast("string"), lit("#" + salt)).cast("binary")), 1, 8)

  /** Hashing-trick featurization (Weinberger et al.): each categorical
    * (name, value) feature maps to `bucket = md5("name=value") % k`, with
    * a ±1 sign from an independent md5 bit so colliding features cancel
    * in expectation instead of biasing upward. Returns the SPARSE
    * `(id, bucket, v)` relation (v = signed collision sum; null feature
    * values contribute nothing). The fixed k caps model dimensionality
    * with no vocabulary pass — pure per-row hashing plus one grouped sum,
    * so the shuffle carries at most min(|feats|, k) rows per id at any
    * corpus size, and the same md5 arithmetic replays in any engine. */
  def featureHash(
      df: DataFrame, id: Column, feats: Seq[(String, Column)],
      k: Int): DataFrame = {
    require(k >= 2 && feats.nonEmpty, s"need k >= 2 and features, got k=$k")
    val entries = feats.map { case (n, c) =>
      val key = concat(lit(n + "="), c.cast("string"))
      struct(
        (conv(substring(md5(key.cast("binary")), 1, 15), 16, 10)
          .cast("long") % k).as("bucket"),
        when(conv(substring(md5(concat(key, lit("#sign")).cast("binary")),
            1, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("s"))
    }
    df.select(id.as("id"), explode(array(entries: _*)).as("f"))
      .filter(col("f.bucket").isNotNull)
      .groupBy(col("id"), col("f.bucket").as("bucket"))
      .agg(sum(col("f.s")).as("v"))
  }

  /** The hex threshold below which a uniform 8-hex-digit draw falls with
    * probability `fraction`. */
  def hexThreshold(fraction: Double): String = {
    val cap = (fraction.max(0.0).min(1.0) * 4294967296.0).toLong.min(0xFFFFFFFFL)
    f"$cap%08x"
  }

  /** Assign each row to a named split (train/val/test, ...) by content hash.
    * `splits` are (name, fraction) in order; fractions must sum to <= 1 and
    * any remainder falls into `defaultSplit`. Adding rows later never moves
    * an existing row between splits. */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: String = "split",
      splitCol: String = "split",
      defaultSplit: String = "rest"): DataFrame = {
    val total = splits.map(_._2).sum
    require(splits.nonEmpty && splits.forall(_._2 >= 0) && total <= 1.0 + 1e-9,
      s"split fractions must be non-negative and sum to <= 1, got $splits")
    val bucket = hashBucket(col(idCol), salt)
    val cumulative = splits.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.zip(cumulative).foldRight(lit(defaultSplit): Column) {
      case (((name, _), cum), rest) =>
        // a cumulative fraction of 1.0 must catch EVERYTHING: the strict
        // hex compare tops out below "ffffffff…", so without this the top
        // hash value would leak into defaultSplit when fractions sum to 1
        val cond = if (cum >= 1.0 - 1e-9) lit(true) else bucket < lit(hexThreshold(cum))
        when(cond, lit(name)).otherwise(rest)
    }
    // foldRight nests WHENs so the FIRST matching threshold wins; evaluate
    // cheapest-first by checking in ascending cumulative order
    df.withColumn(splitCol, assigned)
  }

  /** The content-hash draw as a NUMBER: the first 8 md5 hex chars parsed to
    * a uniform integer in [0, 2^32) — use instead of [[hashBucket]] when the
    * keep-threshold is a per-row column (hex-string thresholds only work for
    * constants). */
  def hashDraw(id: Column, salt: String): Column =
    conv(hashBucket(id, salt), 16, 10).cast("long")

  /** Deterministic weighted repetition — the mixture/epoch-weighting
    * primitive (DoReMi/DataComp-style domain reweighting): each row is
    * emitted `floor(w)` times plus one more with probability `frac(w)`,
    * where the Bernoulli draw is the same content hash as
    * [[hashSplit]]. `w = 2.0` duplicates every row exactly twice;
    * `w = 0.25` keeps a quarter of rows; `w = 1.5` keeps everything and
    * duplicates half. Copies are stamped 0-based in `copyCol` so downstream
    * shuffling/packing can tell them apart.
    *
    * Scale shape: pure per-row expressions + explode — scan-parallel, no
    * shuffle, and (like [[hashSplit]]) re-running on a grown corpus never
    * changes an existing row's copy count.
    *
    * Two mixes over the same corpus with the same `salt` share their
    * Bernoulli draws (deterministic but correlated — a doc upweighted
    * fractionally in one mix is the same doc upweighted in the other);
    * pass distinct salts when draws must be independent. */
  def weightedRepeat(df: DataFrame, idCol: String, weight: Column,
      salt: String = "repeat", copyCol: String = "copy_idx"): DataFrame = {
    val w = greatest(weight.cast("double"), lit(0.0))
    // floor(frac * 2^32): exact in doubles for any frac expressible as a
    // short decimal; the strict < against a [0, 2^32) draw keeps the
    // acceptance probability within 2^-32 of frac for arbitrary doubles
    val extra = (hashDraw(col(idCol), salt) <
      floor((w - floor(w)) * 4294967296.0).cast("long")).cast("long")
    val copies = floor(w).cast("long") + extra
    // guard: sequence(0, -1) would COUNT DOWN (Spark infers step -1);
    // the when() makes zero-copy rows a null sequence, which explode drops
    df.withColumn(copyCol, explode(when(copies > 0, sequence(lit(0L), copies - 1))))
  }

  /** Stratified split with EXACT per-stratum proportions: within each
    * stratum, rows rank by `(content hash, id)` and the rank range cuts at
    * `floor(cumulative_fraction * n)` boundaries — every stratum lands
    * within one row of its target fraction, unlike [[hashSplit]]'s
    * Bernoulli assignment (binomial wobble ~ sqrt(n) per stratum, which
    * for a 100-row stratum is a +-10% class imbalance). The trade:
    * boundaries depend on the stratum SIZE, so growing the corpus can
    * move rows between splits — use [[hashSplit]] when assignment
    * stability matters more than exact balance (eval sets), this when
    * balance matters more (per-domain train/val quotas).
    *
    * One shuffle on the stratum, one ranked window per stratum (count
    * rides the same window spec, no second pass). Deterministic for any
    * partitioning: the hash order is content-keyed and ties break by id. */
  def stratifiedSplit(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: String = "split",
      splitCol: String = "split",
      defaultSplit: String = "rest"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = splits.map(_._2).sum
    require(splits.nonEmpty && splits.forall(_._2 >= 0) && total <= 1.0 + 1e-9,
      s"split fractions must be non-negative and sum to <= 1, got $splits")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(hashBucket(col(idCol), salt), col(idCol))
    val wAll = Window.partitionBy(col(stratumCol))
    val cumulative = splits.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.zip(cumulative).foldRight(lit(defaultSplit): Column) {
      case (((name, _), cum), rest) =>
        val bound =
          if (cum >= 1.0 - 1e-9) col("__n") // exhaustive: rank <= n always
          else floor(lit(cum) * col("__n").cast("double"))
        when(col("__rank") <= bound, lit(name)).otherwise(rest)
    }
    df.withColumn("__rank", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn(splitCol, assigned)
      .drop("__rank", "__n")
  }

  /** Weighted sampling WITHOUT replacement of `k` rows, deterministic and
    * engine-exact. Each row gets `w` independent md5 draws (one per copy
    * index 1..w) and its priority is the MINIMUM draw; the k smallest
    * priorities win (ties broken by id). This is distributionally exact
    * successive sampling: pool all `sum(w)` iid draws — the global minimum
    * is equally likely to be ANY of them, so the first winner is picked
    * with probability `w_i / sum(w)`, and conditioning repeats the argument
    * for the rest. The same scheme as exponential/A-ES priorities
    * (Efraimidis & Spirakis 2006) but with NO transcendental in the
    * ordering — min/compare on integers only, so Spark and DuckDB select
    * the identical set (ln/pow round engine-specifically; ulp flips at the
    * k boundary would break the oracle).
    *
    * Weights are integer repeat-counts (cast + floor); `w <= 0` rows are
    * never selected. The copy fan-out is `avg(w)`× — per-row explode,
    * scan-parallel, collapsed immediately by a map-side-combining min
    * aggregation, so the shuffle carries one (id, priority) row per item.
    * The top-k is `TakeOrderedAndProject` (per-partition heads, never a
    * global sort). For astronomical weights switch to the exponential
    * form at your own oracle risk; `maxWeight` fails loudly first.
    *
    * Output: the input columns of the selected rows plus `priorityCol`
    * (the winning draw — carry it for reproducibility audits).
    * The reference has no sampling surface at all (its producer emits every
    * generated event — KafkaProducerApp.scala:51-59); extension tier. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weight: Column,
      k: Int,
      salt: String = "wsample",
      maxWeight: Long = 100000L,
      priorityCol: String = "priority"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = greatest(weight.cast("long"), lit(0L))
    val guarded = when(w <= maxWeight, w).otherwise(raise_error(concat(
      lit(s"weightedSample: weight exceeds maxWeight=$maxWeight ("),
      w.cast("string"), lit(") — use capped weights or the exponential form"))))
    val pri = df
      .select(col(idCol).cast("string").as("__id"), guarded.as("__w"))
      .filter(col("__w") > 0)
      // sequence(1, 0) would count DOWN; w=0 rows are already gone
      .select(col("__id"), explode(sequence(lit(1L), col("__w"))).as("__c"))
      .select(col("__id"), hashDraw(
        concat(col("__id"), lit(":"), col("__c").cast("string")), salt).as("__d"))
      .groupBy(col("__id")).agg(min(col("__d")).as(priorityCol))
    val top = pri.orderBy(col(priorityCol), col("__id")).limit(k)
    // k is small by contract — broadcast the winners back onto the input
    df.join(broadcast(top), col(idCol).cast("string") === col("__id"))
      .drop("__id")
  }

  /** Cap rows per key: keep the top `n` rows of each `keyCol` group in
    * `orderBy` order (ties MUST be broken by a unique column for
    * deterministic results — pass e.g. `Seq(col("quality").desc,
    * col("doc_id"))`). The per-source document quota of C4/RefinedWeb-style
    * corpus balancing. One shuffle on the key. */
  def perKeyQuota(df: DataFrame, keyCol: String, n: Int, orderBy: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(orderBy: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Split each document into deterministic fixed-size token chunks — the
    * standard long-document treatment before [[packSequences]]: a doc of
    * `n` tokens yields `ceil(n / contextLen)` rows stamped with
    * (`chunk_idx`, `token_start`, `token_end`), where the half-open token
    * ranges tile [0, n) exactly and every chunk is full-length except the
    * doc's last. Zero-token docs yield NO rows (nothing to train on; the
    * conditional sequence is null there and explode drops it). Pure per-row
    * expression + explode — scan-parallel, no shuffle, and the fan-out
    * stays distributed (same shape as frame sampling in Multimodal).
    *
    * Output: input columns + `n_tokens`, `chunk_idx`, `token_start`,
    * `token_end`. Slice the actual token/char payload downstream with
    * `token_start`/`token_end`; this operator only plans the cut points. */
  def chunkDocs(
      df: DataFrame,
      tokens: Column,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val n = col("n_tokens")
    df.withColumn("n_tokens", tokens.cast("long"))
      // last chunk index = floor((n-1)/contextLen); the double division is
      // exact below 2^53 tokens per doc
      .withColumn("chunk_idx",
        explode(when(n > 0, sequence(lit(0L), floor((n - 1) / contextLen)))))
      .withColumn("token_start", col("chunk_idx") * contextLen)
      .withColumn("token_end", least(col("token_start") + contextLen, n))
  }

  /** Greedy fixed-context sequence packing (the GPT-style concat-and-chunk
    * layout): documents stream in deterministic `idCol` order within each
    * shard, token counts accumulate, and each doc is stamped with the
    * context bin it STARTS in (`floor(exclusivePrefix / contextLen)`) and
    * its token offset inside that bin (`exclusivePrefix % contextLen`).
    * Every bin is exactly `contextLen` tokens except the last per shard; a
    * doc whose tokens cross the boundary straddles into the next bin —
    * chunk long docs first if the model can't split them.
    *
    * Scale shape: ONE window per shard (shuffle on the shard key, sort by
    * id within shard) — never a global cumulative sum, which would
    * serialize the corpus through one partition. Shards are the file-layout
    * unit of a real corpus anyway, and packing is only ever required to be
    * contiguous within a shard. Deterministic and engine-portable: pure
    * integer arithmetic over a content-ordered prefix sum (exclusive
    * prefix < 2^53 tokens per shard keeps the floor exact in any engine).
    *
    * Output: input columns + `n_tokens`, `bin`, `bin_offset`. */
  def packSequences(
      df: DataFrame,
      tokens: Column,
      contextLen: Int,
      idCol: String = "doc_id",
      shardCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    // explicit ROWS frame: the default RANGE frame would let idCol ties
    // share a cumulative sum that includes every tied row, diverging from
    // the documented greedy per-doc stream (and the oracle's ROWS frame)
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val excl = (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long")
    df.withColumn("n_tokens", tokens.cast("long"))
      .withColumn("bin", floor(excl / contextLen).cast("long"))
      .withColumn("bin_offset", (excl % contextLen).cast("long"))
  }

  /** Deterministic label-stratified NEGATIVE SAMPLING — the contrastive-
    * training data step: each anchor row draws `k` negatives from rows
    * with a DIFFERENT label, every choice a pure content-hash function
    * (same negatives every run, any partitioning, any engine — the
    * reproducibility that makes a training set auditable).
    *
    * Scheme: per slot j the anchor hash-picks a DONOR label among the
    * other labels, then an index into the donor pool's deterministic
    * md5-permuted order; the pick resolves by EQUI-JOIN on
    * (label, permutation rank). Label-stratified by construction (donor
    * labels uniform, then uniform within the donor) — the usual
    * contrastive recipe, and the property that keeps the join bounded:
    * no all-pairs scoring, one per-label ranking window plus one
    * (anchors x k) -> candidates equi-join.
    *
    * Output: (idCol, neg_slot, neg_id, neg_label), k rows per anchor. */
  def negativeSample(
      df: DataFrame,
      k: Int = 4,
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 64, s"k out of range: $k")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"), col(labelCol).cast("int").as("lbl"))
      .filter(col("id").isNotNull && col("lbl").isNotNull)
    // bounded: the label set of a contrastive corpus is classes, not rows
    val labels = base.select(col("lbl")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(labels.length >= 2,
      s"negative sampling needs >= 2 labels, found ${labels.length}")
    val cand = base.withColumn("nr",
      row_number().over(Window.partitionBy(col("lbl"))
        .orderBy(hashBucket(col("id"), "negperm"), col("id"))).cast("long") - 1L)
    val sizes = cand.groupBy(col("lbl")).agg(count(lit(1)).as("cnt"))
    val slots = spark.range(k).select(col("id").cast("int").as("j"))
    val drawKey = concat(col("id").cast("string"), lit("|"), col("j"))
    val others = array_remove(array(labels.toIndexedSeq.map(lit): _*), col("lbl"))
    val anchors = base.crossJoin(broadcast(slots))
      .withColumn("donor", element_at(others,
        (hashDraw(drawKey, "negdonor") % lit(labels.length - 1)).cast("int") + 1))
    anchors
      .join(broadcast(sizes.withColumnRenamed("lbl", "donor")), "donor")
      .withColumn("nr", hashDraw(drawKey, "negidx") % col("cnt"))
      .join(cand.select(col("lbl").as("donor"), col("id").as("neg_id"),
        col("nr")), Seq("donor", "nr"))
      .select(col("id").as(idCol), col("j").as("neg_slot"),
        col("neg_id"), col("donor").as("neg_label"))
  }
}
