package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - `bruteForceTopK`: exact; corpus x queries scored with the broadcast
  *    nested-loop join (queries side must be small). The correctness
  *    baseline every ANN variant is measured against.
  *  - `lshTopK`: random-hyperplane LSH buckets; only same-bucket candidates
  *    are scored. Deterministic planes from a seed. The 100 TB path: one
  *    shuffle on bucket id, quadratic work only inside buckets.
  *  - `ivfTopK`: IVF with KMeans centroids (spark.ml); corpus is assigned
  *    to inverted lists once, queries probe the `nprobe` nearest lists.
  *
  * Preconditions (all variants): query ids share the corpus id space — the
  * `vec_id =!= q_id` self-match filter assumes a query id equal to a corpus
  * id IS that corpus row (remap external query ids outside the corpus range
  * before calling). `dim` defaults to [[Similarity.InferDim]] (read from the
  * data at plan-build time); an explicit value is validated against the
  * data and a mismatch fails loudly — a wrong width would otherwise
  * silently hash only the vector prefix (DotProduct uses the common prefix
  * of unequal-length arrays) and degrade recall invisibly.
  */
object Similarity {

  /** Sentinel for `dim` parameters: infer the embedding width from the
    * first data row at plan-build time. */
  val InferDim: Int = -1

  /** Embedding width of `df(embCol)`, read from one row (a LIMIT 1 scan —
    * plan-build cost, not a data pass). The empty-frame require is
    * intentional: an empty corpus/query side cannot be validated, and
    * silently returning an empty result would hide an upstream bug (a
    * filter that dropped everything) behind a plausible "no matches". */
  private[operators] def headDim(df: DataFrame, embCol: String): Int = {
    val r = df.select(size(col(embCol)).as("d")).limit(1).collect()
    require(r.nonEmpty, s"cannot infer embedding dim: '$embCol' has no rows")
    r(0).getInt(0)
  }

  /** Resolve a caller-supplied `dim` against the data: [[InferDim]] reads
    * the width from the first row; an explicit value MUST match it.
    * Checking even the explicit case costs one LIMIT-1 job and turns the
    * silent prefix-hashing footgun into an immediate failure. */
  private[operators] def resolveDim(df: DataFrame, embCol: String, dim: Int): Int = {
    val actual = headDim(df, embCol)
    if (dim == InferDim) actual
    else {
      require(dim == actual,
        s"dim=$dim does not match the embedding width $actual of '$embCol': " +
          "an LSH/IVF pass with a short dim would silently hash only the " +
          "vector prefix. Pass Similarity.InferDim (the default) to infer.")
      dim
    }
  }

  /** Plan-embedded width guard for the QUERY side of a search: every row's
    * embedding must have width `d`, checked at EXECUTION as a per-row
    * expression — no plan-build job on the hot path (an [[IvfIndex]] is
    * built once and searched many times), vacuously true for an empty query
    * batch (which then yields an empty result instead of a crash — the
    * scheduled-search case), and stricter than a LIMIT-1 probe: a ragged
    * batch fails on the offending ROW, not only when row 1 is wrong. The
    * corpus side keeps the eager [[resolveDim]] check — an index over an
    * empty or mismatched corpus is a build-time bug. */
  private[operators] def checkedWidth(e: Column, d: Int, what: String): Column =
    // null-transparent: a null embedding passes through (callers filter
    // null rows out — they have nothing to search with); without the
    // isNull arm, size(null) = null would take the otherwise branch and
    // null-poison the raise_error message into a contextless crash
    when(e.isNull, e)
      .when(size(e) === d, e)
      .otherwise(raise_error(concat(
        lit(s"$what embedding width "), size(e).cast("string"),
        lit(s" does not match expected $d: a mismatched width would silently " +
          "hash or probe a vector prefix"))))

  /** Final top-k per query over a scored candidate relation
    * (q_id, vec_id, cosine): rank by (cosine DESC, vec_id ASC), keep k,
    * stamp `rank` 1..k — the shared tail of every search variant.
    *
    * When the candidate id is bigint this runs as the bounded
    * [[graft.functions.TopKByScore]] heap aggregate: at most k entries per
    * query survive each map task (partial aggregation), so the shuffle
    * carries ~k * tasks rows per query and no full sort of the candidate
    * set ever runs. The window form — value-identical, pinned by spec —
    * sorts EVERY candidate row per query: at the ann_ivf_1m soak scale
    * (1,000 queries x ~15,625 scored rows x 8 lists = 125M rows) it
    * spilled ~4.9 GB and took 10x longer. Non-bigint ids keep the window
    * (the aggregate's serialized buffer is typed; extending it is a
    * type-dispatch away if a string-keyed corpus ever needs the fast
    * path). */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.schema("vec_id").dataType match {
      case org.apache.spark.sql.types.LongType =>
        import org.apache.spark.sql.graft.ColumnBridge
        val agg = ColumnBridge.column(graft.functions.TopKByScore(
          ColumnBridge.expression(col("cosine")),
          ColumnBridge.expression(col("vec_id")), k).toAggregateExpression())
        scored.groupBy(col("q_id")).agg(agg.as("__top"))
          .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
          .select(col("q_id"), col("__e.id").as("vec_id"),
            col("__e.score").as("cosine"), (col("__pos") + 1).as("rank"))
      case _ =>
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
        scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Exact top-k: score all corpus rows per query, rank, keep k.
    * Output: (q_id, vec_id, cosine, rank). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame = {
    // repartition: the corpus streams through a broadcast nested-loop join,
    // and a single-file corpus would otherwise score on one task
    val c = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
        Vectors.norm(col(embCol)).as("c_nrm"))
    val q = queries.select(col(qIdCol).as("q_id"), col(embCol).as("q_emb"),
      Vectors.norm(col(embCol)).as("q_nrm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"), col("q_emb"), col("q_nrm"))
          .as("cosine"))
    topKPerQuery(scored, k)
  }

  /** HARD-negative mining — the contrastive companion to
    * [[Sampling.negativeSample]]'s uniform draws: for each query, the
    * top-k most similar corpus vectors with a DIFFERENT label (the
    * near-the-margin negatives that carry the training signal; uniform
    * negatives go stale after early epochs). Exact top-k here (the label
    * predicate rides the same scored join as [[bruteForceTopK]], ranked
    * by the bounded-heap aggregate); at corpus scale run the same
    * label-exclusion predicate inside an [[IvfIndex.search]] probe join —
    * candidate generation prunes by list, the label filter is per-pair
    * either way. Output: (q_id, vec_id, neg_label, cosine, rank). */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      labelCol: String = "label",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame =
    labelTopK(corpus, queries, k, sameLabel = false, "neg_label",
      idCol, labelCol, embCol, qIdCol)

  /** The positive face of [[hardNegatives]]: top-k most similar SAME-label
    * vectors (excluding self) — the hardest-positive pick a triplet
    * builder anchors on. Output: (q_id, vec_id, pos_label, cosine, rank). */
  def hardPositives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 1,
      idCol: String = "vec_id",
      labelCol: String = "label",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame =
    labelTopK(corpus, queries, k, sameLabel = true, "pos_label",
      idCol, labelCol, embCol, qIdCol)

  private def labelTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      sameLabel: Boolean,
      outLabelCol: String,
      idCol: String,
      labelCol: String,
      embCol: String,
      qIdCol: String): DataFrame = {
    val c = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("vec_id"), col(labelCol).as(outLabelCol),
        col(embCol).as("c_emb"), Vectors.norm(col(embCol)).as("c_nrm"))
    val q = queries.select(col(qIdCol).as("q_id"), col(labelCol).as("q_lbl"),
      col(embCol).as("q_emb"), Vectors.norm(col(embCol)).as("q_nrm"))
    val labelCond =
      if (sameLabel) col(outLabelCol) === col("q_lbl")
      else col(outLabelCol) =!= col("q_lbl")
    val scored = c.join(broadcast(q),
        col("vec_id") =!= col("q_id") && labelCond)
      .select(col("q_id"), col("vec_id"), col(outLabelCol),
        Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"),
          col("q_emb"), col("q_nrm")).as("cosine"))
    // window top-k (k x queries rows — tiny; the heap aggregate would
    // drop the label column it does not know about)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic random hyperplanes: `nPlanes` x `dim` gaussians.
    * Exposed within graft so the oracle layer can embed the SAME plane
    * values as literals in cross-engine SQL (making LSH output
    * hash-checkable: bucket assignment is then a pure function any engine
    * reproduces). */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDim` dimensions: component j = dot(emb, gaussian_j) / sqrt(outDim)
    * (the scale makes expected squared norms — and so pairwise distances —
    * approximately preserved; the sign of the same dots is [[lshBucket]]).
    * The 100 TB use: compress wide embeddings (e.g. 64→8, 8× storage and
    * ANN bandwidth) while keeping distance structure; everything downstream
    * (brute/LSH/IVF, centroids, SemDeDup) runs unchanged on the projected
    * column. Pure per-row expression over plane LITERALS — scan-parallel,
    * no broadcast, no shuffle; the codegen [[Vectors.dot]] keeps the
    * per-row cost outDim × dim multiplies. Deterministic from `seed`, and
    * bit-reproducible cross-engine (each component is one ordered dot plus
    * one multiply — the same contract the LSH oracle relies on). */
  def randomProject(
      emb: Column,
      outDim: Int,
      dim: Int,
      seed: Long = 42L): Column = {
    require(outDim > 0, s"outDim must be positive, got $outDim")
    val ps = planes(outDim, dim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // same loud width contract as the centroid/ANN paths: a mis-declared
    // dim would otherwise null-pad inside zip_with and silently emit null
    // components that poison downstream ANN/dedup distances
    val checked = checkedWidth(emb, dim, "randomProject")
    array(ps.map { p =>
      Vectors.dot(checked, array(p.toIndexedSeq.map(lit): _*)) * lit(scale)
    }: _*)
  }

  /** Sign-LSH bucket id of an embedding column: bit j = sign(dot(plane_j)). */
  def lshBucket(emb: Column, nPlanes: Int, dim: Int, seed: Long): Column = {
    val ps = planes(nPlanes, dim, seed) // generate once, not once per plane
    (0 until nPlanes).map { j =>
      val plane = array(ps(j).toIndexedSeq.map(lit): _*)
      when(Vectors.dot(emb, plane) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.foldLeft(lit(0L))(_ + _) // fold, not reduce: nPlanes=0 = one bucket (exact)
  }

  /** ANN top-k via LSH buckets: candidates = same-bucket rows only.
    * Recall < 1 by construction; raise recall by lowering nPlanes (bigger
    * buckets) or unioning several seeds (multi-table LSH). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nPlanes: Int = 8,
      dim: Int = InferDim,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame = {
    val d = resolveDim(corpus, embCol, dim)
    // one-shot entry point: an EMPTY query side fails loudly (headDim's
    // documented rationale — a silent empty result would hide a broken
    // upstream filter behind a plausible "no matches"); the per-row guard
    // then fails any mismatched row at execution instead of silently
    // bucketing a prefix. IvfIndex.search is the lazy, reuse-friendly one.
    resolveDim(queries, embCol, d)
    val qe = checkedWidth(col(embCol), d, "query")
    val bucket = (e: Column) => lshBucket(e, nPlanes, d, seed)
    val c = corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
        Vectors.norm(col(embCol)).as("c_nrm"), bucket(col(embCol)).as("bucket"))
    val q = queries.filter(col(embCol).isNotNull)
      .select(col(qIdCol).as("q_id"), qe.as("q_emb"),
        Vectors.norm(qe).as("q_nrm"), bucket(qe).as("bucket"))
    val scored = c.join(q, Seq("bucket")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"), col("q_emb"), col("q_nrm"))
          .as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe LSH (Lv et al., VLDB 2007): each query probes its OWN
    * bucket plus the `nprobe - 1` buckets reached by flipping its
    * weakest-margin plane bits — the planes whose |dot| is smallest, i.e.
    * where the query sits closest to the separating hyperplane and a true
    * neighbor most plausibly landed on the other side. Recall per probe
    * rises without adding tables (the multi-table memory/scan multiplier):
    * the candidate set strictly contains [[lshTopK]]'s, so recall is
    * monotone in `nprobe` (nprobe = 1 IS single-probe LSH).
    *
    * Deterministic end to end: seeded planes, |dot| margins replayed
    * bit-identically in any engine (ordered dots), ties on equal margins
    * broken by plane index — so the probe sequence itself is
    * hash-checkable cross-engine.
    *
    * Scale shape: identical to [[lshTopK]] — the corpus side carries ONE
    * bucket per row; only the (small) query side fans out nprobe rows, and
    * candidate generation stays a single equi-join on the bucket id. A
    * corpus row has one bucket and a query's probes are distinct, so
    * (q_id, vec_id) pairs are unique — no dedup pass. */
  def lshTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nPlanes: Int = 8,
      dim: Int = InferDim,
      nprobe: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame = {
    require(nprobe >= 1 && nprobe <= nPlanes + 1,
      s"nprobe must be in [1, nPlanes + 1 = ${nPlanes + 1}], got $nprobe")
    val d = resolveDim(corpus, embCol, dim)
    resolveDim(queries, embCol, d)
    val qe = checkedWidth(col(embCol), d, "query")
    val ps = planes(nPlanes, d, seed)
    val c = corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
        Vectors.norm(col(embCol)).as("c_nrm"),
        lshBucket(col(embCol), nPlanes, d, seed).as("bucket"))
    // per-plane |margin| ranked ascending, ties by plane index (the struct
    // sort is lexicographic on (a, j)) — the probe sequence
    val margins = array(ps.zipWithIndex.map { case (p, j) =>
      struct(abs(Vectors.dot(qe, array(p.toIndexedSeq.map(lit): _*))).as("a"),
        lit(j).as("j"))
    }: _*)
    val bitArr = array((0 until nPlanes).map(j => lit(1L << j)): _*)
    val base = lshBucket(qe, nPlanes, d, seed)
    val flips = transform(slice(array_sort(margins), 1, nprobe - 1),
      s => base.bitwiseXOR(element_at(bitArr, s.getField("j") + 1)))
    val q = queries.filter(col(embCol).isNotNull)
      .select(col(qIdCol).as("q_id"), qe.as("q_emb"), Vectors.norm(qe).as("q_nrm"),
        explode(concat(array(base), flips)).as("bucket"))
    val scored = c.join(q, Seq("bucket")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"), col("q_emb"), col("q_nrm"))
          .as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Multi-table LSH: union the candidate sets of `tables` independent
    * plane sets (seed, seed+1, ...), then score each distinct candidate
    * once. Recall grows as 1-(1-p)^tables for per-table collision
    * probability p — the standard lever when one table's recall is too low
    * at a given bucket size.
    *
    * Plan shape: all `tables` bucket ids are computed in ONE scan per side
    * and exploded to (table, bucket) rows, so candidate generation is a
    * single equi-join on (table, bucket) — one shuffle total, instead of
    * `tables` separate join stages unioned (which multiplies scans and
    * shuffles by the table count at 100 TB). */
  def lshTopKMulti(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nPlanes: Int = 8,
      dim: Int = InferDim,
      tables: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      qIdCol: String = "q_id"): DataFrame = {
    val d = resolveDim(corpus, embCol, dim)
    // same guards as lshTopK: loud empty-query check for the one-shot
    // entry point, then the per-row execution-time width check
    resolveDim(queries, embCol, d)
    val qe = checkedWidth(col(embCol), d, "query")
    def tableBuckets(e: Column): Column =
      array((0 until tables).map(t => lshBucket(e, nPlanes, d, seed + t)): _*)
    val cIn = corpus.filter(col(embCol).isNotNull)
    val qIn = queries.filter(col(embCol).isNotNull)
    val candidates =
      cIn.select(col(idCol).as("vec_id"),
          posexplode(tableBuckets(col(embCol))).as(Seq("table", "bucket")))
        .join(qIn.select(col(qIdCol).as("q_id"),
            posexplode(tableBuckets(qe)).as(Seq("table", "bucket"))),
          Seq("table", "bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
        .distinct()
    val c = cIn.select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
      Vectors.norm(col(embCol)).as("c_nrm"))
    // scoring side built from the GUARDED qe too: width safety must not
    // depend on the candidate subplan happening to evaluate the guard
    val q = qIn.select(col(qIdCol).as("q_id"), qe.as("q_emb"),
      Vectors.norm(qe).as("q_nrm"))
    val scored = candidates.join(c, "vec_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"), col("q_emb"), col("q_nrm"))
          .as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Driver-local Lloyd's KMeans over a sample: IVF centroid training does
    * not need the cluster — FAISS-style practice is to train on a bounded
    * sample (trainCap rows covers nlist up to thousands) and only the
    * ASSIGNMENT is distributed. Replacing spark.ml KMeans removes ~2 Spark
    * jobs per iteration of scheduler overhead from every ivfTopK call.
    * Deterministic for a given (seed, sample). */
  private[operators] def lloydCentroids(
      samples: Array[Array[Double]], nlist: Int, seed: Long, iters: Int = 8): Array[Array[Double]] = {
    require(samples.nonEmpty, "IVF training needs a non-empty corpus sample")
    val dim = samples.head.length
    require(samples.forall(_.length == dim),
      s"IVF training sample has mixed embedding widths (expected $dim): " +
        "ragged embedding columns cannot be indexed")
    val rnd = new scala.util.Random(seed)
    // init: distinct random sample rows (k-means++ is overkill — centroids
    // only partition the space, recall comes from nprobe)
    val init = rnd.shuffle(samples.indices.toVector).take(nlist).map(samples(_))
    var centroids = init.map(_.clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      samples.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          val cv = centroids(c)
          while (i < dim) { val t = v(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty list keeps its centroid
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    centroids
  }

  /** Integer-exact Lloyd trainer — the [[kmeansFixedPoint]] contract
    * applied to INDEX training, so IVF centroids (and PQ sub-codebooks)
    * become exact functions of the corpus that an independent SQL engine
    * replays bit-for-bit: quantize to `floor(x * scale)` longs, init from
    * the FIRST `nlist` sample rows (the sample arrives in its
    * deterministic (hash, id) order — no RNG), iterate argmin (ties to the
    * lowest cid) + truncating-division mean updates entirely in Long
    * arithmetic, and return centroids as `q / scale` doubles (exact —
    * scale is a power of two, |q| is small). DuckDB's `//` and JVM Long
    * division both truncate toward zero, so the unrolled-CTE oracle
    * reproduces every centroid value exactly. */
  private[operators] def lloydCentroidsExact(
      samples: Array[Array[Double]], nlist: Int, iters: Int,
      scale: Long = 65536L): Array[Array[Double]] = {
    require(samples.nonEmpty, "exact training needs a non-empty corpus sample")
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two for exact quantization, got $scale")
    val dim = samples.head.length
    require(samples.forall(_.length == dim),
      s"training sample has mixed embedding widths (expected $dim)")
    val q = samples.map(_.map(x => math.floor(x * scale).toLong))
    var cents: Array[Array[Long]] = q.take(nlist).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Long](cents.length)
      q.foreach { v =>
        var best = 0; var bestD = Long.MaxValue; var c = 0
        while (c < cents.length) {
          var d = 0L; var i = 0
          val cv = cents(c)
          while (i < dim) { val t = v(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c } // strict < keeps lowest cid on ties
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // empty list keeps its centroid
        else {
          val out = new Array[Long](dim); var i = 0
          while (i < dim) { out(i) = sums(c)(i) / counts(c); i += 1 }
          out
        }
      }.toArray
      it += 1
    }
    cents.map(_.map(_.toDouble / scale))
  }

  /** A built IVF index: trained centroids plus the assigned corpus
    * relation. Build ONCE per corpus (training + the full assignment scan
    * happen at build), then [[search]] any number of query batches against
    * it — the deployment shape of ANN at scale, where one index serves many
    * retrieval calls. The assigned relation is NOT automatically
    * lineage-cut; pass it through [[graft.util.Checkpoints.cut]] (or
    * persist it) when running many searches in one session. */
  /** Above this centroid count the assignment/probe switch from the
    * inlined-literal expression to a broadcast join: the literal path embeds
    * nlist x dim constants in one generated expression, which is elegant at
    * nlist=16 but stresses Janino's per-method codegen limits when nlist
    * reaches the thousands (FAISS-scale indexes). The join path trades one
    * extra shuffle (per-row argmin via a window) for bounded codegen. */
  val LiteralCentroidMax: Int = 256

  /** Centroids as a tiny (list_id, cv) relation — the broadcast side of the
    * join-based assignment/probe path. */
  private def centroidFrame(
      spark: org.apache.spark.sql.SparkSession, cs: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    cs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toDF("list_id", "cv")
  }

  /** Sorted (distance, cid) structs of `embC` against a literal centroid
    * array — the pure-expression assignment/probe primitive shared by index
    * build and search (the nlist <= [[LiteralCentroidMax]] path). */
  private def centroidDistances(centroids: Seq[Array[Double]], embC: Column): Column = {
    val centroidArr = array(centroids.toIndexedSeq.zipWithIndex.map { case (v, i) =>
      struct(array(v.toIndexedSeq.map(lit): _*).as("cv"), lit(i).as("cid"))
    }: _*)
    array_sort(transform(centroidArr,
      c => struct(Vectors.l2Squared(embC, c.getField("cv")).as("dist"),
        c.getField("cid").as("cid"))))
  }

  final class IvfIndex private[operators] (
      val centroids: Seq[Array[Double]],
      private[operators] val assigned: DataFrame,
      nprobeDefault: Int,
      literalCentroidMax: Int = LiteralCentroidMax) {

    private[operators] def distances(embC: Column): Column =
      centroidDistances(centroids, embC)

    /** Top-k by cosine among the `nprobe` nearest inverted lists per query.
      * Output: (q_id, vec_id, cosine, rank). */
    def search(
        queries: DataFrame,
        k: Int = 5,
        nprobe: Int = -1,
        qIdCol: String = "q_id",
        embCol: String = "embedding"): DataFrame = {
      val np = if (nprobe > 0) nprobe else nprobeDefault
      // queries must have the width the index was trained at — per-row
      // execution-time guard: no LIMIT-1 job per search() on a reused
      // index, and an empty query batch yields an empty result
      val qe = checkedWidth(col(embCol), centroids.head.length, "query")
      // null-embedding rows are skipped up front (nothing to search with):
      // on the literal path a null embedding would otherwise flow THROUGH
      // the literal-centroid transform (the outer array is the non-null
      // literal) and surface as null-cosine result rows
      val qIn = queries.filter(col(embCol).isNotNull)
      val q =
        if (centroids.length <= literalCentroidMax)
          qIn.select(col(qIdCol).as("q_id"), qe.as("q_emb"),
            Vectors.norm(qe).as("q_nrm"),
            explode(transform(slice(distances(qe), 1, np),
              d => d.getField("cid"))).as("list_id"))
        else {
          // join-based probe: top-np of the broadcast centroid relation per
          // query via sort_array(collect_list) under groupBy — grouped on
          // the query's REAL columns, never a synthetic row id (a
          // monotonically_increasing_id key is not stable under task retry
          // when the input arrives via a shuffle: a recomputed map task can
          // renumber rows other reducers already fetched, silently
          // dropping or doubling probe sets). Same (dist, list_id) order
          // the literal array_sort path uses. Duplicated (q_id, embedding)
          // rows would collapse to one probe set here while the literal
          // path emits per copy — rather than silently diverge between the
          // two paths, the fold enforces uniqueness loudly (count rides the
          // same aggregation, no extra job; the row count per group is
          // nlist per query copy).
          val cdf = centroidFrame(queries.sparkSession, centroids)
          val nl = centroids.length
          qIn.select(col(qIdCol).as("q_id"), qe.as("q_emb"),
              Vectors.norm(qe).as("q_nrm"))
            .crossJoin(broadcast(cdf))
            .withColumn("__dist", Vectors.l2Squared(col("q_emb"), col("cv")))
            .groupBy(col("q_id"), col("q_emb"), col("q_nrm"))
            .agg(slice(sort_array(collect_list(struct(
              col("__dist").as("d"), col("list_id").as("l")))), 1, np).as("__top"),
              count(lit(1)).as("__n"))
            .select(col("q_id"), col("q_emb"), col("q_nrm"),
              explode(when(col("__n") === nl, col("__top.l"))
                .otherwise(raise_error(concat(lit("duplicate (q_id, embedding) "),
                  lit("rows in the query batch: dedup the batch before the "),
                  lit("join probe path (the literal path would emit duplicated "),
                  lit("result rows)"))))).as("list_id"))
        }
      // no dedup needed: each corpus row has exactly one list and each
      // query probes distinct lists, so (q_id, vec_id) pairs are already
      // unique — a groupBy here would be a redundant full shuffle
      val scored = assigned.join(q, Seq("list_id")).filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Vectors.cosinePrenormed(col("c_emb"), col("c_nrm"), col("q_emb"), col("q_nrm"))
            .as("cosine"))
      topKPerQuery(scored, k)
    }

    /** Incremental index maintenance: assign `newCorpus` to this index's
      * EXISTING centroids and return an index over the union — no
      * retraining, no re-scan of the already-indexed corpus (its assigned
      * relation is reused as-is; only the new rows' argmin runs, and only
      * they are newly checkpointed). The 100 TB shape of a growing corpus:
      * index maintenance cost is proportional to the DELTA, not the
      * archive.
      *
      * Centroids go stale as the distribution drifts — lists fatten and
      * recall-per-nprobe decays — so periodic re-train ([[ivfIndex]] over
      * the full corpus) remains the compaction step; this is the cheap
      * path between compactions (same trade FAISS's IndexIVF.add makes).
      * New ids must be distinct from already-indexed ids (the uniqueness
      * contract of the id space; an id collision would surface as a
      * duplicate (q_id, vec_id) result row downstream, and on the
      * join-assignment branch of a LATER append it fails loudly). */
    def append(
        newCorpus: DataFrame,
        idCol: String = "vec_id",
        embCol: String = "embedding"): IvfIndex = {
      val cIn = newCorpus.filter(col(embCol).isNotNull)
      val newAssigned = assignToLists(cIn, centroids.toIndexedSeq,
        idCol, embCol, literalCentroidMax)
      // cut ONLY the delta: the existing assigned relation is already
      // materialized; a union of two lineage cuts streams both block sets
      new IvfIndex(centroids,
        assigned.unionByName(graft.util.Checkpoints.cut(newAssigned)),
        nprobeDefault, literalCentroidMax)
    }

    /** Persist the index as the deployment artifact of "build once, search
      * many": `dir/assigned` holds the assigned corpus relation (at scale
      * this IS the index — one parquet row per corpus vector), `dir/
      * centroids` a tiny one-row-per-centroid relation carrying the trained
      * vectors plus the nprobe/literalCentroidMax the index was built with.
      * A later session — or another cluster — [[Similarity.loadIvfIndex]]s
      * and searches without re-training or re-scanning the corpus. */
    def save(dir: String): Unit = {
      val spark = assigned.sparkSession
      assigned.write.mode("overwrite").parquet(s"$dir/assigned")
      // explicit schema (no encoder reflection): save() then also works in
      // classloader-constrained hosts (e.g. a REPL) where runtime
      // ScalaReflection cannot resolve platform classes
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("list_id", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("nprobe", IntegerType, nullable = false),
        StructField("literal_centroid_max", IntegerType, nullable = false)))
      val rows = centroids.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i, v.toSeq, nprobeDefault, literalCentroidMax)
      }
      spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    }
  }

  /** Load an index persisted by [[IvfIndex.save]]. The centroid file pins
    * nprobe and the literal-vs-join path threshold, so a loaded index
    * searches exactly like the one that was saved. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val rows = spark.read.parquet(s"$dir/centroids")
      .select(col("list_id"), col("cv"), col("nprobe"), col("literal_centroid_max"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"no centroids found under $dir/centroids")
    new IvfIndex(
      rows.map(_.getSeq[Double](1).toArray).toIndexedSeq,
      spark.read.parquet(s"$dir/assigned"),
      rows.head.getInt(2), rows.head.getInt(3))
  }

  /** Build an IVF index: train centroids on a bounded sample (driver-local
    * Lloyd's — see [[lloydCentroids]]), then assign every corpus row to its
    * nearest centroid as a pure expression (argmin over a literal centroid
    * array — no join, no shuffle for assignment).
    *
    * The training sample is bounded: trainCap vectors regardless of corpus
    * size (a 100 TB corpus still trains on <= trainCap * dim doubles; 16k
    * samples is ~1000 per centroid at the default nlist=16 — far past the
    * point where more data moves the partition). The sample is pinned by
    * CONTENT hash of the id (sort by md5(id#salt), tie-break id, then
    * limit): deterministic across runs/partitionings AND uniform — a sorted
    * corpus can't bias it. sort+limit plans as TakeOrderedAndProject
    * (per-partition top-k, driver merge — no full shuffle, no full sort). */
  def ivfIndex(
      corpus: DataFrame,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      trainCap: Int = 16384,
      literalCentroidMax: Int = LiteralCentroidMax,
      exactTrain: Boolean = false,
      trainIters: Int = 8): IvfIndex = {
    // null-embedding corpus rows carry nothing to index — skipped up front
    // on BOTH branches (on the literal branch they would otherwise be
    // assigned a real list via the literal-centroid transform and surface
    // as null-cosine results). The TRAINING sample draws from the same
    // filtered frame: a null row landing in the trainCap sample would
    // otherwise NPE on the driver inside toArray before any policy applies.
    val cIn = corpus.filter(col(embCol).isNotNull)
    val samples = cIn
      .select(col(embCol).cast("array<double>").as("v"),
        Sampling.hashBucket(col(idCol), "ivf-train").as("__h"), col(idCol).as("__id"))
      .sort(col("__h"), col("__id"))
      .limit(trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    val centroids =
      (if (exactTrain) lloydCentroidsExact(samples, nlist, trainIters)
       else lloydCentroids(samples, nlist, seed, trainIters)).toIndexedSeq
    val assigned = assignToLists(cIn, centroids, idCol, embCol, literalCentroidMax)
    // Building an index IS a materialization: cut lineage eagerly so the
    // assigned relation is computed exactly once. Without the cut, every
    // search probes the ASSIGNMENT EXPRESSION TREE through a broadcast
    // join, and whole-stage codegen defers non-join-key stream columns
    // into the per-match loop (only the key is evaluated before probing) —
    // so c_emb/c_nrm/argmin re-evaluate once per CANDIDATE PAIR, not once
    // per corpus row. Measured at the ann_ivf_1m soak (1M expression-
    // generated vectors, 1,000 queries): search 110 s uncached vs 1.7 s
    // with the cut — the assignment was being recomputed ~200M times.
    // The cut is tracked: released by the enclosing Checkpoints.scoped
    // (Verify/Bench per-query), or session-globally via releaseAll.
    new IvfIndex(centroids, graft.util.Checkpoints.cut(assigned), nprobe,
      literalCentroidMax)
  }

  /** Nearest-centroid list assignment of a (pre-null-filtered) corpus —
    * the shared build step of [[ivfIndex]] and [[IvfIndex.append]].
    * Output: (vec_id, c_emb, c_nrm, list_id). */
  private def assignToLists(
      cIn: DataFrame,
      centroids: IndexedSeq[Array[Double]],
      idCol: String,
      embCol: String,
      literalCentroidMax: Int): DataFrame =
    if (centroids.length <= literalCentroidMax)
      cIn.select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
        Vectors.norm(col(embCol)).as("c_nrm"),
        element_at(centroidDistances(centroids, col(embCol)), 1)
          .getField("cid").as("list_id"))
    else {
      // join-based assignment: argmin over the broadcast centroid
      // relation as a combinable min(struct(dist, list, row)) aggregation
      // keyed on the corpus id — it partial-combines map-side (the
      // shuffle carries ONE candidate per corpus row per partition, where
      // the previous per-row window shuffled and sorted all nlist
      // distance rows), and grouping on the real id is stable under task
      // retry (a monotonically_increasing_id key is not, once the input
      // arrives via a shuffle). Corpus ids must be unique — the contract
      // an index over ids already implies — and it is ENFORCED loudly
      // here (count rides the same aggregation: nlist rows per unique
      // id), because silently collapsing a duplicate id to one argmin
      // would drop an embedding from the index only on this side of
      // literalCentroidMax — an invisible recall loss the literal path
      // does not share.
      val cdf = centroidFrame(cIn.sparkSession, centroids)
      val nl = centroids.length
      cIn.select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
          Vectors.norm(col(embCol)).as("c_nrm"))
        .crossJoin(broadcast(cdf))
        .select(col("vec_id"), struct(
          Vectors.l2Squared(col("c_emb"), col("cv")).as("d"),
          col("list_id").as("l"), col("c_emb").as("e"),
          col("c_nrm").as("n")).as("__s"))
        .groupBy(col("vec_id")).agg(min(col("__s")).as("__m"),
          count(lit(1)).as("__n"))
        .select(col("vec_id"), col("__m.e").as("c_emb"),
          col("__m.n").as("c_nrm"),
          when(col("__n") === nl, col("__m.l"))
            .otherwise(raise_error(concat(lit("duplicate corpus id "),
              col("vec_id").cast("string"),
              lit(": an IVF index requires unique ids (a silent argmin " +
                "collapse would drop an embedding from the index)"))))
            .as("list_id"))
    }

  /** IVF: KMeans inverted lists + nprobe probing, as one call — builds a
    * throwaway [[IvfIndex]] and searches it. For repeated query batches
    * over one corpus, build the index once via [[ivfIndex]] instead. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      qIdCol: String = "q_id",
      trainCap: Int = 16384,
      literalCentroidMax: Int = LiteralCentroidMax,
      exactTrain: Boolean = false,
      trainIters: Int = 8): DataFrame =
    ivfIndex(corpus, nlist, nprobe, seed, idCol, embCol, trainCap,
      literalCentroidMax, exactTrain, trainIters)
      .search(queries, k, nprobe, qIdCol, embCol)

  /** Recall@k of an ANN result against the exact brute-force result: the
    * per-query fraction of true top-k neighbors the approximate search
    * found, plus the mean over queries in every row. Both inputs are
    * (q_id, vec_id, ...) top-k frames — pass [[bruteForceTopK]]'s output as
    * `exact`. This is the tuning loop for nPlanes/tables/nlist/nprobe: raise
    * the parameter until `mean_recall` clears the product bar, measured on a
    * query sample (never the full corpus). */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select(col("q_id"), col("vec_id"))
    val hits = approx.select(col("q_id"), col("vec_id"))
      .join(e, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    val truth = e.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
    val joined = truth.join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"), col("k"))
    val perQuery = joined
      .select(col("q_id"), (col("hits").cast("double") / col("k")).as("recall"))
    // mean as sum(hits)/sum(k) — a single division of exact integer sums,
    // so the value is deterministic in any engine (a double avg() would
    // depend on summation order); identical to the macro average when every
    // query has the same k (micro-average otherwise)
    perQuery.crossJoin(broadcast(joined.agg(
      (sum(col("hits")).cast("double") / sum(col("k"))).as("mean_recall"))))
  }

  /** Per-label mean embedding (class centroids / prototype vectors — the
    * build step of prototype classification, semantic-cluster summaries, or
    * per-domain embedding drift checks). Output is one row per (label,
    * dimension): `(label, n, dim_idx, value)` with 0-based `dim_idx` —
    * exploded to scalars so the result is directly comparable across
    * engines.
    *
    * This is the BIT-REPRODUCIBLE form: each label's vectors fold
    * element-wise in ascending `idCol` order (a sequential sum, seeded at
    * +0.0), then divide by the count — the same fold any engine replays
    * identically, which is what makes a float centroid hash-checkable. The
    * cost of that guarantee is `collect_list` per label: a label's vectors
    * must fit in one task (fine for class/domain labels — thousands of
    * members × a few KB each; NOT for millions per label). */
  def labelCentroids(
      df: DataFrame,
      labelCol: String = "label",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    labelCentroidVectors(df, labelCol, idCol, embCol)
      .select(col(labelCol), col("n"),
        posexplode(col("centroid")).as(Seq("dim_idx", "value")))

  /** The packed form of [[labelCentroids]]: one row per label with the mean
    * embedding as an `array<double>` column `centroid` (plus member count
    * `n`) — the shape downstream consumers join against
    * ([[nearestCentroid]]). Same ordered-fold bit-reproducibility. */
  def labelCentroidVectors(
      df: DataFrame,
      labelCol: String = "label",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // the fold orders by the NATIVE id value (struct sort is lexicographic
    // on the first field) — a cast("long") here would turn non-numeric ids
    // (string doc ids) into null and silently degrade the documented
    // "ascending idCol order" into ordering by embedding bytes, diverging
    // from any oracle that orders by the real id
    val grouped = df.groupBy(col(labelCol)).agg(
      sort_array(collect_list(struct(col(idCol).as("i"),
        nonNullEmb(col(embCol), col(idCol), "centroid-input")
          .cast("array<double>").as("e")))).as("vs"),
      count(lit(1)).as("n"))
    val zero = transform(element_at(col("vs"), 1).getField("e"), _ => lit(0.0))
    // ragged widths fail ON THE ROW: zip_with pads the shorter array with
    // null and null + x = null, so without this guard one short vector
    // silently null-poisons its whole label's centroid — inconsistent with
    // the loud checkedWidth contracts on the ANN paths
    val summed = aggregate(col("vs"), zero,
      (acc, x) => when(size(x.getField("e")) === size(acc),
        zip_with(acc, x.getField("e"), _ + _))
        .otherwise(raise_error(concat(
          lit("ragged embedding width "), size(x.getField("e")).cast("string"),
          lit(" vs "), size(acc).cast("string"),
          lit(" within one label: a centroid fold over mismatched widths " +
            "would null-pad and poison the mean")))))
    grouped.select(col(labelCol), col("n"),
      transform(summed, v => v / col("n")).as("centroid"))
  }

  /** Loud null contract shared by the centroid builders: a null embedding
    * would null-poison everything it folds or scores into (null + x =
    * null), the silent twin of the ragged-width hazard [[checkedWidth]]
    * guards against on the ANN paths. */
  private def nonNullEmb(e: Column, id: Column, what: String): Column =
    when(e.isNull, raise_error(concat(
      lit(s"null $what embedding for id "), id.cast("string"),
      lit(": a null row null-poisons the centroid math — filter " +
        "col(embCol).isNotNull before the build if nulls are expected"))))
      .otherwise(e)

  /** Nearest-centroid assignment: each embedding labeled with the centroid
    * it is closest to (squared L2), ties broken by label — the prototype
    * classifier, and the assignment step of SemDeDup-style semantic
    * curation. Output: (idCol, label_true, assigned_label, d2).
    *
    * Engine-portable by construction: the centroids come from
    * [[labelCentroidVectors]]'s ordered fold, distances expand as
    * `e.e - 2 e.c + c.c` over the codegen'd [[Vectors.dot]] (index-ordered,
    * bit-identical to DuckDB's list_dot_product), and the argmin is a
    * lexicographic `min(struct(d2, label))`.
    *
    * Scale shape: the centroid side is one row per label — broadcast to a
    * nested-loop fan-out of #labels rows per vector, then the min-aggregation
    * partial-combines map-side, so the one shuffle carries a single
    * candidate per vector. Norms are precomputed per side, never per pair. */
  def nearestCentroid(
      df: DataFrame,
      labelCol: String = "label",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cent = labelCentroidVectors(df, labelCol, idCol, embCol)
      .select(col(labelCol).as("__c_label"), col("centroid").as("__c"))
      .withColumn("__cc", Vectors.dot(col("__c"), col("__c")))
    val e = df.select(col(idCol), col(labelCol).as("label_true"),
        nonNullEmb(col(embCol), col(idCol), "assignment-input")
          .cast("array<double>").as("__e"))
      .withColumn("__ee", Vectors.dot(col("__e"), col("__e")))
    // cross-label ragged widths fail on the offending pair: zip_with inside
    // dot would otherwise null-pad and the null d2 silently wins or loses
    // the min(struct) argmin depending on null ordering
    val scored = e.crossJoin(broadcast(cent))
      .select(col(idCol), col("label_true"), col("__c_label"),
        when(size(col("__e")) === size(col("__c")),
          col("__ee") - lit(2.0) * Vectors.dot(col("__e"), col("__c")) + col("__cc"))
          .otherwise(raise_error(concat(
            lit("embedding width "), size(col("__e")).cast("string"),
            lit(" does not match centroid width "), size(col("__c")).cast("string"),
            lit(" for label "), col("__c_label").cast("string"),
            lit(": squared-L2 over mismatched widths is undefined"))))
          .as("d2"))
    scored.groupBy(col(idCol), col("label_true"))
      .agg(min(struct(col("d2"), col("__c_label"))).as("__m"))
      .select(col(idCol), col("label_true"),
        col("__m.__c_label").as("assigned_label"), col("__m.d2").as("d2"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings, then score pairwise cosine ONLY within a
    * cluster — the cluster bound is what makes semantic dedup tractable at
    * corpus scale (quadratic in cluster size, linear in cluster count).
    * Clusters here are [[nearestCentroid]] assignments over the label
    * centroids; at 100 TB swap in [[ivfIndex]]-trained centroids (more,
    * smaller clusters) — the join shape is identical. Output:
    * (id_a, id_b, cluster, cosine) for pairs clearing `threshold`, id_a <
    * id_b; compose with [[Dedup.connectedComponents]] + a keep policy for
    * the actual prune.
    *
    * Scale shape: assignment is broadcast-centroid + combinable argmin
    * (one candidate per vector crosses the wire); pairing is an equi-join
    * on the cluster id, so each embedding is shuffled once per side —
    * never an all-pairs relation. Norms are precomputed per row, never
    * per pair. */
  def semDedupPairs(
      df: DataFrame,
      threshold: Double = 0.4,
      labelCol: String = "label",
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assigned = nearestCentroid(df, labelCol, idCol, embCol)
      .select(col(idCol).as("id"), col("assigned_label").as("cluster"))
    val e = df.select(col(idCol).as("id"),
        col(embCol).cast("array<double>").as("__e"))
      .withColumn("__n", Vectors.norm(col("__e")))
    // lineage cut: both sides of the pair join reference the assignment
    // subtree — without it the centroid build + argmin runs twice
    val a = graft.util.Checkpoints.cut(assigned.join(e, Seq("id")))
    a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.cluster").as("cluster"),
        Vectors.cosinePrenormed(col("x.__e"), col("x.__n"),
          col("y.__e"), col("y.__n")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------------------------ pq

  /** Product-quantization model: `m` subspaces x `ksub` sub-centroids over
    * `dim`-wide vectors (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — the FAISS IndexPQ shape). A corpus
    * vector compresses to `m` small ints (codes), so the 100 TB corpus
    * side of a search carries `m` bytes instead of `dim` doubles — a
    * 64x storage/shuffle cut at (dim=64, m=8) — while queries stay exact
    * and score via per-subspace lookup tables. */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]]) {
    def dsub: Int = dim / m
  }

  private def litArr(v: Array[Double]): Column =
    array(v.toIndexedSeq.map(lit): _*)

  /** Train PQ codebooks on a BOUNDED deterministic corpus sample (the same
    * `trainCap` collect contract as [[ivfIndex]]): slice each sampled
    * vector into `m` subvectors and run Lloyd independently per subspace
    * (seeded per subspace, so codebooks differ). `iters = 0` freezes the
    * codebook at the (shuffled) sample itself — with `ksub >= corpus size`
    * that makes every corpus slice its own sub-centroid, so ADC scoring
    * becomes EXACT inner products; `ext_knn_pq_exact` grades the whole
    * encode + table + lookup machinery that way against a slice-wise
    * DuckDB dot-product oracle (the same nprobe=nlist trick as IVF). */
  def pqTrain(
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      trainCap: Int = 16384,
      iters: Int = 8,
      exactTrain: Boolean = false): PqModel = {
    val dim = headDim(corpus, embCol)
    require(m > 0 && dim % m == 0,
      s"m must divide the embedding width ($dim), got m=$m")
    require(ksub > 0 && ksub <= 256,
      s"ksub must be in [1, 256] (codes are byte-range), got $ksub")
    val samples = corpus.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("v"),
        Sampling.hashBucket(col(idCol), "pq-train").as("__h"), col(idCol).as("__id"))
      .sort(col("__h"), col("__id"))
      .limit(trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    val dsub = dim / m
    val books = (0 until m).map { sub =>
      val sliced = samples.map(v =>
        java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      // exactTrain: the oracle-replayable integer Lloyd (deterministic
      // init = the first ksub sample slices in hash order — per-subspace
      // codebooks still differ because the SLICES differ); iters = 0
      // keeps the frozen-sample exact-twin contract on both branches
      (if (exactTrain && iters > 0) lloydCentroidsExact(sliced, ksub, iters)
       else lloydCentroids(sliced, ksub, seed + sub, iters)).toIndexedSeq
    }
    // Lloyd yields min(ksub, sample size) centroids — the model records
    // the EFFECTIVE size (lookup-table offsets depend on it)
    PqModel(dim, m, books.head.size, books.toIndexedSeq)
  }

  /** Encode the corpus: per subspace, the L2-nearest sub-centroid's id
    * (ties to the lowest id — deterministic). Pure per-row expressions
    * over literal codebooks — scan-parallel, no shuffle, no collect.
    * Output: (vec_id, codes array<int> of length m). */
  def pqEncode(
      corpus: DataFrame,
      model: PqModel,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val codes = (0 until model.m).map { sub =>
      val qs = slice(checkedWidth(col(embCol), model.dim, "pqEncode"),
        sub * model.dsub + 1, model.dsub)
      val cands = array(model.codebooks(sub).zipWithIndex.map { case (cv, j) =>
        struct(Vectors.l2Squared(qs, litArr(cv)).as("dist"), lit(j).as("cid"))
      }: _*)
      // argmin, not a sort: array_min's struct ordering is (dist, cid) —
      // smallest distance, ties to the lowest id, same pick as
      // array_sort(...)[1] at O(k) instead of O(k log k) per subspace
      // (the encode scan is the build's dominant cost at corpus scale)
      array_min(cands).getField("cid")
    }
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), array(codes: _*).as("codes"))
  }

  /** ADC (asymmetric distance computation) top-k by inner product: each
    * query precomputes its `m * ksub` subspace dot-product table ONCE,
    * then every (query, corpus) pair costs `m` array lookups + adds — the
    * per-pair work drops from `dim` multiplies to `m` additions, and the
    * corpus side of the join carries only the codes. Scoring metric is
    * the inner product (MIPS; FAISS METRIC_INNER_PRODUCT) — chosen over
    * L2 so the exact-twin oracle replays through slice-wise
    * `list_dot_product` with the identical fold grouping.
    * Output: (q_id, vec_id, score, rank), heap top-k per query. */
  /** The per-query ADC lookup table: `m * ksub` subspace inner products
    * against the codebooks, computed once per query row. */
  private def adcTable(model: PqModel, embC: Column): Column =
    array((0 until model.m).flatMap { sub =>
      val qs = slice(embC, sub * model.dsub + 1, model.dsub)
      model.codebooks(sub).map(cv => Vectors.dot(qs, litArr(cv)))
    }: _*)

  /** ADC score of a `codes` row against a `__dtab` table column: `m`
    * lookups + adds, left-assoc (the grouping the exact-twin SQL replays). */
  private def adcScore(model: PqModel): Column =
    (0 until model.m).map(sub => element_at(col("__dtab"),
      lit(sub * model.ksub + 1) + element_at(col("codes"), sub + 1)))
      .reduce(_ + _)

  def pqTopK(
      codes: DataFrame,
      queries: DataFrame,
      model: PqModel,
      k: Int = 5,
      qIdCol: String = "q_id",
      embCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dtab = adcTable(model,
      checkedWidth(col(embCol), model.dim, "pqTopK"))
    val q = queries.select(col(qIdCol).as("q_id"), dtab.as("__dtab"))
    val c = codes
      .repartition(codes.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("codes"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adcScore(model).as("score"))
    topKPerQueryScore(scored, k)
  }

  /** IVF-PQ: coarse-quantizer pruning composed with ADC scoring over
    * compressed codes — the FAISS IndexIVFPQ shape, non-residual variant
    * (codes quantize the raw vectors, not centroid residuals, so the SAME
    * code table serves flat [[pqTopK]] and pruned search, and the
    * degenerate-parameter exact twin carries over unchanged). Per query:
    * probe the `nprobe` nearest inverted lists, ADC-score ONLY the codes
    * in those lists, heap top-k — per-query work drops from
    * `|corpus| * m` lookups to `~(nprobe/nlist) * |corpus| * m`, and the
    * probed side of the join carries codes, not embeddings.
    * At nprobe = nlist this IS exhaustive ADC, and with per-vector
    * codebooks exhaustive ADC is exact inner products —
    * `ext_knn_ivfpq_exact` grades the whole composition against the same
    * slice-wise dot oracle as `ext_knn_pq_exact`.
    * Output: (q_id, vec_id, score, rank). */
  def ivfPqTopK(
      idx: IvfIndex,
      codes: DataFrame,
      queries: DataFrame,
      model: PqModel,
      k: Int = 5,
      nprobe: Int = 4,
      qIdCol: String = "q_id",
      embCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val qe = checkedWidth(col(embCol), model.dim, "ivfPqTopK query")
    val q = queries.filter(col(embCol).isNotNull)
      .select(col(qIdCol).as("q_id"), adcTable(model, qe).as("__dtab"),
        explode(transform(slice(idx.distances(qe), 1, nprobe),
          d => d.getField("cid"))).as("list_id"))
    // the probed corpus side: codes joined to their list assignment —
    // embeddings never travel past the one-time encode/assign scans
    val c = codes.join(idx.assigned.select(col("vec_id"), col("list_id")), "vec_id")
    val scored = c.join(broadcast(q), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adcScore(model).as("score"))
    topKPerQueryScore(scored, k)
  }

  /** [[topKPerQuery]] over a `score` column (the heap aggregate — desc by
    * score, vec_id tie-break, identical to the window form). */
  private def topKPerQueryScore(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val agg = ColumnBridge.column(graft.functions.TopKByScore(
      ColumnBridge.expression(col("score")),
      ColumnBridge.expression(col("vec_id")), k).toAggregateExpression())
    scored.groupBy(col("q_id")).agg(agg.as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("q_id"), col("__e.id").as("vec_id"),
        col("__e.score").as("score"), (col("__pos") + 1).as("rank"))
  }

  // ---------------------------------------------------- fixed-point kmeans

  /** Fully DISTRIBUTED Lloyd's k-means in integer fixed point — the
    * iterative train-a-model-in-the-engine loop, exact in any engine.
    * Returns each vector's final `(idCol, cluster, dist2)` assignment
    * after `iters` iterations; `dist2` is squared L2 in quantized units.
    *
    * Everything is engine-portable arithmetic: vectors quantize by
    * `floor(x * scale)` (float→double is exact, `scale` a power of two so
    * the product is exact, floor rounds identically everywhere — round()
    * half-up vs half-even would diverge); distances are integer sums of
    * squares; centroid updates are truncating integer division (`div`,
    * matching DuckDB's integer `//`); argmin ties break by lowest cluster
    * id. Init is the `k` lowest-id vectors — deterministic seeding;
    * random restarts are a quality lever, not a correctness one. So
    * `iters` unrolled CTEs in any SQL engine rebuild the bit-identical
    * assignment, which is what the oracle does.
    *
    * Scale shape per iteration — the same two stages any 100 TB k-means
    * pays: (1) assignment = a BROADCAST of the k×dim centroid relation
    * against a scan of the corpus (no shuffle of the points), partial-
    * aggregated argmin; (2) update = posexplode to (cluster, dim, value)
    * rows and one hash aggregation on (cluster, dim) — map-side combined,
    * so the shuffle carries k*dim partial rows per task, never vectors.
    * Centroids (k rows) are the only materialized state between
    * iterations; lineage is cut there so iteration i+1's plan does not
    * re-execute iteration i. Empty clusters keep their previous centroid,
    * as in [[lloydCentroids]]. */
  def kmeansFixedPoint(
      df: DataFrame,
      k: Int = 8,
      iters: Int = 3,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      scale: Long = 65536L): DataFrame = {
    val (_, cents, assign) =
      kmeansState(df, k, iters, embCol, idCol, scale)
    assign(cents).select(col("id").as(idCol), col("cluster"), col("dist2"))
  }

  /** Simplified silhouette over the fixed-point k-means clustering: per
    * point, a = squared distance to its OWN (nearest) centroid, b = the
    * squared distance to the nearest OTHER centroid, s = (b−a)/max(a,b) —
    * the centroid-based variant (Hruschka et al.) that needs no all-pairs
    * stage, so it scales exactly like the assignment itself: broadcast
    * centroids, one shuffle of k rows per point, and every term an exact
    * long until the single division (ties and degenerate max(a,b)=0
    * resolved deterministically). The cluster-quality companion to the
    * classifier/retrieval metrics in [[Eval]]. */
  def silhouetteSimplified(
      df: DataFrame,
      k: Int = 8,
      iters: Int = 3,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      scale: Long = 65536L): DataFrame = {
    val (pts, cents, _) = kmeansState(df, k, iters, embCol, idCol, scale)
    val dist2 = aggregate(zip_with(col("v"), col("cv"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    // the k (d2, cid) pairs per point, ascending: [0] is the own-cluster
    // assignment (same deterministic argmin as kmeansFixedPoint), [1] the
    // nearest other cluster. collect_list is bounded by k by construction.
    pts.crossJoin(broadcast(cents))
      .select(col("id"), dist2.as("d2"), col("cid"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("d2"), col("cid")))).as("arr"))
      .select(col("id").as(idCol),
        col("arr").getItem(0).getField("cid").as("cluster"),
        col("arr").getItem(0).getField("d2").as("a2"),
        col("arr").getItem(1).getField("d2").as("b2"))
      .withColumn("sil",
        when(greatest(col("a2"), col("b2")) === 0L, lit(0.0))
          .otherwise((col("b2") - col("a2")).cast("double") /
            greatest(col("a2"), col("b2")).cast("double")))
  }

  /** The quantized points, trained centroids, and deterministic assigner
    * behind [[kmeansFixedPoint]] — shared with [[silhouetteSimplified]] so
    * the eval scores exactly the clustering the trainer produced. */
  private def kmeansState(
      df: DataFrame,
      k: Int,
      iters: Int,
      embCol: String,
      idCol: String,
      scale: Long): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    require(k >= 1 && iters >= 1, s"bad params k=$k iters=$iters")
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two for exact quantization, got $scale")
    val dim = headDim(df, embCol)
    val pts = graft.util.Checkpoints.cut( // scanned once per iteration
      graft.sources.Tables.ensureParallelism(df).select(
        col(idCol).as("id"),
        transform(checkedWidth(col(embCol), dim, "kmeans").cast("array<double>"),
          x => floor(x * scale).cast("long")).as("v"))
        .filter(col("v").isNotNull))
    import org.apache.spark.sql.expressions.Window
    // k rows -> a one-partition window is fine; TakeOrdered bounds the sort
    var cents = graft.util.Checkpoints.cut(
      pts.orderBy(col("id")).limit(k)
        .select((row_number().over(Window.orderBy(col("id"))) - 1).as("cid"),
          col("v").as("cv")))
    val dist2 = aggregate(zip_with(col("v"), col("cv"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    // (d2, cid) is unique per point (cid breaks exact-distance ties), so
    // min(struct) is a deterministic argmin and v rides along unconsulted
    def assign(c: DataFrame): DataFrame =
      pts.crossJoin(broadcast(c))
        .select(col("id"), dist2.as("d2"), col("cid"), col("v"))
        .groupBy(col("id"))
        .agg(min(struct(col("d2"), col("cid"), col("v"))).as("m"))
        .select(col("id"), col("m.cid").as("cluster"), col("m.d2").as("dist2"),
          col("m.v").as("v"))
    for (_ <- 1 to iters) {
      val assigned = assign(cents)
      val upd = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cluster"), col("i"))
        .agg(expr("sum(x) div count(1)").as("c"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("sc"))
        .select(col("cluster").as("cid"),
          transform(col("sc"), s => s.getField("c")).as("next"))
      cents = graft.util.Checkpoints.cut(
        cents.join(upd, Seq("cid"), "left_outer")
          .select(col("cid"), coalesce(col("next"), col("cv")).as("cv")))
    }
    (pts, cents, assign)
  }
}
