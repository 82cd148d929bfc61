package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral tests for the approximate/engine-specific extension operators
  * (the DuckDB oracle covers the deterministic ones). */
class ExtensionSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("minhash near-dup finds a planted near-duplicate, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while the hunter sleeps at home tonight"
    val nearDup = base.replace("hunter", "farmer") // 1 of 24 words changed
    val docs = Seq(
      (0L, base), (1L, nearDup),
      (2L, "completely different content about spark sql window aggregation " +
        "plans and shuffle partitions at very large scale with broadcast joins"),
      (3L, "yet another unrelated document mentioning parquet files column " +
        "pruning predicate pushdown and adaptive query execution features"))
      .toDF("doc_id", "text")
    // r=1 banding (bands = k): any shared minhash forms a candidate, so a
    // 0.76-jaccard pair is found with near-certainty; the exact-jaccard
    // filter then removes the unrelated docs.
    val pairs = Dedup.nearDuplicates(docs, threshold = 0.5, k = 12, bands = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("incremental candidates = full candidates minus old x old, exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = Dedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    val oldBands = Dedup.minhashBands(docs.filter(col("doc_id") % 10 =!= 0))
    val got = Dedup.minhashCandidatesIncremental(
        docs.filter(col("doc_id") % 10 === 0), oldBands)
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"got ${got.size}, expected ${expected.size} of ${full.size} full pairs")
    assert(expected.nonEmpty && expected.size < full.size,
      "fixture must exercise both the kept and the dropped class")
    // the stored-index path: bands written to parquet and read back give
    // the identical answer (the shape a production corpus actually runs)
    val dir = java.nio.file.Files.createTempDirectory("graft-bands").toString
    oldBands.write.mode("overwrite").parquet(dir)
    val viaStore = Dedup.minhashCandidatesIncremental(
        docs.filter(col("doc_id") % 10 === 0), spark.read.parquet(dir))
      .as[(Long, Long)].collect().toSet
    assert(viaStore == expected)
  }

  test("MinHashMd5 expression matches the higher-order-function definition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val sh = Dedup.wordShingles(col("text"))
    val both = docs.select(
      Dedup.minhashSignature(sh, 12).as("fast"),
      graft.Twins.minhashSignatureHof(sh, 12).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
    import org.apache.spark.sql.graft.ColumnBridge
    val bandBoth = docs.select(
      ColumnBridge.column(graft.functions.MinHashBandKeys(
        ColumnBridge.expression(sh), 12, 4)).as("fast"),
      graft.Twins.bandKeys(graft.Twins.minhashSignatureHof(sh, 12), 4, 3).as("ref"))
    assert(bandBoth.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("WordShingles expression matches the higher-order-function definition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
      // synthetic edges the corpus may not cover: short docs (null), exact-n
      // docs, internal repetition (dedup order)
      .select(col("text"))
      .union(Seq("one two", "a b c d e", "x y x y x y x y x y z").toDF("text"))
    for (n <- Seq(3, 5)) {
      val both = docs.select(
        Dedup.wordShingles(col("text"), n).as("fast"),
        graft.Twins.wordShinglesHof(col("text"), n).as("ref"))
      // element-wise AND order-wise equality, null-safe
      assert(both.filter(not(col("fast") <=> col("ref"))).count() == 0, s"n=$n")
    }
    // null tokens (reachable via the registered SQL function, never via
    // split): skipped inside a shingle like array_join — [a,null] -> "a"
    import org.apache.spark.sql.graft.ColumnBridge
    val toks = array(lit("a"), lit(null).cast("string"), lit("b"))
    val fromNulls = spark.range(1).select(
      ColumnBridge.column(graft.functions.WordShingles(
        ColumnBridge.expression(toks), 2)).as("sh"))
      .as[Seq[String]].head()
    assert(fromNulls == Seq("a", "b"), fromNulls)
  }

  test("near-dup lineage-cut blocks are released after the consuming action") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    graft.util.Checkpoints.releaseAll() // clean slate (other specs may have run)
    // the leak canary is OUR OWN cuts: other suites in the shared session
    // may hold persistent RDDs of their own (or drop them asynchronously
    // mid-test), so the assertion is "no NEW ids survive", not isEmpty —
    // the full-suite ordering flake r14 adjudicated, now pinned out
    val foreign = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.nearDuplicates(docs, threshold = 0.3).count()
    Dedup.simhashPairs(docs, maxHamming = 3).count()
    assert(graft.util.Checkpoints.trackedCount > 0) // cuts actually happened
    // the release is routine, so it must not log RDD.unpersist's
    // "was locally checkpointed ... cannot be recomputed" warning per cut
    val logged = logMessagesDuring(graft.util.Checkpoints.releaseAll())
    assert(graft.util.Checkpoints.trackedCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- foreign
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
    val floods = logged.filter(_.contains("was locally checkpointed"))
    assert(floods.isEmpty, s"release warned: ${floods.take(3)}")
  }

  test("scoped{} releases only its own cuts, leaving outer cuts alive") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    graft.util.Checkpoints.releaseAll()
    val foreign = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.simhashPairs(docs, maxHamming = 3).count() // outer (session-global) cut
    val outer = spark.sparkContext.getPersistentRDDs.keySet -- foreign
    assert(outer.nonEmpty)
    graft.util.Checkpoints.scoped {
      Dedup.nearDuplicates(docs, threshold = 0.3).count()
    }
    // the scope's cuts are gone; the outer query's blocks are untouched
    // (compared as OUR id set — foreign suites' RDDs may come and go)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- foreign) == outer)
    graft.util.Checkpoints.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- foreign
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("minhash handles sub-shingle-length documents (no crash, no pairs)") {
    val docs = Seq((0L, "one two"), (1L, "one two"), (2L, "a much longer document " +
      "with plenty of distinct tokens to shingle properly today"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(docs).count() == 0)
    assert(Dedup.nearDuplicates(docs, threshold = 0.1).count() == 0)
  }

  test("connected components merge chains; canonical filter keeps cluster minima") {
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 8L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // 1-2-3 chain collapses to component 1 even though (1,3) is no pair
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val docs = Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, pairs).as[Long].collect().toSet
    assert(kept == Set(1L, 7L, 9L)) // singletons untouched, losers dropped
  }

  test("goldenRecords fuses fields from DIFFERENT cluster members") {
    // cluster {1,2}: doc 1 has the longer text, doc 2 the smaller source
    // and the larger n_chars — the golden record must mix them
    val docs = Seq(
      (1L, "a much longer text body", "srcZ", "en", 10L),
      (2L, "short", "srcA", "de", 99L),
      (9L, "solo", "srcM", "fr", 4L)
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val labels = Dedup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"))
    val got = Dedup.goldenRecords(docs, labels)
      .orderBy("cluster")
      .as[(Long, Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, "a much longer text body", "srcA", "de", 99L),
      (9L, 1L, "solo", "srcM", "fr", 4L)))
    // text tie breaks to the SMALLER doc_id
    val tie = Seq(
      (5L, "same", "s1", "en", 1L), (6L, "same", "s2", "en", 2L)
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val tl = Dedup.connectedComponents(Seq((5L, 6L)).toDF("id_a", "id_b"))
    val t = Dedup.goldenRecords(tie, tl).collect().head
    assert(t.getString(2) == "same" && t.getLong(0) == 5L)
  }

  test("connected components: a long chain converges via pointer halving") {
    // 60-hop chain: plain min-propagation needs ~60 rounds; pointer halving
    // must close it well inside the 25-round budget
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(cc.length == 60 && cc.forall(_._2 == 1L))
  }

  test("stripMarkup: tags to spaces, entities decoded once, whitespace collapsed") {
    import graft.operators.TextAnalysis.stripMarkup
    val got = Seq(
      "<p>hello <b>world</b></p>",
      "a&lt;b &amp;&amp; c&gt;d",
      "no markup at all",
      "<div\nclass='x'>multi\nline</div>",
      "&amp;lt; stays encoded once-decoded") // double-encoded survives one pass
      .toDF("t").select(stripMarkup(col("t"))).as[String].collect().toSeq
    assert(got == Seq(
      "hello world",
      "a<b && c>d",
      "no markup at all",
      "multi line",
      "&lt; stays encoded once-decoded"))
  }

  test("vocabTopK counts tokens corpus-wide with deterministic ties") {
    import graft.operators.TextAnalysis.vocabTopK
    val df = Seq("b a a", "b c", "a B").toDF("text")
    val got = vocabTopK(df, "text", 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 3L), ("b", 3L), ("c", 1L))) // lowercased; tie a<b
  }

  test("vocabCoverage: OOV counted per segment against the corpus top-k") {
    import graft.operators.TextAnalysis.vocabCoverage
    // corpus top-2 vocab = {a (x3), b (x2)}; seg s1 is fully covered,
    // s2 has 2 OOV of 3 tokens -> 6666 bp by integral division
    val df = Seq(("s1", "a b a"), ("s2", "a c d"), ("s1", "b")).toDF("source", "text")
    val got = vocabCoverage(df, "source", "text", 2)
      .orderBy(col("source")).as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("s1", 4L, 0L, 0L), ("s2", 3L, 2L, 6666L)), s"got $got")
  }

  test("dsirResample shifts weight toward the target domain") {
    import graft.operators.TextAnalysis.dsirResample
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val target = col("source").isin("src0", "src1", "src2", "src3", "src4")
    // per-DOC weights (copies collapse back to one row per surviving doc)
    val w = dsirResample(docs, target)
      .select(col("doc_id"), col("w")).distinct()
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("is_target", target)
    val Array(tAvg, rAvg) = w.groupBy(col("is_target"))
      .agg(avg(col("w")).as("mw")).orderBy(col("is_target").desc)
      .select("mw").as[Double].collect()
    assert(tAvg > rAvg,
      s"target-domain docs must carry higher mean weight: target=$tAvg rest=$rAvg")
    // weights respect the clamp
    val (lo, hi) = (w.agg(min(col("w"))).as[Double].head(),
      w.agg(max(col("w"))).as[Double].head())
    assert(lo >= 0.0 && hi <= 3.0)
  }

  test("bigramQuality: integer log2 buckets and OOV against a hand-computed LM") {
    import graft.operators.TextAnalysis.bigramQuality
    val docs = Seq((1L, "a b a b"), (2L, "a b x"), (3L, "z"), (4L, ""))
      .toDF("doc_id", "text")
    // trainFrac=1.0 -> LM over every doc: "a b"=3 (bucket floor(log2 4)=2),
    // "b a"=1, "b x"=1 (bucket 1). Docs 3/4 have no bigrams -> absent.
    val full = bigramQuality(docs, trainFrac = 1.0)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "oov_n", "sum_bucket", "avg_log2_bucket")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(full == Seq((1L, 3L, 0L, 5L, 5.0 / 3), (2L, 2L, 0L, 3L, 1.5)))
    // trainFrac=0.0 -> empty LM: every bigram OOV, bucket log2(0+1)=0
    val none = bigramQuality(docs, trainFrac = 0.0)
      .orderBy("doc_id").select("oov_ratio", "avg_log2_bucket")
      .as[(Double, Double)].collect().toSeq
    assert(none == Seq((1.0, 0.0), (1.0, 0.0)))
  }

  test("TopBigramCount expression matches the higher-order-function definition") {
    import graft.operators.TextAnalysis._
    // corpus rows + the edge shapes: empty, single-token, all-same, runs,
    // and a null text (HOF contract: 0, not null)
    val edges = Seq("", "one", "a a a a", "x y x y x y z", "a b c d",
      "  padded   whitespace  ", null.asInstanceOf[String]).toDF("text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .limit(200).union(edges)
    val both = docs.select(
      topBigramCount(col("text")).as("fast"),
      graft.Twins.topBigramCountHof(col("text")).as("ref"))
    assert(both.filter(
      col("fast").isNull || col("fast") =!= col("ref")).count() == 0)
  }

  test("bigramDenominator equals the bigram-occurrence count floored at 1") {
    import graft.operators.TextAnalysis._
    val df = Seq("", "one", "a b", "a b c d").toDF("text")
    val got = df.select(bigramDenominator(col("text"))).as[Int].collect().toSeq
    assert(got == Seq(1, 1, 1, 3)) // empty/1-token floor to 1; n tokens -> n-1
  }

  test("simhash: near-dup pair within small hamming distance, unrelated far") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while the hunter sleeps at home tonight"
    val docs = Seq(
      (0L, base), (1L, base.replace("hunter", "farmer")),
      (2L, "completely different content about spark sql window aggregation " +
        "plans and shuffle partitions at very large scale with broadcast joins"))
      .toDF("doc_id", "text")
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sim"))
      .as[(Long, Long)].collect().toMap
    // fused expression must match the 64-fold column formulation
    val hof = docs.select(col("doc_id"), graft.Twins.simhashHof(col("text")).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sims == hof)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(0L), sims(1L)) <= 8)
    assert(hamming(sims(0L), sims(2L)) > 8)
  }

  test("recallAtK computes per-query and mean recall exactly") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("q_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L)).toDF("q_id", "vec_id")
    val out = Similarity.recallAtK(approx, exact)
      .select("q_id", "recall", "mean_recall")
      .as[(Long, Double, Double)].collect().toSet
    assert(out == Set((1L, 0.5, 0.75), (2L, 1.0, 0.75)))
  }

  test("IVF recall@k is 1.0 at nprobe=nlist and rises with nprobe") {
    val queries = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
    def meanRecall(nprobe: Int): Double =
      Similarity.recallAtK(
        Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = nprobe), brute)
        .select("mean_recall").as[Double].head()
    val r8 = meanRecall(8)
    assert(r8 == 1.0, s"nprobe=nlist must be exact, got $r8")
    val r1 = meanRecall(1)
    val r4 = meanRecall(4)
    assert(r1 <= r4 + 1e-9 && r4 <= 1.0, s"recall must not fall as nprobe grows: $r1 vs $r4")
  }

  test("IvfIndex: build once, search many batches, identical to per-call ivfTopK") {
    val idx = Similarity.ivfIndex(emb, nlist = 8)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val q1 = emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    val q2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
      .withColumnRenamed("vec_id", "q_id")
    assert(asSet(idx.search(q1, k = 5)) ==
      asSet(Similarity.ivfTopK(emb, q1, k = 5, nlist = 8)))
    assert(asSet(idx.search(q2, k = 5, nprobe = 8)) ==
      asSet(Similarity.ivfTopK(emb, q2, k = 5, nlist = 8, nprobe = 8)))
  }

  test("multi-probe LSH: nprobe=1 is single-probe; recall monotone in nprobe") {
    val queries = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
    val single = Similarity.lshTopK(emb, queries, k = 5)
    val mp1 = Similarity.lshTopKMultiProbe(emb, queries, k = 5, nprobe = 1)
    assert(mp1.exceptAll(single).isEmpty && single.exceptAll(mp1).isEmpty,
      "nprobe=1 must degenerate to exactly single-probe LSH")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, brute)
        .select("mean_recall").distinct().as[Double].head()
    // candidate sets nest as nprobe grows, so recall cannot fall
    val r1 = recall(mp1)
    val r4 = recall(Similarity.lshTopKMultiProbe(emb, queries, k = 5, nprobe = 4))
    val r9 = recall(Similarity.lshTopKMultiProbe(emb, queries, k = 5, nprobe = 9))
    assert(r1 <= r4 + 1e-9 && r4 <= r9 + 1e-9, s"recall fell: $r1, $r4, $r9")
  }

  test("IvfIndex.append: frozen-centroid delta assignment, exhaustive = brute") {
    val half = emb.filter(col("vec_id") < 320)
    val rest = emb.filter(col("vec_id") >= 320)
    val queries = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
    // both assignment branches: literal-centroid argmin and broadcast-join
    for (lcm <- Seq(Similarity.LiteralCentroidMax, 0)) {
      val appended = Similarity.ivfIndex(half, nlist = 8, literalCentroidMax = lcm)
        .append(rest)
      val got = appended.search(queries, k = 5, nprobe = 8)
      assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
        s"appended index at nprobe=nlist must equal brute (lcm=$lcm)")
    }
  }

  test("a wrong explicit dim fails loudly instead of hashing a prefix") {
    // 8-wide embeddings, caller claims 16: every LSH/IVF entry point must
    // reject the mismatch at plan-build time (a silent prefix hash would
    // degrade recall invisibly)
    val tiny = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toDouble % 7 - 3))).toDF("vec_id", "embedding")
    val q = tiny.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "q_id")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.lshTopK(tiny, q, k = 2, dim = 16)
    }
    assert(e1.getMessage.contains("does not match the embedding width 8"))
    intercept[IllegalArgumentException] {
      Similarity.lshTopKMulti(tiny, q, k = 2, dim = 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsLsh(tiny, threshold = 0.5, dim = 16)
    }
    // the default infers the width and runs fine
    assert(Similarity.lshTopK(tiny, q, k = 2).columns.contains("cosine"))
  }

  test("empty query batch searches to an empty result; a ragged row fails at execution") {
    val idx = Similarity.ivfIndex(emb, nlist = 4)
    // a scheduled search on a day with zero queries must return empty, not
    // crash (the width guard is per-row, vacuous on an empty batch)
    val none = emb.filter(col("vec_id") < 0).withColumnRenamed("vec_id", "q_id")
    assert(idx.search(none, k = 3).count() == 0)
    // a mismatched-width query row fails ON THE ROW, with the width message
    val bad = spark.range(1).select(col("id").as("q_id"),
      array(lit(1.0f), lit(2.0f)).as("embedding"))
    val e = intercept[Exception] { idx.search(bad, k = 3).collect() }
    def messages(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).take(8).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("width"), messages(e))
    // a NULL embedding row is skipped, not a crash (and not a null-poisoned
    // error): searches proceed for the valid rows
    val withNull = emb.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "q_id")
      .union(spark.range(1).select(lit(999L).as("q_id"),
        lit(null).cast("array<float>").as("embedding"), lit(0).as("label")))
    val ok = idx.search(withNull.select("q_id", "embedding"), k = 3)
      .select("q_id").distinct().count()
    assert(ok == 3, s"expected 3 searched queries, got $ok")
  }

  test("a null corpus embedding is skipped at BUILD time on both assignment paths") {
    // the null-row policy must cover the centroid-training sample too: a
    // null embedding drawn into the trainCap sample would NPE on the driver
    // inside toArray before any per-row policy could apply (the small test
    // corpus makes every row part of the sample, so a null here exercises
    // exactly that path)
    val nulls = spark.range(3).select((col("id") + 1000L).as("vec_id"),
      lit(null).cast("array<float>").as("embedding"), lit(0).as("label"))
    val withNulls = emb.union(nulls)
    for (lcm <- Seq(Similarity.LiteralCentroidMax, 0)) {
      val idx = Similarity.ivfIndex(withNulls, nlist = 4, literalCentroidMax = lcm)
      // null rows carry nothing to index: assigned = exactly the real rows
      assert(idx.assigned.count() == emb.count(), s"literalCentroidMax=$lcm")
      val q = emb.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "q_id")
      assert(idx.search(q, k = 3).select("q_id").distinct().count() == 3)
    }
  }

  test("a saved IVF index loads and searches identically, on both path choices") {
    val queries = emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    for (lcm <- Seq(Similarity.LiteralCentroidMax, 0)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      val built = Similarity.ivfIndex(emb, nlist = 8, literalCentroidMax = lcm)
      built.save(dir)
      val loaded = Similarity.loadIvfIndex(spark, dir)
      // same centroids bit-for-bit, same search output, same nprobe default
      assert(loaded.centroids.map(_.toSeq) == built.centroids.map(_.toSeq))
      assert(asRows(loaded.search(queries, k = 5)) ==
        asRows(built.search(queries, k = 5)), s"literalCentroidMax=$lcm")
    }
  }

  test("join paths enforce their uniqueness contracts loudly") {
    // duplicate corpus ids on the join-based assignment path must fail,
    // not silently drop an embedding from the index
    val dupCorpus = emb.union(emb.filter(col("vec_id") === 0))
    val eC = intercept[Exception] {
      Similarity.ivfIndex(dupCorpus, nlist = 4, literalCentroidMax = 0)
        .assigned.collect()
    }
    def messages(t: Throwable) = Iterator.iterate[Throwable](t)(_.getCause)
      .takeWhile(_ != null).take(8).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(eC).contains("unique ids"), messages(eC))
    // duplicate (q_id, embedding) rows on the join probe path must fail,
    // not silently collapse where the literal path duplicates
    val idx = Similarity.ivfIndex(emb, nlist = 4, literalCentroidMax = 0)
    val q1 = emb.filter(col("vec_id") === 1).withColumnRenamed("vec_id", "q_id")
    val eQ = intercept[Exception] { idx.search(q1.union(q1), k = 3).collect() }
    assert(messages(eQ).contains("dedup the batch"), messages(eQ))
  }

  test("IVF join-based centroid path (nlist > literalCentroidMax) equals the literal path") {
    val queries = emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // literalCentroidMax = 0 forces the broadcast-join assignment + probe;
    // same centroids (same seed/sample), so outputs must be identical
    val literal = asRows(Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 3))
    val joined = asRows(Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 3,
      literalCentroidMax = 0))
    assert(joined == literal)
  }

  test("IVF with nprobe = nlist is exact (equals brute force)") {
    val queries = emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 8)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf == brute)
  }

  test("LSH with zero planes is exact; with planes returns ranked subsets") {
    val queries = emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh0 = Similarity.lshTopK(emb, queries, k = 5, nPlanes = 0)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(lsh0 == brute)
    val lsh8 = Similarity.lshTopK(emb, queries, k = 5, nPlanes = 8)
    // ranks are 1..k per query, scores descending within query
    val byQ = lsh8.select("q_id", "rank", "cosine").as[(Long, Int, Double)]
      .collect().groupBy(_._1)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.map(_._3).toSeq.reverse.sorted.reverse == sorted.map(_._3).toSeq)
    }
  }

  test("randomProject matches the sequential reference fold bit for bit") {
    val rows = emb.limit(100).select(
        Similarity.randomProject(col("embedding").cast("array<double>"),
          outDim = 8, dim = 64).as("p"),
        col("embedding").cast("array<double>").as("e"))
      .as[(Seq[Double], Seq[Double])].collect()
    val planes = Similarity.planes(8, 64, 42L)
    val scale = 1.0 / math.sqrt(8.0)
    rows.foreach { case (p, e) =>
      planes.zipWithIndex.foreach { case (pl, j) =>
        var acc = 0.0
        var i = 0
        while (i < 64) { acc += e(i) * pl(i); i += 1 }
        assert(p(j) == acc * scale, s"component $j diverged from the ordered fold")
      }
    }
  }

  test("randomProject preserves pairwise squared distances on average (JL)") {
    val vecs = emb.limit(50).select(
        col("embedding").cast("array<double>").as("e"),
        Similarity.randomProject(col("embedding").cast("array<double>"),
          outDim = 8, dim = 64).as("p"))
      .as[(Seq[Double], Seq[Double])].collect()
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      orig = d2(vecs(i)._1, vecs(j)._1) if orig > 0
    } yield d2(vecs(i)._2, vecs(j)._2) / orig
    val mean = ratios.sum / ratios.size
    // E[ratio] = 1; per-pair std at outDim=8 is ~0.5, so the mean over
    // ~1,200 pairs (correlated through the shared 50 points) concentrates
    // well inside this band — deterministic given the fixed seed + fixture
    assert(mean > 0.7 && mean < 1.3, s"mean distance ratio off: $mean")
  }

  test("multi-table LSH recall dominates single-table recall") {
    val queries = emb.filter(col("vec_id") < 20).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
        .intersect(brute).size.toDouble / brute.size
    // near-random embeddings make ANN recall inherently modest; 4 planes =
    // 16 buckets keeps per-table collision probability workable and the
    // multi-table union must dominate a single table
    val r1 = recall(Similarity.lshTopK(emb, queries, k = 5, nPlanes = 4))
    val r4 = recall(Similarity.lshTopKMulti(emb, queries, k = 5, nPlanes = 4, tables = 4))
    assert(r4 >= r1)
    assert(r4 > 0.2, s"multi-table recall unexpectedly low: $r4")
  }

  test("graded ANN operating points clear their recall bars") {
    val queries = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, brute).select("mean_recall").distinct()
        .as[Double].head()
    // the gate's ext_knn_lsh_recall operating point (recall-first: coarse
    // buckets x 8 tables — the honest setting for unclustered embeddings)
    val lsh = mean(Similarity.lshTopKMulti(emb, queries, k = 5, nPlanes = 2, tables = 8))
    assert(lsh >= 0.9, s"multi-table LSH mean recall below bar: $lsh")
    // the gate's ext_knn_ivf_recall operating point (nlist=16, nprobe=4 —
    // probing a quarter of the lists must find a solid majority)
    val ivf = mean(Similarity.ivfTopK(emb, queries, k = 5))
    assert(ivf >= 0.4, s"IVF mean recall below bar: $ivf")
  }

  test("LSH-bucketed embedding near-dup: subset of brute force; exact at 0 planes") {
    val brute = Dedup.embeddingNearDups(emb, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh0 = Dedup.embeddingNearDupsLsh(emb, threshold = 0.3, nPlanes = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh0 == brute)
    val lsh4 = Dedup.embeddingNearDupsLsh(emb, threshold = 0.3, nPlanes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh4.subsetOf(brute))
  }

  test("PII redaction scrubs emails, IPs and phone runs; counts match") {
    val df = Seq(
      (1L, "mail a.b+c@foo-bar.org or 10.1.2.3 then +44 20 7946 0958 done"),
      (2L, "no pii here at all, just 42 and 7 loose digits"))
      .toDF("doc_id", "text")
    val byId = df.select(col("doc_id"),
      Pii.emailCount(col("text")).as("e"), Pii.ipv4Count(col("text")).as("i"),
      Pii.phoneCount(col("text")).as("p"), Pii.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .toMap
    assert(byId(1L) == ((1, 1, 1, "mail <EMAIL> or <IP> then <PHONE> done")))
    assert(byId(2L) == ((0, 0, 0, "no pii here at all, just 42 and 7 loose digits")))
  }

  test("repetition metrics: duplicate-token and top-bigram signals") {
    import graft.operators.TextAnalysis._
    val df = Seq(
      (1L, "a b a b a b"), // 6 toks, 2 distinct; bigrams ababa -> "a b" x3 of 5
      (2L, "x y z"),       // no repetition; top bigram count 1 of 2
      (3L, "single"))      // no bigrams at all
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      dupTokenFraction(col("text")).as("d"),
      topBigramCount(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(math.abs(out(1L)._1 - (1.0 - 2.0 / 6.0)) < 1e-12)
    assert(out(1L)._2 == 3L)
    assert(out(2L)._1 == 0.0 && out(2L)._2 == 1L)
    assert(out(3L) == ((0.0, 0L)))
  }

  test("int8 quantization: bounded elementwise error, cosine preserved") {
    import graft.functions.Vectors
    val q = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale", Vectors.quantScale(col("e")))
      .withColumn("q", Vectors.quantizeInt8(col("e"), col("scale")))
      .withColumn("deq", Vectors.dequantize(col("q"), col("scale")))
      .select(
        array_min(col("q")).as("qmin"), array_max(col("q")).as("qmax"),
        (array_max(expr("zip_with(e, deq, (x, y) -> abs(x - y))")) /
          col("scale")).as("max_err_scaled"),
        Vectors.cosine(col("e"), col("deq")).as("cos"))
    val rows = q.collect()
    rows.foreach { r =>
      assert(r.getInt(0) >= -127 && r.getInt(1) <= 127) // int8 range
      assert(r.getDouble(2) <= 0.5 + 1e-9, s"error beyond scale/2: $r") // round() bound
      assert(r.getDouble(3) > 0.9999, s"cosine degraded: $r")
    }
    // end-to-end: exact search over the QUANTIZED corpus must recover the
    // original top-k almost perfectly (the storage-scale deployment mode)
    val deq = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale", Vectors.quantScale(col("e")))
      .select(col("vec_id"),
        Vectors.dequantize(Vectors.quantizeInt8(col("e"), col("scale")), col("scale"))
          .as("embedding"))
    val queries = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
    val recall = Similarity.recallAtK(
      Similarity.bruteForceTopK(deq, queries, k = 5),
      Similarity.bruteForceTopK(emb, queries, k = 5))
      .select("mean_recall").distinct().as[Double].head()
    assert(recall >= 0.95, s"quantized-corpus recall too low: $recall")
  }

  test("multimodal: expression stub and mapPartitions stub agree") {
    val media = Multimodal.synthesizeFromDocs(
      spark.read.parquet(s"$sf/documents.parquet").limit(50))
    val exprFeats = Multimodal.withFeatures(media, dim = 4)
      .select(col("media_id"), col("features")).as[(Long, Array[Double])]
      .collect().toMap
    // the mapPartitions shape a native codec needs: one init per partition,
    // streamed rows; first 48 bits of md5(bytes ++ "/f<j>") -> [0,1)
    val mpFeats = media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          (id, Array.tabulate(4) { j =>
            digest.reset()
            digest.update(bytes)
            digest.update(s"/f$j".getBytes)
            val d = digest.digest()
            (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
              .toDouble / (1L << 48).toDouble
          })
        }
      }.collect().toMap
    assert(exprFeats.keySet == mpFeats.keySet)
    exprFeats.foreach { case (id, fs) =>
      fs.zip(mpFeats(id)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("frame sampling fans out one row per interval within duration") {
    val media = Multimodal.synthesizeFromDocs(
      spark.read.parquet(s"$sf/documents.parquet").limit(30))
    val frames = Multimodal.frameSample(media, intervalMs = 1000L)
    val counts = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val durations = media.filter(col("kind") === "video")
      .select(col("media_id"), col("meta.duration_ms")).as[(Long, Long)]
      .collect().toMap
    assert(counts.keySet == durations.keySet)
    durations.foreach { case (id, d) => assert(counts(id) == (d - 1) / 1000 + 1) }
  }
}
