package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Content-hash sampling invariants (exact values are oracle-checked in
  * x2_hash_split / x3_source_quota). */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ids = spark.range(10000).toDF("id")

  /** The ids a single-split [[Sampling.hashSplit]] keeps at `fraction`:
    * a content-hash Bernoulli sample. */
  private def sample(df: org.apache.spark.sql.DataFrame, fraction: Double,
      salt: String = "sample") =
    Sampling.hashSplit(df, "id", Seq("in" -> fraction), salt = salt)
      .filter(col("split") === "in").select("id")

  test("hashSplit fractions land near their targets") {
    val counts = Sampling.hashSplit(ids, "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 8000L) < 300, counts)
    assert(math.abs(counts("val") - 1000L) < 150, counts)
    assert(math.abs(counts("test") - 1000L) < 150, counts)
  }

  test("growing the corpus never moves an existing row between splits") {
    val small = Sampling.hashSplit(ids.filter(col("id") < 1000), "id",
      Seq("train" -> 0.5, "val" -> 0.5))
    val big = Sampling.hashSplit(ids, "id", Seq("train" -> 0.5, "val" -> 0.5))
      .filter(col("id") < 1000)
    assert(small.exceptAll(big).isEmpty && big.exceptAll(small).isEmpty)
  }

  test("different salts give independent assignments") {
    val a = sample(ids, 0.5, salt = "a").as[Long].collect().toSet
    val b = sample(ids, 0.5, salt = "b").as[Long].collect().toSet
    val overlap = (a intersect b).size.toDouble / 10000
    assert(overlap > 0.2 && overlap < 0.3, s"expected ~0.25 overlap, got $overlap")
  }

  test("fractions summing to 1.0 are exhaustive; fraction 1.0 keeps all rows") {
    // strict hex compares top out below "ffffffff…" — the final bucket and
    // the full-fraction sample must special-case to catch the top hash value
    val n = Sampling.hashSplit(ids, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("split") === "rest").count()
    assert(n == 0L)
    assert(sample(ids, 1.0).count() == 10000L)
  }

  test("samples are nested: sample(f1) is a subset of sample(f2) for f1 <= f2") {
    // the property that makes content-hash sampling safe to widen later:
    // raising the fraction only ADDS rows, never reshuffles existing ones
    val small = ids.limit(500)
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val (a, b) = (rnd.nextDouble(), rnd.nextDouble())
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val s1 = sample(small, lo).as[Long].collect().toSet
      val s2 = sample(small, hi).as[Long].collect().toSet
      assert(s1.subsetOf(s2), s"f=$lo not nested in f=$hi")
    }
  }

  test("hexThreshold is monotone and boundary-exact") {
    assert(Sampling.hexThreshold(0.0) == "00000000")
    assert(Sampling.hexThreshold(1.0) == "ffffffff")
    val fs = (0 to 100).map(_ / 100.0)
    fs.sliding(2).foreach { case Seq(a, b) =>
      assert(Sampling.hexThreshold(a) <= Sampling.hexThreshold(b))
    }
  }

  test("packSequences matches a driver-side greedy fold, shard by shard") {
    val rnd = new scala.util.Random(9L)
    val rows = (0L until 300L).map(i => (i, s"s${i % 4}", rnd.nextInt(200) + 1))
    val df = rows.toDF("doc_id", "source", "n")
    val got = Sampling.packSequences(df, col("n"), contextLen = 512)
      .select("doc_id", "n_tokens", "bin", "bin_offset")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // reference: stream each shard's docs in id order, accumulate tokens
    rows.groupBy(_._2).foreach { case (_, docs) =>
      var acc = 0L
      docs.sortBy(_._1).foreach { case (id, _, n) =>
        assert(got(id) == ((id, n.toLong, acc / 512, acc % 512)),
          s"doc $id: got ${got(id)}, acc=$acc n=$n")
        acc += n
      }
    }
    // offsets live in [0, contextLen)
    assert(got.values.forall(r => r._4 >= 0 && r._4 < 512))
  }

  test("chunkDocs tiles [0, n_tokens) exactly; zero-token docs vanish") {
    val df = Seq((1L, 300L), (2L, 128L), (3L, 1L), (4L, 0L), (5L, 256L))
      .toDF("doc_id", "n")
    val got = Sampling.chunkDocs(df, col("n"), contextLen = 128)
      .select("doc_id", "n_tokens", "chunk_idx", "token_start", "token_end")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    assert(!got.contains(4L)) // zero-token doc yields no chunks
    assert(got(1L).map(r => (r._3, r._4, r._5)).toSeq ==
      Seq((0L, 0L, 128L), (1L, 128L, 256L), (2L, 256L, 300L)))
    assert(got(2L).map(r => (r._3, r._4, r._5)).toSeq == Seq((0L, 0L, 128L)))
    assert(got(3L).map(r => (r._3, r._4, r._5)).toSeq == Seq((0L, 0L, 1L)))
    // tiling invariants on every doc: contiguous half-open ranges from 0 to n
    got.values.foreach { chunks =>
      val n = chunks.head._2
      assert(chunks.head._4 == 0L && chunks.last._5 == n)
      chunks.sliding(2).foreach {
        case Array(a, b) => assert(a._5 == b._4, s"gap between $a and $b")
        case _ => ()
      }
      assert(chunks.init.forall(c => c._5 - c._4 == 128L))
      assert(chunks.forall(c => c._5 - c._4 >= 1L && c._5 - c._4 <= 128L))
    }
  }

  test("chunkDocs composes with packSequences over the chunk stream") {
    // chunk long docs, then pack the CHUNK stream (the standard pipeline
    // order): no piece entering the packer exceeds the context, and the
    // packed offsets replay exactly as a per-shard greedy fold in chunk-id
    // order — the two operators compose without any glue beyond a unique
    // orderable chunk id
    val rnd = new scala.util.Random(11L)
    val rows = (0L until 200L).map(i => (i, s"s${i % 3}", rnd.nextInt(700) + 1))
    val chunks = Sampling.chunkDocs(rows.toDF("doc_id", "source", "n"), col("n"), 256)
      .withColumn("chunk_id", format_string("%06d-%03d", col("doc_id"), col("chunk_idx")))
    val packed = Sampling.packSequences(
        chunks, col("token_end") - col("token_start"), 256, idCol = "chunk_id")
      .select("source", "chunk_id", "n_tokens", "bin", "bin_offset")
      .as[(String, String, Long, Long, Long)].collect()
    assert(packed.nonEmpty)
    assert(packed.forall(c => c._3 >= 1 && c._3 <= 256)) // chunks fit the context
    packed.groupBy(_._1).values.foreach { shard =>
      var acc = 0L
      shard.sortBy(_._2).foreach { case (_, id, n, bin, off) =>
        assert((bin, off) == (acc / 256, acc % 256), s"chunk $id: acc=$acc")
        acc += n
      }
    }
  }

  test("weightedRepeat: integer weights emit exact copy counts") {
    val df = Seq((1L, 0.0), (2L, 2.0), (3L, 1.0), (4L, 3.0)).toDF("id", "w")
    val got = Sampling.weightedRepeat(df, "id", col("w"))
      .select("id", "copy_idx").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(!got.contains(1L)) // weight 0 drops the row entirely
    assert(got(2L) == Seq(0L, 1L))
    assert(got(3L) == Seq(0L))
    assert(got(4L) == Seq(0L, 1L, 2L))
  }

  test("weightedRepeat: fractional weights land near target and never reshuffle") {
    val df = ids.withColumn("w", lit(1.5))
    val n = Sampling.weightedRepeat(df, "id", col("w")).count()
    // every row kept once, ~half duplicated
    assert(math.abs(n - 15000L) < 400, n)
    // the Bernoulli draw is content-keyed: a grown corpus repeats the same
    // rows (the property that keeps an epoch mix stable as data arrives)
    val small = Sampling.weightedRepeat(
      ids.filter(col("id") < 1000).withColumn("w", lit(0.25)), "id", col("w"))
      .select("id").as[Long].collect().toSet
    val big = Sampling.weightedRepeat(
      ids.withColumn("w", lit(0.25)), "id", col("w"))
      .filter(col("id") < 1000).select("id").as[Long].collect().toSet
    assert(small == big)
  }

  test("weightedRepeat as a token-budget mixer lands near the per-source target") {
    // the x13 composition: weight_s = target / source_tokens -> every
    // source's REALIZED token count (sum over emitted copies) approaches
    // the shared target regardless of how skewed the raw mix was
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    val bySource = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    val target = 5000.0
    val weighted = docs.join(broadcast(bySource), "source")
      .withColumn("w", lit(target) / col("src_tokens"))
    val realized = Sampling.weightedRepeat(weighted, "doc_id", col("w"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("got"))
      .select("source", "got").as[(String, Long)].collect()
    assert(realized.length == 20)
    realized.foreach { case (src, got) =>
      assert(math.abs(got - target) < target * 0.35, s"$src realized $got vs $target")
    }
  }

  test("perKeyQuota keeps exactly n deterministic rows per key") {
    val df = Seq(
      ("s1", 1L, 10L), ("s1", 2L, 30L), ("s1", 3L, 30L), ("s1", 4L, 20L),
      ("s2", 5L, 5L))
      .toDF("source", "doc_id", "n_chars")
    val kept = Sampling.perKeyQuota(df, "source", 2,
        Seq(col("n_chars").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    // s1: ties on 30 broken by doc_id (2 then 3); s2 keeps its only row
    assert(kept == Set(2L, 3L, 5L))
  }

  test("stratifiedSplit lands EXACT per-stratum proportions") {
    val df = ((1 to 1000).map(i => (i.toLong, "big")) ++
      (1 to 40).map(i => (i.toLong + 5000, "small"))).toDF("id", "stratum")
    val counts = Sampling.stratifiedSplit(df, "stratum", "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("stratum", "split").count()
      .as[(String, String, Long)].collect()
      .map { case (st, sp, n) => (st, sp) -> n }.toMap
    // exact cuts: floor(0.8*1000)=800, floor(0.9*1000)=900
    assert(counts(("big", "train")) == 800L && counts(("big", "val")) == 100L
      && counts(("big", "test")) == 100L)
    // a 40-row stratum still splits 32/4/4 — hashSplit's Bernoulli could
    // not guarantee this (sd ~ 2 rows per class)
    assert(counts(("small", "train")) == 32L && counts(("small", "val")) == 4L
      && counts(("small", "test")) == 4L)
    // deterministic under repartition
    val a = Sampling.stratifiedSplit(df, "stratum", "id", Seq("train" -> 0.5, "val" -> 0.5))
      .select("id", "split").as[(Long, String)].collect().toSet
    val b = Sampling.stratifiedSplit(df.repartition(9), "stratum", "id",
        Seq("train" -> 0.5, "val" -> 0.5))
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(a == b)
  }

  // ------------------------------------------- weighted sample w/o repl.

  test("weightedSample selects exactly k, deterministically, never w<=0") {
    val df = spark.range(2000).toDF("id")
      .withColumn("w", when(col("id") % 10 === 0, lit(0)).otherwise(lit(2)))
    val got = Sampling.weightedSample(df, "id", col("w"), k = 100)
    val ids1 = got.select("id").as[Long].collect().toSet
    assert(ids1.size == 100)
    assert(ids1.forall(_ % 10 != 0), "a zero-weight row was selected")
    val ids2 = Sampling.weightedSample(df.repartition(17), "id", col("w"), 100)
      .select("id").as[Long].collect().toSet
    assert(ids1 == ids2, "selection depends on partitioning")
  }

  test("weightedSample favors heavy rows proportionally") {
    // half the ids weight 9, half weight 1; of k=200 from 2000 the heavy
    // class expects ~90% (minus depletion) — binomial sd ~ 2.4%, bound 5 sigma
    val df = spark.range(2000).toDF("id")
      .withColumn("w", when(col("id") < 1000, lit(9)).otherwise(lit(1)))
    val heavy = Sampling.weightedSample(df, "id", col("w"), k = 200)
      .filter(col("id") < 1000).count()
    assert(heavy > 150 && heavy <= 200, s"heavy class got $heavy of 200")
  }

  test("weightedSample: k >= candidates keeps every positive-weight row") {
    val df = spark.range(50).toDF("id").withColumn("w", lit(1))
    assert(Sampling.weightedSample(df, "id", col("w"), k = 500).count() == 50)
  }

  test("leakage-safe split keeps every near-dup cluster on one side") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.minhashCandidates(docs)
    val labels = Dedup.connectedComponents(pairs)
    val rep = docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
    val split = Sampling.hashSplit(rep, "rep",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // the leakage property: within any connected component, ONE split
    val straddling = split.join(labels, split("doc_id") === labels("id"))
      .groupBy(col("comp"))
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1)
    assert(straddling.isEmpty,
      s"clusters straddle splits:\n${straddling.head(5).mkString("\n")}")
    // while a PLAIN per-doc split does leak on this corpus (the test
    // would be vacuous if no cluster sat near a split boundary)
    val plain = Sampling.hashSplit(docs.select(col("doc_id")), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val plainStraddle = plain.join(labels, plain("doc_id") === labels("id"))
      .groupBy(col("comp")).agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(plainStraddle > 0,
      "corpus has no boundary-straddling cluster — test is vacuous")
  }

  test("negativeSample: k per anchor, never the anchor's label, stable") {
    val df = (1L to 200L).map(i => (i, (i % 5).toInt)).toDF("vec_id", "label")
    val neg = Sampling.negativeSample(df, k = 3)
    val rows = neg.as[(Long, Int, Long, Int)].collect()
    assert(rows.length == 200 * 3)
    val byAnchor = rows.groupBy(_._1)
    assert(byAnchor.values.forall(_.map(_._2).toSet == Set(0, 1, 2)))
    // the invariant: a negative NEVER shares the anchor's label
    val lbl = df.as[(Long, Int)].collect().toMap
    rows.foreach { case (a, _, n, nl) =>
      assert(lbl(n) == nl && nl != lbl(a), s"anchor $a got same-label negative $n")
    }
    // deterministic under repartitioning
    val again = Sampling.negativeSample(df.repartition(7), k = 3)
      .as[(Long, Int, Long, Int)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
    intercept[IllegalArgumentException] {
      Sampling.negativeSample(df.filter($"label" === 0), k = 2).collect()
    }
  }

  test("weightedSample fails loudly past maxWeight") {
    val df = spark.range(5).toDF("id").withColumn("w", lit(10L))
    val e = intercept[Exception] {
      Sampling.weightedSample(df, "id", col("w"), k = 2, maxWeight = 9L).collect()
    }
    assert(e.getMessage != null)
  }
}
