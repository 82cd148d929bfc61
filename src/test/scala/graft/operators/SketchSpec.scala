package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Count-min sketch invariants that hold for ANY hash family — one-sided
  * error, per-row mass conservation, bounded size, additivity under union —
  * plus the md5 determinism the oracle relies on (the exact cross-engine
  * replay is graded in ext_countmin_topk). */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val D = 4
  private val W = 64

  private def items = Seq.tabulate(500)(i => s"tok${i % 37}").toDF("tok")

  test("estimate >= true count for every item (one-sided error)") {
    val sketch = Sketch.countMinBuild(items, "tok", D, W)
    val exact = items.groupBy($"tok").agg(count(lit(1)).as("n"))
    val got = Sketch.countMinEstimate(sketch, exact, "tok", D, W)
      .join(exact, "tok")
      .as[(String, Long, Long)].collect()
    assert(got.length == 37)
    got.foreach { case (tok, est, n) =>
      assert(est >= n, s"$tok: estimate $est below true count $n")
    }
  }

  test("each sketch row conserves total mass; size and ranges are bounded") {
    val sketch = Sketch.countMinBuild(items, "tok", D, W).cache()
    val perRow = sketch.groupBy($"sketch_row").agg(sum($"cnt").as("total"))
      .as[(Int, Long)].collect().toMap
    assert(perRow.keySet == (0 until D).toSet)
    assert(perRow.values.forall(_ == 500L))
    assert(sketch.count() <= D.toLong * W)
    val (minB, maxB) = sketch.agg(min($"bucket"), max($"bucket"))
      .as[(Int, Int)].head()
    assert(minB >= 0 && maxB < W)
    sketch.unpersist()
  }

  test("sketches are additive: union -> re-aggregate == sketch of union") {
    val a = Seq("x", "y", "x").toDF("tok")
    val b = Seq("y", "z").toDF("tok")
    val merged = Sketch.countMinBuild(a, "tok", D, W)
      .union(Sketch.countMinBuild(b, "tok", D, W))
      .groupBy($"sketch_row", $"bucket").agg(sum($"cnt").as("cnt"))
    val whole = Sketch.countMinBuild(a.union(b), "tok", D, W)
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  test("empty sketch estimates 0; nulls are skipped; params validated") {
    val empty = Sketch.countMinBuild(items.limit(0), "tok", D, W)
    val est = Sketch.countMinEstimate(empty, Seq("x").toDF("tok"), "tok", D, W)
      .as[(String, Long)].collect()
    assert(est.toSeq == Seq(("x", 0L)))

    val withNull = Seq(Some("x"), None, Some("x")).toDF("tok")
    val sk = Sketch.countMinBuild(withNull, "tok", D, W)
    val perRow = sk.groupBy($"sketch_row").agg(sum($"cnt").as("t"))
      .as[(Int, Long)].collect()
    assert(perRow.forall(_._2 == 2L))

    intercept[IllegalArgumentException] {
      Sketch.countMinBuild(items, "tok", 0, W)
    }
    intercept[IllegalArgumentException] {
      Sketch.countMinEstimate(Sketch.countMinBuild(items, "tok", D, W),
        items, "tok", D, 0)
    }
  }

  test("deterministic: two builds over the same data are identical tables") {
    val s1 = Sketch.countMinBuild(items, "tok", D, W)
    val s2 = Sketch.countMinBuild(items.repartition(7), "tok", D, W)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
  }

  // --------------------------------------------------------------- bloom

  private val K = 3
  private val M = 1 << 12

  test("bloom: no false negatives — every inserted item tests maybe") {
    val ins = Seq.tabulate(200)(i => s"member$i").toDF("s")
    val bitmap = Sketch.bloomBuild(ins, "s", K, M)
    val verdicts = ins
      .select(Sketch.bloomMaybe($"s", bitmap, K, M).as("v"))
      .as[Boolean].collect()
    assert(verdicts.length == 200 && verdicts.forall(identity))
  }

  test("bloom: packed-bitmap test agrees with set-membership reference") {
    val ins = Seq.tabulate(300)(i => s"in$i").toDF("s")
    val bitmap = Sketch.bloomBuild(ins, "s", K, M)
    val probes = (Seq.tabulate(300)(i => s"in$i") ++
      Seq.tabulate(700)(i => s"out$i")).toDF("s")
    // reference: a shingle is maybe-present iff ALL its k positions are in
    // the distinct set-bit table (no bit packing involved)
    val bits = Sketch
      .bloomBuild(ins, "s", K, M) // positions via the same public surface
    val setBits = bitmap.zipWithIndex.flatMap { case (w, wi) =>
      (0 until 64).filter(b => (w >> b & 1L) == 1L).map(b => wi * 64 + b)
    }.toSet
    val got = probes
      .select($"s", Sketch.bloomMaybe($"s", bitmap, K, M).as("v"),
        Sketch.bloomPositions($"s", K, M, "bloom").as("pos"))
      .as[(String, Boolean, Seq[Int])].collect()
    assert(bits.sameElements(bitmap))
    got.foreach { case (s, v, pos) =>
      assert(v == pos.forall(setBits), s"$s: bitmap test disagrees with set test")
    }
    // false positives exist as a concept but must be rare at this fill
    val fp = got.filter(r => r._1.startsWith("out") && r._2)
    assert(fp.length < 10, s"implausible fp count ${fp.length} / 700")
  }

  test("bloom: empty build rejects everything; params are validated") {
    val bitmap = Sketch.bloomBuild(items.limit(0), "tok", K, M)
    assert(bitmap.forall(_ == 0L))
    val verdicts = items.limit(5)
      .select(Sketch.bloomMaybe($"tok", bitmap, K, M).as("v"))
      .as[Boolean].collect()
    assert(verdicts.forall(!_))
    intercept[IllegalArgumentException] { Sketch.bloomBuild(items, "tok", 0, M) }
    intercept[IllegalArgumentException] { Sketch.bloomBuild(items, "tok", K, 100) }
    intercept[IllegalArgumentException] {
      Sketch.bloomMaybe($"tok", new Array[Long](3), K, M)
    }
  }

  // ----------------------------------------------------------------- hll

  test("hll: estimate lands within sampling error of a known cardinality") {
    val n = 5000
    val df = Seq.tabulate(n * 3)(i => s"item${i % n}").toDF("s") // multiset
    val est = Sketch.hllEstimate(Sketch.hllBuild(df, "s", p = 10), p = 10)
      .select($"estimate").as[Double].head()
    // standard error at p=10 is ~3.25%; 4 sigma keeps this deterministic-
    // in-practice while still failing on a real regression
    assert(math.abs(est - n) / n < 0.13, s"estimate $est vs true $n")
  }

  test("hll: registers are bounded and ranks in range; merge(halves) == whole") {
    val df = Seq.tabulate(2000)(i => s"v$i").toDF("s")
    val whole = Sketch.hllBuild(df, "s", p = 6)
    val regs = whole.as[(Int, Int)].collect()
    assert(regs.length <= 64)
    assert(regs.forall { case (b, r) => b >= 0 && b < 64 && r >= 1 && r <= 33 })
    val merged = Sketch.hllBuild(df.filter($"s" < "v5"), "s", p = 6)
      .union(Sketch.hllBuild(df.filter($"s" >= "v5"), "s", p = 6))
      .groupBy($"bucket").agg(max($"register").as("register"))
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  test("hll: deterministic across partitionings; duplicates don't move it") {
    val df = Seq.tabulate(1000)(i => s"d$i").toDF("s")
    val a = Sketch.hllEstimate(Sketch.hllBuild(df, "s", p = 8), p = 8)
      .as[(Long, Long, Int, Long, Double)].head()
    val b = Sketch.hllEstimate(
      Sketch.hllBuild(df.union(df).repartition(13), "s", p = 8), p = 8)
      .as[(Long, Long, Int, Long, Double)].head()
    assert(a == b)
  }

  test("hll: empty input gives nz=0 and a finite estimate; p is validated") {
    val est = Sketch.hllEstimate(
      Sketch.hllBuild(items.limit(0), "tok", p = 6), p = 6)
      .as[(Long, Long, Int, Long, Double)].head()
    assert(est._2 == 0L && est._4 == 64L && !est._5.isNaN && !est._5.isInfinite)
    intercept[IllegalArgumentException] { Sketch.hllBuild(items, "tok", 3) }
    intercept[IllegalArgumentException] {
      Sketch.hllEstimate(Sketch.hllBuild(items, "tok", 6), 19)
    }
  }

  // ----------------------------------------------------------------- kmv

  test("kmv: the bounded per-partition pass loses nothing vs the naive plan") {
    val df = Seq.tabulate(3000)(i => s"k${i % 1700}").toDF("s")
    val naive = df.select(Sampling.hashDraw($"s", "kmv").as("h"))
      .distinct().orderBy($"h").limit(64).as[Long].collect().toSeq
    val got = Sketch.kmvBuild(df, "s", 64).as[Long].collect().toSeq
    assert(got == naive && got.length == 64 && got == got.sorted)
    val gotRepart = Sketch.kmvBuild(df.repartition(11), "s", 64)
      .as[Long].collect().toSeq
    assert(gotRepart == naive)
    intercept[IllegalArgumentException] { Sketch.kmvBuild(df, "s", 0) }
  }

  test("kmv: union sketch == sketch of concatenated input; not-full sketch is exact") {
    val a = Seq.tabulate(500)(i => s"a$i").toDF("s")
    val b = Seq.tabulate(500)(i => s"b$i").toDF("s")
    val viaUnion = Sketch.kmvUnion(
      Sketch.kmvBuild(a, "s", 128), Sketch.kmvBuild(b, "s", 128), 128)
    val whole = Sketch.kmvBuild(a.union(b), "s", 128)
    assert(viaUnion.except(whole).isEmpty && whole.except(viaUnion).isEmpty)

    val small = Seq("x", "y", "x", "z").toDF("s")
    // a not-full sketch IS the distinct hash set
    assert(Sketch.kmvBuild(small, "s", 128).count() == 3L)
  }

  test("bloom decontaminate: planted leak is flagged, clean docs are not") {
    val evalDocs = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog again and again"),
      (1001L, "completely different benchmark prompt about nothing shared"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog again and again suffix"),
      (2L, "an entirely unrelated training document with its own words in it"),
      (3L, "another clean doc that shares no five gram with any eval text"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomDecontaminate(train, evalDocs, n = 5, k = K,
        mBits = M, minSuspect = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L), s"expected only doc 1 flagged, got $got")
    val (_, nSh, nSus) = got.head
    assert(nSus >= 8 && nSus <= nSh) // the leaked 12-gram carries 8 5-grams
  }

  // ------------------------------------------------- join-size estimate

  test("cmJoinSizeEstimate is one-sided and tight at adequate width") {
    val a = (1 to 4000).map(i => s"k${i % 500}").toDF("k")   // 500 keys x 8
    val b = (1 to 1000).map(i => s"k${i % 250}").toDF("k")   // 250 keys x 4
    // true join size: 250 shared keys x 8 x 4
    val truth = 250L * 8 * 4
    val est = Sketch.cmJoinSizeEstimate(
        Sketch.countMinBuild(a, "k", 4, 1 << 16),
        Sketch.countMinBuild(b, "k", 4, 1 << 16), depth = 4)
      .as[(Long, Long)].head()
    assert(est._1 >= truth, s"estimate ${est._1} below truth $truth (must be one-sided)")
    assert(est._1 <= truth * 1.2, s"estimate ${est._1} implausibly loose vs $truth")

    // disjoint key spaces: estimate collapses toward zero, never negative
    val d = (1 to 100).map(i => s"x$i").toDF("k")
    val e2 = Sketch.cmJoinSizeEstimate(
        Sketch.countMinBuild(a, "k", 4, 1 << 16),
        Sketch.countMinBuild(d, "k", 4, 1 << 16), depth = 4)
      .as[(Long, Long)].head()
    assert(e2._1 >= 0 && e2._1 < 50, s"disjoint estimate ${e2._1} not near zero")
  }

  // ----------------------------------------------------- grouped hll

  test("grouped HLL: each group's slice IS the standalone sketch") {
    val df = ((1 to 3000).map(i => ("a", s"item$i")) ++
      (1 to 800).map(i => ("b", s"other$i"))).toDF("g", "item")
    val grouped = Sketch.hllBuildGrouped(df, "item", Seq("g")).cache()
    Seq("a", "b").foreach { g =>
      val slice = grouped.filter($"g" === g).select($"bucket", $"register")
      val alone = Sketch.hllBuild(df.filter($"g" === g), "item")
      assert(slice.except(alone).isEmpty && alone.except(slice).isEmpty,
        s"group $g slice differs from standalone sketch")
    }
    grouped.unpersist()
  }

  test("grouped HLL estimates land near per-group truth") {
    // cardinalities above the raw-estimate validity floor of ~2.5m
    // (hllEstimate is deliberately RAW — no linear-counting correction)
    val df = ((1 to 5000).map(i => ("a", s"item$i")) ++
      (1 to 2000).map(i => ("b", s"other$i"))).toDF("g", "item")
    val est = Sketch.hllEstimateGrouped(
        Sketch.hllBuildGrouped(df, "item", Seq("g"), p = 8), Seq("g"), p = 8)
      .select($"g", $"estimate").as[(String, Double)].collect().toMap
    // p=8 standard error is ~6.5%; allow 4 sigma
    assert(math.abs(est("a") - 5000) < 5000 * 0.26, s"a: ${est("a")}")
    assert(math.abs(est("b") - 2000) < 2000 * 0.26, s"b: ${est("b")}")
    intercept[IllegalArgumentException] {
      Sketch.hllBuildGrouped(df, "item", Seq.empty)
    }
  }

  // ------------------------------------------------- sample quantiles

  test("sampleQuantiles: fraction 1.0 is exact rank selection") {
    // distinct values in scrambled order so rank selection is unambiguous
    val df = (1 to 6000).map(i => ((i * 2654435761L) % 6007, i * 1.5))
      .toDF("id", "v")
    val qs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    val got = Sketch.sampleQuantiles(df, "v", $"id", 1.0, qs)
      .as[(Double, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == qs.length && got.forall(_._2 == 6000L))
    val sorted = df.as[(Long, Double)].collect().map(_._2).sorted
    got.foreach { case (q, n, rank, v) =>
      assert(rank == math.floor(q * (n - 1)).toLong)
      assert(v == sorted(rank.toInt), s"q=$q picked $v, want ${sorted(rank.toInt)}")
    }
  }

  test("sampleQuantiles: sampled ranks track true quantiles within bound") {
    val df = (1 to 6000).map(i => ((i * 2654435761L) % 6007, i * 1.5))
      .toDF("id", "v")
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val got = Sketch.sampleQuantiles(df, "v", $"id", 1.0 / 8, qs)
      .as[(Double, Long, Long, Double)].collect()
    val m = got.head._2
    assert(m > 400 && m < 1200, s"1/8 sample of 6000 sized $m")
    val sorted = df.as[(Long, Double)].collect().map(_._2).sorted
    got.foreach { case (q, _, _, v) =>
      val trueRank = sorted.indexWhere(_ >= v).toDouble / sorted.length
      // binomial rank sd at m ~ 750 is ~0.018; 0.1 is > 5 sigma
      assert(math.abs(trueRank - q) < 0.1, s"q=$q landed at rank $trueRank")
    }
    // deterministic: partitioning does not change the selected elements
    val again = Sketch.sampleQuantiles(df.repartition(13), "v", $"id", 1.0 / 8, qs)
      .as[(Double, Long, Long, Double)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("sampleQuantilesGrouped: independent exact rank selection per group") {
    val df = ((1 to 900).map(i => ("a", i.toLong, i * 2.0)) ++
      (1 to 300).map(i => ("b", (i + 1000).toLong, 5000.0 + i)))
      .toDF("g", "id", "v")
    val got = Sketch.sampleQuantilesGrouped(df, "v", $"id", Seq("g"), 1.0,
        Seq(0.0, 0.5, 1.0))
      .as[(String, Double, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got("a").map(_._3).head == 900L && got("b").map(_._3).head == 300L)
    // group a: sorted values 2..1800; q=0.5 -> rank 449 -> value 900
    assert(got("a").map(_._5).toSeq == Seq(2.0, 900.0, 1800.0))
    // group b: 5001..5300; q=0.5 -> rank 149 -> 5150
    assert(got("b").map(_._5).toSeq == Seq(5001.0, 5150.0, 5300.0))
    // sampled variant stays group-local and deterministic
    val s1 = Sketch.sampleQuantilesGrouped(df, "v", $"id", Seq("g"), 0.25, Seq(0.5))
      .as[(String, Double, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val s2 = Sketch.sampleQuantilesGrouped(df.repartition(11), "v", $"id",
        Seq("g"), 0.25, Seq(0.5))
      .as[(String, Double, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(s1 == s2 && s1.map(_._1) == Seq("a", "b"))
    intercept[IllegalArgumentException] {
      Sketch.sampleQuantilesGrouped(df, "v", $"id", Seq.empty, 0.5, Seq(0.5))
    }
  }

  test("sampleQuantiles: parameters are validated") {
    val df = Seq((1L, 1.0)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Sketch.sampleQuantiles(df, "v", $"id", 0.0, Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Sketch.sampleQuantiles(df, "v", $"id", 0.5, Seq(1.5))
    }
  }

  test("exactQuantiles: bucket refinement equals the direct sorted rank") {
    // adversarial value set: heavy duplication (one value holds >half the
    // mass), extremes, negatives, sub-bucket-width clusters near max
    val vs = Seq.fill(500)(42.0) ++ (1 to 200).map(_ * 0.001) ++
      Seq(-1e9, -1.0, 0.0, 1e9, 1e9 - 1e-3) ++
      (1 to 50).map(i => 999999999.999 + i * 1e-9)
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val qs = Seq(0.0, 0.01, 0.5, 0.66, 0.9, 0.999, 1.0)
    val got = Sketch.exactQuantiles(df, "v", qs)
      .select($"q", $"n", $"rank", $"value")
      .as[(Double, Long, Long, Double)].collect().sortBy(_._1)
    val sorted = vs.sorted
    qs.sorted.zip(got).foreach { case (q, (gq, n, rank, value)) =>
      assert(gq == q && n == vs.size)
      val expRank = math.floor(q * (n - 1)).toLong
      assert(rank == expRank, s"q=$q rank")
      assert(value == sorted(expRank.toInt), s"q=$q value")
    }
    // constant column: every quantile is the one value, no jobs wasted
    val const = Sketch.exactQuantiles(
      Seq(7.5, 7.5, 7.5).toDF("v"), "v", Seq(0.0, 0.5, 1.0))
      .select($"value").as[Double].collect().toSeq
    assert(const == Seq(7.5, 7.5, 7.5))
    // empty relation: empty result, correct schema
    val empty = Sketch.exactQuantiles(
      Seq.empty[Double].toDF("v"), "v", Seq(0.5))
    assert(empty.columns.toSeq == Seq("q", "n", "rank", "value"))
    assert(empty.count() == 0)
    // duplicated quantiles must not double-count through the config join
    // (one row per DISTINCT q, with the correct element)
    val dup = Sketch.exactQuantiles(df, "v", Seq(0.9, 0.9, 0.5))
      .select($"q", $"value").as[(Double, Double)].collect().toList
    assert(dup == List(
      (0.5, sorted(math.floor(0.5 * (vs.size - 1)).toInt)),
      (0.9, sorted(math.floor(0.9 * (vs.size - 1)).toInt))), s"dup qs: $dup")
  }

  test("exactQuantilesByKey: per-key refinement equals per-key sorted rank") {
    // keys with different shapes: a ranged key, a CONSTANT key (lo == hi),
    // and a single-row key
    val rows = (1 to 300).map(i => ("a", i * 0.5)) ++
      Seq.fill(40)(("b", 9.25)) ++ Seq(("c", -3.0))
    val df = rows.toDF("k", "v")
    val qs = Seq(0.0, 0.5, 0.99, 1.0)
    val got = Sketch.exactQuantilesByKey(df, "k", "v", qs)
      .as[(String, Double, Long, Long, Double)].collect().toList
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expected = (for {
      k <- Seq("a", "b", "c"); q <- qs.sorted
    } yield {
      val vs = byKey(k); val r = math.floor(q * (vs.size - 1)).toLong
      (k, q, vs.size.toLong, r, vs(r.toInt))
    }).toList
    assert(got == expected, s"got $got")
    intercept[IllegalArgumentException] {
      Sketch.exactQuantilesByKey(df, "k", "v", qs, maxKeys = 2).collect()
    }
  }

  test("adaptive round-2 skip (r17): skipped and forced refinement pick " +
      "identical elements on every form") {
    // the round-2 gate (spark.graft.quantile.refine2MinBucketRows) decides
    // only HOW MUCH data the final exact-count pass sees — never WHICH
    // element it picks. Pin byte-equality of both paths on the adversarial
    // value set (heavy duplication concentrates >half the mass in ONE
    // bucket, so the whole-bucket slice really is exercised).
    val vs = Seq.fill(500)(42.0) ++ (1 to 200).map(_ * 0.001) ++
      Seq(-1e9, -1.0, 0.0, 1e9) ++ (1 to 50).map(i => 999999999.999 + i * 1e-9)
    val df = vs.zipWithIndex.map { case (v, i) => (s"k${i % 3}", v) }
      .toDF("k", "v")
    val conf = "spark.graft.quantile.refine2MinBucketRows"
    val qs = Seq(0.0, 0.01, 0.5, 0.9, 1.0)
    def runAll() = (
      Sketch.exactQuantiles(df, "v", qs).collect().toList,
      Sketch.exactRanks(df, "v", n => Seq(1L, (n + 1) / 2, n)).collect().toList,
      Sketch.exactQuantilesByKey(df, "k", "v", qs).collect().toList)
    val skipped = graft.GraftSession.withConfs(spark, conf -> Long.MaxValue.toString)(runAll())
    // the refinement's target frame is the preserved side of a left_outer
    // join: a broadcast hint on it can never be honored, so Spark would
    // warn "build left for left outer join" on every call
    val logged = logMessagesDuring {
      val forced = graft.GraftSession.withConfs(spark, conf -> "0")(runAll())
      assert(skipped == forced)
    }
    val hintWarnings = logged.filter(_.contains("is not supported in the query"))
    assert(hintWarnings.isEmpty, s"unhonored join hints: ${hintWarnings.take(3)}")
  }

  test("bloom artifact round-trips bitmap and build parameters exactly") {
    val bm = Sketch.bloomBuild(Seq("a", "b", "c").toDF("s"), "s", 3, 1 << 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-rt").toString
    Sketch.bloomSave(spark, bm, 3, 1 << 10, dir)
    val (bm2, k2, m2, salt2) = Sketch.bloomLoad(spark, dir)
    assert(bm2.sameElements(bm) && k2 == 3 && m2 == (1 << 10) && salt2 == "bloom")
    // the loaded filter screens identically: every built item still "maybe"
    val hits = Seq("a", "b", "c", "zzz").toDF("s")
      .select(Sketch.bloomMaybe(col("s"), bm2, k2, m2, salt2).as("m"))
      .as[Boolean].collect().toSeq
    assert(hits.take(3).forall(identity)) // no false negatives, ever
  }
}
