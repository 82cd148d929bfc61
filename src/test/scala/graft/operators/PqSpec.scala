package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product-quantization invariants: the degenerate per-vector codebook is
  * EXACT (graded cross-engine by ext_knn_pq_exact), compression keeps
  * usable recall on clustered data, encoding is deterministic and
  * scan-stable, and parameters are validated. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 300 vectors in 10 well-separated clusters of 30 (dim 16): cluster
  // center = one-hot-ish pattern, members jitter deterministically
  private lazy val vecs = (0 until 300).map { i =>
    val c = i % 10
    val v = Array.tabulate(16) { d =>
      val base = if (d == c) 10.0 else if (d == c + 1) 4.0 else 0.5
      base + ((i * 31 + d * 7) % 13) * 0.05
    }
    (i.toLong, v.toSeq)
  }.toDF("vec_id", "embedding")

  test("per-vector codebooks make ADC exact inner products") {
    val model = Similarity.pqTrain(vecs, m = 4, ksub = 256, iters = 0,
      trainCap = 300)
    // ksub(256) < corpus(300): cap respected...
    assert(model.codebooks.forall(_.size == 256))
    val small = vecs.filter($"vec_id" < 200) // ...so grade on 200 < 256
    val m2 = Similarity.pqTrain(small, m = 4, ksub = 256, iters = 0, trainCap = 300)
    val queries = vecs.filter($"vec_id" < 5).withColumnRenamed("vec_id", "q_id")
    val got = Similarity.pqTopK(Similarity.pqEncode(small, m2), queries, m2, k = 3)
      .select($"q_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSet
    // exact reference: plain inner-product ranking
    val raw = small.select($"vec_id", $"embedding").as[(Long, Seq[Double])]
      .collect()
    val qs = raw.filter(_._1 < 5)
    val want = qs.flatMap { case (qid, qe) =>
      raw.filter(_._1 != qid)
        .map { case (vid, ve) => (vid, qe.zip(ve).map { case (a, b) => a * b }.sum) }
        .sortBy { case (vid, s) => (-s, vid) }.take(3).zipWithIndex
        .map { case ((vid, _), r) => (qid, vid, r + 1) }
    }.toSet
    assert(got == want, "degenerate-codebook ADC diverged from exact ranking")
  }

  test("compressed PQ (m=8, ksub=64) keeps high recall on clustered vectors") {
    val model = Similarity.pqTrain(vecs, m = 8, ksub = 64, iters = 8)
    val codes = Similarity.pqEncode(vecs, model)
    val queries = vecs.filter($"vec_id" < 10).withColumnRenamed("vec_id", "q_id")
    val approx = Similarity.pqTopK(codes, queries, model, k = 5)
    val exact = Similarity.pqTopK(
      Similarity.pqEncode(vecs,
        Similarity.pqTrain(vecs, m = 8, ksub = 256, iters = 0, trainCap = 300)),
      queries,
      Similarity.pqTrain(vecs, m = 8, ksub = 256, iters = 0, trainCap = 300),
      k = 5)
    // NOTE: ksub=256 < 300 so the "exact" side here is near-exact; recall
    // floor is set accordingly (clusters of 30 are far coarser than the
    // residual quantization error)
    val r = Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall")).as("r")).as[Double].head()
    assert(r >= 0.6, s"mean recall@5 $r below floor")
    // codes are genuinely compressed: every code < ksub, length m
    val c = codes.select($"codes").as[Seq[Int]].collect()
    assert(c.forall(a => a.length == 8 && a.forall(x => x >= 0 && x < 64)))
  }

  test("ivfPqTopK at nprobe = nlist equals flat pqTopK; pruning stays in-cluster") {
    val model = Similarity.pqTrain(vecs, m = 8, ksub = 64, iters = 8)
    val codes = Similarity.pqEncode(vecs, model)
    val idx = Similarity.ivfIndex(vecs, nlist = 10, nprobe = 2)
    val queries = vecs.filter($"vec_id" < 8).withColumnRenamed("vec_id", "q_id")
    // exhaustive probe == flat ADC, row for row
    val flat = Similarity.pqTopK(codes, queries, model, k = 5)
    val exhaustive = Similarity.ivfPqTopK(idx, codes, queries, model,
      k = 5, nprobe = 10)
    assert(flat.except(exhaustive).isEmpty && exhaustive.except(flat).isEmpty,
      "exhaustive IVF-PQ diverged from flat ADC")
    // pruned probe returns k rows per query and decent overlap with flat
    val pruned = Similarity.ivfPqTopK(idx, codes, queries, model,
      k = 5, nprobe = 3)
    val byQ = pruned.groupBy($"q_id").count().as[(Long, Long)].collect().toMap
    assert(byQ.size == 8 && byQ.values.forall(_ == 5L))
    val overlap = pruned.select($"q_id", $"vec_id").intersect(
      flat.select($"q_id", $"vec_id")).count()
    assert(overlap >= 20, s"pruned overlap $overlap/40 implausibly low")
  }

  test("codegen'd L2Squared is bit-identical to the interpreted HOF fold") {
    import graft.functions.Vectors
    val pairs = spark.createDataset(spark.sparkContext.parallelize(
      (0 until 50).map { i =>
        (i.toLong,
          Array.tabulate(16)(d => math.sin(i * 17 + d) * 3.7),
          Array.tabulate(16)(d => math.cos(i * 13 + d) * 2.9))
      }))
      .toDF("id", "a", "b")
    val fast = pairs.select($"id", Vectors.l2Squared($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    val ref = pairs.select($"id", graft.Twins.l2SquaredHof($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(fast == ref, "codegen L2 diverged from the HOF reference")
  }

  test("codegen'd DotProduct is bit-identical to literal products and the HOF fold") {
    import graft.functions.Vectors
    // RDD-backed (not a LocalRelation): ConvertToLocalRelation would
    // otherwise constant-fold the projection in the interpreter
    val vecs = spark.createDataset(spark.sparkContext.parallelize(Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(0.5, -0.25, 8.0), Array(-1.5, 2.0, 0.125)))))
      .toDF("id", "a", "b")
    val expected = Map(1L -> (1.0 * 4 + 2.0 * 5 + 3.0 * 6), 2L -> (-0.75 - 0.5 + 1.0))
    val got = vecs.select($"id", Vectors.dot($"a", $"b").as("dot"))
      .as[(Long, Double)].collect().toMap
    assert(got == expected)
    val ref = vecs.select($"id", graft.Twins.dotHof($"a", $"b").as("dot"))
      .as[(Long, Double)].collect().toMap
    assert(got == ref, "codegen dot diverged from the HOF reference")
  }

  test("encoding is deterministic across partitionings; params validated") {
    val model = Similarity.pqTrain(vecs, m = 4, ksub = 8)
    val a = Similarity.pqEncode(vecs, model).orderBy($"vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    val b = Similarity.pqEncode(vecs.repartition(13), model).orderBy($"vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(vecs, m = 5, ksub = 8) // 5 does not divide 16
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(vecs, m = 4, ksub = 300) // codes must be byte-range
    }
  }
}
