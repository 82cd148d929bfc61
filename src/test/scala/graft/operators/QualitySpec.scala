package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed tests for the Deequ-style quality checks
  * (`operators.Quality`); the DuckDB oracle grades the same metrics over
  * the full TPC-H tables. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private val frame = Seq(
    (1L, Some("a"), 10.0), (2L, Some("b"), -1.0), (3L, None, 0.0),
    (4L, Some("a"), 5.0)).toDF("id", "tag", "amount")

  test("completeness counts null rows against the total") {
    val r = Quality.completeness(frame, "tag", min = 1.0)
      .as[(String, Double, Boolean)].collect().head
    assert(r == (("completeness:tag", 0.75, false)))
  }

  test("distinctness vs uniqueness: a repeated value splits them") {
    // tag non-null rows: a, b, a -> 2 distinct / 3 rows; only b is unique
    val d = Quality.distinctness(frame, "tag")
      .as[(String, Double, Boolean)].collect().head
    val u = Quality.uniqueness(frame, "tag")
      .as[(String, Double, Boolean)].collect().head
    assert(d._2 == 2.0 / 3.0 && !d._3)
    assert(u._2 == 1.0 / 3.0 && !u._3)
    // id is fully unique: both metrics 1.0, both pass
    assert(Quality.uniqueness(frame, "id")
      .as[(String, Double, Boolean)].collect().head == (("uniqueness:id", 1.0, true)))
  }

  test("compliance: a null predicate row counts as non-compliant") {
    // tag IS NULL -> isin(...) yields null -> must count as failing
    val r = Quality.compliance(frame, "accepted:tag", col("tag").isin("a", "b"))
      .as[(String, Double, Boolean)].collect().head
    assert(r == (("compliance:accepted:tag", 0.75, false)))
    val pos = Quality.compliance(frame, "amount_positive", col("amount") > 0.0)
      .as[(String, Double, Boolean)].collect().head
    assert(pos._2 == 0.5 && !pos._3)
  }

  test("referential integrity: missing foreign keys lower the metric") {
    val dim = Seq(1L, 2L, 3L).toDF("key")
    val r = Quality.referential(frame, "id", dim, "key")
      .as[(String, Double, Boolean)].collect().head
    assert(r == (("referential:id", 0.75, false)))
    val full = Quality.referential(frame, "id",
      Seq(1L, 2L, 3L, 4L).toDF("key"), "key")
      .as[(String, Double, Boolean)].collect().head
    assert(full == (("referential:id", 1.0, true)))
  }

  test("a suite is a union and a gate is a filter on passed") {
    val suite = Quality.completeness(frame, "id")
      .unionAll(Quality.uniqueness(frame, "id"))
      .unionAll(Quality.compliance(frame, "accepted:tag", col("tag").isin("a", "b")))
    assert(suite.count() == 3)
    assert(suite.filter(!col("passed")).count() == 1)
  }

  test("tableSuite fuses the single-table checks and matches them row-for-row") {
    val fused = Quality.tableSuite(frame,
      completenessCols = Seq("tag"),
      distinctnessCols = Seq("id", "tag"),
      compliances = Seq(
        "amount_positive" -> (col("amount") > 0.0),
        "accepted:tag" -> col("tag").isin("a", "b")))
      .as[(String, Double, Boolean)].collect().toSet
    val individual = Quality.completeness(frame, "tag")
      .unionAll(Quality.distinctness(frame, "id"))
      .unionAll(Quality.distinctness(frame, "tag"))
      .unionAll(Quality.compliance(frame, "amount_positive", col("amount") > 0.0))
      .unionAll(Quality.compliance(frame, "accepted:tag", col("tag").isin("a", "b")))
      .as[(String, Double, Boolean)].collect().toSet
    assert(fused == individual && fused.size == 5)
  }

  test("profileColumns: one row per column, exact stats, string min/max") {
    val p = Quality.profileColumns(frame, Seq("id", "tag"))
      .orderBy("column")
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(p == Seq(
      ("id", 4L, 4L, 4L, "1", "4"),
      ("tag", 4L, 3L, 2L, "a", "b")))
  }

  test("profileColumns on an empty frame reports zero counts, null min/max") {
    val empty = frame.filter(col("id") < 0)
    val p = Quality.profileColumns(empty, Seq("id"))
      .select("n_rows", "n_nonnull", "n_distinct").as[(Long, Long, Long)]
      .collect().head
    assert(p == ((0L, 0L, 0L)))
  }

  test("numericStats: hand-computed moments; null values excluded from n") {
    val money = Seq(
      ("a", Some(1.00)), ("a", Some(3.00)), ("b", Some(2.50)),
      ("b", None), ("b", Some(2.50))).toDF("seg", "price")
    val r = Quality.numericStats(money, Seq("seg"), "price").orderBy("seg")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // a: mean 2, var ((1+9)/2 - 4) = 1; b: two equal values -> var 0
    assert(r == Seq(
      ("a", 2L, 2.0, 1.0, 1.0),
      ("b", 2L, 2.5, 0.0, 0.0)))
  }

  test("numericStats agrees with Spark's var_pop to float tolerance") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val got = Quality.numericStats(orders, Seq("o_orderpriority"), "o_totalprice")
      .select("o_orderpriority", "var_pop")
      .as[(String, Double)].collect().toMap
    val ref = orders.groupBy("o_orderpriority")
      .agg(var_pop(col("o_totalprice")).as("v"))
      .as[(String, Double)].collect().toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - ref(k)) / ref(k) < 1e-9,
        s"$k: exact-sums var $v vs Spark var_pop ${ref(k)}")
    }
  }

  test("iqrOutliers flags exactly the out-of-fence rows, deterministically") {
    // 1000 mild values + 20 planted extremes
    val df = ((1 to 1000).map(i => (i.toLong, 50.0 + (i % 100))) ++
      (1 to 10).map(i => (5000L + i, 100000.0 + i)) ++
      (1 to 10).map(i => (6000L + i, -100000.0 - i))).toDF("id", "v")
    val got = Quality.iqrOutliers(df, "v", col("id"), fraction = 1.0)
      .select("id").as[Long].collect().toSet
    assert(got == ((1 to 10).map(5000L + _) ++ (1 to 10).map(6000L + _)).toSet,
      s"flagged $got")
    // sampled fences still flag the planted extremes and are stable
    val s1 = Quality.iqrOutliers(df, "v", col("id"), 1.0 / 4)
      .select("id").as[Long].collect().toSet
    val s2 = Quality.iqrOutliers(df.repartition(7), "v", col("id"), 1.0 / 4)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2 && ((1 to 10).map(5000L + _).toSet -- s1).isEmpty)
  }

  test("psiDrift: identical distributions score ~0, shifted ones alarm") {
    // same shape both sides: 4 buckets with 100/200/300/400 rows each
    def side(off: Long) = (0 until 1000).map { i =>
      (i.toLong + off, (math.sqrt(i * 2 + 1).toLong / 16).min(3))
    }.toDF("id", "b")
    val same = Quality.psiDrift(side(0), side(5000), col("b"))
      .agg(sum(col("term_fp"))).as[Long].head()
    // PSI/ln2 in 2^-36 units: 0.1 threshold ~ 0.144 * 2^36 ~ 9.9e9
    assert(math.abs(same) < (1L << 36) / 100,
      s"identical distributions scored $same (PSI ~ ${same.toDouble / (1L << 36)})")

    // shift all mass one bucket up on side b
    val shifted = (0 until 1000).map { i =>
      (i.toLong, (math.sqrt(i * 2 + 1).toLong / 16).min(3) + 4)
    }.toDF("id", "b")
    val alarm = Quality.psiDrift(side(0), shifted, col("b"))
      .agg(sum(col("term_fp"))).as[Long].head()
    assert(alarm > (1L << 36), // PSI/ln2 > 1.0 — far past any alert bar
      s"disjoint buckets scored only $alarm")

    // deterministic under repartition (the alert must never be flaky)
    val again = Quality.psiDrift(side(0).repartition(7), side(5000).repartition(3),
      col("b")).agg(sum(col("term_fp"))).as[Long].head()
    assert(again == same)
  }

  test("volumeAnomalies flags an injected spike, stays quiet on steady volume") {
    import java.sql.Timestamp
    // 20 steady days of ~100 rows/day for key "a", then day 21 at 5x
    val steady = for {
      day <- 1 to 21
      i <- 1 to (if (day == 21) 500 else 100 + (day % 3)) // mild jitter, real sigma
    } yield ("a", Timestamp.valueOf(f"2024-03-$day%02d 12:00:00"), i)
    val df = steady.toDF("k", "ts", "i")
    val out = Quality.volumeAnomalies(df, "k", "ts").orderBy(col("d"))
    val rows = out.collect()
    assert(rows.length == 21)
    // day one: empty trailing frame -> null bands, never a fake zero
    assert(rows.head.isNullAt(rows.head.fieldIndex("mu")))
    val flagged = rows.filter(_.getAs[Int]("is_anomaly") == 1).map(_.getAs[String]("d"))
    assert(flagged.toSeq == Seq("2024-03-21"),
      s"expected only the spike day flagged, got ${flagged.toSeq}")
    // warm-up guard: the first minDays rows may not alarm even with sigma=0
    assert(rows.take(3).forall(_.getAs[Int]("is_anomaly") == 0))
  }

  test("benfordDigits: exact ppm, sci-notation and negatives handled, zeros out") {
    import spark.implicits._
    // 10 values: digit 1 x5 (one negative, one scientific-formatted small,
    // one large), digit 2 x3, digit 9 x2; plus excluded zero and null
    val vals = Seq[java.lang.Double](1.0, -12.5, 0.00013, 1.9e7, 100.0,
      2.0, 0.25, -2000.0, 9.9, 0.0009, 0.0, null)
      .toDF("value")
    val rows = Quality.benfordDigits(vals, "value")
      .orderBy(org.apache.spark.sql.functions.col("digit"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => t._1 -> t._2).toMap == Map("1" -> 5L, "2" -> 3L, "9" -> 2L))
    val d1 = rows.find(_._1 == "1").get
    assert(d1._3 == 500000L, s"observed ppm ${d1._3}") // 5 of 10 exactly
    assert(d1._4 == 301030L, "Benford constant for digit 1")
  }

  test("quarantine: first-failure attribution, null predicate fails closed") {
    val rows = Seq(
      (1L, Some(10.0)),  // passes both
      (2L, Some(-1.0)),  // fails rule1 AND rule2 -> tagged rule1 only
      (3L, Some(500.0)), // fails rule2 only
      (4L, None)         // null: BOTH predicates are null -> fails rule1
    ).toDF("id", "v")
    val got = Quality.quarantine(rows, Seq(
        "nonneg" -> (col("v") >= 0.0),
        "le_100" -> (col("v") <= 100.0)))
      .select("id", "quarantine_rule", "passed")
      .as[(Long, Option[String], Boolean)].collect()
      .map { case (id, r, p) => id -> ((r, p)) }.toMap
    assert(got(1L) == ((None, true)))
    assert(got(2L) == ((Some("nonneg"), false)),
      s"first-failure attribution broke: ${got(2L)}")
    assert(got(3L) == ((Some("le_100"), false)))
    assert(got(4L) == ((Some("nonneg"), false)),
      "a null rule result must fail closed, not leak past the fence")
  }
}
