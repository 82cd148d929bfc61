package graft.operators

import graft.SparkSpec
import graft.functions.Exact
import org.apache.spark.sql.functions._

import scala.util.Random

/** Randomized invariants for the batch spend operators (seeded — failures
  * reproduce). These pin the algebraic properties the reference's golden
  * fixtures can't: order independence, dedup idempotence, window coverage.
  */
class SpendPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def randomEvents(seed: Long, n: Int) = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(
          f"2024-03-${rnd.nextInt(3) + 10}%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
        rnd.nextInt(5).toLong,
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
  }

  test("dailySpend is invariant under input permutation") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val rows = randomEvents(seed, 300)
      val a = rows.toDF("event_id", "ts", "user_id", "value")
      val b = new Random(seed + 1).shuffle(rows).toDF("event_id", "ts", "user_id", "value")
      val da = Spend.dailySpend(a, Spend.eventCols).collect().map(_.toSeq).toSet
      val db = Spend.dailySpend(b, Spend.eventCols).collect().map(_.toSeq).toSet
      assert(da == db)
    }
  }

  test("dailySpend totals equal an exact BigDecimal reference") {
    val rows = randomEvents(11L, 500)
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val got = Spend.dailySpend(df, Spend.eventCols)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val expected = rows
      .groupBy(r => (r._3, r._2.toString.substring(0, 10)))
      .map { case (k, vs) =>
        k -> vs.map(v => BigDecimal(v._4).setScale(2)).sum.toDouble
      }
    assert(got == expected)
  }

  test("dedupe is idempotent and drops exact duplicates") {
    val rows = randomEvents(3L, 200)
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val doubled = df.union(df)
    val deduped = Spend.dedupeBy(doubled, Seq("event_id"), Seq("ts", "value"))
    assert(deduped.count() == 200)
    val twice = Spend.dedupeBy(deduped, Seq("event_id"), Seq("ts", "value"))
    assert(twice.collect().map(_.toSeq).toSet == deduped.collect().map(_.toSeq).toSet)
  }

  test("agg-form dedupeBy equals the windowed reference, ties included") {
    // keys with order-column TIES: the full-row tie-break must make both
    // forms pick the same row deterministically
    val rnd = new Random(5L)
    val rows = (0 until 400).map { i =>
      (rnd.nextInt(30).toLong, rnd.nextInt(3).toLong, // key, tied order col
        i.toLong, math.round(rnd.nextDouble() * 1000) / 100.0)
    }
    val df = rows.toDF("k", "o", "id", "v")
    val agg = Spend.dedupeBy(df, Seq("k"), Seq("o"))
      .collect().map(_.toSeq).toSet
    val win = graft.Twins.dedupeByWindow(df, Seq("k"), Seq("o"))
      .collect().map(_.toSeq).toSet
    assert(agg == win)
    assert(agg.size == rows.map(_._1).distinct.size)
  }

  test("sliding 10/5 window: every event lands in exactly two windows") {
    val rows = randomEvents(5L, 300)
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val windowTotal = Spend.windowedSpend(df, Spend.eventCols)
      .agg(Exact.dsum(col("total_spent"))).as[Double].head()
    val directTotal = df.agg(Exact.dsum(col("value")) * 2).as[Double].head()
    assert(windowTotal == directTotal)
  }

  test("graft SQL functions are registered via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_fn_test")
    val dot = spark.sql("SELECT graft_dot(a, b) AS d FROM graft_fn_test")
      .as[Double].head()
    assert(dot == 11.0)

    // re-registration appends nothing: every rule/strategy stays listed once
    graft.GraftExtensions.register(spark)
    val xm = spark.sessionState.experimentalMethods
    graft.GraftExtensions.rules.foreach(r =>
      assert(xm.extraOptimizations.count(_ == r) == 1, r.ruleName))
    graft.GraftExtensions.strategies.foreach(st =>
      assert(xm.extraStrategies.count(_ == st) == 1, st.toString))

    // the injected path lists the same functions as the late path
    import org.apache.spark.sql.SparkSession
    def graftFunctions(s: SparkSession): Set[String] =
      s.catalog.listFunctions().collect().map(_.name)
        .filter(_.startsWith("graft_")).toSet
    val registered = graftFunctions(spark)
    assert(registered == graft.GraftExtensions.functions.map(_._1).toSet)
    val oldDefault = SparkSession.getDefaultSession
    val oldActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val injected = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    try assert(graftFunctions(injected) == registered)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }
}
