package graft.plans

import graft.{GraftExtensions, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The materialized-rollup rewrite must (a) actually fire — the plan reads
  * the MV, not the base scan — (b) be invisible to results, and (c) refuse
  * every shape it cannot prove: those fall through to the base table. */
class MvRewriteSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val base = s"$dir/events.parquet"
  private lazy val mvDir = {
    GraftExtensions.register(spark)
    val d = sys.props("java.io.tmpdir") + "/graft-mv-spec"
    MvRewrite.buildAndRegister(spark, base, d,
      dims = Seq(
        "event_date" -> to_date(col("ts").cast("timestamp")),
        "event_type" -> col("event_type")),
      measures = Seq("value" -> col("value").cast(DecimalType(18, 2))))
    d
  }

  private def q() = spark.read.parquet(base)
    .groupBy(col("event_type"))
    .agg(count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(18, 2))).cast("double").as("t"))

  test("rewrite fires: the plan scans the MV directory, not the base file") {
    mvDir
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("graft-mv-spec"), s"plan does not read the MV:\n$p")
    assert(!p.contains("events.parquet"), s"plan still scans the base:\n$p")
  }

  test("rewrite is invisible to results, including the full-dim grouping") {
    mvDir
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viaMv = rows(q())
    try {
      MvRewrite.clear()
      assert(viaMv == rows(q()))
    } finally mvDir // leave registered for other tests (re-register below)
    MvRewrite.buildAndRegister(spark, base, mvDir,
      dims = Seq(
        "event_date" -> to_date(col("ts").cast("timestamp")),
        "event_type" -> col("event_type")),
      measures = Seq("value" -> col("value").cast(DecimalType(18, 2))))
    // grouping by BOTH dims also answers from the MV (no re-aggregation
    // error: one MV row per group)
    val full = spark.read.parquet(base)
      .groupBy(to_date(col("ts").cast("timestamp")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(full.queryExecution.executedPlan.toString.contains("graft-mv-spec"))
    assert(full.agg(sum(col("n"))).collect()(0).getLong(0) ==
      spark.read.parquet(base).count())
  }

  test("incremental refresh folds a delta into the partials exactly") {
    GraftExtensions.register(spark)
    // an independent base table keeps this test's registry entry from
    // shadowing the events-table entry the other tests rely on
    val base2 = s"$dir/documents.parquet"
    val mv2 = sys.props("java.io.tmpdir") + "/graft-mv-spec-incr"
    val bucket = col("doc_id") % 10
    MvRewrite.buildAndRegister(spark, base2, mv2,
      dims = Seq("bucket" -> bucket),
      measures = Seq("len" -> length(col("text")).cast(DecimalType(18, 0))),
      buildFrom = Some(spark.read.parquet(base2).filter(col("doc_id") % 3 === 0)))
    MvRewrite.refreshIncremental(spark, base2,
      spark.read.parquet(base2).filter(col("doc_id") % 3 =!= 0))
    // the refreshed partials must equal a from-scratch rollup of the base
    val refreshed = spark.read.parquet(mv2)
    val full = spark.read.parquet(base2)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("mv_n"),
        sum(length(col("text")).cast(DecimalType(18, 0))).as("mv_sum_len"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(refreshed) == rows(full.select(refreshed.columns.map(col): _*)),
      "refreshed MV diverges from a full rebuild")
    // and the rewrite now answers a documents query from the refreshed MV
    val q = spark.read.parquet(base2).groupBy((col("doc_id") % 10).as("b"))
      .agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("graft-mv-spec-incr"))
  }

  test("min/max rewrite: fires from range partials, vetoes without them") {
    GraftExtensions.register(spark)
    // the default registration carries NO range measures: min must veto
    mvDir
    val noRanges = spark.read.parquet(base).groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"))
    assert(!noRanges.queryExecution.executedPlan.toString.contains("graft-mv-spec"),
      "min rewrote without a stored range partial")
    // an independent base with ranges registered: min/max/count/sum all
    // answer from the MV, values identical to the base scan
    val base2 = s"$dir/lineitem.parquet"
    val mv2 = sys.props("java.io.tmpdir") + "/graft-mv-spec-range"
    MvRewrite.buildAndRegister(spark, base2, mv2,
      dims = Seq("flag" -> col("l_returnflag")),
      measures = Seq("qty" -> col("l_quantity").cast(DecimalType(18, 2))),
      rangeMeasures = Seq("price" -> col("l_extendedprice")))
    def q2() = spark.read.parquet(base2).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("t"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"),
        count(col("l_extendedprice")).as("nn"))
    val p = q2().queryExecution.executedPlan.toString
    assert(p.contains("graft-mv-spec-range"), s"range rewrite did not fire:\n$p")
    assert(!p.contains("lineitem.parquet"), s"plan still scans the base:\n$p")
    // the x66 composition: dimension filter + min/max in one query must
    // also fire (mvConds path and range partials together)
    def filtered() = spark.read.parquet(base2)
      .filter(col("l_returnflag") =!= "N")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), min(col("l_extendedprice")).as("mn"))
    val pf = filtered().queryExecution.executedPlan.toString
    assert(pf.contains("graft-mv-spec-range") && !pf.contains("lineitem.parquet"),
      s"filtered min/max rewrite did not fire:\n$pf")
    val viaMv = q2().collect().map(_.toString).sorted.toSeq
    val viaMvF = filtered().collect().map(_.toString).sorted.toSeq
    MvRewrite.clear()
    assert(viaMv == q2().collect().map(_.toString).sorted.toSeq,
      "min/max rewrite changed results")
    assert(viaMvF == filtered().collect().map(_.toString).sorted.toSeq,
      "filtered min/max rewrite changed results")
    // refresh must merge range partials by min/max: rebuild, fold a delta
    val mv3 = sys.props("java.io.tmpdir") + "/graft-mv-spec-range2"
    MvRewrite.buildAndRegister(spark, base2, mv3,
      dims = Seq("flag" -> col("l_returnflag")),
      measures = Seq("qty" -> col("l_quantity").cast(DecimalType(18, 2))),
      rangeMeasures = Seq("price" -> col("l_extendedprice")),
      buildFrom = Some(spark.read.parquet(base2).filter(col("l_orderkey") % 2 === 0)))
    MvRewrite.refreshIncremental(spark, base2,
      spark.read.parquet(base2).filter(col("l_orderkey") % 2 =!= 0))
    val refreshed = q2().collect().map(_.toString).sorted.toSeq
    assert(refreshed == viaMv, "refreshed range partials diverge")
    MvRewrite.clear()
    // re-register the events MV for any later test
    MvRewrite.buildAndRegister(spark, base, mvDir,
      dims = Seq(
        "event_date" -> to_date(col("ts").cast("timestamp")),
        "event_type" -> col("event_type")),
      measures = Seq("value" -> col("value").cast(DecimalType(18, 2))))
  }

  test("unsupported shapes refuse the rewrite and scan the base") {
    mvDir
    val unsupported = Seq(
      // avg is not a registered decomposable aggregate
      spark.read.parquet(base).groupBy(col("event_type"))
        .agg(avg(col("value")).as("a")),
      // distinct count cannot come from partial counts
      spark.read.parquet(base).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("d")),
      // grouping outside the dimension set
      spark.read.parquet(base).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")),
      // sum of a measure the MV does not carry (raw double, no cast)
      spark.read.parquet(base).groupBy(col("event_type"))
        .agg(sum(col("value")).as("s")),
      // a filter between scan and aggregate blocks the rewrite (v1)
      spark.read.parquet(base).filter(col("value") > 100)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")))
    unsupported.foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("graft-mv-spec"), s"unsound rewrite fired:\n$p")
      assert(p.contains("events.parquet"))
    }
  }

  test("a re-run of an MV row in the same JVM reads its own fresh MV") {
    val mvDirOf = """graft-mv-[^/]+""".r
    def mvDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.flatMap(mvDirOf.findFirstIn).toSet
    val first = graft.SparkEntry.queries("x42_mv_rewrite")(spark, dir)
    val firstRows = first.collect().map(_.toString).toSeq.sorted
    val second = graft.SparkEntry.queries("x42_mv_rewrite")(spark, dir)
    val secondRows = second.collect().map(_.toString).toSeq.sorted
    assert(mvDirs(first).size == 1 && mvDirs(second).size == 1,
      s"each run must read exactly one MV: ${mvDirs(first)} ${mvDirs(second)}")
    assert(mvDirs(first) != mvDirs(second), "the re-run read the first run's MV")
    assert(secondRows == firstRows)
  }
}
