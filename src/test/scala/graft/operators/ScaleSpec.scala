package graft.operators

import graft.SparkSpec

/** Scale-machinery tests: salted-join equivalence and bucketed co-located
  * joins (shuffle elimination visible in the physical plan). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals the plain join on a skewed key distribution") {
    val big = (0 until 20000).map { i =>
      (if (i % 10 == 0) s"u${i % 50}" else "hot", i.toLong)
    }.toDF("user_id", "event_id")
    val dim = ((0 until 50).map(i => (s"u$i", s"seg${i % 5}")) :+ (("hot", "seg9")))
      .toDF("user_id", "segment")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "event_id", "segment")
        .as[(String, Long, String)].collect().sorted.toSeq
    assert(norm(Skew.saltedJoin(big, dim, Seq("user_id"), saltBuckets = 8)) ==
      norm(big.join(dim, Seq("user_id"))))
    // left join keeps unmatched big rows exactly once
    val dimMissingHot = (0 until 50).map(i => (s"u$i", s"seg${i % 5}"))
      .toDF("user_id", "segment")
    val leftSalted = Skew.saltedJoin(big, dimMissingHot, Seq("user_id"),
      saltBuckets = 8, joinType = "left")
    val leftPlain = big.join(dimMissingHot, Seq("user_id"), "left")
    assert(leftSalted.count() == leftPlain.count())
    assert(leftSalted.filter($"segment".isNull).count() ==
      leftPlain.filter($"segment".isNull).count())
  }

  test("bucketed tables join without an exchange") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse conf is static and can't move after session start
    val n = 10000
    spark.range(n).select($"id".as("k"), ($"id" % 97).as("v1"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucketed_a")
    spark.range(n).select($"id".as("k"), ($"id" % 89).as("v2"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucketed_b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("graft_bucketed_a")
        .join(spark.table("graft_bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == n)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
    }
  }
}
