package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables with the schemas and value domains of the repo's TPC-H-ish
  * test data (region … lineitem, events, documents, embeddings), generated
  * by Spark from `--seed` and written as parquet. Row counts follow the test
  * data's per-scale-factor sizes. */
object SuiteData {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(perSf: Double, min: Long = 1): Long = math.max(min, math.round(perSf * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVecs = n(20000, 500)
    val id = col("id")
    def h(salt: String, c: Column = id): Column = xxhash64(lit(seed), lit(salt), c)
    def int(salt: String, m: Long, c: Column = id): Column = pmod(h(salt, c), lit(m))
    def unit(salt: String, c: Column = id): Column = int(salt, 1000000007L, c) / lit(1000000007.0)
    def pick(salt: String, vs: Seq[String], c: Column = id): Column =
      element_at(array(vs.map(lit): _*), (int(salt, vs.size, c) + 1).cast("int"))
    def money(lo: Double, hi: Double, salt: String): Column =
      round(lit(lo) + unit(salt) * (hi - lo), 2)
    def day(from: String, days: Int, salt: String): Column =
      date_add(lit(from).cast("date"), int(salt, days).cast("int")).cast("timestamp").cast("timestamp_ntz")
    def range(k: Long) = spark.range(k)

    val out = Map[String, DataFrame](
      "region" -> range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> range(nCust).select(id.as("c_custkey"),
        concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
        int("cn", 25).cast("int").as("c_nationkey"), money(-999.99, 9999.99, "cb").as("c_acctbal"),
        pick("cm", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(id.as("s_suppkey"),
        concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
        int("sn", 25).cast("int").as("s_nationkey"), money(-999.99, 9999.99, "sb").as("s_acctbal")),
      "part" -> range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", pick("pc", Seq("blue", "old", "large", "hot", "cold", "red", "small", "new")),
          pick("pn", Seq("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"))).as("p_name"),
        concat(lit("Brand#"), int("pb", 25) + 1).as("p_brand"),
        pick("pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (int("ps", 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range(nOrders).select(id.as("o_orderkey"), int("oc", nCust).as("o_custkey"),
        pick("os", Seq("F", "O", "P")).as("o_orderstatus"), money(1000, 500000, "ot").as("o_totalprice"),
        day("1995-01-01", 2404, "od").as("o_orderdate"),
        pick("op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(nLines).select(int("lo", nOrders).as("l_orderkey"),
        int("lp", nPart).as("l_partkey"), int("ls", nSupp).as("l_suppkey"),
        (int("ll", 7) + 1).cast("int").as("l_linenumber"),
        (int("lq", 50) + 1).cast("double").as("l_quantity"),
        round((int("lq", 50) + 1) * (lit(900.0) + unit("lx") * 1200), 2).as("l_extendedprice"),
        (int("ld", 11) / 100.0).as("l_discount"), (int("lt", 9) / 100.0).as("l_tax"),
        pick("lr", Seq("A", "N", "R")).as("l_returnflag"), pick("lst", Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", 2499, "lsd").as("l_shipdate")),
      "events" -> range(nEvents).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + int("et", 30L * 86400 * 1000000))
          .cast("timestamp_ntz").as("ts"),
        int("eu", nUsers).as("user_id"),
        pick("ety", Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        round(-log(lit(1.0) - unit("ev")) * 50, 2).as("value"),
        concat(lit("{\"k\": "), int("ek", 100), lit("}")).as("props")),
      "documents" -> {
        // every tenth document re-uses an earlier one's words with one
        // changed, so the near-duplicate rows have pairs to find
        val src = when(int("dd", 10) === 0, int("dsrc", nDocs)).otherwise(id)
        val len = int("dl", 90, src) + 8
        val toks = transform(sequence(lit(0L), len - 1), i =>
          when(src =!= id && i === int("dm", 8), pick("dw2", words, id))
            .otherwise(pick("dw", words, src * 1000 + i)))
        range(nDocs).select(id.as("doc_id"), array_join(toks, " ").as("text"),
          pick("dlang", Seq("en", "en", "en", "fr", "zh", "de", "es")).as("lang"),
          concat(lit("src"), id % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        val label = int("el", 10)
        range(nVecs).select(id.as("vec_id"),
          transform(sequence(lit(0L), lit(63L)), d =>
            ((unit("ec", label * 64 + d) - 0.5) * 0.4 + (unit("en", id * 64 + d) - 0.5) * 0.2)
              .cast("float")).as("embedding"),
          label.cast("int").as("label"))
      })
    tables.foreach(t => out(t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }
}

/** The fixed list of registry rows the suite times. */
object BatchSuite {
  /** Seven rows of the scaling-ladder core of `graft.Bench` plus the
    * spend rollup and batch dedup rows: a scan aggregate, two join shapes,
    * a running window, near-duplicate and vector search, and the
    * AutoChunkWindow rewrite. The other ladder rows and x73_tpch_refresh
    * and ext_quantile_exact_dist are left out: at this scale they take 0.6
    * to 3 s each, and set-up, a cold checked pass and two timed passes must
    * fit a run of well under a minute. */
  val rows: Seq[String] = Seq("q1_lineitem_agg", "q3_join_revenue", "q5_region_revenue",
    "w2_running_total", "ext_dedup_minhash", "ext_knn_brute", "ext_autochunk_multi",
    "a3_daily_spend", "d2_dedup_batch")

  /** Test-data scale the suite generates: small enough that one warm pass
    * of all rows takes a few seconds on 4 cores. */
  val sf = 0.01
}
