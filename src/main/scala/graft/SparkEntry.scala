package graft

import graft.functions.Exact._
import graft.operators.{Ingest, Spend}
import graft.sources.Tables
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query names are keyed to SURVEY.md §2's operator inventory (p* = projections,
  * a* = aggregations, d* = dedup, t* = time ops, o* and e* = sort/set ops, q* =
  * headline analytics, ext_* = LLM-pipeline extension operators).
  *
  * Oracle notes (hard-won determinism rules, keep for future rounds):
  *  - Never `sum(double)` — order-dependent. Money columns are 2-dp; aggregate
  *    via decimal (graft.functions.Exact) and cast back to double: bit-identical
  *    in Spark and DuckDB.
  *  - Never output or ORDER BY the raw `ts` column: parquet stores ns, Spark
  *    truncates to µs, DuckDB keeps ns. Derived epoch-seconds / date strings
  *    are safe; tie-break orderings by a unique id instead of ts.
  *  - Alias every computed column identically in Spark and SQL.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_lineitem_agg")(spark, "/root/testdata/sf0.001")

  private val one = lit(1).cast(DecimalType(3, 2))

  /** Query vocabulary for the retrieval-eval rows (`ext_search_mrr`,
    * `ext_search_ndcg`) — shared verbatim by the Spark queries and the
    * DuckDB oracle replays. */
  private val evalTerms = Seq(
    "spark", "table", "merge", "window", "hash", "scan", "sort", "batch")

  /** Shared oracle for `ext_calibration` and its complete-mode streaming
    * twin `stream_calibration`. */
  private val calibrationSql =
    """WITH b AS (SELECT CAST(floor(value / '50.0'::DOUBLE) AS BIGINT) AS bin,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pos
      |  FROM events GROUP BY 1)
      |SELECT bin, n, n_pos,
      |  (CAST(bin AS DOUBLE) + '0.5'::DOUBLE) / '10.0'::DOUBLE AS conf,
      |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
      |  abs((CAST(bin AS DOUBLE) + '0.5'::DOUBLE) / '10.0'::DOUBLE -
      |      CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
      |FROM b ORDER BY bin""".stripMargin

  /** Shared oracle for `ext_quarantine` and its stateless streaming twin:
    * the same first-failure CASE, nulls failing closed. */
  private val quarantineSql =
    """WITH t AS (SELECT
      |    CASE WHEN NOT COALESCE(value <= 400, FALSE) THEN 'value_le_400'
      |      WHEN NOT COALESCE(event_type <> 'purchase' OR value <= 300,
      |        FALSE) THEN 'purchase_le_300'
      |      WHEN NOT COALESCE(event_type IN
      |        ('view','click','signup','purchase','error'), FALSE)
      |        THEN 'known_type'
      |      ELSE 'PASS' END AS rule
      |  FROM events)
      |SELECT rule, count(*) AS n FROM t GROUP BY rule ORDER BY rule""".stripMargin

  /** The langId replay CTEs (stop-word scores + deterministic tie-break),
    * shared by `ext_lang_id` and the `ext_langid_eval` composition. */
  private val langPredCtes =
    """s AS (SELECT doc_id,
      |  string_split_regex(trim(lower(text)), '\s+') AS lt FROM documents),
      |c AS (SELECT doc_id,
      |  len(list_filter(lt, t -> list_contains(['the','is','and','of','a'], t))) AS s_en,
      |  len(list_filter(lt, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
      |  len(list_filter(lt, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
      |  len(list_filter(lt, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr,
      |  len(list_filter(lt, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
      |FROM s),
      |pred AS (SELECT doc_id, CASE
      |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'en'
      |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'es'
      |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'de'
      |  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'fr'
      |  WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'zh'
      |  ELSE 'und' END AS lang_pred
      |FROM c)""".stripMargin

  /** Shared oracle for `x41_ewma` and its day-per-batch streaming twin
    * `stream_ewma`: the same ordered integer fold. */
  private val ewmaSql =
    """WITH daily AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS d,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT user_id, list(cents ORDER BY d) AS cs FROM daily GROUP BY user_id)
      |SELECT user_id, len(cs) AS n_days,
      |  list_reduce(cs, (acc, x) -> (acc + x) // 2) AS ewma_cents
      |FROM a""".stripMargin

  /** Shared oracle for `ext_topk_users` (explicit heap aggregate),
    * `stream_topk_users` (the heap as streaming state), and
    * `ext_topk_rewrite` (the window idiom, heap supplied by the
    * [[graft.plans.TopKRewrite]] optimizer rule): the window form all
    * three are value-identical to. */
  private val topkUsersSql =
    """WITH pu AS (SELECT event_type, user_id,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, cents,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents DESC, user_id ASC) AS BIGINT) AS rank
      |  FROM pu)
      |SELECT event_type, rank, user_id, cents FROM r WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin

  /** Shared oracle for `ext_basket_rules` and its basket-whole incremental
    * streaming twin `stream_basket_rules`: the same dedup'd self-join,
    * integer bp, and one mirrored lift division. */
  private val basketRulesSql =
    """WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
      |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY 1),
      |p AS (SELECT x.i AS item_a, y.i AS item_b,
      |    CAST(count(*) AS BIGINT) AS n_ab
      |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT item_a, item_b, n_ab, a.ni AS n_a, b.ni AS n_b, n_baskets,
      |  n_ab * 10000 // n_baskets AS support_bp,
      |  n_ab * 10000 // a.ni AS conf_a_to_b_bp,
      |  n_ab * 10000 // b.ni AS conf_b_to_a_bp,
      |  CAST(n_ab * n_baskets AS DOUBLE) / CAST(a.ni * b.ni AS DOUBLE)
      |    AS lift
      |FROM p JOIN ic a ON a.i = item_a JOIN ic b ON b.i = item_b
      |CROSS JOIN nb ORDER BY item_a, item_b""".stripMargin

  /** Shared oracle for `ext_growth_accounting` and its week-per-batch
    * streaming twin: the one-week shift full-outer join with flags, weeks
    * cropped to the corpus range. */
  private val growthAccountingSql =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
      |f AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
      |sh AS (SELECT user_id, w + 7 AS w, 1 AS prev FROM uw),
      |wk AS (SELECT DISTINCT w FROM uw),
      |j AS (SELECT coalesce(a.user_id, sh.user_id) AS user_id,
      |    coalesce(a.w, sh.w) AS w, a.act, sh.prev
      |  FROM (SELECT user_id, w, 1 AS act FROM uw) a
      |  FULL OUTER JOIN sh ON sh.user_id = a.user_id AND sh.w = a.w)
      |SELECT CAST(j.w AS VARCHAR) AS week,
      |  CAST(sum(CASE WHEN act IS NOT NULL AND j.w = w0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  CAST(sum(CASE WHEN act IS NOT NULL AND prev IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |  CAST(sum(CASE WHEN act IS NOT NULL AND prev IS NULL AND j.w <> w0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
      |  CAST(sum(CASE WHEN act IS NULL AND prev IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS churned
      |FROM j JOIN wk ON wk.w = j.w JOIN f ON f.user_id = j.user_id
      |GROUP BY 1 ORDER BY week""".stripMargin

  /** Shared oracle for `ext_skyline` and the incremental `stream_skyline`:
    * the textbook quadratic NOT-EXISTS dominance scan — independent of the
    * engine's sort-based rewrite AND of its monotone state maintenance. */
  private val skylineSql =
    """WITH p AS (SELECT p_partkey,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS price_cents,
      |    p_size FROM part)
      |SELECT p_partkey, price_cents, p_size FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b
      |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
      |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
      |ORDER BY price_cents, p_partkey""".stripMargin

  /** Shared oracle for `ext_max_concurrency` and its day-per-batch
    * streaming twin `stream_max_concurrency`: the same +1/−1 sweep with
    * the same earliest-peak join-back. */
  private val sweepConcurrencySql =
    """WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS d,
      |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
      |  FROM events GROUP BY 1, 2),
      |pts AS (SELECT d, t, CAST(sum(delta) AS BIGINT) AS net FROM (
      |    SELECT d, s_us AS t, 1 AS delta FROM iv
      |    UNION ALL SELECT d, e_us + 1, -1 FROM iv) u GROUP BY 1, 2),
      |curve AS (SELECT d, t,
      |    CAST(sum(net) OVER (PARTITION BY d ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS conc FROM pts),
      |peak AS (SELECT d, CAST(max(conc) AS BIGINT) AS max_concurrent
      |  FROM curve GROUP BY 1)
      |SELECT CAST(p.d AS VARCHAR) AS d, p.max_concurrent,
      |  CAST(min(c.t) AS BIGINT) AS peak_at_us
      |FROM peak p JOIN curve c ON c.d = p.d AND c.conc = p.max_concurrent
      |GROUP BY 1, 2 ORDER BY d""".stripMargin

  /** Shared oracle for `ext_cusum` and its day-per-batch streaming twin
    * `stream_cusum`: the identical greatest(0, ...) recurrence as a
    * recursive CTE — same truncating mean, same strict-> earliest-peak
    * tie rule. */
  private val cusumSql =
    """WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |arr AS (SELECT event_type,
      |    list(cents ORDER BY d) AS cs, list(d ORDER BY d) AS ds,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(cents) AS BIGINT) AS total
      |  FROM daily GROUP BY 1),
      |a2 AS (SELECT event_type, cs, ds, n, total // n AS mean_cents
      |  FROM arr),
      |r AS (SELECT event_type, cs, ds, n, mean_cents, 0 AS i,
      |    CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS best,
      |    CAST(NULL AS DATE) AS bestd
      |  FROM a2
      |  UNION ALL
      |  SELECT event_type, cs, ds, n, mean_cents, i + 1,
      |    greatest(0, s + cs[i+1] - mean_cents),
      |    CASE WHEN greatest(0, s + cs[i+1] - mean_cents) > best
      |      THEN greatest(0, s + cs[i+1] - mean_cents) ELSE best END,
      |    CASE WHEN greatest(0, s + cs[i+1] - mean_cents) > best
      |      THEN ds[i+1] ELSE bestd END
      |  FROM r WHERE i < n)
      |SELECT event_type, n AS n_days, mean_cents, best AS max_cusum,
      |  s AS final_cusum, CAST(bestd AS VARCHAR) AS peak_d
      |FROM r WHERE i = n ORDER BY event_type""".stripMargin

  /** Shared oracle for `ext_eval_confusion` and its streaming twin
    * `stream_eval_confusion` (complete-mode counters finalize to the same
    * counts): same single-division metric assembly; kappa's products
    * replay the decimal(18,0) widening. */
  private val evalConfusionSql =
    """WITH c AS (SELECT
      |  CAST(sum(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN event_type <> 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN event_type = 'purchase' AND value < 150 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN event_type <> 'purchase' AND value < 150 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM events)
      |SELECT tp, fp, fn, tn,
      |  CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0) AS precision,
      |  CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0) AS recall,
      |  CAST(tp * 2 AS DOUBLE) / NULLIF(CAST(tp * 2 + fp + fn AS DOUBLE), 0) AS f1,
      |  CAST(tp + tn AS DOUBLE) / NULLIF(CAST(tp + fp + fn + tn AS DOUBLE), 0) AS accuracy,
      |  CAST((CAST(tp AS DECIMAL(18,0)) * CAST(tn AS DECIMAL(18,0)) -
      |        CAST(fp AS DECIMAL(18,0)) * CAST(fn AS DECIMAL(18,0)))
      |       * 2::DECIMAL(1,0) AS DOUBLE) /
      |  NULLIF(CAST((CAST(tp AS DECIMAL(18,0)) + CAST(fp AS DECIMAL(18,0))) *
      |       (CAST(fp AS DECIMAL(18,0)) + CAST(tn AS DECIMAL(18,0))) +
      |       (CAST(tp AS DECIMAL(18,0)) + CAST(fn AS DECIMAL(18,0))) *
      |       (CAST(fn AS DECIMAL(18,0)) + CAST(tn AS DECIMAL(18,0)))
      |       AS DOUBLE), 0) AS kappa
      |FROM c""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- headline analytics (bench) ------------------------------------
    "q1_lineitem_agg" -> ((s, dir) => {
      // TPC-H Q1 shape: scan-heavy groupBy/agg; predicate pushed to parquet.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(money(col("l_extendedprice")) * (one - money(col("l_discount")))
            * (one + money(col("l_tax")))).cast("double").as("sum_charge"),
          (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q10_returned_revenue" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-item revenue per customer, top 20.
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: groupBy-having feeding a semi-join back to orders.
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150.0)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    "q4_semi_join" -> ((s, dir) =>
      // EXISTS shape: orders with at least one returned line. left_semi
      // never widens rows and never shuffles the probe side's payload —
      // only the bare filtered key column moves.
      Tables.orders(s, dir).join(
          Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))),

    "q22_anti_join" -> ((s, dir) =>
      // NOT EXISTS shape: customers with no order in the first half of
      // 1996 (the unfiltered variant is vacuous on this data — every
      // customer has SOME order), per nation. The build side is filtered
      // then projected to the bare key before the anti-join.
      Tables.customer(s, dir).join(
          Tables.orders(s, dir)
            .filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))),

    "q5_region_revenue" -> ((s, dir) => {
      // TPC-H Q5 shape: 6-table join, dims broadcast, one agg shuffle.
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      Tables.lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q6_filter_sum" -> ((s, dir) =>
      // TPC-H Q6 shape: pure filter+sum scan; predicates pushed to parquet.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(money(col("l_extendedprice")) * money(col("l_discount")))
          .cast("double").as("revenue"))),

    "q7_volume_shipping" -> ((s, dir) => {
      // TPC-H Q7: bilateral trade volume between two nations by ship year.
      // nation joins twice under different roles — rename to disambiguate;
      // both nation copies and supplier/customer are broadcast dims, so the
      // only shuffle is lineitem⋈orders on the order key.
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8: one nation's share of PROMO-part revenue sold into ASIA,
      // per order year. The share divides two order-independent decimal sums
      // (cast to double only at the end) so the ratio is engine-exact.
      val wide = DecimalType(30, 8)
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("nation"))
      val vol = (money(col("l_extendedprice")) * (one - money(col("l_discount"))))
        .cast(wide)
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("c_rkey") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("nation") === "NATION_3", vol)
            .otherwise(lit(0).cast(wide))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    "q12_late_shipment" -> ((s, dir) =>
      // TPC-H Q12 shape (adapted: the data model has no ship mode or
      // commit/receipt dates — "late" is shipping >60 days after the order
      // date). Priority-class line counts per line status; counts via
      // count(CASE...) so both engines emit bigint.
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
            .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("low_line_count"))
        .orderBy(col("l_linestatus"))),

    "q13_custdist" -> ((s, dir) =>
      // TPC-H Q13: distribution of order counts per customer. The priority
      // filter lives on the join's right side (equivalent to the spec's
      // ON-clause filter for a left outer join); customers with no matching
      // order survive with c_count=0 via count(o_orderkey) counting non-null.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
            .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    "q14_promo_revenue" -> ((s, dir) => {
      // TPC-H Q14: PROMO share of one ship month's revenue, in percent.
      // part is a broadcast dim; the month filter is pushed to the scan.
      val wide = DecimalType(30, 8)
      val vol = (money(col("l_extendedprice")) * (one - money(col("l_discount"))))
        .cast(wide)
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0).cast(wide)))
            .cast("double") /
          sum(vol).cast("double")).as("promo_revenue"))
    }),

    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15: supplier(s) with the quarter's max revenue. The scalar
      // max is a 1-row broadcast joined back against the per-supplier
      // rollup — no window, no second scan of lineitem (rev reuses one
      // shuffle); equality on doubles is safe because both sides derive
      // from the same exact decimal sum.
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("total_revenue"))
      rev.join(broadcast(rev.agg(max(col("total_revenue")).as("mx"))))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    "q16_supplier_cnt" -> ((s, dir) =>
      // TPC-H Q16 shape (adapted: no partsupp table — lineitem is the
      // part↔supplier bridge; negative account balance stands in for the
      // spec's complaints filter). NOT IN becomes a left_anti against the
      // 6-row excluded-supplier keys; distinct suppliers per part bucket.
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY" &&
              col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
            .select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))),

    "q17_small_qty_revenue" -> ((s, dir) => {
      // TPC-H Q17 shape (adapted: brand-only part filter — no container
      // column). Per-part 20%-of-average quantity threshold from a separate
      // rollup of lineitem; the 2,000-row threshold table broadcasts back
      // onto the scan, so no repartition of lineitem by part key is needed.
      // The threshold divides an exact decimal sum by the count, then one
      // double multiply — identical arithmetic in the oracle.
      val thresh = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("agg_partkey"))
        .agg((lit(0.2) * (sum(money(col("l_quantity"))).cast("double") /
          count(lit(1)))).as("qty_thresh"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_brand") === "Brand#5")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(thresh), col("l_partkey") === col("agg_partkey"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    "q19_disjunctive_pred" -> ((s, dir) =>
      // TPC-H Q19 shape (adapted bands — no container/shipmode columns):
      // three OR'd (brand, size, quantity) branches over the part⋈lineitem
      // join. Catalyst extracts the common l_quantity/p_size bounds where it
      // can; part broadcasts so the disjunction is evaluated map-side.
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))),

    "q21_waiting_supplier" -> ((s, dir) => {
      // TPC-H Q21 shape (adapted: "late" is shipping >90 days after the
      // order date — no commit/receipt dates). One nation's suppliers who
      // were the SOLE late shipper on a finished multi-supplier order:
      // EXISTS(other supplier on the order) → left_semi on the bare key
      // pair; NOT EXISTS(other LATE supplier) → left_anti whose condition
      // references the outer o_orderdate — expressible directly as a join
      // predicate, where SQL needs a correlated subquery.
      val l2 = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
      val l3 = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"),
          col("l_shipdate").as("l3_shipdate"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(l2, col("l2_orderkey") === col("l_orderkey") &&
          col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_orderkey") === col("l_orderkey") &&
          col("l3_suppkey") =!= col("l_suppkey") &&
          col("l3_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    "q2_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2 shape (adapted: no partsupp — each supplier's observed
      // unit sale price from lineitem is the "supply cost"). The correlated
      // regional-minimum subquery becomes a per-part min over the
      // region-filtered offers joined back on (part, price) — the offers
      // relation is built once and reused for both sides (exchange reuse),
      // equality on doubles being safe because both sides carry the same
      // exact-decimal-derived value.
      // the selective part predicate is applied FIRST: a broadcast
      // semi-join against the filtered part keys prunes lineitem BEFORE
      // the per-(part, supplier) aggregation, the EU joins, and the
      // per-part min — every downstream stage shrinks ~50x, and the
      // per-part min is computed per part either way so the kept groups'
      // values are unchanged. At 100 TB this is the difference between
      // aggregating the full fact table and aggregating one part slice.
      val partF = Tables.part(s, dir)
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      val offer = Tables.lineitem(s, dir)
        .join(broadcast(partF.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((sum(money(col("l_extendedprice"))).cast("double") /
          sum(money(col("l_quantity"))).cast("double")).as("unit_price"))
      val eu = offer
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val mn = eu.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("unit_price")).as("min_price"))
      eu.join(mn, col("l_partkey") === col("m_partkey") &&
          col("unit_price") === col("min_price"))
        .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_name"), col("unit_price"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    }),

    "q9_nation_profit" -> ((s, dir) => {
      // TPC-H Q9 shape (adapted: cost proxy is 0.6 x retail price per unit —
      // no partsupp supplycost). Profit per supplier nation per order year
      // over a part-name substring filter; both product terms widen to an
      // exact DECIMAL(30,8) before the subtraction so the signed amounts
      // aggregate order-independently.
      val wide = DecimalType(30, 8)
      val amount = (money(col("l_extendedprice")) * (one - money(col("l_discount"))))
        .cast(wide) -
        (money(col("p_retailprice")) * lit(0.6).cast(DecimalType(2, 1)) *
          money(col("l_quantity"))).cast(wide)
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    "q11_important_parts" -> ((s, dir) => {
      // TPC-H Q11 shape (adapted: inventory value proxied by shipped
      // quantity x retail price; three nations stand in for GERMANY). The
      // 0.1%-of-total threshold is a 1-row broadcast from the SAME decimal
      // rollup — never a second scan, never a double-sum.
      val pv = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
            .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(money(col("l_quantity")) * money(col("p_retailprice"))).as("pv_dec"))
      pv.join(broadcast(pv.agg(
          (sum(col("pv_dec")).cast("double") * lit(0.001)).as("thresh"))))
        .filter(col("pv_dec").cast("double") > col("thresh"))
        .select(col("l_partkey").as("p_partkey"),
          col("pv_dec").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    }),

    "q20_excess_shippers" -> ((s, dir) => {
      // TPC-H Q20 shape (adapted: "excess stock" is shipping >300 units of
      // PROMO parts in 1996). Agg-then-having feeding a left_semi back to
      // supplier — only the qualified keys cross the join.
      val qualified = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 300.0)
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_nationkey"))
        .orderBy(col("s_name"))
    }),

    // ---- aggregations (SURVEY §2.5) ------------------------------------
    "a1_windowed_tx" -> ((s, dir) =>
      // A1 literally: sliding window grouped by (window, user, event id) —
      // the reference's per-transaction key variant
      // (CustomerSpendingAnalysis.scala:76-81).
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("user_id"), col("event_id"))
        .agg(dsum(col("value")).as("window_total_spent"))
        .select(col("user_id"), col("event_id"),
          col("window.start").cast("long").as("w_start"),
          col("window.end").cast("long").as("w_end"),
          col("window_total_spent"))),

    "a2_windowed_spend" -> ((s, dir) => {
      // Sliding 10-min/5-min event-time window, summed per user (A2).
      Spend.windowedSpend(Tables.events(s, dir), Spend.eventCols)
        .select(
          col("user_id"),
          col("window_start").cast("long").as("w_start"),
          col("window_end").cast("long").as("w_end"),
          col("total_spent"))
    }),

    "a3_daily_spend" -> ((s, dir) =>
      // Daily rollup: true daily totals per user (A3, §4.3-3 fix).
      Spend.dailySpend(Tables.events(s, dir), Spend.eventCols)),

    "a7_session_window" -> ((s, dir) =>
      // Sessionization: 30-min-gap session windows per user (the session
      // analog of T1; native session_window, stateful in streaming).
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(dsum(col("value")).as("total_spent"), count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("sess_start"),
          col("session_window.end").cast("long").as("sess_end"),
          col("total_spent"), col("n_events"))),

    "a8_distinct_users" -> ((s, dir) =>
      // exact distinct counts per type (map-side partial distinct, one
      // shuffle on the group key + distinct key)
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    "a9_rollup" -> ((s, dir) =>
      // ROLLUP subtotals: (type, day), per-type, grand total in one pass
      Tables.events(s, dir)
        .rollup(col("event_type"), to_date(col("ts")).cast("string").as("day"))
        .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n"))),

    "a10_pivot_payment" -> ((s, dir) =>
      // pivot a fixed category list into columns (conditional aggregation
      // — no extra shuffle beyond the groupBy)
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot(col("event_type"), Seq("purchase", "click", "view"))
        .agg(dsum(col("value")))
        .select(col("user_id"),
          coalesce(col("purchase"), lit(0.0)).as("purchase_total"),
          coalesce(col("click"), lit(0.0)).as("click_total"),
          coalesce(col("view"), lit(0.0)).as("view_total"))),

    "a11_percentile" -> ((s, dir) =>
      // exact percentiles (linear interpolation) per event type; the
      // approximate-sketch variant exists as percentile_approx but is not
      // oracle-able across engines
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"))),

    "a12_cube" -> ((s, dir) =>
      // multi-dimensional grouping: one pass emits every (type, day) margin
      // — per-cell, per-type, per-day, and grand total (2^2 grouping sets).
      // Spark expands the sets BEFORE the shuffle (Expand + one partial
      // aggregation), so the cube costs one exchange, not four scans.
      // Neither dimension is nullable, so the 'ALL' coalesce labels are
      // unambiguous margin markers.
      Tables.events(s, dir)
        .cube(col("event_type"), to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("val_sum"))
        .select(coalesce(col("event_type"), lit("ALL")).as("et"),
          coalesce(col("d"), lit("ALL")).as("d"), col("n"), col("val_sum"))
        .orderBy(col("et"), col("d"))),

    "a13_grouping_sets" -> ((s, dir) => {
      // arbitrary GROUPING SETS (the general form a9's ROLLUP and a12's
      // CUBE are sugar for), exercised through the SQL surface: one pass,
      // Expand + one exchange — NOT one scan per set
      Tables.events(s, dir).createOrReplaceTempView("graft_events_gs")
      s.sql("""SELECT event_type, user_id, count(1) AS n,
              |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
              |FROM graft_events_gs
              |GROUP BY GROUPING SETS ((event_type), (event_type, user_id))"""
        .stripMargin)
    }),

    "a14_unpivot" -> ((s, dir) =>
      // unpivot/melt: the four lineitem measures to (metric, amount) long
      // form — a Generate (Expand) over the scan, no shuffle at all; the
      // deterministic 1% key sample keeps the graded frame small while the
      // shape stays the full-table one
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "amount")),

    "s7_pipeline_batch" -> ((s, dir) =>
      // end-to-end batch analog of the canonical pipeline over synthetic
      // data: generate -> wire-encode -> parse -> dedup -> daily totals,
      // hash-checked end to end (the md5-derived generator is reproduced
      // by the DuckDB oracle)
      Spend.dailySpend(
        Spend.dedupe(Ingest.wellFormed(Ingest.parseTransactions(
          graft.sources.DataGen.transactionsJson(s, 200000))))
      )),

    "a5_count" -> ((s, dir) =>
      Tables.events(s, dir).agg(count(lit(1)).as("n"))),

    "a6_sql_count" -> ((s, dir) => {
      // The reference's one SQL-text query (spark.sql over a named view).
      // createOrReplaceTempView mutates session state inside a nominally
      // pure query lambda: harmless here (the name is graft-namespaced and
      // re-registration is idempotent), but two sessions sharing a
      // SparkSession and racing this lambda with different `dir`s would
      // interleave — acceptable for a harness query, not a library pattern.
      Tables.events(s, dir).createOrReplaceTempView("graft_events")
      s.sql("SELECT event_type, count(*) AS n FROM graft_events GROUP BY event_type")
    }),

    // ---- dedup (SURVEY §2.6) -------------------------------------------
    "d2_dedup_batch" -> ((s, dir) =>
      // Deterministic dedup: first event per (user, type) by event_id.
      Spend.dedupeBy(
        Tables.events(s, dir),
        keys = Seq("user_id", "event_type"),
        order = Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))),

    // ---- projections / json (SURVEY §2.3) ------------------------------
    "p2_from_json_flatten" -> ((s, dir) => {
      // P2+P3+P7: JSON decode -> struct -> flatten.
      Tables.events(s, dir)
        .select(col("event_id"), from_json(col("props"), Schemas.eventProps).alias("data"))
        .select(col("event_id"), col("data.k").as("k"))
    }),

    // ---- sort / set ops (SURVEY §2.8) ----------------------------------
    "o1_sort_topk" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(100)),

    "e1_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select(col("event_id"))
        .except(ev.filter(col("value") >= 100.0).select(col("event_id")))
    }),

    "e2_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select(col("event_id"))
        .intersect(ev.filter(col("value") >= 100.0).select(col("event_id")))
    }),

    // ---- sources (SURVEY §2.1) -----------------------------------------
    // CSV file-source surface with corrupt-record capture: the events
    // table round-trips through a CSV file where every 20th line carries
    // an unparseable amount field ("###"); the PERMISSIVE read parses the
    // well-formed lines against an explicit schema and quarantines the
    // rest into _corrupt_record — graded as the parse census plus the
    // exact-decimal total of the parsed rows (a silently-dropped or
    // silently-nulled line shifts one of them). At 100 TB this is the
    // landing-zone contract: malformed vendor lines must surface, never
    // vanish. (A SHORT line, by contrast, is legal CSV — Spark null-pads
    // missing trailing columns without flagging it; the type mismatch is
    // what makes a record malformed.)
    "s8_csv_corrupt" -> ((s, dir) => {
      val csvDir = sys.props("java.io.tmpdir") + "/graft-csv-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(csvDir))
      val amount = when(col("event_id") % 20 === 0, lit("###"))
        .otherwise(format_string("%.2f", col("value")))
      Tables.events(s, dir)
        .select(concat_ws(",", col("event_id"), col("user_id"),
          col("event_type"), amount).as("value"))
        .write.mode("overwrite").text(csvDir)
      val schema = "event_id LONG, user_id LONG, event_type STRING, " +
        "value DOUBLE, _corrupt_record STRING"
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(csvDir)
      parsed.agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
          .as("n_parsed"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        dsum(when(col("_corrupt_record").isNull, col("value"))
          .otherwise(lit(null))).as("parsed_total"))
    }),

    "s5_memory_relation" -> ((s, dir) => {
      // S5: in-memory local relation (Seq -> DataFrame).
      import s.implicits._
      Seq(("Credit Card", 1), ("Debit Card", 2), ("PayPal", 3), ("UPI", 4),
        ("Net Banking", 5)).toDF("payment_method", "method_id")
    }),

    "s6_datagen" -> ((s, dir) =>
      // S6: deterministic synthetic generator — md5-derived fields, so the
      // DuckDB oracle regenerates every row bit-for-bit.
      graft.sources.DataGen.transactions(s, 1000)
        .select(col("transaction_id"), col("customer_id"), col("merchant_id"),
          col("amount"), col("payment_method"), col("status"))),

    // ---- projections / casts (SURVEY §2.3) -----------------------------
    "p1_cast_binary_string" -> ((s, dir) =>
      // P1: the Kafka wire cast, binary -> string, round-tripped.
      Tables.events(s, dir)
        .select(col("event_id"),
          col("props").cast("binary").cast("string").as("props_str"))),

    "p4_project_alias" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"), col("value").as("amount"))),

    "p5_withcolumn" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("value_cents", (money(col("value")) * 100).cast("long"))
        .select(col("event_id"), col("value_cents"))),

    "p6_drop_column" -> ((s, dir) =>
      Tables.events(s, dir).drop("props", "ts")),

    "p7_struct_field_access" -> ((s, dir) =>
      // P7: build a struct column, read fields back via dotted access.
      Tables.events(s, dir)
        .select(col("event_id"), struct(col("user_id"), col("value")).as("s"))
        .select(col("event_id"), col("s.user_id").as("uid"), col("s.value").as("v"))),

    // ---- time ops (SURVEY §2.7) ----------------------------------------
    "t4_to_timestamp_parse" -> ((s, dir) =>
      // T4: format -> parse round trip with an explicit pattern.
      Tables.events(s, dir)
        .select(col("event_id"),
          to_timestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
            "yyyy-MM-dd HH:mm:ss").cast("long").as("epoch_s"))),

    "t5_utc_normalize" -> ((s, dir) =>
      // T5: to_utc_timestamp no-op under a UTC session (parity with the
      // reference's redundant normalization).
      Tables.events(s, dir)
        .select(col("event_id"),
          to_utc_timestamp(col("ts"), "UTC").cast("long").as("utc_epoch"))),

    "t6_to_date_trunc" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("day"))
        .agg(count(lit(1)).as("n"))),

    // ---- more dedup (SURVEY §2.6) --------------------------------------
    "d1_dedup_union_self" -> ((s, dir) => {
      // D1 batch analog: duplicate every row, dedup by id.
      val ev = Tables.events(s, dir)
      ev.union(ev).dropDuplicates("event_id")
        .select(col("event_id"), col("user_id"), col("value"))
    }),

    "d3_rollup_dedup_noop" -> ((s, dir) =>
      // D3: dedup on the rollup's own group keys (a no-op, kept for parity).
      Spend.dailySpend(Tables.events(s, dir), Spend.eventCols)
        .dropDuplicates("user_id", "transaction_date")),

    // ---- window functions / joins (beyond-reference capability) --------
    "w6_lag_delta" -> ((s, dir) => {
      // lag/lead analytics: per-user event-to-event value delta and gap
      // seconds on the (ts, event_id) total order — the session-analysis
      // primitive (x23's SCD2 change detection is this shape's consumer)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("gap_sec",
          col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("prev_value"), col("gap_sec"))
    }),

    "w5_ntile" -> ((s, dir) => {
      // equi-depth bucketing (quartiles) per event type on a TOTAL order
      // (value, event_id) — ntile's bucket boundaries are only
      // deterministic when the order has no ties, which the unique id
      // tie-break guarantees; both engines then assign identical buckets
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("quartile", ntile(4).over(w))
        .select(col("event_id"), col("event_type"), col("value"),
          col("quartile"))
    }),

    // exact correlation at scale: the five co-moment sums computed as
    // INTEGER aggregates (value in cents via the exact decimal cast —
    // order-independent in any engine), the final Pearson r assembled from
    // those exact integers in one mirrored double expression. The usual
    // corr() aggregate streams incremental float updates and can never
    // hash-match across engines; sums of integers can.
    "ext_corr_exact" -> ((s, dir) => {
      val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
      Tables.events(s, dir)
        .select(col("event_type"), cents.as("x"), col("user_id").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("corr_xy",
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))))
    }),

    "w1_rank_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn"))
    }),

    "w2_running_total" -> ((s, dir) => {
      // cumulative spend per user in event order: decimal-summed inside
      // the frame, so the running value is deterministic in any engine
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          sum(money(col("value"))).over(w).cast("double").as("running_total"))
    }),

    "w3_lag_delta" -> ((s, dir) => {
      // per-user delta vs the previous purchase (lag) and the next one
      // (lead), null at the edges
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          (money(col("value")) - lag(money(col("value")), 1).over(w))
            .cast("double").as("delta_prev"),
          (lead(money(col("value")), 1).over(w) - money(col("value")))
            .cast("double").as("delta_next"))
    }),

    "w4_distribution_fns" -> ((s, dir) => {
      // distribution window functions (ntile / percent_rank / cume_dist)
      // over a total, tie-free order: event_id breaks value ties, so there
      // are no peer rows and each value is a single integer/integer
      // division — engine-exact doubles
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // as-of join: last click before each purchase (last-touch attribution)
    "x1_asof_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinAsOf(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"), rightPrefix = "click_")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    }),

    // x1 through the NATIVE as-of operator: AsOfJoinPlan -> planner
    // strategy -> AsOfJoinExec sort-merge (the whole-operator extension
    // tier). Same relation as the composed form; AsOfNativeSpec pins the
    // physical node and the value parity, this row grades it cross-engine.
    "x62_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinAsOfNative(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"), rightPrefix = "click_")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    }),

    // forward as-of: FIRST click at-or-after each purchase (follow-up
    // attribution), same single-shuffle union-window plan
    "x4_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinAsOf(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"), rightPrefix = "click_",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("ts")))
            .as("micros_until_click"))
        .orderBy(col("event_id"))
    }),

    // backward as-of with a tolerance: clicks more than 10 minutes before
    // the purchase are nulled out (pandas merge_asof semantics — left rows
    // are kept)
    "x5_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinAsOf(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"), rightPrefix = "click_",
          tolerance = Some(lit(600000000L))) // 10 min in micros
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    }),

    // inner as-of: unmatched purchases (no prior click) are dropped
    "x6_asof_inner" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsOf.joinAsOf(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightCols = Seq("event_id"), rightPrefix = "click_",
          inner = true)
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts")))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    }),

    // per-user exact spend over the skewed events table: a plain GROUP BY
    // with decimal partial sums (map-side partials already flatten a hot
    // key for a combinable sum, so no salting is needed)
    "x7_salted_agg" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(dsum(col("value")).as("total_spent"))
        .orderBy(col("user_id"))),

    // chunk-decomposed exact running sum ([[graft.operators.Skew
    // .runningSumChunked]]): the WINDOW-shape skew fix — a hot partition
    // key serializes `sum() OVER (PARTITION BY key ORDER BY ord)` on one
    // task, the one skew pathology neither AQE nor partial aggregation
    // touches. The verb builds that plain window and AutoChunkWindow's
    // forced running arm decomposes it (per-(key, chunk) totals ->
    // exclusive chunk prefix -> local window + offset); the answer must be
    // indistinguishable from the plain window — the oracle IS the plain
    // window
    "ext_window_chunked_sum" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.operators.Skew.runningSumChunked(
          ev, "user_id", "event_id", "cents", "run_cents", chunks = 8)
        .select(col("event_id"), col("user_id"), col("run_cents"))
        .orderBy(col("event_id"))
    }),

    // the min/max face of the same decomposition ([[graft.operators.Skew
    // .runningAggChunked]], the rule's forced running arm): running peak
    // spend per user — prior-chunk offsets combine with greatest() and the
    // FIRST chunk of each key has no offset at all (null-combining keeps
    // it exact, no sentinel)
    "ext_window_chunked_max" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.operators.Skew.runningAggChunked(
          ev, "user_id", "event_id", "cents", "peak_cents", "max", chunks = 8)
        .select(col("event_id"), col("user_id"), col("peak_cents"))
        .orderBy(col("event_id"))
    }),

    // the AUTOMATIC twin of ext_window_chunked_sum: a PLAIN running
    // window over a stats-bearing catalog table, re-planned into the
    // chunk decomposition by [[graft.plans.AutoChunkWindow]] (the rule
    // fires only when ANALYZE statistics prove hot keys; enabled + sized
    // to the gate SF here, run eagerly under scoped confs it restores).
    // Asserts the rewrite FIRED; the oracle is the plain window — the
    // re-plan must be invisible in the answer.
    "ext_autochunk_window" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_events", src, Seq("k", "event_id")) { t =>
        import org.apache.spark.sql.expressions.Window
        t.withColumn("run_cents", sum(col("cents")).over(
            Window.partitionBy(col("k")).orderBy(col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("event_id"), col("k").as("user_id"), col("run_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the multi-expression face of the same rule (r11): sum + count +
    // max + avg over ONE window spec land in ONE Window node — ALL four
    // decompose, so the node re-plans as a single chunk join; avg fires
    // only because ANALYZE'd v-stats PROVE rowCount * max|cents| < 2^53
    // (the range where the rewrite is bit-identical to the serial window).
    // The oracle is the plain SQL window — the re-plan must be invisible.
    "ext_autochunk_multi" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_multi_events", src,
          Seq("k", "event_id", "cents")) { t =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("k")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // row_number takes the bare spec (it refuses an explicit frame);
        // its resolved frame is the same ROWS UNBOUNDED..CURRENT, and
        // CollapseWindow merges same-(partition, order) specs regardless
        // of frame — all EIGHT expressions (running sum/count/max/avg,
        // row_number, lag, lead, and the r12 sliding sum) land in ONE
        // node and one rewrite
        val wBare = Window.partitionBy(col("k")).orderBy(col("event_id"))
        t.withColumn("run_cents", sum(col("cents")).over(w))
          .withColumn("n_run", count(col("cents")).over(w))
          .withColumn("peak_cents", max(col("cents")).over(w))
          .withColumn("avg_cents", avg(col("cents")).over(w))
          .withColumn("rn", row_number().over(wBare))
          .withColumn("prev_cents", lag(col("cents"), 2).over(wBare))
          .withColumn("next_cents", lead(col("cents"), 1).over(wBare))
          .withColumn("roll_cents", sum(col("cents")).over(
            wBare.rowsBetween(-5, 0)))
          .select(col("event_id"), col("k").as("user_id"), col("run_cents"),
            col("n_run"), col("peak_cents"), col("avg_cents"), col("rn"),
            col("prev_cents"), col("next_cents"), col("roll_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the AUTOMATIC twin of ext_window_chunked_sliding (r12): a PLAIN
    // sliding-frame SQL window over a stats-bearing catalog table,
    // re-planned by AutoChunkWindow's block arm. Sliding frames carry NO
    // type gate on the SPARK side (nothing re-associates — the block
    // window replays the same aggregate over the same frame rows in the
    // same order; the spec pins the double-sum fire + bit-parity). The
    // ORACLE-facing columns stay exact regardless: summed cents (BIGINT)
    // and a min over the raw double (no arithmetic) — DuckDB's windowed
    // double SUM may associate differently, which is a DuckDB-vs-Spark
    // artifact, not part of the invisibility contract. Asserts the
    // re-plan FIRED; eager localCheckpoint pins the chunked execution
    // before the conf scope closes. The oracle is the plain window.
    "ext_autochunk_sliding" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"),
        col("value"))
      autoChunkRow(s, "graft_autochunk_slide_events", src, Seq("k", "event_id")) {
        _.selectExpr("event_id", "k AS user_id",
            """sum(cents) OVER (PARTITION BY k ORDER BY event_id
              |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_cents""".stripMargin,
            """min(value) OVER (PARTITION BY k ORDER BY event_id
              |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS low_value""".stripMargin)
          .orderBy(col("event_id"))
      }
    }),

    // chunk-parallel LAG/LEAD: navigation functions pay the same
    // single-task hot-key SORT as running aggregates. laggedChunked builds
    // the plain lag/lead window and AutoChunkWindow's forced block arm
    // takes it: the per-key sequence number from the chunked running
    // count, fixed-size sequence blocks, and each block's boundary rows
    // copied into the neighbor block as donor context (ONE Expand — no
    // self-join, no second evaluation), so lag/lead re-run verbatim over
    // (key, block) with every task bounded at B + n rows however hot the
    // key. Oracle is the plain SQL lag/lead window.
    "ext_window_chunked_lag" -> ((s, dir) => {
      val base = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      val lagged = graft.operators.Skew.laggedChunked(
        base, "k", "event_id", "cents", "prev_cents", n = 2, chunks = 8)
      graft.operators.Skew.laggedChunked(
          lagged, "k", "event_id", "cents", "next_cents", n = 1, lead = true,
          chunks = 8)
        .select(col("event_id"), col("k").as("user_id"),
          col("prev_cents"), col("next_cents"))
        .orderBy(col("event_id"))
    }),

    // chunk-parallel SLIDING FRAME: `agg OVER (... ROWS BETWEEN k
    // PRECEDING AND CURRENT ROW)` — the rolling-feature window (rolling
    // spend over the last k events per user) — is the one window shape
    // the prefix decomposition can't touch (a sliding frame isn't a
    // prefix, and min/max have no prefix-difference form at all). The
    // rule's forced block arm covers it: every row's whole frame is
    // present inside its extended block (previous block's last k rows
    // copied in as donors), so the aggregate re-runs verbatim,
    // bit-identical for every type — nothing re-associates. Oracle is the
    // plain SQL sliding window. Two aggs chained: exact sum (k=5) and min
    // (k=3).
    "ext_window_chunked_sliding" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val rolled = graft.operators.Skew.slidingAggChunked(
        ev, "user_id", "event_id", "cents", "roll_cents", "sum", k = 5,
        chunks = 8)
      graft.operators.Skew.slidingAggChunked(
          rolled, "user_id", "event_id", "cents", "low_cents", "min", k = 3,
          chunks = 8)
        .select(col("event_id"), col("user_id"), col("roll_cents"),
          col("low_cents"))
        .orderBy(col("event_id"))
    }),

    // chunk-parallel RANGE FRAME: the TIME-BASED rolling window —
    // `sum OVER (... RANGE BETWEEN k PRECEDING AND CURRENT ROW)` over a
    // numeric ord (rolling last-500-event-ids spend per user here;
    // rolling 24h spend over epoch seconds in production). The rule's
    // forced ord-block arm blocks by ord RANGES directly (no sequence
    // numbers), donors are the adjacent bands, extra donors are harmless,
    // and ord ties are safe by construction (peers share a block). Oracle
    // is the plain SQL RANGE window.
    "ext_window_chunked_range" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val rolled = graft.operators.Skew.slidingRangeAggChunked(
        ev, "user_id", "event_id", "cents", "roll_cents", "sum",
        preceding = 500L, chunks = 8)
      graft.operators.Skew.slidingRangeAggChunked(
          rolled, "user_id", "event_id", "cents", "n_win", "count",
          preceding = 300L, following = 200L, chunks = 8)
        .select(col("event_id"), col("user_id"), col("roll_cents"),
          col("n_win"))
        .orderBy(col("event_id"))
    }),

    // the AUTOMATIC twin (r12): a PLAIN RANGE-frame SQL window over a
    // stats-bearing catalog table, re-planned by AutoChunkWindow's
    // ord-block arm. (The any-deterministic-aggregate latitude — stddev,
    // percentile — is spec-pinned bitwise Spark-vs-Spark; the ORACLE row
    // sticks to exactly-portable integer outputs, because cross-engine
    // double ACCUMULATORS differ in ulps by algorithm, which is a
    // DuckDB-vs-Spark artifact outside the invisibility contract.)
    // Asserts the re-plan FIRED; eager localCheckpoint pins the chunked
    // execution.
    "ext_autochunk_range" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_range_events", src, Seq("k", "event_id")) {
        _.selectExpr("event_id", "k AS user_id",
            """sum(cents) OVER (PARTITION BY k ORDER BY event_id
              |  RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS roll_cents""".stripMargin,
            """min(cents) OVER (PARTITION BY k ORDER BY event_id
              |  RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS low_cents""".stripMargin)
          .orderBy(col("event_id"))
      }
    }),

    // the rule on the query people ACTUALLY write (r13, VERDICT r12 #3):
    // a running window ORDER BY a bare TIMESTAMP column. ANALYZE stores
    // timestamp min/max as epoch MICROS, so the rule reads the ord
    // through UnixMicros — no manual epoch projection. The event time
    // here is a monotone injective function of event_id, so the oracle
    // never ships a raw timestamp across the engine boundary (the
    // TESTDATA ns-vs-us hazard): it orders by event_id, which induces
    // the identical per-key order and peer groups.
    "ext_autochunk_ts" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        timestamp_seconds(lit(1704060000L) + col("event_id")).as("etime"),
        round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_ts_events", src, Seq("k", "etime")) { t =>
        import org.apache.spark.sql.expressions.Window
        val wb = Window.partitionBy(col("k")).orderBy(col("etime"))
        t.withColumn("run_cents", sum(col("cents")).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rn", row_number().over(wb))
          .withColumn("prev_cents", lag(col("cents"), 2).over(wb))
          .select(col("event_id"), col("k").as("user_id"), col("run_cents"),
            col("rn"), col("prev_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the DESC mirror (r13): `row_number() OVER (PARTITION BY k ORDER BY
    // o DESC) = 1` is THE latest-record dedup query users actually
    // write, and DESC NULLS LAST is its direction's SQL default. The
    // mirrored chunk function (negated ord, nulls to the LAST chunk)
    // re-plans the whole node; running sum + lag ride the same rewrite.
    "ext_autochunk_desc" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_desc_events", src, Seq("k", "event_id")) { t =>
        import org.apache.spark.sql.expressions.Window
        val wb = Window.partitionBy(col("k")).orderBy(col("event_id").desc)
        t.withColumn("rn", row_number().over(wb))
          .withColumn("run_back", sum(col("cents")).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("newer", lag(col("cents"), 1).over(wb))
          .select(col("event_id"), col("k").as("user_id"), col("rn"),
            col("run_back"), col("newer"))
          .orderBy(col("event_id"))
      }
    }),

    // the three r13 arms COMPOSED: per-event "latest value so far
    // context" over a bare TIMESTAMP event time DESCENDING —
    // first_value(cents) + row_number in ONE desc-ts node (the DESC
    // mirror negates UnixMicros(ord)). NOTE the division of labor this
    // row pins: the FILTERED spelling (rn = 1) is Spark's own
    // InferWindowGroupLimit's job — its exec prunes per key MAP-SIDE, so
    // the rule stays out there by explicit guard; the UNFILTERED
    // per-event form here is the shape only the chunk rewrite can spread.
    "ext_autochunk_latest" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        timestamp_seconds(lit(1704060000L) + col("event_id")).as("etime"),
        round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_latest_events", src, Seq("k", "etime")) { t =>
        import org.apache.spark.sql.expressions.Window
        val wd = Window.partitionBy(col("k")).orderBy(col("etime").desc)
        t.withColumn("latest_cents", first_value(col("cents")).over(wd))
          .withColumn("rn_desc", row_number().over(wd))
          .select(col("event_id"), col("k").as("user_id"),
            col("latest_cents"), col("rn_desc"))
          .orderBy(col("event_id"))
      }
    }),

    // first_value via the struct(ord, v) leg (r13): with the DESC mirror
    // this is "the latest value per key" on every row — the feature-store
    // idiom — without a row_number filter. Both directions in one query;
    // event_id unique makes the serial pick deterministic.
    "ext_autochunk_first" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"), round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_first_events", src, Seq("k", "event_id")) { t =>
        import org.apache.spark.sql.expressions.Window
        val asc = Window.partitionBy(col("k")).orderBy(col("event_id"))
        val desc = Window.partitionBy(col("k")).orderBy(col("event_id").desc)
        t.withColumn("earliest_cents", first_value(col("cents")).over(asc))
          .withColumn("latest_cents", first_value(col("cents")).over(desc))
          .select(col("event_id"), col("k").as("user_id"),
            col("earliest_cents"), col("latest_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the DECIMAL money arm (r13, VERDICT r12 #6 — SURVEY §1.3's named
    // "principled upgrade"): a DECIMAL(12,2) running sum re-planned by
    // the rule under the decimalExact overflow proof (10k rows x
    // max|amount| ~490 is 8 orders under the 10^(22-2)/2 headroom).
    // Decimal addition is exact and order-free, so the oracle-facing
    // output is the running sum converted losslessly to integer cents.
    "ext_autochunk_decimal" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        (round(col("value") * 100).cast("long").cast("decimal(12,2)") / 100)
          .cast("decimal(12,2)").as("amount"))
      autoChunkRow(s, "graft_autochunk_dec_events", src,
          Seq("k", "event_id", "amount")) { t =>
        import org.apache.spark.sql.expressions.Window
        t.withColumn("run_amt", sum(col("amount")).over(
            Window.partitionBy(col("k")).orderBy(col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("event_id"), col("k").as("user_id"),
            (col("run_amt") * 100).cast("long").as("run_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the NO-CATALOG-STATS global arm graded end to end (r14, VERDICT
    // r13 #4): BARE parquet — never saved to the catalog, never
    // ANALYZE'd, the default state of real pipelines — with a GLOBAL
    // running sum + row_number + running avg in one node. ndv = 1 needs
    // no statistic; one scan-parallel census (count, ord range, and the
    // avg proof's value range) proves hotness and the 2^53 bound, and
    // the node decomposes. The require() asserts the fire; the oracle is
    // the plain serial window — the re-plan must be invisible.
    "ext_autochunk_global" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_global_parquet", src, Nil, Seq(
          "spark.graft.autoChunk.minRows" -> "1000",
          "spark.graft.autoChunk.perKeyRows" -> "1000",
          "spark.graft.autoChunk.censusMinBytes" -> "1",
          "spark.graft.autoChunk.chunks" -> "8")) { t =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.withColumn("run_cents", sum(col("cents")).over(w))
          .withColumn("rn", row_number().over(Window.orderBy(col("event_id"))))
          .withColumn("avg_cents", avg(col("cents")).over(w))
          .select(col("event_id"), col("run_cents"), col("rn"), col("avg_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // MULTI-COLUMN ORDER BY graded end to end (r15): running sum +
    // row_number + rank + dense_rank over ORDER BY (o1 ASC, o2 DESC) —
    // o1 carries heavy ties so the trailing key decides the order, o2
    // is unique so every function is tie-deterministic, and only the
    // chunk-driving FIRST key is ANALYZE'd. The require pins the fire;
    // the oracle is the plain serial multi-key window.
    "ext_autochunk_multiord" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        (col("event_id") % 97).as("o1"),
        round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_multiord_events", src, Seq("k", "o1")) { t =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("k"))
          .orderBy(col("o1"), col("event_id").desc)
        t.withColumn("run_cents", sum(col("cents")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rn", row_number().over(w))
          .withColumn("rk", rank().over(w))
          .withColumn("dr", dense_rank().over(w))
          .select(col("event_id"), col("k").as("user_id"), col("run_cents"),
            col("rn"), col("rk"), col("dr"))
          .orderBy(col("event_id"))
      }
    }),

    // OFF-DEFAULT placement for the anchor kinds graded end to end
    // (r15): first_value / IGNORE-NULLS first/last under ASC NULLS LAST
    // — a placement r14 spec-pinned as a no-fire — now decomposes via
    // the isnull-prefixed struct leg (the DESC NULLS FIRST mirror has
    // spec parity; stacking BOTH orderings here would pile the second
    // Window on the first rewrite's join, where catalog stats cannot
    // follow). Determinism by construction: null-ord rows carry NULL
    // cents, so every within-peer-group pick the serial window could
    // make yields the same value. The require pins that NO plain Window
    // survives; the oracle is DuckDB's native NULLS LAST serial window.
    "ext_autochunk_anchor_off" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        when(col("event_id") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("event_id")).as("o"),
        when(col("event_id") % 13 === 0 || col("event_id") % 7 === 0,
            lit(null).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      autoChunkRow(s, "graft_autochunk_anchor_events", src, Seq("k", "o")) { t =>
        import org.apache.spark.sql.expressions.Window
        val wa = Window.partitionBy(col("k")).orderBy(col("o").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val df = t
          .withColumn("fv_nl", first(col("cents")).over(wa))
          .withColumn("fnn_nl", first(col("cents"), ignoreNulls = true).over(wa))
          .withColumn("fill_nl", last(col("cents"), ignoreNulls = true).over(wa))
        val plainWins = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if !w.partitionSpec.exists(_.references.exists(
                _.name.startsWith("__graft_chunk"))) => w
        }
        require(plainWins.isEmpty,
          "an off-default anchor window stayed plain — this row must grade both re-plans")
        df.select(col("event_id"), col("k").as("user_id"), col("fv_nl"),
            col("fnn_nl"), col("fill_nl"))
          .orderBy(col("event_id"))
      }
    }),

    // the KEYED census probe graded end to end (r15, VERDICT r14 #1):
    // BARE parquet — never saved to the catalog, never ANALYZE'd — with
    // a 60%-hot key, i.e. the classic latest-record-per-hot-key ingest
    // straggler. perKeyRows is pinned beyond any relation so the
    // avg-key signal CANNOT fire: only the census scan's ApproxTopK
    // heavy-hitter estimate can prove hotness, which is exactly the
    // probe this row grades. Since r16 the row ALSO grades the HOT-KEY
    // SPLIT (VERDICT r15 #1): hotSplitMinRows = 200 sits between the
    // hot key (600 rows at sf0.001, 60k at sf0.1) and the ~27-row
    // lukewarm user keys at EVERY scale, so the plan is the Union of a
    // chunked hot leg and the plain tail window — the require() pins
    // both the fire and the split; the oracle is the plain serial
    // window — the re-plan must stay invisible in the output.
    "ext_autochunk_keyed_census" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"),
        when(col("event_id") % 10 < 6, lit(0L)).otherwise(col("user_id")).as("k"),
        round(col("value") * 100).cast("long").as("cents"))
      autoChunkRow(s, "graft_autochunk_keyed_parquet", src, Nil, Seq(
          "spark.graft.autoChunk.minRows" -> "1000",
          "spark.graft.autoChunk.perKeyRows" -> "1000000000",
          "spark.graft.autoChunk.hotSplitMinRows" -> "200",
          "spark.graft.autoChunk.censusMinBytes" -> "1",
          "spark.graft.autoChunk.chunks" -> "8")) { t =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("k")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val df = t
          .withColumn("run_cents", sum(col("cents")).over(w))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("event_id"))))
        require(df.queryExecution.optimizedPlan.collect {
            case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
          }.nonEmpty,
          "the hot-key split did not fire — the tail must ride the plain window")
        df.select(col("event_id"), col("k"), col("run_cents"), col("rn"))
          .orderBy(col("event_id"))
      }
    }),

    // the FULL-FRAME arm graded end to end (r14): per-group totals —
    // `agg(v) OVER (PARTITION BY k)`, the group-total idiom every
    // share-of-total query writes — re-planned as Aggregate + one
    // broadcast-sized join back; no Window node survives in the
    // optimized plan (the require pins that). avg fires under the
    // ANALYZE'd 2^53 proof. The oracle is the plain serial window.
    "ext_autochunk_full" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        when(col("event_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      autoChunkRow(s, "graft_autochunk_full_events", src,
          Seq("k", "event_id", "cents")) { t =>
        import org.apache.spark.sql.expressions.Window
        val wk = Window.partitionBy(col("k"))
        val df = t
          .withColumn("tot_cents", sum(col("cents")).over(wk))
          .withColumn("n_vals", count(col("cents")).over(wk))
          .withColumn("hi_cents", max(col("cents")).over(wk))
          .withColumn("avg_cents", avg(col("cents")).over(wk))
        require(df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
          }.isEmpty,
          "AutoChunkWindow's full-frame arm did not fire")
        df.select(col("event_id"), col("k").as("user_id"), col("tot_cents"),
            col("n_vals"), col("hi_cents"), col("avg_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // the IGNORE-NULLS first/last rule arms graded end to end (r14,
    // VERDICT r13 #5): forward fill — `last_value(cents, true)` over the
    // running frame — plus first-non-null, as PLAIN SQL windows over a
    // stats-bearing hot table, re-planned through the null-masked
    // struct(ord, v) legs. The manual-verb twin is
    // ext_window_forward_fill; this row grades the AUTOMATIC path. The
    // oracle is DuckDB's native IGNORE NULLS window.
    "ext_autochunk_ffill" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("event_id"), col("user_id").as("k"),
        when(col("event_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      autoChunkRow(s, "graft_autochunk_ffill_events", src, Seq("k", "event_id")) { t =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("k")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.withColumn("filled_cents",
            last(col("cents"), ignoreNulls = true).over(w))
          .withColumn("first_nn_cents",
            first(col("cents"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("k").as("user_id"),
            col("filled_cents"), col("first_nn_cents"))
          .orderBy(col("event_id"))
      }
    }),

    // chunk-parallel LAG ... IGNORE NULLS (r13): the forward-fill /
    // last-observation idiom. The nearest non-null can sit arbitrarily
    // far back — beyond any bounded donor band — so the BLOCK form can't
    // express it and the rule has no arm for it; the verb's own NON-NULL
    // SEQUENCE decomposition can: the chunked running count of the value
    // column (count skips nulls; the rule's forced running arm) is each
    // non-null row's index, and one (key, index) equi-join fetches the
    // n-th previous/next non-null — a hot key's rows spread across tasks
    // by (key, index) hash. Oracle is the plain IGNORE NULLS window.
    "ext_window_chunked_lag_ignore" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"),
        when(col("event_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      val lagged = graft.operators.Skew.laggedIgnoreNullsChunked(
        ev, "k", "event_id", "cents", "prev_nn", n = 2, chunks = 8)
      graft.operators.Skew.laggedIgnoreNullsChunked(
          lagged, "k", "event_id", "cents", "next_nn", n = 1, lead = true,
          chunks = 8, default = -1L)
        .select(col("event_id"), col("k").as("user_id"),
          col("prev_nn"), col("next_nn"))
        .orderBy(col("event_id"))
    }),

    // FORWARD FILL (r13): `last_value(v) IGNORE NULLS OVER (... ROWS
    // UNBOUNDED PRECEDING AND CURRENT ROW)` — THE imputation idiom for
    // sparse feature columns — composes from laggedIgnoreNullsChunked:
    // coalesce(v, lag(v, 1) IGNORE NULLS) is value-identical (a non-null
    // row fills with itself; a null row with the last non-null strictly
    // before it), so the hot key never pays a one-task sort here either.
    "ext_window_forward_fill" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("user_id").as("k"),
        when(col("event_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      graft.operators.Skew.laggedIgnoreNullsChunked(
          ev, "k", "event_id", "cents", "__last_nn", n = 1, chunks = 8)
        .select(col("event_id"), col("k").as("user_id"),
          coalesce(col("cents"), col("__last_nn")).as("filled_cents"))
        .orderBy(col("event_id"))
    }),

    // the decimal leg of the same family (r13): runningAggChunked over a
    // DECIMAL(12,2) money column — the rule's forced running arm fires
    // once its stats scan proves no partial sum can overflow, casts the
    // combined result back to the serial window's DECIMAL(22,2), and is
    // exact because decimal addition is order-free
    "ext_window_chunked_decimal" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        (round(col("value") * 100).cast("long").cast("decimal(12,2)") / 100)
          .cast("decimal(12,2)").as("amount"))
      graft.operators.Skew.runningAggChunked(
          ev, "user_id", "event_id", "amount", "run_amt", "sum", chunks = 8)
        .select(col("event_id"), col("user_id"),
          (col("run_amt") * 100).cast("long").as("run_cents"))
        .orderBy(col("event_id"))
    }),

    // chunk-parallel RANK FAMILY: row_number/percent_rank/cume_dist/
    // ntile through AutoChunkWindow's forced rank arms — prior-chunk
    // counts plus a chunk-local replay of each function and one per-key
    // total, so no task ever sorts a whole hot partition; tie-EXACT
    // (peers never straddle chunks). The verb serves stats-less pipelines
    // that know their keys are hot.
    "ext_window_chunked_rank" -> ((s, dir) =>
      graft.operators.Skew.rankFamilyChunked(
          Tables.events(s, dir).select(col("event_id"),
            col("user_id").as("k")),
          "k", "event_id", ntile = 5, chunks = 8)
        .select(col("event_id"), col("k").as("user_id"), col("row_number"),
          col("percent_rank"), col("cume_dist"), col("ntile"))
        .orderBy(col("event_id"))),

    // chunk-parallel FIRST/LAST VALUE: the anchor-value face — the rule's
    // forced full-frame arm takes a per-key min/max of struct(ord, v)
    // (partial-aggregated, no sort) and joins it back, instead of the hot
    // key's one-task sort
    "ext_window_chunked_anchor" -> ((s, dir) =>
      graft.operators.Skew.anchorValuesChunked(
          Tables.events(s, dir).select(col("event_id"),
            col("user_id").as("k"),
            round(col("value") * 100).cast("long").as("cents")),
          "k", "event_id", "cents", "first_cents", "last_cents", chunks = 8)
        .select(col("event_id"), col("k").as("user_id"),
          col("first_cents"), col("last_cents"))
        .orderBy(col("event_id"))),

    // exact distinct per user: Spark 4 plans a one-distinct aggregate
    // with an exchange on (key, value) first, so a hot key needs no salt
    "x21_salted_distinct" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count_distinct(col("event_type")).as("distinct_types"))
        .orderBy(col("user_id"))),

    // few groups x many rows x one distinct: the one-distinct plan's
    // (event_type, user_id) exchange already spreads each hot group
    "ext_autosalt_distinct" -> ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // salted join vs its plain equivalent (dim derived deterministically
    // from the fact table, so no extra input is needed)
    "x8_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment", (col("user_id") % 5).cast("int"))
      graft.operators.Skew.saltedJoin(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("value")),
          dim, Seq("user_id"), saltBuckets = 8)
        .select(col("event_id"), col("user_id"), col("value"), col("segment"))
        .orderBy(col("event_id"))
    }),

    // deterministic content-hash train/val/test split (re-run- and
    // engine-stable; new docs never move old ones between splits)
    "x2_hash_split" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // LEAKAGE-SAFE split: a plain per-doc hash split puts near-duplicate
    // docs on both sides of the train/test fence (the classic eval
    // contamination). Here every doc inherits its near-dup CLUSTER's
    // draw — minhash candidates -> connected components -> the component
    // representative's hash decides for every member — so a duplicate
    // cluster can never straddle splits (SamplingSpec asserts it). Scale
    // shape: the same banded candidate + CC machinery the dedup tier
    // already runs, plus one per-row hash — no new shuffles.
    "x51_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.minhashCandidates(docs))
      val rep = docs.select(col("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
      graft.operators.Sampling.hashSplit(rep, "rep",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // per-source document quota (corpus balancing)
    "x3_source_quota" -> ((s, dir) =>
      graft.operators.Sampling.perKeyQuota(Tables.documents(s, dir), "source", 15,
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // greedy fixed-context sequence packing (GPT-style concat-and-chunk):
    // each doc stamped with the 512-token bin it starts in and its offset,
    // one window per source shard — never a global cumulative sum
    "x9_pack_sequences" -> ((s, dir) =>
      graft.operators.Sampling.packSequences(
          Tables.documents(s, dir),
          graft.operators.TextAnalysis.tokenCount(col("text")), 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("bin"), col("bin_offset"))
        .orderBy(col("doc_id"))),

    // deterministic fixed-size doc chunking (the long-document complement of
    // x9's packing): half-open token ranges tiling [0, n_tokens) per doc
    "x10_chunk_docs" -> ((s, dir) =>
      graft.operators.Sampling.chunkDocs(
          Tables.documents(s, dir),
          graft.operators.TextAnalysis.tokenCount(col("text")), 32)
        .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
          col("token_start"), col("token_end"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // train-vs-eval n-gram decontamination: every tenth doc plays the eval
    // set; train docs sharing >= 2 distinct 5-gram shingles with an eval
    // doc are flagged (boilerplate shingles capped at df 100)
    "x11_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.crossCorpusOverlap(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          n = 5, minShared = 2, maxShingleDf = 100)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // bloom-screened decontamination: the eval shingle set collapses to a
    // 16 KiB bitmap literal, train screens scan-parallel. Same md5 hash
    // family in DuckDB (set-membership form) — the filter verdicts
    // hash-match bit for bit, false positives included
    "x18_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.bloomDecontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          n = 5, k = 3, mBits = 1 << 17, minSuspect = 2)
        .orderBy(col("train_id"))
    }),

    // the persisted-filter deployment of x18, graded end to end: build ->
    // save (one-row parquet artifact) -> load (bitmap + its k/mBits/salt)
    // -> screen with the loaded parameters. Identical verdicts to the
    // in-memory build, so x18's oracle grades it.
    "x22_bloom_saved" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val docs = Tables.documents(s, dir)
      val bitmap = Sk.bloomBuild(
        docs.filter(col("doc_id") % 10 === 0)
          .select(explode(graft.operators.Dedup.wordShingles(col("text"), 5)).as("sh")),
        "sh", k = 3, mBits = 1 << 17)
      val tmp = java.nio.file.Files.createTempDirectory("graft-bloom").toString
      Sk.bloomSave(s, bitmap, k = 3, mBits = 1 << 17, dir = tmp)
      val (bm, k, m, salt) = Sk.bloomLoad(s, tmp)
      graft.operators.Dedup.bloomScreen(
          docs.filter(col("doc_id") % 10 =!= 0), bm,
          n = 5, k = k, mBits = m, minSuspect = 2, salt = salt)
        .orderBy(col("train_id"))
    }),

    // deterministic mixture reweighting (DoReMi-style domain weights): each
    // source gets a weight in {0, 0.75, 1.5, 2.25}; docs are emitted
    // floor(w) + Bernoulli(frac(w)) times with a content-hash draw, so the
    // epoch mix is reproducible in any engine and stable as the corpus grows
    "x12_weighted_repeat" -> ((s, dir) => {
      val srcNum = regexp_replace(col("source"), "src", "").cast("int")
      graft.operators.Sampling.weightedRepeat(
          Tables.documents(s, dir), "doc_id", (srcNum % 4).cast("double") * 0.75)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // token-budget mixing: hit a fixed corpus budget with equal per-source
    // shares — weight_s = (budget / n_sources) / source_tokens, applied as
    // deterministic weighted repetition (upsamples scarce sources, thins
    // abundant ones). The per-source totals are exact integer sums, the
    // weight is one double division, so the whole mix replays in any engine.
    "x13_token_budget_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      val bySource = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
      val weighted = docs.join(broadcast(bySource), "source")
        .withColumn("w", lit(5000.0) / col("src_tokens"))
      graft.operators.Sampling.weightedRepeat(weighted, "doc_id", col("w"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // the training-shard layout's FRAME, graded: shard assignment (the
    // engine-portable md5 twin of the xxhash64 default — the one an oracle
    // can replay) plus each row's within-shard rank under the layout's sort
    // order. The filesystem half (exact shard=K dirs, in-file order) stays
    // in LayoutSpec — files have no SQL oracle; this row pins the routing
    // and ordering those files contain.
    "x14_shard_layout" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir).select(col("doc_id"),
          graft.operators.Layout.shardIdPortable(col("doc_id"), 7).as("shard"))
        .withColumn("shard_rank", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // z-order (Morton) clustering key for multi-dimension data skipping:
    // the graded surface is the z-value itself — pure integer bit
    // interleave, exact in any engine. The layout machinery around it
    // (range-partition on z, sort within, write; per-file min/max
    // narrowing on BOTH dims) is spec'd in LayoutSpec, file layout having
    // no SQL oracle.
    // ordered conversion funnel with a 24h per-step window: the classic
    // event-sequence question (who signed up, then viewed, then clicked,
    // then purchased — each within a day of the previous reach). The 24h
    // window is what makes the oracle discriminating on this feed
    // (150 -> 39 -> 16 -> 5): unbounded, every user completes every step.
    // exact-proportion stratified split: per-source rank-range cuts (every
    // stratum within one row of its target fraction — the balanced
    // counterpart of x2's stable Bernoulli hashSplit)
    "x24_stratified_split" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSplit(
          Tables.documents(s, dir), "source", "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))),

    // incrementally-maintained materialized rollup: bootstrap the first 24
    // days into a date-partitioned table, then merge the last ~6 days as a
    // late increment that rewrites ONLY its touched partitions (dynamic
    // partition overwrite + DPP-pruned read-back of partial aggregates).
    // The oracle is a flat full recompute — the incremental path must be
    // bit-identical to it.
    "x29_incremental_rollup" -> ((s, dir) => {
      val tableDir = sys.props("java.io.tmpdir") + "/graft-increll-" +
        math.abs(dir.hashCode)
      val ev = Tables.events(s, dir)
      val cutoff = lit("2024-01-25").cast("timestamp")
      graft.operators.Incremental.build(ev.filter(col("ts") < cutoff), tableDir)
      graft.operators.Incremental.applyIncrement(
        s, ev.filter(col("ts") >= cutoff), tableDir)
      graft.operators.Incremental.serve(s, tableDir)
    }),

    // the incremental rollup's streaming face: the same events feed in 5
    // micro-batches through a foreachBatch sink that merges each batch into
    // the date-partitioned table (idempotent dynamic partition overwrite —
    // the storage-backed continuation of the reference's in-state daily
    // rollup). Same oracle as x29: the final table must equal a flat full
    // recompute exactly.
    "stream_incremental_rollup" -> ((s, dir) => {
      import s.implicits._
      val tableDir = sys.props("java.io.tmpdir") + "/graft-increll-stream-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(tableDir)) // stale partitions from a prior gate run
      val rows = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .as[(Long, Long, String, Double)].collect().toSeq // bounded harness feed
      feedStream(s, chunks(rows, 5)) { ms =>
        ms.toDF("event_id", "ts_us", "event_type", "value")
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.operators.Incremental.applyIncrement(s, batch, tableDir)
          }
      }
      graft.operators.Incremental.serve(s, tableDir)
    }),

    // schema evolution at the storage layer: two writer generations share a
    // directory (v2 added columns), mergeSchema unifies them at read time
    // and the old shard's missing columns surface as nulls — the contract
    // that lets a 100 TB corpus evolve without rewriting history. The
    // oracle replays the union with typed NULLs.
    "x30_schema_evolution" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-evolve-" +
        math.abs(dir.hashCode)
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("source"))
        .write.mode("overwrite").parquet(s"$base/gen=v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("source"), col("lang"),
          col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/gen=v2")
      s.read.option("mergeSchema", "true").parquet(base)
        .select(col("doc_id"), col("text"), col("source"), col("lang"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // small-file compaction: 64 undersized shards bin-packed to ~1 MB files
    // (output count derived from actual input bytes, never hand-picked);
    // the graded relation is the compacted table itself — compaction must
    // be invisible to every query, so the oracle is the flat table.
    // LayoutSpec pins the file-count contract.
    "x31_compact" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-compact-" +
        math.abs(dir.hashCode)
      Tables.documents(s, dir).repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      graft.operators.Layout.compact(
        s, s"$base/small", s"$base/packed", targetBytes = 1L * 1024 * 1024)
      s.read.parquet(s"$base/packed").orderBy(col("doc_id"))
    }),

    // date-partitioned fact layout + partition pruning, graded: events
    // written Hive-partitioned by day, read back with a two-day predicate.
    // The scan must touch the two selected directories, never the thirty
    // stored (PlanSpec pins the scan's partition count); the aggregate
    // proves the pruned read still sees every row OF THOSE DAYS. At 100 TB
    // this layout is what turns "last week" queries from full scans into
    // listing seven directories.
    "x40_partition_prune" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-datepart-" +
        math.abs(dir.hashCode)
      graft.operators.Layout.writeDatePartitioned(
        Tables.events(s, dir), col("ts"), base)
      s.read.parquet(base)
        .filter(col("event_date") >= lit("2024-01-03").cast("date") &&
          col("event_date") <= lit("2024-01-04").cast("date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("event_date").cast("string").as("event_date"),
          col("event_type"), col("n_events"), col("total_value"))
    }),

    // dynamic partition pruning, graded: the date-partitioned fact joined
    // to a FILTERED day dimension — the partitions to scan are only known
    // at runtime (they come out of the dim's rows), so static pruning
    // can't help; Spark's DPP broadcasts the dim's join keys into the
    // fact scan's partition filter. PlanSpec pins the
    // dynamicpruningexpression on the scan. At 100 TB this is how a
    // "revenue for promo days" join reads 4 directories, not 3,650.
    "x47_dpp" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-datepart-" +
        math.abs(dir.hashCode)
      graft.operators.Layout.writeDatePartitioned(
        Tables.events(s, dir), col("ts"), base)
      val dim = s.range(0, 30).select(
          date_add(lit("2024-01-01").cast("date"), col("id").cast("int"))
            .as("event_date"),
          (col("id") % 7).cast("int").as("dow"))
        .filter(col("dow") === 2)
      s.read.parquet(base).join(broadcast(dim), "event_date")
        .groupBy(col("event_date").cast("string").as("event_date"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // manifest-based time travel, graded: v0 commits the full relation,
    // v1 upserts the x44-style change batch via
    // [[graft.operators.Versioned.commitUpsert]] (new files ONLY for the
    // touched partitions; untouched partitions carry their v0 files
    // forward on the manifest — VersionedSpec pins the shared paths).
    // ONE query reads BOTH snapshots: the v0 aggregate must show the
    // pre-change totals even though v1 exists — a stale or leaky manifest
    // shifts a row and fails the hash.
    // change data feed across the versioned table's history, graded: v0
    // full load, v1 the x48-style upsert, v2 a keyed DELETE (the third
    // warehouse verb, [[graft.operators.Versioned.commitDelete]]) — then
    // [[graft.operators.Versioned.changesBetween]] emits exactly the
    // inserts/updates (0->1) and deletes (1->2), value-diffing away the
    // rewritten-but-identical survivor rows and never scanning partitions
    // whose manifest file sets match. The oracle recomputes the same feed
    // from the raw relation.
    "x52_change_feed" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-cdf-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base))
      val rel = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("event_date"))
      graft.operators.Versioned.commitFull(s, base, rel, "event_date")
      val inWindow = col("event_date") >= "2024-01-05" &&
        col("event_date") <= "2024-01-06"
      val upd = rel.filter(inWindow && col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 1000.0)
      val nw = rel
        .filter(col("event_date") === "2024-01-05" && col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
      graft.operators.Versioned.commitUpsert(s, base,
        upd.unionByName(nw), Seq("event_id"), "event_date")
      graft.operators.Versioned.commitDelete(s, base,
        rel.filter(col("event_date") === "2024-01-07" && col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_date")),
        Seq("event_id"), "event_date")
      def ch(a: Int, b: Int) =
        graft.operators.Versioned.changesBetween(s, base, a, b, Seq("event_id"))
          .withColumn("vfrom", lit(a)).withColumn("vto", lit(b))
      ch(0, 1).unionByName(ch(1, 2))
        .orderBy(col("vfrom"), col("event_id"))
    }),

    "x48_time_travel" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-versioned-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base))
      val rel = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("event_date"))
      graft.operators.Versioned.commitFull(s, base, rel, "event_date")
      val inWindow = col("event_date") >= "2024-01-05" &&
        col("event_date") <= "2024-01-06"
      val upd = rel.filter(inWindow && col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 1000.0)
      val nw = rel
        .filter(col("event_date") === "2024-01-05" && col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
      graft.operators.Versioned.commitUpsert(s, base,
        upd.unionByName(nw), Seq("event_id"), "event_date")
      def agg(v: Int) = graft.operators.Versioned.read(s, base, v)
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .withColumn("version", lit(v))
      agg(0).unionByName(agg(1))
    }),

    // O(1) rollback, graded end to end: full load (v0), a keyed upsert
    // that corrupts two days (v1), a keyed delete (v2), then
    // [[graft.operators.Versioned.rollback]] back to v0 — v3 restores
    // v0's content by re-listing its immutable files in a new manifest,
    // never copying a byte (at 100 TB: one manifest write undoes a bad
    // load). The graded read aggregates v2 (damage applied) AND v3
    // (damage undone): a manifest entry leaked from v1/v2 into the
    // rollback shifts a daily total and fails the hash.
    "x63_rollback" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-rollback-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base))
      val rel = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("event_date"))
      graft.operators.Versioned.commitFull(s, base, rel, "event_date")
      val inWindow = col("event_date") >= "2024-01-05" &&
        col("event_date") <= "2024-01-06"
      graft.operators.Versioned.commitUpsert(s, base,
        rel.filter(inWindow && col("event_id") % 2 === 0)
          .withColumn("value", col("value") + 1000.0),
        Seq("event_id"), "event_date")
      graft.operators.Versioned.commitDelete(s, base,
        rel.filter(col("event_date") === "2024-01-07" && col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_date")),
        Seq("event_id"), "event_date")
      val v3 = graft.operators.Versioned.rollback(base, 0)
      def agg(v: Int) = graft.operators.Versioned.read(s, base, v)
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .withColumn("version", lit(v))
      agg(2).unionByName(agg(v3))
    }),

    // retraction-based incremental rollup maintenance over the versioned
    // table: a daily rollup built at v0 is carried to v2 (an upsert THEN
    // a keyed delete) by aggregating ONLY the changed partitions' rows at
    // both versions and folding (new − old) into the stored partials —
    // deletes retract, updates retract-and-add, groups whose count
    // reaches zero drop out. Maintenance cost tracks the changed
    // partitions ([[graft.operators.Versioned.changedPartitionRows]]
    // skips identical file sets unread); the oracle is the direct v2
    // aggregate, so the hash proves the IVM invisible.
    "x68_ivm_retract" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-ivm-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base))
      val rel = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("event_date"))
      graft.operators.Versioned.commitFull(s, base, rel, "event_date")
      val inWindow = col("event_date") >= "2024-01-05" &&
        col("event_date") <= "2024-01-06"
      graft.operators.Versioned.commitUpsert(s, base,
        rel.filter(inWindow && col("event_id") % 2 === 0)
          .withColumn("value", col("value") + 1000.0),
        Seq("event_id"), "event_date")
      val v2 = graft.operators.Versioned.commitDelete(s, base,
        rel.filter(col("event_date") === "2024-01-07" && col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_date")),
        Seq("event_id"), "event_date")
      def roll(df: DataFrame, sign: Int) = df
        .groupBy(col("event_date"), col("event_type"))
        .agg((count(lit(1)) * sign).as("n_events"),
          (sum(money(col("value"))) * sign).as("dec_value"))
      val r0 = roll(graft.operators.Versioned.read(s, base, 0), 1)
      val (oldRows, newRows) =
        graft.operators.Versioned.changedPartitionRows(s, base, 0, v2)
      r0.unionByName(roll(newRows, 1)).unionByName(roll(oldRows, -1))
        .groupBy(col("event_date"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("dec_value")).cast("double").as("total_value"))
        .filter(col("n_events") > 0)
    }),

    // O(1) shallow clone, graded as DIVERGING branches: the source takes
    // an upsert (v1) and is cloned; the CLONE then takes a keyed delete
    // the source never sees. The graded read aggregates the source's
    // latest (upsert applied, nothing deleted) against the clone's latest
    // (upsert AND delete) — a write leaking across the shared immutable
    // files shifts a daily total on the wrong branch and fails the hash.
    "x64_clone" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-clone-src-" +
        math.abs(dir.hashCode)
      val dst = sys.props("java.io.tmpdir") + "/graft-clone-dst-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base)); FileUtils.deleteDirectory(new File(dst))
      val rel = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).cast("string").as("event_date"))
      graft.operators.Versioned.commitFull(s, base, rel, "event_date")
      val inWindow = col("event_date") >= "2024-01-05" &&
        col("event_date") <= "2024-01-06"
      graft.operators.Versioned.commitUpsert(s, base,
        rel.filter(inWindow && col("event_id") % 2 === 0)
          .withColumn("value", col("value") + 1000.0),
        Seq("event_id"), "event_date")
      graft.operators.Versioned.cloneTable(base, dst)
      graft.operators.Versioned.commitDelete(s, dst,
        rel.filter(col("event_date") === "2024-01-07" && col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_date")),
        Seq("event_id"), "event_date")
      def agg(tableDir: String, tag: Int) =
        graft.operators.Versioned.read(s, tableDir)
          .groupBy(col("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
          .withColumn("branch", lit(tag))
      agg(base, 0).unionByName(agg(dst, 1))
    }),

    // incremental MV maintenance + rewrite, graded end to end: the rollup
    // is built over only the first twenty days, the remaining days arrive
    // as a delta folded into the stored partials
    // ([[graft.plans.MvRewrite.refreshIncremental]] — aggregate the DELTA,
    // re-sum against the dim-sized MV; never rescan the base), then the
    // full-table user query is answered from the refreshed MV. A stale or
    // double-counted partial shifts a daily total and fails the hash.
    "x46_mv_refresh" -> ((s, dir) => {
      val base = s"$dir/events.parquet"
      val mvDir = sys.props("java.io.tmpdir") + "/graft-mv2-" +
        math.abs(dir.hashCode)
      val eventDate = to_date(col("ts").cast("timestamp"))
      val cut = lit("2024-01-20").cast("date")
      graft.plans.MvRewrite.buildAndRegister(s, base, mvDir,
        dims = Seq("event_date" -> eventDate, "event_type" -> col("event_type")),
        measures = Seq("value" -> col("value").cast(DecimalType(18, 2))),
        buildFrom = Some(s.read.parquet(base).filter(eventDate <= cut)))
      graft.plans.MvRewrite.refreshIncremental(s, base,
        s.read.parquet(base).filter(eventDate > cut))
      s.read.parquet(base)
        .groupBy(eventDate.as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
        .select(col("event_date").cast("string").as("event_date"),
          col("event_type"), col("n_events"), col("total_value"))
    }),

    // partitioned MERGE/upsert, graded: the date-partitioned events table
    // takes a keyed change batch — half of two days' rows corrected
    // in place, new keys appended to one day — via dynamic partition
    // overwrite ([[graft.operators.Merge.upsertPartitioned]]). Only the
    // two affected day-directories are rewritten (MergeSpec pins untouched
    // partitions byte-identical by mtime); the graded aggregate proves
    // updates replaced their keys, survivors stayed, and appends landed.
    "x44_upsert" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-upsert-" +
        math.abs(dir.hashCode)
      graft.operators.Layout.writeDatePartitioned(
        Tables.events(s, dir), col("ts"), base)
      val d = Tables.events(s, dir).withColumn("event_date", to_date(col("ts")))
      val inWindow = col("event_date") >= lit("2024-01-05").cast("date") &&
        col("event_date") <= lit("2024-01-06").cast("date")
      val updExisting = d.filter(inWindow && col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 1000.0)
      val updNew = d
        .filter(col("event_date") === lit("2024-01-05").cast("date") &&
          col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
      graft.operators.Merge.upsertPartitioned(s, base,
        updExisting.unionByName(updNew), Seq("event_id"), "event_date")
      s.read.parquet(base)
        .groupBy(col("event_date").cast("string").as("event_date"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    }),

    // materialized-rollup rewrite, graded: a per-(day, type) rollup MV is
    // built and registered, then the USER QUERY — written against the raw
    // base parquet, grouping by a COARSER key (type only) — is silently
    // answered by re-aggregating the MV ([[graft.plans.MvRewrite]]).
    // Correctness: the result must equal the same query run on the base
    // table (the oracle). PlanSpec pins that the scan reads the MV
    // directory and never the base file. The 100 TB story: dashboards
    // keep their base-table SQL; plans stop scanning the fact table.
    "x42_mv_rewrite" -> ((s, dir) => {
      val mvDir = sys.props("java.io.tmpdir") + "/graft-mv-" +
        math.abs(dir.hashCode)
      graft.plans.MvRewrite.buildAndRegister(s, s"$dir/events.parquet", mvDir,
        dims = Seq(
          "event_date" -> to_date(col("ts").cast("timestamp")),
          "event_type" -> col("event_type")),
        measures = Seq("value" -> col("value").cast(DecimalType(18, 2))))
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
    }),

    // aggregate-over-FILTER answered from the MV (the dashboard query
    // shape): the predicate is on an MV dimension (a date range), so
    // filtering the per-(day, type) partials before re-aggregating equals
    // filtering the base rows — [[graft.plans.MvRewrite]] proves that by
    // substituting dim trees into the predicate and vetoing on any base-
    // column residue. Oracle = the same filtered aggregate over the base
    // table; PlanSpec pins that the MV is scanned, never the base.
    "x49_mv_filter" -> ((s, dir) => {
      val mvDir = sys.props("java.io.tmpdir") + "/graft-mv3-" +
        math.abs(dir.hashCode)
      graft.plans.MvRewrite.buildAndRegister(s, s"$dir/events.parquet", mvDir,
        dims = Seq(
          "event_date" -> to_date(col("ts").cast("timestamp")),
          "event_type" -> col("event_type")),
        measures = Seq("value" -> col("value").cast(DecimalType(18, 2))))
      s.read.parquet(s"$dir/events.parquet")
        .filter(to_date(col("ts").cast("timestamp"))
          .between(lit("2024-01-05").cast("date"), lit("2024-01-10").cast("date")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
    }),

    // MV rewrite extended to MIN/MAX partials (decomposable like sum: the
    // min over groups of per-group minima is the row-level min): the MV
    // stores mv_min/mv_max per range measure and the rule rewrites
    // min(value)/max(value) — composed here with a dimension filter, so
    // one dashboard query (count + sum + min + max over a date range) is
    // answered ENTIRELY from the rollup. MvRewriteSpec pins the base is
    // never scanned; the oracle is the base-table query.
    "x66_mv_minmax" -> ((s, dir) => {
      val mvDir = sys.props("java.io.tmpdir") + "/graft-mv4-" +
        math.abs(dir.hashCode)
      graft.plans.MvRewrite.buildAndRegister(s, s"$dir/events.parquet", mvDir,
        dims = Seq(
          "event_date" -> to_date(col("ts").cast("timestamp")),
          "event_type" -> col("event_type")),
        measures = Seq("value" -> col("value").cast(DecimalType(18, 2))),
        rangeMeasures = Seq("value" -> col("value")))
      s.read.parquet(s"$dir/events.parquet")
        .filter(to_date(col("ts").cast("timestamp"))
          .between(lit("2024-01-05").cast("date"), lit("2024-01-10").cast("date")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          count(col("value")).as("n_value"))
    }),

    // pipeline-health monitoring: per-type daily volumes against trailing
    // 7-day rolling bands, 3-sigma flags — the feed-died/feed-surged alarm.
    // The window input is the rolled-up daily table, so the per-key sort is
    // 30 rows regardless of corpus size.
    "x32_volume_anomaly" -> ((s, dir) =>
      graft.operators.Quality.volumeAnomalies(
          Tables.events(s, dir), "event_type", "ts")
        .select(col("key").as("event_type"), col("d"), col("n"), col("mu"),
          col("sigma"), col("is_anomaly"))
        .orderBy(col("event_type"), col("d"))),

    // bucketed co-located join, graded: both sides bucket-written on the
    // join key (8 buckets, sorted), then joined with NO Exchange — the
    // pre-shuffle that pays for itself the second time any query joins on
    // the key. At 100 TB this is the difference between re-shuffling the
    // fact table per query and never shuffling it again. PlanSpec pins the
    // zero-Exchange plan under a disabled broadcast threshold; the oracle
    // is the plain join (bucketing must be invisible to results).
    "x34_bucketed_join" -> ((s, dir) => {
      // the in-memory catalog forgets tables between JVMs but their
      // warehouse directories persist; saveAsTable then refuses the
      // "already exists" location — drop both layers before writing
      for (t <- Seq("graft_b_orders", "graft_b_lineitem")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      // the two bucketed writes are independent jobs — overlap them (r17,
      // guide §2.6) so the smaller orders write rides in the lineitem
      // write's scheduling gaps instead of serializing
      graft.util.Par.all(s)(
        () => Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable("graft_b_orders"),
        () => Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable("graft_b_lineitem"))
      s.table("graft_b_lineitem")
        .join(s.table("graft_b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // iterative graph ranking: fixed-point PageRank over the supplier
    // co-order graph (top-15-neighbor edges — degree-bounded, so the graph
    // stays sparse at any sf). Five exact integer iterations, lineage cut
    // per step; the oracle unrolls the same five steps as CTEs.
    "x33_pagerank" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      val nodes = Tables.supplier(s, dir).select(col("s_suppkey").as("node"))
      graft.operators.Graph.pageRankFixedPoint(edges, nodes)
        .select(col("node").as("s_suppkey"), col("r").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("s_suppkey"))
    }),

    // WEIGHTED PageRank over the weighted co-order graph: rank mass
    // distributes proportionally to co-occurrence strength — a supplier
    // repeatedly co-ordered with a hub earns more endorsement than one
    // sharing a single order; ranking differences vs x33 come only from
    // the weights (same graph, same teleport, same integer arithmetic)
    "x70_weighted_pagerank" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdgesWeighted(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      val nodes = Tables.supplier(s, dir).select(col("s_suppkey").as("node"))
      graft.operators.Graph.pageRankWeightedFixedPoint(edges, nodes)
        .select(col("node").as("s_suppkey"), col("r").as("wrank_fp"))
        .orderBy(col("wrank_fp").desc, col("s_suppkey"))
    }),

    // personalized PageRank over the same co-order graph: teleport mass
    // confined to a 10-supplier seed set — scores are closeness TO THE
    // SEEDS (the recommendation/seed-expansion primitive), unreachable
    // nodes score exactly 0, and the integer fixed-point makes the whole
    // surface hash-comparable; the oracle unrolls the same iterations
    // with the per-node teleport column
    "x65_ppr" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      val nodes = Tables.supplier(s, dir).select(col("s_suppkey").as("node"))
      graft.operators.Graph.personalizedPageRank(edges, nodes,
          nodes.filter(col("node") % 10 === 1))
        .select(col("node").as("s_suppkey"), col("r").as("ppr_fp"))
        .orderBy(col("ppr_fp").desc, col("s_suppkey"))
    }),

    // per-node triangle counts over the same co-order graph: degree-ordered
    // orientation (compact-forward) bounds the wedge join's fan-out at
    // O(sqrt(|E|)) per vertex; the oracle enumerates ordered triples
    // directly from the symmetrized edge list
    "x35_triangles" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      graft.operators.Graph.triangleCounts(edges)
        .select(col("node").as("s_suppkey"), col("triangles"))
        .orderBy(col("s_suppkey"))
    }),

    // bounded-round k-core: parts sharing >= 2 orders form the graph (a
    // weight threshold here, NOT the top-k bound — this synthetic
    // co-order graph is near-regular under top-k and the core would be
    // all-or-nothing); 8 peel rounds take 2,000 nodes to the 940-node
    // 3-core, replayed round-for-round by the oracle's unrolled CTEs
    "x36_kcore" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("m")).distinct()
      val edges = li.select(col("g"), col("m").as("src"))
        .join(li.select(col("g"), col("m").as("dst")), Seq("g"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("src"), col("dst"))
      graft.operators.Graph.kCore(edges, kk = 3, rounds = 8)
        .select(col("node").as("p_partkey"), col("deg"))
        .orderBy(col("p_partkey"))
    }),

    // deterministic random walks over the supplier co-order graph: the
    // DeepWalk-style graph-to-sequence corpus (2 walks x 4 steps per
    // node), each step a hash-min neighbor choice the oracle replays
    // string-compare for string-compare
    "x39_random_walks" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      graft.operators.Graph.randomWalks(edges, walksPerNode = 2, steps = 4)
        .orderBy(col("walk_id"), col("step"))
    }),

    // common-neighbors link prediction on the part graph: top-100
    // non-adjacent pairs by shared-neighbor count — integer-exact,
    // TakeOrdered top-k, wedge join + one anti-join
    // bounded-round frontier BFS from a deterministic seed set over the
    // directed co-order supplier graph: exact hop distances within 4
    // rounds. The frontier/anti-join structure (not a closure join) is
    // what BFS looks like when the graph is 100 TB of edges.
    "x45_bfs" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      val seeds = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 50 === 0)
        .select(col("s_suppkey").as("node"))
      graft.operators.Graph.bfsDistances(edges, seeds, rounds = 4)
        .select(col("node").as("s_suppkey"), col("d").as("dist"))
        .orderBy(col("s_suppkey"))
    }),

    // landmark (harmonic) closeness centrality: every node's sum of
    // reciprocal hop-distances to a 10-landmark panel — approximating
    // full harmonic centrality at a landmark-sized cost. ONE labeled BFS
    // carries all landmarks' frontiers ([[graft.operators.Graph
    // .bfsDistancesLabeled]]); distances <= 4 keep the reciprocals
    // integer via 12 div d, so the score is exact cross-engine.
    "x69_landmark_closeness" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      val landmarks = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 100 === 0)
        .select(col("s_suppkey").as("node"))
      graft.operators.Graph.bfsDistancesLabeled(edges, landmarks, rounds = 4)
        .filter(col("d") >= 1)
        .groupBy(col("node").as("s_suppkey"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(expr("12 div d")).as("harmonic12"))
        .orderBy(col("harmonic12").desc, col("s_suppkey"))
    }),

    // weighted shortest paths (bounded Bellman-Ford) over the same
    // co-order graph: edge cost inversely tied to co-occurrence strength
    // (greatest(1, 6-w)), exact min path cost within 4 relaxation rounds.
    // Delta relaxation — only improved nodes re-relax — where the oracle
    // relaxes everything every round; distances only decrease, so the two
    // schedules agree round for round.
    "x57_shortest_path" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdgesWeighted(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          "l_orderkey", "l_suppkey", k = 15)
        .withColumn("w", greatest(lit(1L), lit(6L) - col("w")))
      val seeds = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 50 === 0)
        .select(col("s_suppkey").as("node"))
      graft.operators.Graph.shortestPaths(edges, seeds, rounds = 4)
        .select(col("node").as("s_suppkey"), col("d").as("cost"))
        .orderBy(col("s_suppkey"))
    }),

    "x38_link_prediction" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("m")).distinct()
      val edges = li.select(col("g"), col("m").as("src"))
        .join(li.select(col("g"), col("m").as("dst")), Seq("g"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("src"), col("dst"))
      graft.operators.Graph.commonNeighbors(edges, k = 100)
    }),

    // synchronous majority-vote label propagation over the same
    // >= 2-shared-orders part graph: 4 deterministic rounds (ties to the
    // smallest label), nodes sharing a final label = one community
    "x37_communities" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("m")).distinct()
      val edges = li.select(col("g"), col("m").as("src"))
        .join(li.select(col("g"), col("m").as("dst")), Seq("g"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("src"), col("dst"))
      graft.operators.Graph.labelPropagation(edges, rounds = 4)
        .select(col("node").as("p_partkey"), col("label"))
        .orderBy(col("p_partkey"))
    }),

    // key-distribution diagnostic: top event users by row count with ppm
    // share and x1000 skew factor vs the mean key — the pre-flight for
    // the salted join and chunked windows in Skew
    "x25_skew_profile" -> ((s, dir) =>
      graft.operators.Skew.keyProfile(Tables.events(s, dir), "user_id", topN = 20)),

    // trending items: top-3 event types per 6h tumbling window by count —
    // the windowed heavy-hitter leaderboard (rank inside each window
    // partition; integer counts, micros window bounds)
    "x28_trending" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val win = window(col("ts"), "6 hours")
      val counts = Tables.events(s, dir)
        .groupBy(win.as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("win_start"),
          col("event_type"), col("n"))
      val rankW = Window.partitionBy(col("win_start"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rank", row_number().over(rankW).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("win_start"), col("rank"))
    }),

    // time-grid resample + forward-fill: per-user hourly grid (sequence
    // explode — scan-parallel fan-out) as-of joined to the observations.
    // The feature-grid shape: ML features at regular timestamps from
    // irregular events, one shuffle on the key (the as-of union-window)
    // per-key exponential smoothing (EWMA, alpha = 1/2) over the daily
    // series — the classic trend-vs-noise signal for monitoring feeds.
    // EWMA's recurrence is inherently sequential, but only WITHIN a key:
    // the engine aggregates each user's ~30 daily totals into one sorted
    // array (exact decimal sums, scaled to integer cents) and folds the
    // recurrence e' = (e + x) div 2 with a codegen'd higher-order
    // aggregate — integer floor-division at every step, so the fold is
    // bit-exact in any engine and immune to float summation order. The
    // shuffle carries one row per (user, day); the sequential part never
    // exceeds the per-key series length, which is what makes per-key
    // recurrences tractable at 100 TB (a GLOBAL recurrence would not be).
    "x41_ewma" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        // stay in decimal until the final cast: dsum's double result times
        // 100 would truncate a cent on ~8% of totals (x.995… * 100)
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      daily.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("d"), col("cents")))).as("xs"))
        .select(col("user_id"), expr("transform(xs, t -> t.cents)").as("cs"))
        .selectExpr("user_id", "size(cs) AS n_days",
          "aggregate(slice(cs, 2, size(cs)), cs[0], (acc, x) -> (acc + x) div 2) AS ewma_cents")
    }),

    // exact ROLLING median over event time: per user, the lower median of
    // the 24h range frame ending at each event — order statistics in a
    // sliding window, where the windowed SUM (x27) cannot see a
    // distribution shift that keeps the total flat. The frame collects
    // only the window's rows (bounded by per-user activity in 24h, never
    // the log), and the median is a pure integer rank pick, so it
    // hash-matches cross-engine with no interpolation ambiguity.
    "ext_rolling_median_24h" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          element_at(col("arr"), expr("(size(arr) + 1) div 2").cast("int"))
            .as("roll_med_cents"),
          size(col("arr")).cast("long").as("rolling_n"))
        .orderBy(col("event_id"))
    }),

    // lag-1 autocorrelation of the daily revenue series per event type —
    // the "is today like yesterday" time-series diagnostic that decides
    // whether smoothing (ext_holt) has signal to exploit. Pearson r over
    // (day_t, day_t+1) pairs from the SAME exact-integer co-moment
    // assembly as ext_corr_exact: five long sums, one mirrored IEEE
    // expression. The lead runs over the rolled-up daily table.
    "ext_autocorr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      daily
        .withColumn("y", lead(col("cents"), 1).over(w))
        .filter(col("y").isNotNull)
        .select(col("event_type"), col("cents").as("x"), col("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("autocorr_1",
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))))
        .orderBy(col("event_type"))
    }),

    // Gini coefficient of revenue concentration — the scalar the Pareto
    // table visualizes: G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    // ascending-ranked exact cents (ties broken by user id — the rank
    // formula is tie-order invariant because equal x contribute equally
    // either way). Integers until the single division.
    "ext_gini" -> ((s, dir) => {
      // ranks ride Skew.globalRankByValue (r14, VERDICT r13 #3): the
      // per-user relation grows linearly with the corpus, and the old
      // row_number() sorted all of it on one task; the two-level form's
      // only global window runs over the cents HISTOGRAM (counts, slim)
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      graft.operators.Skew.globalRankByValue(perUser, "cents", "user_id", "i")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("i") * col("cents")).as("ix"))
        .select(col("n"), col("s"),
          (expr("2 * ix - (n + 1) * s").cast("double") /
            expr("n * s").cast("double")).as("gini"))
    }),

    // Pareto (80/20) contribution: users ranked by exact revenue cents,
    // cumulative share in integer basis points over the ranked per-user
    // table (never the log), heads flagged until the running share
    // crosses 8000 bp — "which customers cover 80% of revenue"
    "ext_pareto" -> ((s, dir) => {
      // rank + running cum ride Skew.globalRankByValue's two-level form
      // (r14, VERDICT r13 #3 — per-row output, so the user_id tiebreak
      // is load-bearing and the decomposition reproduces it exactly);
      // the corpus total is a one-row broadcast, not a window
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val total = perUser.agg(sum(col("cents")).as("total"))
      graft.operators.Skew.globalRankByValue(perUser, "cents", "user_id",
          "__r", desc = true, cumCol = Some("cum_cents"))
        .crossJoin(broadcast(total))
        .select(col("user_id"), col("cents"),
          expr("cum_cents * 10000 div total").as("cum_share_bp"),
          // a head user is one whose PREDECESSORS had not yet covered
          // 80%: the strictly-before share is below 8000 bp
          (expr("(cum_cents - cents) * 10000 div total") < 8000L)
            .as("in_head"))
        .orderBy(col("cents").desc, col("user_id"))
    }),

    // 2D Pareto frontier over the catalog (minimize price, maximize size):
    // the sort-based skyline — two range-frame window maxes after a
    // partition-local prune — against an oracle that runs the textbook
    // QUADRATIC NOT-EXISTS dominance scan, so the O(n log n) rewrite is
    // independently cross-checked. Exact cents keep dominance integer.
    "ext_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"),
        (money(col("p_retailprice")) * 100).cast("long").as("price_cents"),
        col("p_size"))
      graft.operators.Skyline.frontier2d(p, "price_cents", "p_size")
        .orderBy(col("price_cents"), col("p_partkey"))
    }),

    // maximum drawdown of cumulative daily revenue per event type: running
    // peak minus running total over the (tiny) daily rollup, the trough
    // dated at its EARLIEST occurrence via a join-back on the per-type max
    // (engine-agnostic, unlike argmax aggregates whose tie rule is
    // implementation-defined). All integers end to end.
    "ext_drawdown" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("cum", sum(col("cents")).over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .withColumn("dd", col("peak") - col("cum"))
      val tops = dd.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_days"), max(col("cum")).as("peak_cents"),
        sum(col("cents")).as("final_cents"),
        max(col("dd")).as("max_drawdown_cents"))
      tops.join(dd.select(col("event_type").as("t_et"), col("dd"), col("d")),
          col("event_type") === col("t_et") &&
            col("max_drawdown_cents") === col("dd"))
        .groupBy(col("event_type"), col("n_days"),
          col("peak_cents"), col("final_cents"), col("max_drawdown_cents"))
        .agg(min(col("d")).cast("string").as("trough_d"))
        .orderBy(col("event_type"))
    }),

    // peak concurrency via a sweep line: each user's daily activity span
    // becomes a +1/-1 delta pair, deltas net per exact timestamp, one
    // running sum per day gives the live-user curve, and a join-back dates
    // the EARLIEST peak. O(points log points) — never interval x interval;
    // the curve input is two rows per user-day, not the event log.
    "ext_max_concurrency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(unix_micros(min(col("ts"))).as("s_us"),
          unix_micros(max(col("ts"))).as("e_us"))
      val pts = iv.select(col("d"), col("s_us").as("t"), lit(1L).as("delta"))
        .unionAll(iv.select(col("d"), (col("e_us") + 1).as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("d"), col("t")).agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy(col("d")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = pts.withColumn("conc", sum(col("net")).over(w))
      val peak = curve.groupBy(col("d"))
        .agg(max(col("conc")).as("max_concurrent"))
      peak.join(curve.select(col("d").as("c_d"), col("conc"), col("t")),
          col("d") === col("c_d") && col("max_concurrent") === col("conc"))
        .groupBy(col("d").cast("string").as("d"), col("max_concurrent"))
        .agg(min(col("t")).as("peak_at_us"))
        .orderBy(col("d"))
    }),

    // market-basket association rules: orders are baskets, part brands the
    // items; support/confidence in exact basis points, lift as one mirrored
    // division of exact longs. The only join keyed on the basket id, pair
    // fan-out bounded by per-order brand variety; item totals broadcast.
    "ext_basket_rules" -> ((s, dir) => {
      val bi = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      graft.operators.Basket.pairRules(bi, "l_orderkey", "p_brand",
          minPairs = 5L)
        .orderBy(col("item_a"), col("item_b"))
    }),

    // global clustering coefficient of the supplier co-order graph: closed
    // wedge ends (3 x triangles, from the degree-oriented join) over open
    // wedges (exact degree moments) — how cliquish the supply network is,
    // as one number the per-node triangle table can't give directly
    "ext_graph_clustering" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      graft.operators.Graph.globalClustering(edges)
    }),

    // CUSUM change-point statistic per event type: one-sided upper CUSUM
    // s_i = max(0, s_{i-1} + x_i - mean) over daily cents, the classic
    // drift detector. The recurrence folds an ordered struct accumulator
    // inside one codegen'd higher-order function (x41/ext_holt's device);
    // integer mean via truncating division, so every step is exact and the
    // oracle replays it as a recursive CTE. Peak tie rule: the EARLIEST
    // day reaching the max (strict > update).
    "ext_cusum" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("d"), col("cents")))).as("xs"),
          count(lit(1)).as("n_days"), sum(col("cents")).as("total"))
        .withColumn("mean_cents", expr("total div n_days"))
        .selectExpr("event_type", "n_days", "mean_cents",
          """aggregate(xs,
            |  named_struct('s', 0L, 'best', 0L,
            |    'bestd', CAST(NULL AS DATE)),
            |  (acc, x) -> named_struct(
            |    's', greatest(0L, acc.s + x.cents - mean_cents),
            |    'best', IF(greatest(0L, acc.s + x.cents - mean_cents)
            |        > acc.best,
            |      greatest(0L, acc.s + x.cents - mean_cents), acc.best),
            |    'bestd', IF(greatest(0L, acc.s + x.cents - mean_cents)
            |        > acc.best,
            |      x.d, acc.bestd)),
            |  acc -> acc) AS c""".stripMargin)
        .select(col("event_type"), col("n_days"), col("mean_cents"),
          col("c.best").as("max_cusum"), col("c.s").as("final_cusum"),
          col("c.bestd").cast("string").as("peak_d"))
        .orderBy(col("event_type"))
    }),

    // degree assortativity of the supplier co-order graph: do well-connected
    // suppliers trade alongside other well-connected ones? Newman's r from
    // five exact integer co-moments (edges counted both directions, so the
    // sqrt-free collapse is exact), one mirrored division.
    "ext_assortativity" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      graft.operators.Graph.degreeAssortativity(edges)
    }),

    // burstiness of daily event volume per type: Fano factor (sample
    // variance over mean) and the Goh-Barabasi burstiness coefficient
    // (sigma-mu)/(sigma+mu) — exact integer count moments, divisions and
    // the one sqrt mirrored IEEE expressions in both engines
    "ext_burstiness" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("ss"))
        .withColumn("fano",
          expr("CAST(n_days * ss - s * s AS DOUBLE)") /
            expr("CAST((n_days - 1) * s AS DOUBLE)"))
        .withColumn("burstiness", {
          val mu = expr("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)")
          val sd = sqrt(expr("CAST(n_days * ss - s * s AS DOUBLE)") /
            expr("CAST(n_days * (n_days - 1) AS DOUBLE)"))
          (sd - mu) / (sd + mu)
        })
        .orderBy(col("event_type"))
    }),

    // audience overlap matrix: for every event-type pair, the exact
    // intersection of their user bases with Jaccard and overlap
    // coefficients in integer basis points. The only join is keyed on
    // user_id with fan-out bounded by types-per-user; audience totals
    // broadcast onto the pair counts.
    "ext_audience_overlap" -> ((s, dir) => {
      val tu = Tables.events(s, dir)
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      val aud = tu.groupBy(col("t")).agg(count(lit(1)).as("nu"))
      val inter = tu.select(col("t").as("type_a"), col("u"))
        .join(tu.select(col("t").as("type_b"), col("u")), Seq("u"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(aud.select(col("t").as("type_a"), col("nu").as("n_a"))),
          Seq("type_a"))
        .join(broadcast(aud.select(col("t").as("type_b"), col("nu").as("n_b"))),
          Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          expr("n_both * 10000 div (n_a + n_b - n_both)").as("jaccard_bp"),
          expr("n_both * 10000 div least(n_a, n_b)").as("overlap_bp"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // inter-arrival time profile per user: gaps between consecutive events
    // in epoch micros (lag over the (ts, id) total order — the unique-id
    // tie-break is what makes both the gap sequence and the median pick
    // deterministic cross-engine), lower-median via the rank formula, mean
    // via truncating division. Windows partition by user — no global sort.
    "ext_interarrival" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val gaps = ev.withColumn("prev", lag(col("ts_us"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("ts_us") - col("prev")).as("gap"),
          col("event_id"))
      val med = gaps
        .withColumn("r", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("gap"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("r") === expr("(n + 1) div 2"))
        .select(col("user_id"), col("gap").as("median_gap_us"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("min_gap_us"),
          max(col("gap")).as("max_gap_us"),
          expr("sum(gap) div count(1)").as("mean_gap_us"))
        .join(med, Seq("user_id"))
        .orderBy(col("user_id"))
    }),

    // degree distribution of the supplier co-order graph: node count per
    // degree plus the CCDF in exact basis points (share of nodes at or
    // above each degree) — the heavy-tail diagnostic read before choosing
    // a skew strategy. The window runs over the degree histogram, which is
    // at most max-degree rows, never the node table.
    "ext_degree_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      // r16: `und` feeds BOTH union legs of the degree count — cut it so
      // the co-order fact self-join executes once, not twice (the same
      // loop-invariant device triangleCounts/globalClustering carry)
      val und = graft.util.Checkpoints.cut(
        edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct())
      val deg = und.select(col("a").as("n"))
        .union(und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val hist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      val wTop = Window.orderBy(col("deg").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("n_at_or_above", sum(col("n_nodes")).over(wTop))
        .withColumn("total", sum(col("n_nodes")).over(Window.partitionBy()))
        .select(col("deg"), col("n_nodes"), col("n_at_or_above"),
          expr("n_at_or_above * 10000 div total").as("ccdf_bp"))
        .orderBy(col("deg"))
    }),

    // HITS hubs/authorities over the DIRECTED co-order graph (the top-k
    // bound makes direction meaningful): 3 integer half-step rounds, each
    // renormalized to scale by truncating division — the oracle unrolls
    // the identical half-steps as CTEs
    "x71_hits" -> ((s, dir) => {
      val edges = graft.operators.Graph.coOccurrenceEdges(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey", k = 15)
      graft.operators.Graph.hitsFixedPoint(edges, iters = 3,
          scale = 1000000L)
        .select(col("node").as("s_suppkey"), col("hub"), col("auth"))
        .orderBy(col("s_suppkey"))
    }),

    // Simpson concentration / diversity of the language mix per source:
    // lambda = sum n_i(n_i-1) / N(N-1) from exact category counts, the
    // collision probability a sampling-without-replacement draw actually
    // has — one mirrored division; diversity is its complement
    "ext_simpson" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("ni"))
      counts.groupBy(col("source"))
        .agg(sum(col("ni")).as("n_docs"), count(lit(1)).as("n_langs"),
          sum(col("ni") * (col("ni") - 1)).as("coll"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          (col("coll").cast("double") /
            (col("n_docs") * (col("n_docs") - 1)).cast("double"))
            .as("simpson"),
          (lit(1.0) - col("coll").cast("double") /
            (col("n_docs") * (col("n_docs") - 1)).cast("double"))
            .as("diversity"))
        .orderBy(col("source"))
    }),

    // Heaps-law vocabulary growth: docs in doc_id order cut into ten
    // corpus-prefix buckets; each token TYPE is charged to the bucket of
    // its FIRST document (one min per type — the distributed way to get
    // every prefix's vocabulary without re-scanning per checkpoint), then
    // one 10-row cumulative window yields types-vs-instances. The curve
    // data scaling laws fit before committing a tokenizer budget.
    "ext_vocab_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // bucket = corpus-prefix decile by doc_id rank. r14 (VERDICT r13
      // #2): the old row_number() OVER (ORDER BY doc_id) sorted the WHOLE
      // corpus — text column and all — on one task. doc_id is unique, so
      // rank(doc) >= ceil(b*n/10) <=> doc_id >= T_b where T_b is the
      // doc_id AT that rank: nine boundary values from the counts-only
      // rank refinement (a slim doc_id projection; exact — doc_ids sit
      // far below the 2^53 double envelope), then the bucket is nine
      // scan-parallel comparisons. Fallback for n < 10 (boundary ranks
      // collide past n): the serial window IS the right plan there.
      val ranked = {
        val nDocs = docs.count()
        if (nDocs < 10)
          docs.withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))))
            .withColumn("bucket", expr(s"(rk - 1) * 10 div $nDocs"))
        else {
          val th = graft.operators.Sketch.exactRanks(
              docs.select(col("doc_id")), "doc_id",
              n => (1L to 9L).map(b => (b * n + 9) / 10 + 1))
            .collect().map(r => r.getDouble(r.fieldIndex("value")).toLong)
            .sorted
          docs.withColumn("bucket",
            th.map(t => when(col("doc_id") >= t, 1L).otherwise(0L))
              .reduce(_ + _))
        }
      }
      val perBucket = ranked
        .select(col("bucket"),
          size(graft.operators.TextAnalysis.tokens(lower(col("text"))))
            .cast("long").as("n_inst"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_inst")).as("n_instances"))
      val firstBucket = ranked
        .select(col("bucket"), explode(array_distinct(
          graft.operators.TextAnalysis.tokens(lower(col("text"))))).as("tok"))
        .groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket.join(firstBucket, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"), col("n_instances"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("docs_cum", sum(col("n_docs")).over(w))
        .withColumn("instances_cum", sum(col("n_instances")).over(w))
        .withColumn("vocab_cum", sum(col("new_types")).over(w))
        .orderBy(col("bucket"))
    }),

    // lead-lag cross-correlation: does click volume predict purchase
    // volume k days later? Daily counts joined at offsets 0/1/2, Pearson r
    // per lag from exact integer co-moments (the autocorr device, crossed
    // over two series) — the join is date-keyed over the 30-row daily
    // tables, never the log
    "ext_xcorr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val clicks = daily.filter(col("event_type") === "click")
        .select(col("d"), col("n").as("x"))
      val buys = daily.filter(col("event_type") === "purchase")
        .select(col("d").as("bd"), col("n").as("y"))
      val lags = clicks.select(col("d"), col("x"),
        explode(array(lit(0), lit(1), lit(2))).as("lag"))
      lags.join(buys, expr("bd = date_add(d, lag)"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("r",
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))))
        .orderBy(col("lag"))
    }),

    // robust anomaly flags via MAD: per type, the lower median of daily
    // cents (rank formula over the (cents, d) total order), the lower
    // median of absolute deviations from it, and the 3-MAD flag — all
    // integer comparisons, no distribution assumption, immune to the very
    // outliers it hunts (unlike the z-score the mean-based monitors use)
    "ext_mad_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      def lowerMedian(df: DataFrame, valueCol: String, out: String) = df
        .withColumn("r", row_number().over(Window
          .partitionBy(col("event_type")).orderBy(col(valueCol), col("d"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("r") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
      val med = lowerMedian(daily, "cents", "med_cents")
      val dev = daily.join(med, Seq("event_type"))
        .withColumn("dev", abs(col("cents") - col("med_cents")))
      val mad = lowerMedian(dev.select(col("event_type"), col("d"),
        col("dev").as("cents")), "cents", "mad_cents")
      dev.join(mad, Seq("event_type"))
        .select(col("event_type"), col("d").cast("string").as("d"),
          col("cents"), col("med_cents"), col("mad_cents"), col("dev"),
          (col("dev") > col("mad_cents") * 3).as("flagged"))
        .orderBy(col("event_type"), col("d"))
    }),

    // DAU/MAU stickiness: exact trailing-30-day active users per day via
    // the window-explode trick — each (user, active-day) row claims the 30
    // report days it keeps the user "monthly active" for, so one distinct
    // count per report day replaces 30 re-scans; the input is the per-user
    // day table, not the log. Ratio in exact basis points.
    "ext_stickiness" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val dau = ud.groupBy(col("d"))
        .agg(count(lit(1)).as("dau"))
      val claims = ud.select(col("user_id"),
          explode(sequence(col("d"), date_add(col("d"), 29))).as("rd"))
        .distinct()
      val mau = claims.groupBy(col("rd").as("d"))
        .agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("d"))
        .select(col("d").cast("string").as("d"), col("dau"), col("mau"),
          expr("dau * 10000 div mau").as("stickiness_bp"))
        .orderBy(col("d"))
    }),

    // chi-square test of independence (order priority x status): exact
    // observed/marginal counts; each cell's (oN-RC)^2/(N R C) contribution
    // is one mirrored double division, and the statistic sums them in a
    // FIXED (priority, status) fold order — an ordered list reduction, so
    // the float sum associates identically in any engine. Marginal
    // products stay in long range while N*R*C < 2^63 (6 orders of headroom
    // at the graded scales; cast the product first at larger ones).
    "ext_chi_square" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cells = o.groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("obs"))
      val rowm = cells.groupBy(col("p")).agg(sum(col("obs")).as("rm"))
      val colm = cells.groupBy(col("st")).agg(sum(col("obs")).as("cm"))
      val tot = cells.agg(sum(col("obs")).as("n"),
        countDistinct(col("p")).as("nr"), countDistinct(col("st")).as("nc"))
      // DENSE cell grid (ADVICE r9): an absent (p, st) combination still
      // has expected count rm*cm/n and must contribute to the statistic —
      // cross the (tiny) marginals and fill obs = 0, so a sparse
      // contingency table is no longer understated. The crossed marginals
      // are nr x nc rows, both sides broadcast.
      broadcast(rowm).crossJoin(broadcast(colm))
        .join(cells, Seq("p", "st"), "left_outer")
        .withColumn("obs", coalesce(col("obs"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("contrib",
          ((col("obs") * col("n") - col("rm") * col("cm")).cast("double") *
            (col("obs") * col("n") - col("rm") * col("cm")).cast("double")) /
          (col("n") * col("rm") * col("cm")).cast("double"))
        .groupBy(col("n"), expr("(nr - 1) * (nc - 1)").as("df"))
        .agg(sort_array(collect_list(
          struct(col("p"), col("st"), col("contrib")))).as("xs"))
        .selectExpr("n", "df",
          "aggregate(xs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib) AS chi2")
    }),

    // weekly cohort retention matrix: users cohorted by first ACTIVE week,
    // the classic triangle of "how many of week-w's signups were still
    // around k weeks later" in exact counts and basis points. Inputs are
    // the per-user-week distinct table; offsets are exact (weeks align, so
    // the datediff div 7 has no remainder).
    "ext_retention_matrix" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("w"))
        .distinct()
      val cohort = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
      val sizes = cohort.groupBy(col("w0")).agg(count(lit(1)).as("cohort_size"))
      uw.join(cohort, Seq("user_id"))
        .groupBy(col("w0"),
          expr("datediff(w, w0) div 7").as("offset_w"))
        .agg(count(lit(1)).as("active_users"))
        .join(broadcast(sizes), Seq("w0"))
        .select(col("w0").cast("string").as("cohort_w"), col("offset_w"),
          col("active_users"), col("cohort_size"),
          expr("active_users * 10000 div cohort_size").as("retention_bp"))
        .orderBy(col("cohort_w"), col("offset_w"))
    }),

    // signup-to-first-purchase conversion latency: per user, the first
    // purchase at-or-after the first signup; the latency distribution in
    // exact micros (min/max, truncating mean, rank-formula median over the
    // (latency, user) total order) plus the conversion count
    "ext_conversion_latency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(signup, Seq("user_id"))
        .filter(col("ts_us") >= col("s_us"))
        .groupBy(col("user_id"), col("s_us"))
        .agg(min(col("ts_us")).as("p_us"))
        .select(col("user_id"), (col("p_us") - col("s_us")).as("lat"))
      // median via the counts-only rank refinement (r14, VERDICT r13 #3
      // — converting users grow with the corpus; the median VALUE is
      // tie-order invariant, so the user_id tiebreak drops harmlessly);
      // empty input yields an empty pick, exactly as the old filter did
      val med = graft.operators.Sketch.exactRanks(conv, "lat",
          n => if (n == 0) Seq.empty else Seq((n + 1) / 2))
        .select(col("value").cast("long").as("median_lat_us"))
      conv.agg(count(lit(1)).as("n_converted"),
          min(col("lat")).as("min_lat_us"), max(col("lat")).as("max_lat_us"),
          expr("sum(lat) div count(1)").as("mean_lat_us"))
        .crossJoin(med)
    }),

    // adoption curve: new users per first-seen day, the cumulative count,
    // and the share of the eventual base in exact basis points — one
    // aggregate to first days, one day-keyed rollup, one 30-row window
    "ext_user_adoption" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val first = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("d0"))
      val daily = first.groupBy(col("d0")).agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("d0"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .withColumn("total", sum(col("new_users")).over(Window.partitionBy()))
        .select(col("d0").cast("string").as("d"), col("new_users"),
          col("cum_users"), expr("cum_users * 10000 div total").as("adoption_bp"))
        .orderBy(col("d"))
    }),

    // Holt-Winters additive triple smoothing (alpha=beta=gamma=1/2,
    // weekly period) per event type over daily cents: level, trend AND a
    // 7-slot seasonal register that shifts each step — the seasonal
    // extension of ext_holt, still one codegen'd ordered HOF fold whose
    // every update is a truncating integer division (the oracle replays
    // the recurrence as a recursive CTE carrying the same 7-element list,
    // with trunc() mirroring Spark's toward-zero div on negative
    // seasonals). Init: level = first-week mean, trend 0, seasonals =
    // first-week deviations.
    "ext_holt_winters" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      daily.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("d"), col("cents")))).as("xs"),
          count(lit(1)).as("n_days"))
        .filter(col("n_days") >= 8)
        .select(col("event_type"), col("n_days"),
          expr("transform(xs, t -> t.cents)").as("cs"))
        .withColumn("l0",
          expr("aggregate(slice(cs, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .selectExpr("event_type", "n_days",
          """aggregate(
            |  slice(cs, 8, size(cs) - 7),
            |  named_struct('level', l0, 'trend', 0L,
            |    'seas', transform(slice(cs, 1, 7), x -> x - l0)),
            |  (acc, x) -> named_struct(
            |    'level',
            |    (x - element_at(acc.seas, 1) + acc.level + acc.trend) div 2,
            |    'trend',
            |    ((x - element_at(acc.seas, 1) + acc.level + acc.trend) div 2
            |      - acc.level + acc.trend) div 2,
            |    'seas',
            |    concat(slice(acc.seas, 2, 6), array(
            |      (x - (x - element_at(acc.seas, 1) + acc.level + acc.trend)
            |        div 2 + element_at(acc.seas, 1)) div 2))),
            |  acc -> acc) AS h""".stripMargin)
        .select(col("event_type"), col("n_days"),
          col("h.level").as("hw_level"), col("h.trend").as("hw_trend"),
          element_at(col("h.seas"), 1).as("hw_seas_next"))
        .withColumn("forecast_next",
          col("hw_level") + col("hw_trend") + col("hw_seas_next"))
        .orderBy(col("event_type"))
    }),

    // transposition-aware fuzzy distance: the graft_damerau native
    // expression (TRUE Damerau-Levenshtein, not the OSA restriction) next
    // to builtin levenshtein over 16-char doc prefixes, on a hash-sampled
    // candidate set blocked by language — the scalar the q-gram fuzzy join
    // would score with; the oracle is DuckDB's independent builtin pair
    "ext_fuzzy_dl" -> ((s, dir) => {
      val sample = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 16).as("p"))
      sample.select(col("lang"), col("doc_id").as("id_a"), col("p").as("pa"))
        .join(sample.select(col("lang"), col("doc_id").as("id_b"),
          col("p").as("pb")), Seq("lang"))
        .filter(col("id_a") < col("id_b"))
        .selectExpr("lang", "id_a", "id_b",
          "CAST(graft_damerau(pa, pb) AS BIGINT) AS dl",
          "CAST(levenshtein(pa, pb) AS BIGINT) AS lev")
        .orderBy(col("lang"), col("id_a"), col("id_b"))
    }),

    // join-key skew diagnostics: the numbers that decide between a plain
    // hash join, a broadcast, and salting — per candidate key, the top-1
    // key's row share and the p99/p50 frequency ratio in exact basis
    // points (rank-formula picks over the key-frequency table, which is
    // keys-sized, never the fact table)
    "ext_skew_metrics" -> ((s, dir) => {
      def profile(df: DataFrame, keyCol: String, rel: String): DataFrame = {
        // r16 (guide §1.2): freq feeds BOTH exactRanks (which cuts its
        // own single-column projection) and the n_rows/n_keys/top1 agg —
        // cut the keys-sized table once so the fact scan+groupBy runs
        // once per relation, not twice
        val freq = graft.util.Checkpoints.cut(
          df.groupBy(col(keyCol).as("k"))
            .agg(count(lit(1)).as("f")))
        // rank picks via the counts-only refinement (r14, VERDICT r13
        // #3 — the frequency table is keys-sized and keys grow with SF;
        // picked VALUES are tie-order invariant, so the k tiebreak
        // drops harmlessly). One refinement serves both ranks.
        val picks = graft.operators.Sketch.exactRanks(freq, "f",
          n => if (n == 0) Seq.empty
               else Seq((n + 1) / 2, (n * 99 + 99) / 100).distinct)
        def pick(rank: String) = picks
          .filter(col("rank") === expr(rank)).select(col("value"))
        val p50 = pick("(n + 1) div 2")
          .select(col("value").cast("long").as("p50_freq"))
        val p99 = pick("(n * 99 + 99) div 100")
          .select(col("value").cast("long").as("p99_freq"))
        freq.agg(sum(col("f")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("f")).as("top1_freq"))
          .crossJoin(p50).crossJoin(p99)
          .select(lit(rel).as("relation"), col("n_rows"), col("n_keys"),
            expr("top1_freq * 10000 div n_rows").as("top1_bp"),
            col("p50_freq"), col("p99_freq"),
            expr("p99_freq * 10000 div p50_freq").as("p99_p50_bp"))
      }
      profile(Tables.lineitem(s, dir), "l_suppkey", "lineitem.l_suppkey")
        .unionAll(profile(Tables.events(s, dir), "user_id", "events.user_id"))
        .orderBy(col("relation"))
    }),

    // exact quantile ladder: p10/p25/p50/p75/p90 of per-event cents per
    // type via ceiling-rank picks over the (cents, id) total order — one
    // ranking window; the 5 candidate ranks ride an explode so the ladder
    // costs one pass regardless of how many quantiles it reports
    "ext_quantile_ladder" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // r14 (the VERDICT r13 #3 pattern one step away): event_type has
      // ~4 values, so the old per-type row_number put ~25% of ALL events
      // on one task. The ceiling-rank pick only needs the VALUE at the
      // rank (tie-order invariant — multiplicity decides), which reads
      // straight off the per-type cents HISTOGRAM: the rank lands in the
      // value group whose cumulative count first covers it. The window
      // rides the histogram (counts, value-level), never the events.
      val hist = Tables.events(s, dir)
        .select(col("event_type"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nPer = hist.groupBy(col("event_type").as("__t"))
        .agg(sum(col("c")).as("n"))
      hist
        .withColumn("cum", sum(col("c")).over(w))
        .join(nPer, col("event_type") === col("__t"))
        .select(col("event_type"), col("cents"), col("c"), col("cum"),
          col("n"),
          explode(array(lit(10L), lit(25L), lit(50L), lit(75L), lit(90L)))
            .as("q_pct"))
        .filter(expr("(q_pct * n + 99) div 100") > col("cum") - col("c") &&
          expr("(q_pct * n + 99) div 100") <= col("cum"))
        .select(col("event_type"), col("q_pct"),
          col("cents").as("value_cents"))
        .orderBy(col("event_type"), col("q_pct"))
    }),

    // first-occurrence precedence: for each event-type pair, among users
    // who did both, how often a's FIRST occurrence precedes b's — the
    // directional ordering signal transitions can't give (they only see
    // adjacent steps). Firsts via rank-1 picks over the (ts, id) total
    // order; the only join is user-keyed with type-pair fan-out.
    "ext_seq_precedence" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val first = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("r", row_number().over(Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us"), col("event_id"))))
        .filter(col("r") === 1)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"))
      first.select(col("user_id"), col("event_type").as("type_a"),
          col("ts_us").as("a_us"), col("event_id").as("a_id"))
        .join(first.select(col("user_id"), col("event_type").as("type_b"),
          col("ts_us").as("b_us"), col("event_id").as("b_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"),
          sum(when(col("a_us") < col("b_us") ||
            (col("a_us") === col("b_us") && col("a_id") < col("b_id")),
            1L).otherwise(0L)).as("n_a_first"))
        .withColumn("a_first_bp", expr("n_a_first * 10000 div n_both"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // growth accounting: each week's actives split into new (first week),
    // retained (also active previous week), resurrected (returning after a
    // gap), plus the previous week's churn — the four exact counts every
    // growth dashboard opens with. One full-outer join of the user-week
    // table against its one-week shift, flags resolved per row; weeks
    // cropped to the corpus range so shift artifacts can't invent rows.
    "ext_growth_accounting" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("w"))
        .distinct()
      val firstW = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
      val shifted = uw.select(col("user_id"),
        date_add(col("w"), 7).as("w"), lit(1L).as("prev"))
      val weeks = uw.select(col("w")).distinct()
      uw.withColumn("act", lit(1L))
        .join(shifted, Seq("user_id", "w"), "full_outer")
        .join(weeks, Seq("w"), "left_semi") // crop shift overhang
        .join(broadcast(firstW), Seq("user_id"))
        .groupBy(col("w"))
        .agg(
          sum(when(col("act").isNotNull && col("w") === col("w0"), 1L)
            .otherwise(0L)).as("new_users"),
          sum(when(col("act").isNotNull && col("prev").isNotNull, 1L)
            .otherwise(0L)).as("retained"),
          sum(when(col("act").isNotNull && col("prev").isNull &&
            col("w") =!= col("w0"), 1L).otherwise(0L)).as("resurrected"),
          sum(when(col("act").isNull && col("prev").isNotNull, 1L)
            .otherwise(0L)).as("churned"))
        .select(col("w").cast("string").as("week"), col("new_users"),
          col("retained"), col("resurrected"), col("churned"))
        .orderBy(col("week"))
    }),

    // frame-boundary window values: first/last/nth over running and
    // centered row frames on the per-user event sequence — the remaining
    // window-function surface (w1-w6 cover rank/lag/distribution/ntile);
    // all frames over the (ts, id) total order so every pick is
    // deterministic cross-engine
    "w7_frame_values" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val running = base.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val centered = base.rowsBetween(-1, 1)
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .withColumn("first_cents", first(col("cents")).over(running))
        .withColumn("third_cents", nth_value(col("cents"), 3).over(running))
        .withColumn("window_sum_3", sum(col("cents")).over(centered))
        .select(col("user_id"), col("event_id"), col("cents"),
          col("first_cents"), col("third_cents"), col("window_sum_3"))
        .orderBy(col("event_id"))
    }),

    // one-way ANOVA of per-event cents by weekday: per-group exact
    // (n, sum, sum-of-squares) longs; SSB/SSW/F assembled in ONE fixed
    // weekday-ordered fold so every float add associates identically in
    // any engine (the chi-square device applied to variance decomposition)
    "ext_anova_weekday" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .select(dayofweek(to_date(col("ts"))).cast("long").as("dow"),
          (money(col("value")) * 100).cast("long").as("x"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
          sum(col("x") * col("x")).as("ssg"))
      g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("s"), sum(col("ssg")).as("ss"),
          sort_array(collect_list(struct(col("dow"), col("ng"), col("sg"))))
            .as("xs"))
        .selectExpr("k", "n", "ss", "s",
          """aggregate(xs, CAST(0.0 AS DOUBLE),
            |  (acc, t) -> acc + CAST(t.sg AS DOUBLE) * CAST(t.sg AS DOUBLE)
            |    / CAST(t.ng AS DOUBLE),
            |  acc -> acc) AS sq_over_n""".stripMargin)
        .selectExpr("k", "n",
          "sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb",
          "CAST(ss AS DOUBLE) - sq_over_n AS ssw")
        .selectExpr("k", "n", "ssb", "ssw",
          "(ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)) AS f_stat")
    }),

    // Cramér's V effect size for the priority x status table: the
    // chi-square fold re-run to one number, normalized by N·min(r−1, c−1)
    // — "is the dependence material", not just "is it nonzero"
    "ext_cramers_v" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cells = o.groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("obs"))
      val rowm = cells.groupBy(col("p")).agg(sum(col("obs")).as("rm"))
      val colm = cells.groupBy(col("st")).agg(sum(col("obs")).as("cm"))
      val tot = cells.agg(sum(col("obs")).as("n"),
        countDistinct(col("p")).as("nr"), countDistinct(col("st")).as("nc"))
      cells.join(broadcast(rowm), Seq("p")).join(broadcast(colm), Seq("st"))
        .crossJoin(broadcast(tot))
        .withColumn("contrib",
          ((col("obs") * col("n") - col("rm") * col("cm")).cast("double") *
            (col("obs") * col("n") - col("rm") * col("cm")).cast("double")) /
          (col("n") * col("rm") * col("cm")).cast("double"))
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sort_array(collect_list(
          struct(col("p"), col("st"), col("contrib")))).as("xs"))
        .selectExpr("n",
          "aggregate(xs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.contrib) AS chi2",
          "least(nr - 1, nc - 1) AS m")
        .selectExpr("n", "chi2",
          "sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE))) AS cramers_v")
    }),

    // rolling 7-day volatility per event type: windowed exact (n, sum,
    // sum-of-squares) longs over a row frame on the daily table, sample
    // variance assembled per row as one mirrored double expression — the
    // trailing-risk band x32's mean bands lack
    "ext_rolling_var" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(-6, 0)
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
        .withColumn("wn", count(lit(1)).over(w))
        .withColumn("ws", sum(col("cents")).over(w))
        .withColumn("wss", sum(col("cents") * col("cents")).over(w))
        .filter(col("wn") >= 2)
        .select(col("event_type"), col("d").cast("string").as("d"),
          col("cents"), col("wn"), col("ws"), col("wss"),
          ((col("wn") * col("wss") - col("ws") * col("ws")).cast("double") /
            (col("wn") * (col("wn") - 1)).cast("double")).as("rolling_var"))
        .orderBy(col("event_type"), col("d"))
    }),

    // token-count histogram in power-of-two buckets: the bucket is the
    // BINARY LENGTH of the token count (floor(log2)+1 computed exactly in
    // integer land — a float log2 at a power boundary could floor
    // differently across engines), counts and share bp per bucket
    "ext_token_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(length(bin(size(graft.operators.TextAnalysis
          .tokens(lower(col("text")))).cast("long"))).cast("long")
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
        .withColumn("total", sum(col("n_docs")).over(Window.partitionBy()))
        .select(col("bucket"), col("n_docs"),
          expr("n_docs * 10000 div total").as("share_bp"))
        .orderBy(col("bucket"))
    }),

    // revenue bridge: week-over-week revenue change decomposed into the
    // four driver terms (new, churned, expanding, contracting users) in
    // exact cents — growth accounting's revenue counterpart; the identity
    // new + churn + expansion + contraction = Δrevenue holds exactly
    // because every term is integer arithmetic on the same user-week table
    "ext_revenue_bridge" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("w"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val shifted = uw.select(col("user_id"),
        date_add(col("w"), 7).as("w"), col("cents").as("prev_cents"))
      val weeks = uw.select(col("w")).distinct()
      uw.join(shifted, Seq("user_id", "w"), "full_outer")
        .join(weeks, Seq("w"), "left_semi")
        .groupBy(col("w"))
        .agg(
          sum(when(col("prev_cents").isNull, col("cents")).otherwise(0L))
            .as("new_cents"),
          sum(when(col("cents").isNull, -col("prev_cents")).otherwise(0L))
            .as("churned_cents"),
          sum(when(col("cents").isNotNull && col("prev_cents").isNotNull &&
            col("cents") > col("prev_cents"),
            col("cents") - col("prev_cents")).otherwise(0L))
            .as("expansion_cents"),
          sum(when(col("cents").isNotNull && col("prev_cents").isNotNull &&
            col("cents") < col("prev_cents"),
            col("cents") - col("prev_cents")).otherwise(0L))
            .as("contraction_cents"))
        .select(col("w").cast("string").as("week"), col("new_cents"),
          col("churned_cents"), col("expansion_cents"),
          col("contraction_cents"),
          (col("new_cents") + col("churned_cents") + col("expansion_cents") +
            col("contraction_cents")).as("net_change_cents"))
        .orderBy(col("week"))
    }),

    // ORC source/sink roundtrip: the second columnar format Spark ships
    // besides parquet — events projected, written as ORC, read back and
    // aggregated; the oracle aggregates the same rows from the parquet
    // original, so any roundtrip corruption (type mapping, nulls,
    // timestamps) breaks the hash
    "s9_orc_roundtrip" -> ((s, dir) => {
      val orcDir = sys.props("java.io.tmpdir") + "/graft-orc-" +
        math.abs(dir.hashCode)
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .write.mode("overwrite").orc(orcDir)
      s.read.orc(orcDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),

    // contingency table via the DataFrame stat surface: crosstab pivots
    // priority x status to exact counts (the chi-square row's input, as
    // the API users actually call)
    "ext_crosstab" -> ((s, dir) => {
      val ct = Tables.orders(s, dir).stat
        .crosstab("o_orderpriority", "o_orderstatus")
      ct.select(col("o_orderpriority_o_orderstatus").as("priority"),
          col("F").cast("long").as("f_cnt"),
          col("O").cast("long").as("o_cnt"),
          col("P").cast("long").as("p_cnt"))
        .orderBy(col("priority"))
    }),

    // JSON path extraction WITHOUT a schema: get_json_object pulls $.k
    // straight from the raw props string (the ad-hoc complement to p2's
    // schema'd from_json), summarized per type with exact sums so a single
    // mis-extracted row breaks the hash
    "p8_json_path" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_extracted"), sum(col("k")).as("sum_k"),
          sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_over_50"))
        .orderBy(col("event_type"))
    }),

    // higher-order-function surface over a per-user type array: size /
    // array_contains / element_at / forall / array_join in one row —
    // every output a SCALAR (arrays never cross the oracle boundary;
    // engines stringify them differently)
    "p9_array_hof" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("event_type"))).as("types"))
        .select(col("user_id"),
          size(col("types")).cast("long").as("n_types"),
          array_contains(col("types"), "error").as("has_error"),
          element_at(col("types"), 1).as("first_type"),
          expr("forall(types, t -> length(t) >= 4)").as("all_len_ge_4"),
          array_join(col("types"), ",").as("types_csv"))
        .orderBy(col("user_id"))
    }),

    // TPC-H-style refresh functions against the versioned table: v0 is 90%
    // of orders, RF1 upserts the held-out tenth (O(delta): untouched month
    // partitions share files), RF2 deletes every seventh order key, and the
    // graded read aggregates the FINAL snapshot — the oracle computes the
    // same survivors directly, so a leaky manifest, a lost insert, or an
    // under-deleted partition all break the hash
    "x73_tpch_refresh" -> ((s, dir) => {
      val base = sys.props("java.io.tmpdir") + "/graft-rf-" +
        math.abs(dir.hashCode)
      FileUtils.deleteDirectory(new File(base))
      // YEAR partitions: the RF deltas are key-sampled, so they touch
      // every partition — commitUpsert/commitDelete cost one job per
      // touched partition, and month granularity made that 84 jobs per
      // refresh (the bench's slowest row at 44 s); ~7 year partitions
      // keep the same multi-partition semantics at a tenth the job count
      val orders = Tables.orders(s, dir).withColumn("m",
        date_trunc("year", col("o_orderdate")).cast("date").cast("string"))
      graft.operators.Versioned.commitFull(s, base,
        orders.filter(col("o_orderkey") % 10 =!= 0), "m")
      graft.operators.Versioned.commitUpsert(s, base,
        orders.filter(col("o_orderkey") % 10 === 0),
        keyCols = Seq("o_orderkey"), partCol = "m")
      graft.operators.Versioned.commitDelete(s, base,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("m")),
        keyCols = Seq("o_orderkey"), partCol = "m")
      graft.operators.Versioned.read(s, base)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    }),

    // top-3 revenue users per event type through the bounded-heap
    // aggregate (the ANN paths' TopKByScore on a business domain): the
    // shuffle carries <= 3 entries per type per task instead of every
    // per-user row — the form that replaced the spilling window sort;
    // ranks explode back to scalars, ties break (score DESC, id ASC)
    "ext_topk_users" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val pu = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val agg = ColumnBridge.column(graft.functions.TopKByScore(
        ColumnBridge.expression(col("cents").cast("double")),
        ColumnBridge.expression(col("user_id")), 3).toAggregateExpression())
      pu.groupBy(col("event_type")).agg(agg.as("__top"))
        .select(col("event_type"),
          posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("event_type"), (col("__pos") + 1).as("rank"),
          col("__e.id").as("user_id"),
          col("__e.score").cast("long").as("cents"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // the Damerau scalar inside a BLOCKED fuzzy join: candidates must
    // share (lang, first two chars) — an equi-join — before any distance
    // evaluates, so the quadratic scorer only ever sees same-block pairs;
    // matches at dl <= 4 over 12-char prefixes
    "ext_fuzzy_dl_join" -> ((s, dir) => {
      val sample = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 12).as("p"))
        .withColumn("blk", substring(col("p"), 1, 2))
      sample.select(col("lang"), col("blk"), col("doc_id").as("id_a"),
          col("p").as("pa"))
        .join(sample.select(col("lang"), col("blk"),
          col("doc_id").as("id_b"), col("p").as("pb")), Seq("lang", "blk"))
        .filter(col("id_a") < col("id_b"))
        .selectExpr("lang", "id_a", "id_b",
          "CAST(graft_damerau(pa, pb) AS BIGINT) AS dl")
        .filter(col("dl") <= 4)
        .orderBy(col("lang"), col("id_a"), col("id_b"))
    }),

    // order-to-ship latency by priority: does URGENT actually ship
    // faster? Exact day gaps per lineitem, mean via truncating division
    // and median via the rank formula over the (gap, line) total order
    "ext_ship_latency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("gap"),
          col("l_orderkey"), col("l_linenumber"))
      val med = g
        .withColumn("r", row_number().over(Window.partitionBy(col("prio"))
          .orderBy(col("gap"), col("l_orderkey"), col("l_linenumber"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("prio"))))
        .filter(col("r") === expr("(n + 1) div 2"))
        .select(col("prio"), col("gap").as("median_gap_days"))
      g.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_lines"), min(col("gap")).as("min_gap_days"),
          max(col("gap")).as("max_gap_days"),
          expr("sum(gap) div count(1)").as("mean_gap_days"))
        .join(med, Seq("prio"))
        .orderBy(col("prio"))
    }),

    // basket-size distribution: lines-per-order histogram plus exact
    // moments — the fan-out bound every pair-generating operator (basket
    // rules, co-occurrence graphs) depends on, measured rather than assumed
    "ext_basket_size_dist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sizes = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_orders"))
        .withColumn("total", sum(col("n_orders")).over(Window.partitionBy()))
        .select(col("sz").as("basket_size"), col("n_orders"),
          expr("n_orders * 10000 div total").as("share_bp"))
        .orderBy(col("basket_size"))
    }),

    // QQ table: purchase vs view value distributions compared decile by
    // decile (ceiling-rank picks on each side, joined on the decile) —
    // "are purchases just scaled-up views?" read directly off the ratio.
    // Rank selection rides Sketch.exactRanks (r14, VERDICT r13 #1): the
    // old row_number() over ONE unpartitioned window held every event of
    // a side on one task; the refinement's shuffles carry counts, never
    // values, and the decile picks are identical — the r-th smallest
    // cents WITH multiplicity is tie-order invariant, so dropping the
    // event_id tiebreak changes which ROW is picked, never which VALUE.
    "ext_qq_table" -> ((s, dir) => {
      def deciles(tpe: String, out: String) = {
        val vals = Tables.events(s, dir)
          .filter(col("event_type") === tpe)
          .select((money(col("value")) * 100).cast("long").as("cents"))
        // ceiling-rank picks: r_q = (q*n + 9) div 10, 1-indexed — the
        // rank-to-decile map is reproduced from the SAME pure formula
        // inside the broadcast-joined driver relation (two deciles may
        // share a rank below n = 10; the join then fans the value out)
        graft.operators.Sketch.exactRanks(vals, "cents",
            n => (1L to 9L).map(q => (q * n + 9) / 10))
          .withColumn("q", explode(expr("sequence(1, 9)")))
          .filter(col("rank") === expr("(q * n + 9) div 10"))
          .select(col("q").cast("long").as("q"),
            col("value").cast("long").as(out))
      }
      // the two sides' rank refinements are independent job chains —
      // overlap them (r17, guide §2.6)
      val Seq(p, v) = graft.util.Par.all(s)(
        () => deciles("purchase", "purchase_cents"),
        () => deciles("view", "view_cents"))
      p.join(v, Seq("q"))
        .select(col("q").as("decile"), col("purchase_cents"),
          col("view_cents"),
          (col("purchase_cents").cast("double") /
            col("view_cents").cast("double")).as("ratio"))
        .orderBy(col("decile"))
    }),

    // reciprocity of the DIRECTED co-order graph: how much of the top-k
    // preference relation is mutual — one self-join on the reversed key,
    // exact counts, bp ratio (1.0 would mean the direction bound adds
    // nothing; low values justify keeping the graph directed)
    "ext_reciprocity" -> ((s, dir) => {
      val edges = graft.util.Checkpoints.cut(
        graft.operators.Graph.coOccurrenceEdges(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          "l_orderkey", "l_suppkey", k = 15))
      val rev = edges.select(col("src").as("dst"), col("dst").as("src"),
        lit(1L).as("has_rev"))
      edges.join(rev, Seq("src", "dst"), "left_outer")
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce(col("has_rev"), lit(0L))).as("n_mutual"))
        .select(col("n_edges"), col("n_mutual"),
          expr("n_mutual * 10000 div n_edges").as("reciprocity_bp"))
    }),

    // calendar coverage per event type: active days against the full
    // first-to-last span (span = datediff, an O(1) integer — no calendar
    // explode needed for the scalar report), missing days by subtraction
    "ext_calendar_coverage" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days_active"),
          (datediff(max(col("d")), min(col("d"))) + 1).cast("long")
            .as("n_days_span"),
          min(col("d")).cast("string").as("first_d"),
          max(col("d")).cast("string").as("last_d"))
        .withColumn("n_days_missing",
          col("n_days_span") - col("n_days_active"))
        .orderBy(col("event_type"))
    }),

    // ARPU decomposition per week: revenue = actives x conversion x
    // average order value, each factor reported exactly (counts, bp,
    // truncated cents) so the multiplicative story is auditable — the
    // decomposition growth reviews start from
    "ext_arpu_decomposition" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("w", date_trunc("week", col("ts")).cast("date"))
      val actives = ev.groupBy(col("w"))
        .agg(countDistinct(col("user_id")).as("actives"))
      val buyers = ev.filter(col("event_type") === "purchase")
        .groupBy(col("w"))
        .agg(countDistinct(col("user_id")).as("buyers"),
          count(lit(1)).as("n_purchases"),
          (sum(money(col("value"))) * 100).cast("long").as("rev_cents"))
      actives.join(buyers, Seq("w"), "left_outer")
        .select(col("w").cast("string").as("week"), col("actives"),
          coalesce(col("buyers"), lit(0L)).as("buyers"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("rev_cents"), lit(0L)).as("rev_cents"),
          expr("coalesce(buyers, 0L) * 10000 div actives")
            .as("conversion_bp"),
          expr("CASE WHEN coalesce(n_purchases, 0L) = 0 THEN 0L " +
            "ELSE rev_cents div n_purchases END").as("aov_cents"),
          expr("coalesce(rev_cents, 0L) div actives").as("arpu_cents"))
        .orderBy(col("week"))
    }),

    // supplier-concentration HHI per part: sum of squared quantity shares
    // in exact basis points ((Σq_i²)·10000 div (Σq_i)² — integers end to
    // end), top 20 most concentrated parts with deterministic tie-break;
    // the single-source-risk screen over the supply table
    "ext_hhi_parts" -> ((s, dir) => {
      val q = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((sum(money(col("l_quantity"))) * 100).cast("long").as("qc"))
      q.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_suppliers"), sum(col("qc")).as("total_qc"),
          sum(col("qc") * col("qc")).as("sq"))
        .select(col("l_partkey"), col("n_suppliers"),
          expr("sq * 10000 div (total_qc * total_qc)").as("hhi_bp"))
        .orderBy(col("hhi_bp").desc, col("n_suppliers").asc,
          col("l_partkey").asc)
        .limit(20)
    }),

    // longest activity streak per user — the gaps-and-islands device:
    // consecutive days share (d minus row_number) as an island key, so
    // streaks fall out of one groupBy with no self-join; the longest
    // streak picked rank-1 by (length DESC, start ASC)
    "ext_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val islands = ud
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("d"))))
        .withColumn("grp", expr("date_sub(d, rn)"))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
      islands
        .withColumn("r", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("len").desc, col("start_d").asc)))
        .withColumn("n_streaks", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .withColumn("n_active", sum(col("len")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("r") === 1)
        .select(col("user_id"), col("n_active").as("n_active_days"),
          col("n_streaks"), col("len").as("longest_streak"),
          col("start_d").cast("string").as("streak_start"))
        .orderBy(col("user_id"))
    }),

    // the SAME top-3 written in the PORTABLE window idiom — the
    // TopKRewrite optimizer rule supplies the bounded heap (plan-pinned:
    // no Window operator survives); score/id made non-nullable because
    // the rule only fires where null ranking provably can't diverge
    "ext_topk_rewrite" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pu = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("c"))
        .select(col("event_type"),
          coalesce(col("user_id"), lit(-1L)).as("id"),
          coalesce(col("c"), lit(0L)).cast("double").as("score"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("score").desc, col("id").asc)
      pu.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("event_type"), col("rn").cast("long").as("rank"),
          col("id").as("user_id"), col("score").cast("long").as("cents"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // sample-ratio-mismatch guard for the A/B row: chi-square of the
    // observed arm split against the designed 50/50 (e = N div 2 per arm;
    // (o−e)² div e summed over BOTH arms exactly after scaling — SRM is
    // the first thing to check before believing any lift readout)
    "ext_ab_srm" -> ((s, dir) => {
      val arms = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
        .groupBy(col("arm")).agg(count(lit(1)).as("n"))
      val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"))
      val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"))
      a.crossJoin(b)
        .select(col("n_a"), col("n_b"),
          (col("n_a") + col("n_b")).as("n"),
          // chi2 = (o_a-e)^2/e + (o_b-e)^2/e with e = n/2; since
          // o_a-e = -(o_b-e) = d/2 where d = n_a-n_b, chi2 = d^2/n —
          // one mirrored division from exact longs
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double")
            ./((col("n_a") + col("n_b")).cast("double")).as("srm_chi2"))
        .withColumn("srm_flag", col("srm_chi2") > 3.841) // chi2(1), p=.05
    }),

    // forward-looking label generation: for every user-day, activity and
    // spend over the NEXT 7 days via a FOLLOWING range frame on epoch days
    // — the churn/value labels a training pipeline derives, leakage-free
    // because the frame excludes the current day
    "ext_future_labels" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
        .withColumn("ep", datediff(col("d"), lit("1970-01-01")).cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ep"))
        .rangeBetween(1, 7)
      daily
        .withColumn("fwd_days", count(lit(1)).over(w))
        .withColumn("fwd_cents",
          coalesce(sum(col("cents")).over(w), lit(0L)))
        .select(col("user_id"), col("d").cast("string").as("d"),
          col("cents"), col("fwd_days").as("active_next_7d"),
          col("fwd_cents").as("spend_next_7d_cents"),
          (col("fwd_days") === 0).as("churn_7d_label"))
        .orderBy(col("user_id"), col("d"))
    }),

    // leave-one-out target encoding of event type on the conversion label
    // (value >= 150): each row's encoding excludes ITSELF — (S_g − y_i)
    // scaled to exact basis points over (n_g − 1) — the standard
    // leakage-safe categorical feature, integer end to end
    "ext_target_encoding" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(col("value") >= 150.0, 1L).otherwise(0L).as("y"))
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"))
      ev.join(broadcast(g), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("y"),
          expr("(sg - y) * 10000 div (ng - 1)").as("loo_encoding_bp"))
        .orderBy(col("event_id"))
    }),

    // run-length structure of each user's event sequence: consecutive
    // same-type runs via the two-row_number island key (the type-change
    // variant of ext_streaks' device), reported as n_runs / longest run /
    // RLE compression ratio in exact bp — how repetitive a behavior
    // stream is before sequence modeling
    "ext_run_lengths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val runs = ev
        .withColumn("grp",
          row_number().over(wAll) - row_number().over(wType))
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_events"), count(lit(1)).as("n_runs"),
          max(col("len")).as("longest_run"))
        .withColumn("rle_ratio_bp", expr("n_runs * 10000 div n_events"))
        .orderBy(col("user_id"))
    }),

    // quantity-weighted median price per brand: the first value whose
    // running weight reaches half the total — one cumulative window over
    // the (value, id) total order; the unweighted rank formula is the
    // all-weights-one special case
    "ext_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          (money(col("l_extendedprice")) * 100).cast("long").as("price_cents"),
          (money(col("l_quantity")) * 100).cast("long").as("wq"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = li
        .withColumn("cw", sum(col("wq")).over(w))
        .withColumn("tw", sum(col("wq")).over(
          Window.partitionBy(col("p_brand"))))
      cum.filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("p_brand"))
        .agg(min(struct(col("cw"), col("price_cents"))).as("m"),
          max(col("tw")).as("total_weight"))
        .select(col("p_brand"), col("m.price_cents").as("wmedian_cents"),
          col("total_weight"))
        .orderBy(col("p_brand"))
    }),

    // Kendall tau-a between daily click and purchase volumes: every day
    // pair classified concordant/discordant/tied by exact integer
    // comparison over the 30-row daily table (the quadratic pair join is
    // days², never events²) — the rank correlation that doesn't care
    // about outliers, reported with its exact pair census
    "ext_kendall_tau" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val a = daily.select(col("d").as("da"), col("x").as("xa"),
        col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("x").as("xb"),
        col("y").as("yb"))
      a.join(b, col("da") < col("db"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
            (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
            (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
            .otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          ((col("concordant") - col("discordant")).cast("double") /
            col("n_pairs").cast("double")).as("tau_a"))
    }),

    // Spearman rho between the same daily series: Pearson over
    // (rank x, rank y) where both rankings break ties by date — the
    // identical total order in both engines makes the rank vectors (and
    // so the five integer co-moments) exact; one mirrored division.
    // Kendall (pair census) and Spearman (rank moments) bracket the
    // monotone-association question from both classic angles.
    "ext_spearman" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      val ranked = daily
        .withColumn("rx", row_number().over(
          Window.orderBy(col("x"), col("d"))).cast("long"))
        .withColumn("ry", row_number().over(
          Window.orderBy(col("y"), col("d"))).cast("long"))
      ranked.agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"))
        .select(col("n"), col("sx"), col("sxy"), col("sxx"),
          // rank sets are identical permutations: sy = sx, syy = sxx,
          // so rho collapses sqrt-free like the assortativity row
          ((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("spearman_rho"))
    }),

    // the full autocorrelation function, lags 1-7 per event type:
    // ext_autocorr's exact co-moment device fanned over an explode of
    // lags — one date-offset join against the 30-row daily table yields
    // the whole weekly ACF in one pass (the seasonality fingerprint
    // Holt-Winters' period choice should be read from)
    "ext_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val lags = daily.select(col("event_type"), col("d"),
        col("cents").as("x"), explode(expr("sequence(1, 7)")).as("lag"))
      val future = daily.select(col("event_type").as("t2"),
        col("d").as("d2"), col("cents").as("y"))
      lags.join(future, col("t2") === col("event_type") &&
          expr("d2 = date_add(d, lag)"))
        .groupBy(col("event_type"), col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("acf",
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))))
        .orderBy(col("event_type"), col("lag"))
    }),

    // bounce rate per day: 30-minute gap sessions (the a7 method), a
    // bounce being a single-event session; sessions date to their start.
    // Exact counts and bp — the engagement-quality headline.
    "ext_bounce_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val sessions = ev
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("ts_us") - col("prev") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"))
      sessions
        .groupBy(expr("CAST(to_date(timestamp_micros(start_us)) AS STRING)")
          .as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
        .withColumn("bounce_bp", expr("n_bounces * 10000 div n_sessions"))
        .orderBy(col("d"))
    }),

    // two-sample Kolmogorov-Smirnov, EXACT: scale the ECDF gap by n1·n2
    // and |c1·n2 − c2·n1| is an integer at every distinct value — the max
    // and its earliest location are exact comparisons, with the classical
    // D restored by one mirrored division (no float ECDFs anywhere)
    "ext_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view"))
        .select((money(col("value")) * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"))
      val byVal = v.groupBy(col("cents"))
        .agg(sum(col("g1")).as("d1"),
          sum(lit(1L) - col("g1")).as("d2"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      val curve = byVal
        .withColumn("c1", sum(col("d1")).over(w))
        .withColumn("c2", sum(col("d2")).over(w))
        .withColumn("n1", sum(col("d1")).over(tot))
        .withColumn("n2", sum(col("d2")).over(tot))
        .withColumn("gap", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      val peak = curve.agg(max(col("gap")).as("d_scaled"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      peak.join(curve.select(col("gap"), col("cents")),
          col("d_scaled") === col("gap"))
        .groupBy(col("n1"), col("n2"), col("d_scaled"))
        .agg(min(col("cents")).as("at_cents"))
        .select(col("n1"), col("n2"), col("d_scaled"), col("at_cents"),
          (col("d_scaled").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("ks_d"))
    }),

    // change-point locator over daily revenue: the split k maximizing the
    // cross-multiplied mean gap |S1·(n−k) − (S−S1)·k| — integer-exact at
    // every candidate (the fractional between-segment variance ranks
    // splits in the same order), earliest argmax, truncating segment means
    "ext_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      val curve = daily
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("s1", sum(col("cents")).over(w))
        .withColumn("n", count(lit(1)).over(tot))
        .withColumn("s", sum(col("cents")).over(tot))
        .filter(col("k") < col("n"))
        .withColumn("gap", abs(col("s1") * (col("n") - col("k")) -
          (col("s") - col("s1")) * col("k")))
      val peak = curve.agg(max(col("gap")).as("d_max"))
      peak.join(curve.select(col("gap"), col("d"), col("k"), col("s1"),
          col("n"), col("s")), col("d_max") === col("gap"))
        .orderBy(col("d"))
        .limit(1)
        .select(col("d").cast("string").as("split_after"), col("k"),
          col("n"), col("d_max"),
          expr("s1 div k").as("mean_before_cents"),
          expr("(s - s1) div (n - k)").as("mean_after_cents"))
    }),

    // Mann-Whitney U, EXACT: midranks doubled (2·before + d + 1 is always
    // an integer) make the tied rank-sum exact, so U arrives as an integer
    // with no float ranks; U/(n1·n2) — the probability a purchase value
    // exceeds a view value — restored by one mirrored division. With
    // ext_ks_test (distribution gap) and Kendall/Spearman (association),
    // this closes the classic nonparametric kit.
    "ext_mann_whitney" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view"))
        .select((money(col("value")) * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"))
      val byVal = v.groupBy(col("cents"))
        .agg(sum(col("g1")).as("d1"), sum(lit(1L) - col("g1")).as("d2"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal
        .withColumn("cum", sum(col("d1") + col("d2")).over(w))
        .withColumn("before", col("cum") - col("d1") - col("d2"))
        .agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"),
          sum(col("d1") *
            (col("before") * 2 + col("d1") + col("d2") + 1)).as("r1_2x"))
        .select(col("n1"), col("n2"),
          (col("r1_2x") - col("n1") * (col("n1") + 1)).as("u1_2x"),
          ((col("r1_2x") - col("n1") * (col("n1") + 1)).cast("double") /
            (col("n1") * col("n2") * 2).cast("double"))
            .as("p_purchase_gt_view"))
    }),

    // the Lorenz curve ext_gini summarizes, as a 10-row table: users
    // ranked ascending by exact revenue, cut into population deciles by
    // the rank formula, cumulative revenue share per decile in exact bp —
    // "the bottom 50% of customers hold X% of revenue", read directly
    "ext_lorenz_curve" -> ((s, dir) => {
      // rank + running cum via the two-level globalRankByValue (r14,
      // VERDICT r13 #3); n/total are one-row broadcasts, not windows.
      // tieChunks (r15, VERDICT r14 #2) grades the chunk-decomposed
      // within-group rank end to end: revenue cents carry genuine tie
      // groups, user_id is the unique numeric tie column, and the
      // decomposition must be invisible in the oracle hash.
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      val tot = perUser.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total"))
      graft.operators.Skew.globalRankByValue(perUser, "cents", "user_id",
          "r", cumCol = Some("cum"), tieChunks = 8)
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(r * 10 + n - 1) div n")) // ceil(10r/n)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), max(col("r")).as("r_top"),
          max(col("cum")).as("cum_cents"), max(col("total")).as("total"))
        .select(col("decile"), col("n_users"),
          expr("cum_cents * 10000 div total").as("cum_share_bp"))
        .orderBy(col("decile"))
    }),

    // exact mode of per-event cents per type: argmax of the value
    // histogram with the (count DESC, value ASC) rank-1 tie rule — the
    // missing basic descriptive statistic (mean/median live elsewhere);
    // the window runs over the per-type histogram, never the events
    "ext_mode_value" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .select(col("event_type"),
          (money(col("value")) * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("r", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("freq").desc, col("cents").asc)))
        .filter(col("r") === 1)
        .select(col("event_type"), col("cents").as("mode_cents"),
          col("freq").as("mode_freq"))
        .orderBy(col("event_type"))
    }),

    // binary media-format sniffing: deterministic magic bytes (PNG / JPEG
    // / RIFF) prepended per doc, then detected back from the raw binary
    // column by hex-prefix compare — the opaque-bytes plumbing (concat,
    // hex, byte length on binary) a media-ingest census needs, exact
    // counts and share bp per detected format
    "ext_media_sniff" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val magic = when(col("doc_id") % 4 === 0, unhex(lit("89504E47")))
        .when(col("doc_id") % 4 === 1, unhex(lit("FFD8FFE0")))
        .when(col("doc_id") % 4 === 2, unhex(lit("52494646")))
        .otherwise(lit("").cast("binary"))
      val media = Tables.documents(s, dir).select(col("doc_id"),
        concat(magic, col("text").cast("binary")).as("bytes"))
      media
        .select(
          when(substring(hex(col("bytes")), 1, 8) === "89504E47", "png")
            .when(substring(hex(col("bytes")), 1, 8) === "FFD8FFE0", "jpeg")
            .when(substring(hex(col("bytes")), 1, 8) === "52494646", "riff")
            .otherwise("raw").as("format"),
          length(col("bytes")).cast("long").as("len"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_files"), sum(col("len")).as("total_bytes"))
        .withColumn("share_bp", expr("n_files * 10000 div " +
          "sum(n_files) OVER ()"))
        .orderBy(col("format"))
    }),

    // ABC inventory classification: parts ranked by exact revenue, class A
    // until the strictly-before cumulative share reaches 80%, B until 95%,
    // C beyond (the pareto head rule at two thresholds); reported as the
    // per-class census every inventory policy starts from
    "ext_abc_classification" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // running cum via the two-level globalRankByValue (r14, VERDICT
      // r13 #3 — parts grow with SF); total is a one-row broadcast. The
      // trailing share window below runs over the 3-row class census.
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg((sum(money(col("l_extendedprice"))) * 100).cast("long")
          .as("cents"))
      val total = perPart.agg(sum(col("cents")).as("total"))
      graft.operators.Skew.globalRankByValue(perPart, "cents", "l_partkey",
          "__r", desc = true, cumCol = Some("cum"))
        .crossJoin(broadcast(total))
        .withColumn("before_bp",
          expr("(cum - cents) * 10000 div total"))
        .withColumn("abc", when(col("before_bp") < 8000, "A")
          .when(col("before_bp") < 9500, "B").otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("class_cents"))
        .withColumn("revenue_share_bp",
          expr("class_cents * 10000 div sum(class_cents) OVER ()"))
        .orderBy(col("abc"))
    }),

    // split parity audit: the engine's own stratified split graded for
    // distribution drift — per (split, lang) share in exact bp against
    // the corpus share, max absolute deviation per split (a split whose
    // language mix drifts from the corpus leaks evaluation signal)
    "ext_split_parity" -> ((s, dir) => {
      val split = graft.operators.Sampling.stratifiedSplit(
          Tables.documents(s, dir), "source", "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
      val corpus = split.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_corpus"))
        .withColumn("corpus_total", sum(col("n_corpus")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("lang"), expr("n_corpus * 10000 div corpus_total")
          .as("corpus_bp"))
      val per = split.groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("split_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("split"))))
        .select(col("split"), col("lang"),
          expr("n * 10000 div split_total").as("split_bp"))
      per.join(broadcast(corpus), Seq("lang"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_langs"),
          max(abs(col("split_bp") - col("corpus_bp"))).as("max_dev_bp"))
        .orderBy(col("split"))
    }),

    // behavioral segmentation by dominant event type: each user's rank-1
    // type (count DESC, name ASC tie rule), rolled to a segment census
    // with the dominant type's average share of the user's activity in bp
    "ext_dominant_type" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("user_id"))))
      cnt.withColumn("r", row_number().over(Window
          .partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("event_type").asc)))
        .filter(col("r") === 1)
        .withColumn("share_bp", expr("n * 10000 div total"))
        .groupBy(col("event_type").as("dominant_type"))
        .agg(count(lit(1)).as("n_users"),
          expr("sum(share_bp) div count(1)").as("avg_share_bp"))
        .orderBy(col("dominant_type"))
    }),

    // hour-of-day activity profile: counts per (type, hour) with each
    // type's peak hour picked rank-1 — the intra-day complement to the
    // weekday seasonality rows
    "ext_peak_hour" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byHour = Tables.events(s, dir)
        .groupBy(col("event_type"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      byHour
        .withColumn("r", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("hr").asc)))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("r") === 1)
        .select(col("event_type"), col("hr").as("peak_hour"),
          col("n").as("peak_n"),
          expr("n * 10000 div total").as("peak_share_bp"))
        .orderBy(col("event_type"))
    }),

    // repeat-purchase rate: one-time vs repeat buyers, repeat share bp,
    // and the repeat buyers' mean first-to-second gap in exact days (the
    // second purchase picked by the rank formula over the (ts, id) order)
    "ext_repeat_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .withColumn("r", row_number().over(Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
      val firsts = p.filter(col("r") === 1)
        .select(col("user_id"), col("ts_us").as("t1"))
      val seconds = p.filter(col("r") === 2)
        .select(col("user_id"), col("ts_us").as("t2"))
      val perUser = firsts.join(seconds, Seq("user_id"), "left_outer")
      perUser.agg(count(lit(1)).as("n_buyers"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L))
            .as("n_repeat"),
          expr("sum(CASE WHEN t2 IS NOT NULL THEN " +
            "(t2 - t1) div 86400000000 ELSE 0 END)").as("gap_days_sum"))
        .select(col("n_buyers"), col("n_repeat"),
          expr("n_repeat * 10000 div n_buyers").as("repeat_bp"),
          expr("CASE WHEN n_repeat = 0 THEN 0L " +
            "ELSE gap_days_sum div n_repeat END").as("mean_gap_days"))
    }),

    // cohort LTV curves: users cohorted by FIRST purchase date, revenue
    // rolled up per (cohort, age-in-days) in exact cents, then the
    // cumulative lifetime value per cohort via one window over the
    // cohort x age table (bounded by days², never the log) — the curve
    // retention analyses price decisions against
    "ext_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          (money(col("value")) * 100).cast("long").as("cents"))
      val firstD = p.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
      val daily = p.join(firstD, "user_id")
        .groupBy(col("cohort_d"),
          datediff(col("d"), col("cohort_d")).cast("long").as("age_days"))
        .agg(sum(col("cents")).as("day_cents"),
          countDistinct(col("user_id")).as("active_users"))
      val w = Window.partitionBy(col("cohort_d")).orderBy(col("age_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum_cents", sum(col("day_cents")).over(w))
        .select(col("cohort_d").cast("string").as("cohort"),
          col("age_days"), col("day_cents"), col("active_users"),
          col("cum_cents"))
        .orderBy(col("cohort"), col("age_days"))
    }),

    // RFM segmentation: per-user Recency (days since last purchase,
    // against the corpus max date), Frequency (purchase count), Monetary
    // (exact cents), each quartiled by ntile over a UNIQUE order (metric,
    // user_id — the tie-break that makes ntile deterministic
    // cross-engine), composed into the three-digit RFM code marketing
    // segments on. One aggregate plus three bounded windows over the
    // per-user table, never the event log.
    "ext_rfm" -> ((s, dir) => {
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .withColumn("d", to_date(col("ts")))
      val perUser = p.groupBy(col("user_id")).agg(
        max(col("d")).as("last_d"),
        count(lit(1)).as("frequency"),
        (sum(money(col("value"))) * 100).cast("long").as("monetary_cents"))
      val maxD = p.agg(max(col("d")).as("corpus_max"))
      val rfm = perUser.crossJoin(broadcast(maxD))
        .withColumn("recency_days",
          datediff(col("corpus_max"), col("last_d")).cast("long"))
      // recency: SMALLER is better -> ascending rank; f/m: larger better
      // -> descending, id tie-break keeps every rank deterministic.
      // r14 (VERDICT r13 #3): the three serial ntile windows each sorted
      // the whole per-user table on one task; ranks now ride the
      // two-level globalRankByValue and ntile(4) is replayed CLOSED-FORM
      // from (rank, n) — standard NTILE: q = n div 4, m = n mod 4, the
      // first m buckets one row larger; the ELSE's divisor is never
      // reached at q = 0 (threshold is then n) and CASE evaluates lazily
      val ranked = Seq(("recency_days", false, "__rr"),
          ("frequency", true, "__rf"), ("monetary_cents", true, "__rm"))
        .foldLeft(rfm) { case (df, (c, desc, out)) =>
          graft.operators.Skew.globalRankByValue(df, c, "user_id", out,
            desc = desc)
        }
      val n = perUser.agg(count(lit(1)).as("__n"))
      def ntile4(r: String) = expr(
        s"""CAST(CASE
           |  WHEN $r <= (__n % 4) * ((__n DIV 4) + 1)
           |  THEN ($r - 1) DIV ((__n DIV 4) + 1) + 1
           |  ELSE (__n % 4) +
           |    ($r - 1 - (__n % 4) * ((__n DIV 4) + 1)) DIV (__n DIV 4) + 1
           |END AS INT)""".stripMargin)
      ranked.crossJoin(broadcast(n))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          ntile4("__rr").as("r_q"),
          ntile4("__rf").as("f_q"),
          ntile4("__rm").as("m_q"))
        .withColumn("rfm_code",
          col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
        .orderBy(col("user_id"))
    }),

    // SEASONAL volume anomaly: each (type, day)'s count against the
    // day-of-week baseline (integer mean of the same weekday's other
    // days — leave-one-out, so a spike can't inflate its own baseline),
    // deviation in exact basis points, |dev| > 2500 bp flagged. The
    // seasonal complement to x32's trailing bands: a quiet Sunday is
    // normal here and alarming there. Window input is the rolled-up
    // daily table, never the log.
    "ext_seasonal_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val base = daily.groupBy(col("event_type").as("bt"), col("dow").as("bd"))
        .agg(sum(col("n")).as("tot"), count(lit(1)).as("days"))
      daily.join(base,
          col("event_type") === col("bt") && col("dow") === col("bd"))
        .filter(col("days") > 1) // leave-one-out needs a peer day
        .select(col("event_type"), col("d").cast("string").as("day"),
          col("dow"), col("n"),
          expr("(tot - n) div (days - 1)").as("baseline"))
        .withColumn("dev_bp",
          expr("(n - baseline) * 10000 div greatest(baseline, 1)"))
        .withColumn("is_anomaly", abs(col("dev_bp")) > 2500L)
        .orderBy(col("event_type"), col("day"))
    }),

    // byte-entropy profile — the binary-content analysis a multimodal
    // landing pipeline runs to flag compressed/encrypted blobs (entropy
    // near 8 bits/byte) vs text (low): per-doc byte histogram, Shannon
    // entropy in Q16 fixed point through the SAME piecewise-linear log2
    // device as PSI/BM25 (y = n·1024 div n_b; log2 via the bin-length
    // trick) — no transcendental ever runs, so the score replays exactly.
    // Shuffle carries at most 256 rows per doc.
    "ext_byte_entropy" -> ((s, dir) =>
      Tables.ensureParallelism(Tables.documents(s, dir))
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) === 1)
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("nb"))
        .withColumn("n", sum(col("nb")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
        .withColumn("y", expr("n * 1024 div nb"))
        .withColumn("e", expr("length(bin(y)) - 1"))
        .withColumn("alr", expr(
          "e * 65536 + shiftright((y - shiftleft(CAST(1 AS BIGINT), e)) * 65536, e) - 655360"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_chars_counted"),
          count(lit(1)).as("distinct_bytes"),
          sum(expr("nb * alr div n")).as("entropy_fp"))
        .orderBy(col("doc_id"))),

    // significant terms (keyness): the 20 tokens most distinctive of the
    // src0 slice vs the rest of the corpus, ranked by the +1-smoothed
    // relative-frequency ratio in exact Q16 fixed point — the ratio is
    // rational, so no log ever runs (log is monotone; the RANKING never
    // needs it, the same device as PMI). Shuffles carry token counts,
    // never tokens-times-docs.
    "ext_keyness" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select((col("source") === "src0").as("in_a"),
          explode(split(col("text"), " ")).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b"))
      val tot = counts.agg(sum(col("a")).as("at"), sum(col("b")).as("bt"))
      counts.crossJoin(broadcast(tot))
        .select(col("tok"), col("a"), col("b"),
          expr("((a + 1) * (bt + 1) * 65536) div ((b + 1) * (at + 1))")
            .as("ratio_q16"))
        .orderBy(col("ratio_q16").desc, col("tok"))
        .limit(20)
    }),

    // sequence-pattern mining: the top-20 event-type TRIGRAMS over each
    // user's event order (two leads in one window pass — the pair table's
    // extension to length-3 paths, bounded by the type-vocabulary cubed,
    // never the log), with deterministic (n DESC, types) ranking
    "ext_event_trigrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("t1"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    // broadcast BAND (non-equi) join: every line item priced into an
    // irregular 6-band rate card by `lo <= price < hi` against a
    // broadcast dim — the range-lookup join shape (tax tables, rate
    // cards, SLA tiers) where no equi-key exists; at 100 TB the tiny
    // band table broadcasts and the fact table never shuffles
    "ext_band_lookup" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("B1", 0.0, 1000.0), ("B2", 1000.0, 5000.0), ("B3", 5000.0, 20000.0),
        ("B4", 20000.0, 40000.0), ("B5", 40000.0, 60000.0),
        ("B6", 60000.0, 1e18)).toDF("band", "lo", "hi")
      Tables.lineitem(s, dir)
        .join(broadcast(bands),
          col("l_extendedprice") >= col("lo") &&
            col("l_extendedprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("band"))
    }),

    // A/B experiment readout: users split into two deterministic arms,
    // per-arm conversion (any purchase) counted exactly, then the
    // two-proportion z statistic assembled from the integer counts in ONE
    // mirrored IEEE expression (pooled variance; the divisions and sqrt
    // are the only double ops, so the statistic hash-matches). Lift is
    // reported in exact basis points — the experimentation verb every
    // product pipeline ends at.
    "ext_ab_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") >= 300.0, 1L).otherwise(0L))
          .as("converted"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      val counts = perUser.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
      val a = counts.filter(col("arm") === 0)
        .select(col("n").as("n_a"), col("conv").as("conv_a"))
      val b = counts.filter(col("arm") === 1)
        .select(col("n").as("n_b"), col("conv").as("conv_b"))
      val pooled = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val se = sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double")))
      val diff = col("conv_b").cast("double") / col("n_b").cast("double") -
        col("conv_a").cast("double") / col("n_a").cast("double")
      a.crossJoin(b).select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_b * 10000 div n_b - conv_a * 10000 div n_a").as("lift_bp"),
        // a degenerate experiment (pooled rate 0 or 1) has zero variance:
        // report z = 0 rather than divide by an exact 0.0 (ANSI errors)
        when(se > 0.0, diff / se).otherwise(lit(0.0)).as("z"))
    }),

    // hashing-trick featurization ([[graft.operators.Sampling.featureHash]]):
    // three categoricals per event land in 64 signed buckets with no
    // vocabulary pass — the fixed-dimensional sparse features a linear
    // model trains on; pure per-row md5 hashing plus one grouped sum
    "ext_feature_hash" -> ((s, dir) =>
      graft.operators.Sampling.featureHash(Tables.events(s, dir),
          col("event_id"), Seq(
            "type" -> col("event_type"),
            "uband" -> pmod(col("user_id"), lit(100L)),
            "vband" -> floor(col("value") / 50.0).cast("long")),
          k = 64)
        .orderBy(col("id"), col("bucket"))),

    // data repair: per-user LOWER-median imputation of untrusted readings
    // (an 'error' event's value is replaced by the user's median over
    // trusted rows — rank (n+1) div 2, purely integer so no interpolation
    // ambiguity cross-engine; a user with no trusted rows imputes null).
    // Scale shape: the median table is one row per user built from one
    // partitioned rank window over trusted rows only, then an equi-join
    // back — never a global sort.
    "ext_impute_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"),
        (money(col("value")) * 100).cast("long").as("cents"))
      val good = ev.filter(col("event_type") =!= "error")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cents"), col("event_id"))
      val med = good
        .withColumn("r", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("r") === expr("(n + 1) div 2"))
        .select(col("user_id"), col("cents").as("median_cents"))
      ev.join(med, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          when(col("event_type") === "error", col("median_cents"))
            .otherwise(col("cents")).as("cents_imputed"),
          (col("event_type") === "error").as("was_imputed"))
        .orderBy(col("event_id"))
    }),

    // Holt double-exponential smoothing (alpha = beta = 1/2) per user over
    // daily cents: level absorbs each day, trend absorbs each level step —
    // both floor-free TRUNCATING integer divisions so the recurrence is
    // bit-exact in any engine (x41's EWMA with a trend term; the forecast
    // is level + trend). The fold is an ordered struct accumulator inside
    // one codegen'd higher-order function — no shuffle beyond the daily
    // rollup; the oracle replays the identical recurrence as a recursive
    // CTE with trunc() division (DuckDB's // floors, Spark's div truncates
    // — they differ on negative trends, so the oracle mirrors trunc).
    "ext_holt" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      daily.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("d"), col("cents")))).as("xs"))
        .select(col("user_id"), expr("transform(xs, t -> t.cents)").as("cs"))
        .filter(size(col("cs")) >= 2)
        .selectExpr("user_id", "size(cs) AS n_days",
          """aggregate(
            |  slice(cs, 2, size(cs) - 1),
            |  named_struct(
            |    'level', element_at(cs, 1),
            |    'trend', element_at(cs, 2) - element_at(cs, 1)),
            |  (acc, x) -> named_struct(
            |    'level', (x + acc.level + acc.trend) div 2,
            |    'trend', (((x + acc.level + acc.trend) div 2 - acc.level)
            |              + acc.trend) div 2),
            |  acc -> acc) AS h""".stripMargin)
        .select(col("user_id"), col("n_days"),
          col("h.level").as("holt_level"), col("h.trend").as("holt_trend"),
          (col("h.level") + col("h.trend")).as("forecast_next"))
        .orderBy(col("user_id"))
    }),

    "x26_resample_ffill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      val grid = ev.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("interval 1 hour"))).as("grid_ts"))
      graft.operators.AsOf.joinAsOf(grid, ev, keys = Seq("user_id"),
          leftTs = "grid_ts", rightTs = "ts",
          rightCols = Seq("value", "event_id"), rightPrefix = "f_")
        .select(col("user_id"), unix_micros(col("grid_ts")).as("grid_us"),
          unix_micros(col("f_ts")).as("src_us"), col("f_value").as("value"),
          col("f_event_id").as("src_event_id"))
        .orderBy(col("user_id"), col("grid_us"))
    }),

    // per-user 24h rolling spend over EVENT TIME (range frame, not row
    // frame — sparse activity windows hold the right rows); cents keep the
    // windowed sum integer-exact (sliding-window agg algorithms associate
    // doubles differently across engines)
    "x27_rolling_24h" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("rolling_cents", sum(col("cents")).over(w))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("rolling_cents"), col("rolling_n"))
        .orderBy(col("event_id"))
    }),

    // SCD2 dimension history: each user's event_type runs collapsed to
    // validity intervals (epoch-MICROsecond stamps — the events table has
    // sub-second timestamps, and integer micros are the cross-engine-exact
    // projection; open current interval has null valid_to)
    "x23_scd2_intervals" -> ((s, dir) =>
      graft.operators.AsOf.scd2Intervals(
          Tables.events(s, dir), "user_id", "event_type",
          unix_micros(col("ts")), col("event_id"))
        .orderBy(col("user_id"), col("version"))),

    // point-in-time lookup over the SCD2 table: each user's state AS OF
    // 2024-01-15T00:00Z — the temporal-query verb the validity intervals
    // exist for (filter valid_from <= T < valid_to, open intervals
    // included); one predicate over the interval table, no join
    "ext_scd2_asof" -> ((s, dir) => {
      val t = lit(1705276800000000L) // 2024-01-15T00:00:00Z, micros
      graft.operators.AsOf.scd2Intervals(
          Tables.events(s, dir), "user_id", "event_type",
          unix_micros(col("ts")), col("event_id"))
        .filter(col("valid_from") <= t &&
          (col("valid_to").isNull || col("valid_to") > t))
        .orderBy(col("user_id"))
    }),

    // data-contract enforcement with quarantine routing
    // ([[graft.operators.Quality.quarantine]]): rows tagged with the
    // FIRST rule they fail, pass rows tagged null — graded as the per-rule
    // violation census (first-failure attribution means the counts are
    // order-sensitive, which the oracle replays)
    "ext_quarantine" -> ((s, dir) =>
      graft.operators.Quality.quarantine(Tables.events(s, dir), Seq(
          "value_le_400" -> (col("value") <= 400.0),
          "purchase_le_300" ->
            (col("event_type") =!= "purchase" || col("value") <= 300.0),
          "known_type" -> col("event_type").isin(
            "view", "click", "signup", "purchase", "error")))
        .groupBy(coalesce(col("quarantine_rule"), lit("PASS")).as("rule"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("rule"))),

    "x19_funnel" -> ((s, dir) =>
      graft.operators.Funnel.ordered(Tables.events(s, dir),
        "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"), windowSec = 86400L)),

    // SESSION-scoped funnel: the same ordered recurrence, but each step
    // must happen inside one 30-minute-gap session — composed by keying
    // Funnel.ordered on (user, session) instead of user (sessions
    // assigned by the classic gap method: lag + running sum, one window
    // over the per-user order). Counts are sessions converting, not
    // users ever converting — the product question x19 cannot answer.
    "x67_session_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("new_s",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L,
            1L).otherwise(0L))
        .withColumn("sess", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("skey", concat_ws("#", col("user_id"), col("sess")))
      graft.operators.Funnel.ordered(ev, "skey", "event_type", "ts_us",
        Seq("view", "click", "purchase"), windowSec = 0L)
    }),

    // file-level bloom index: point lookups on a uniformly-distributed id
    // — the layout where min/max skipping can never prune (every file's
    // [min, max] spans the domain); the per-file bloom opens only maybe-
    // containing files, and an absent key opens ~none. Superset guarantee:
    // pruned-then-filtered must equal the plain filter (the oracle);
    // LayoutSpec asserts the pruning itself.
    "x60_bloom_skip_index" -> ((s, dir) => {
      val out = sys.props("java.io.tmpdir") + "/graft-fbloom-" +
        math.abs(dir.hashCode)
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      // 16 files hashed on event_id: every file holds a mix of users
      ev.repartition(16, col("event_id"))
        .write.mode("overwrite").parquet(out)
      graft.operators.Layout.writeBloomIndex(s, out, "user_id")
      val keys = Seq(7L, 42L, 999999999L) // two present, one absent
      keys.map { k =>
        val (rel, _, _) = graft.operators.Layout.readBloomSkipping(s, out,
          k.toString)
        rel.filter(col("user_id") === k)
          .agg(count(lit(1)).as("n_events"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(k).as("user_id"), col("n_events"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy(col("user_id"))
    }),

    // daily cohort retention: users bucketed by first-activity date, the
    // distinct-active count at each offset day 0..13 — integer-exact
    "x20_retention" -> ((s, dir) =>
      graft.operators.Funnel.cohortRetention(Tables.events(s, dir),
        "user_id", "ts", periods = 14)),

    // bitmap retention: one bit_or-built 64-bit day mask per user, every
    // retention stat popcount/shift algebra over it — the scale form of
    // x20 (adding an offset is a bit test, not another count_distinct pass)
    "x55_bitmap_retention" -> ((s, dir) =>
      graft.operators.Funnel.bitmapRetention(Tables.events(s, dir),
        "user_id", "ts")),

    // first-order event transitions: per-user total order (ts, event_id)
    // -> lead pairs -> corpus-wide counts + integer-bp share of the
    // from-state's outgoing mass; the Markov view of the event log
    "x56_transitions" -> ((s, dir) =>
      graft.operators.Funnel.transitions(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id")),

    // funnel conversion latency: per converting user the epoch-micros gap
    // between consecutive step reach times (x19's exact recurrence via
    // Funnel.reachTimes), min/max/sum per step pair — integer-exact
    "x58_conversion_lag" -> ((s, dir) => {
      val rt = graft.operators.Funnel.reachTimes(Tables.events(s, dir),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"), windowSec = 86400L)
        .select(col("u"), col("step"), unix_micros(col("reached")).as("us"))
      rt.as("a").join(rt.as("b"),
          col("a.u") === col("b.u") && col("b.step") === col("a.step") + 1)
        .select(col("a.step").as("from_step"),
          (col("b.us") - col("a.us")).as("lag_us"))
        .groupBy(col("from_step"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("lag_us")).as("min_us"), max(col("lag_us")).as("max_us"),
          sum(col("lag_us")).as("sum_us"))
        .orderBy(col("from_step"))
    }),

    // grouped top-k OUTSIDE the ANN tier: top-3 revenue parts per nation
    // through the bounded-heap top_k_by_score aggregate — the shuffle
    // carries at most k entries per nation per task (a window form sorts
    // every part; the ann_ivf_1m soak measured that difference at 4.9 GB
    // of spill). Revenue scored in exact 1e-4-dollar integer units; the
    // long->double score cast is exact below 2^53.
    "x59_grouped_topk" -> ((s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val rev = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("l_partkey"))
        .agg((sum(graft.functions.Exact.money(col("l_extendedprice")) *
            (one - graft.functions.Exact.money(col("l_discount")))) *
            lit(10000)).cast("long").as("rev_e4"))
      val agg = ColumnBridge.column(graft.functions.TopKByScore(
        ColumnBridge.expression(col("rev_e4").cast("double")),
        ColumnBridge.expression(col("l_partkey")), k = 3)
        .toAggregateExpression())
      rev.groupBy(col("n_name")).agg(agg.as("__top"))
        .select(col("n_name"), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("n_name"), (col("__pos") + 1).cast("int").as("rank"),
          col("__e.id").as("p_partkey"), col("__e.score").cast("long").as("rev_e4"))
        .orderBy(col("n_name"), col("rank"))
    }),

    "x15_zorder" -> ((s, dir) => {
      val dx = pmod(col("user_id"), lit(256L))
      val dy = pmod(floor(abs(col("value")) * 100).cast("long"), lit(256L))
      Tables.events(s, dir).select(col("event_id"),
          graft.operators.Layout.zValue(Seq(dx, dy), bits = 8).as("zval"))
        .orderBy(col("event_id"))
    }),

    // z-order + footer skip index composed, graded end to end: the events
    // relation is z-ordered on (day, value-bucket) so every file covers a
    // tight range of BOTH dims, a min/max skip index is built from the
    // parquet FOOTERS only, and a value-range read opens just the files
    // whose range intersects — the lakehouse data-skipping pattern
    // ([[graft.operators.Layout.buildSkipIndex]]). Skipping is a superset
    // guarantee, so the filtered aggregate must equal the same query on
    // the raw table (the oracle); LayoutSpec asserts the pruning itself
    // (selected files strictly fewer than total).
    "x50_skip_index" -> ((s, dir) => {
      val out = sys.props("java.io.tmpdir") + "/graft-zskip-" +
        math.abs(dir.hashCode)
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        col("value"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      val dx = pmod(col("day").cast("long"), lit(256L))
      val dy = least(greatest(floor(col("value") / 4.0).cast("long"), lit(0L)),
        lit(255L))
      graft.operators.Layout.writeZOrdered(ev, out, Seq(dx, dy),
        bits = 8, numFiles = 16)
      graft.operators.Layout.writeSkipIndex(s, out, Seq("value", "day"))
      val (pruned, _, _) =
        graft.operators.Layout.readSkipping(s, out, "value", 100.0, 150.0)
      pruned.filter(col("value") >= 100.0 && col("value") <= 150.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // metadata-ONLY aggregation: count(*) and per-column min/max answered
    // from the skip index alone — zero data files opened (the footers
    // already paid for these numbers at write time). Exact by
    // construction, so the oracle computes the same aggregates from the
    // raw rows; LayoutSpec pins that the plan scans only _skipindex.
    "x53_stats_only" -> ((s, dir) => {
      val out = sys.props("java.io.tmpdir") + "/graft-zskip2-" +
        math.abs(dir.hashCode)
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        col("value"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      val dx = pmod(col("day").cast("long"), lit(256L))
      val dy = least(greatest(floor(col("value") / 4.0).cast("long"), lit(0L)),
        lit(255L))
      graft.operators.Layout.writeZOrdered(ev, out, Seq(dx, dy),
        bits = 8, numFiles = 16)
      graft.operators.Layout.writeSkipIndex(s, out, Seq("value", "day"))
      graft.operators.Layout.statsOnlyAggregates(s, out).orderBy(col("col"))
    }),

    // passage-level keep-first dedup (CCNet/RefinedWeb treatment): the
    // corpus cut into 3-word tiles, each distinct tile keeps its first
    // (doc_id, tile_idx) occurrence, docs reassembled from survivors —
    // a fully-duplicated doc vanishes entirely
    "x16_passage_dedup" -> ((s, dir) =>
      graft.operators.Dedup.passageDedup(
          Tables.documents(s, dir), tileWords = 3)
        .orderBy(col("doc_id"))),

    // corpus-level boilerplate removal: 2-word tiles appearing in more
    // than 15 distinct docs (headers/footers/license blocks) are stripped
    // from every doc before reassembly
    "x17_boilerplate_tiles" -> ((s, dir) =>
      graft.operators.Dedup.boilerplateTiles(
          Tables.documents(s, dir), maxDf = 15, tileWords = 2)
        .orderBy(col("doc_id"))),

    // ---- LLM-pipeline extensions: text analysis -------------------------
    "ext_text_profile" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      val t = col("text")
      Tables.ensureParallelism(Tables.documents(s, dir)).select(col("doc_id"),
        tokenCount(t).as("n_tokens"),
        punctRatio(t).as("punct_ratio"),
        stopwordRatio(t).as("stopword_ratio"),
        meanTokenLength(t).as("mean_token_len"),
        qualityScore(t).as("quality_score"))
    }),

    // Deequ-style data-quality suite over the TPC-H tables: every metric a
    // single exact division, so the pass/fail booleans themselves replay
    // bit-identically in the oracle — a quality report as a release
    // artifact. Mixed outcomes by construction (the 'P' status and
    // multi-lineitem orders make two checks fail their min=1 gates).
    "ext_quality_checks" -> ((s, dir) => {
      import graft.operators.Quality._
      // ensureParallelism: the sf fixtures are single-file tables, which
      // would run each whole-table aggregation on ONE task; at real scale
      // the scan is already wide and this no-ops
      val orders = Tables.ensureParallelism(Tables(s, dir, "orders"))
      val lineitem = Tables.ensureParallelism(Tables(s, dir, "lineitem"))
      val customer = Tables(s, dir, "customer")
      // the four orders checks ride the fused ONE-scan suite (spec-pinned
      // equal to the individual checks); uniqueness and referential keep
      // their own shapes and union on
      tableSuite(orders,
          completenessCols = Seq("o_custkey"),
          distinctnessCols = Seq("o_orderkey"),
          compliances = Seq(
            "accepted:o_orderstatus" -> col("o_orderstatus").isin("O", "F"),
            "totalprice_positive" -> (col("o_totalprice") > 0.0)))
        .unionAll(uniqueness(lineitem, "l_orderkey"))
        .unionAll(referential(orders, "o_custkey", customer, "c_custkey"))
        .orderBy(col("check"))
    }),

    // per-column profile in one aggregation pass (multi-distinct Expand,
    // not k scans); timestamp pre-cast to date so min/max string forms are
    // engine-portable
    "ext_profile_columns" -> ((s, dir) =>
      graft.operators.Quality.profileColumns(
        Tables.ensureParallelism(Tables(s, dir, "orders"))
          .withColumn("o_orderdate", col("o_orderdate").cast("date")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))
        .orderBy(col("column"))),

    // per-segment distribution moments from exact integer-cents sums: the
    // mean/variance doubles are fixed IEEE expressions over exact inputs,
    // so a data card's "mean/sigma per segment" row hash-checks
    "ext_numeric_stats" -> ((s, dir) =>
      graft.operators.Quality.numericStats(
          Tables.ensureParallelism(Tables.orders(s, dir)),
          Seq("o_orderpriority"), "o_totalprice")
        .orderBy(col("o_orderpriority"))),

    // Gopher-style structural rule filter: the published rule metrics plus
    // the composite keep decision; every ratio is a single integer/integer
    // division (no accumulation), so the doubles replay bit-identically
    "ext_gopher_rules" -> ((s, dir) =>
      graft.operators.TextAnalysis.gopherRules(
          Tables.ensureParallelism(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_line_frac"),
          col("ellipsis_line_frac"), col("alpha_word_frac"),
          col("gopher_keep"))),

    // Unicode normalization for multilingual dedup keys: composed and
    // decomposed forms must produce identical fingerprint keys. Graded
    // over an inline relation because the generated documents are ASCII —
    // the fixture carries composed/decomposed pairs, ligatures and
    // non-decomposable letters (ß, ﬁ, ø must survive stripping)
    "ext_text_normalize" -> ((s, dir) => {
      import s.implicits._
      val T = graft.functions.TextNorm
      unicodeFixture.toDF("id", "s")
        .select(col("id"), T.nfc(col("s")).as("nfc"),
          T.stripAccents(col("s")).as("stripped"),
          T.foldKey(col("s")).as("fold_key"))
        .orderBy(col("id"))
    }),

    // the same normalization reached through SQL TEXT via the
    // GraftExtensions function registry (graft_nfc / graft_strip_accents /
    // graft_fold_key) — the production surface for SQL-first users. Graded
    // against the identical DuckDB oracle as the Column form; PlanSpec pins
    // the two forms to the same optimized plan.
    "ext_text_normalize_sql" -> ((s, dir) => {
      import s.implicits._
      unicodeFixture.toDF("id", "s").createOrReplaceTempView("graft_unicode_fixture")
      s.sql("""SELECT id, graft_nfc(s) AS nfc,
              |  graft_strip_accents(s) AS stripped,
              |  graft_fold_key(s) AS fold_key
              |FROM graft_unicode_fixture ORDER BY id""".stripMargin)
    }),

    "ext_lang_id" -> ((s, dir) =>
      Tables.ensureParallelism(Tables.documents(s, dir)).select(col("doc_id"),
        graft.operators.TextAnalysis.langId(col("text")).as("lang_pred"))),

    // the eval tier grading the engine's OWN classifier: langId's
    // English-vs-rest confusion against the corpus labels — the
    // composition a real curation pipeline runs before trusting a filter
    "ext_langid_eval" -> ((s, dir) => {
      val docs = Tables.ensureParallelism(Tables.documents(s, dir))
      graft.operators.Eval.confusion(docs,
        col("lang") === "en",
        graft.operators.TextAnalysis.langId(col("text")) === "en")
    }),

    // corpus data card: per-(source, language) release summary — counts
    // and integer sums only (no float means), so the artifact is
    // engine-portable by construction
    "ext_data_card" -> ((s, dir) =>
      graft.operators.TextAnalysis.dataCard(
          Tables.ensureParallelism(Tables.documents(s, dir)))
        .orderBy(col("source"), col("lang_pred"))),

    // real greedy-merge subword tokenization over the generated merge table
    // (replaces the approxBpeCount heuristic as the graded token counter);
    // the oracle replays the identical greedy scan as a recursive CTE over
    // the same table embedded as SQL literals
    "ext_bpe_tokens" -> ((s, dir) =>
      Tables.ensureParallelism(Tables.documents(s, dir)).select(col("doc_id"),
        graft.functions.Bpe.tokenCount(graft.operators.Dedup.normalize(col("text")))
          .as("n_bpe_tokens"))),

    // the learning half of BPE: top-50 adjacent char-pair frequencies over
    // the corpus (the statistic each training round ranks); deterministic
    // tie-break by pair text
    "ext_bpe_pair_stats" -> ((s, dir) =>
      graft.functions.Bpe.pairStats(
        Tables.ensureParallelism(Tables.documents(s, dir)), k = 50)),

    // corpus-df rarity scoring (inverse-frequency novelty signal; integer
    // sums keep it engine-exact)
    "ext_doc_rarity" -> ((s, dir) =>
      graft.operators.TextAnalysis.docRarity(Tables.documents(s, dir))),

    // per-doc top-3 distinctive keywords by (tf DESC, df ASC, token) — the
    // integer-exact tf-idf rank order, no cross-engine log hazards
    "ext_keywords" -> ((s, dir) =>
      graft.operators.TextAnalysis.topKeywords(Tables.documents(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // count-min sketch (md5 hash rows — engine-portable, so the DuckDB
    // oracle rebuilds the IDENTICAL sketch): estimates for the exact
    // top-30 tokens, alongside truth. One-sided error is part of the
    // hash: every cm_n >= exact_n or the oracle fails.
    "ext_countmin_topk" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val toks = Tables.ensureParallelism(Tables.documents(s, dir))
        .select(explode(split(graft.operators.Dedup.normalize(col("text")), " ")).as("tok"))
      val sketch = Sk.countMinBuild(toks, "tok", depth = 4, width = 1024)
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(30)
      Sk.countMinEstimate(sketch, exact, "tok", depth = 4, width = 1024,
          estCol = "cm_n")
        .join(exact, "tok")
        .select(col("tok"), col("exact_n"), col("cm_n"))
        .orderBy(col("exact_n").desc, col("tok"))
    }),

    // HyperLogLog distinct-shingle estimate vs truth: the registers, the
    // exact-integer register sum AND the two-rounding double estimate all
    // hash-match the DuckDB rebuild of the same md5 register table
    "ext_hll_distinct" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val sh = Tables.ensureParallelism(Tables.documents(s, dir))
        .select(explode(graft.operators.Dedup.wordShingles(col("text"), 5)).as("sh"))
      val est = Sk.hllEstimate(Sk.hllBuild(sh, "sh", p = 10), p = 10)
      est.crossJoin(sh.agg(count_distinct(col("sh")).as("exact_distinct")))
    }),

    // join-size estimate from two count-min sketches (inner product, min
    // over rows — one-sided like the point estimate): plan-time
    // cardinality with NO scan of either relation at estimate time
    "ext_join_estimate" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val li = Tables.lineitem(s, dir)
      val os = Tables.orders(s, dir)
      val est = Sk.cmJoinSizeEstimate(
        Sk.countMinBuild(li, "l_orderkey", depth = 4, width = 1 << 20),
        Sk.countMinBuild(os, "o_orderkey", depth = 4, width = 1 << 20), depth = 4)
      val exact = li.join(os, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_n"))
      est.crossJoin(exact)
    }),

    // Tukey-fence outliers from SAMPLED quartiles: the corpus is never
    // sorted, fences broadcast, flags fall out of one scan-parallel filter
    "ext_outlier_iqr" -> ((s, dir) =>
      graft.operators.Quality.iqrOutliers(
          Tables.events(s, dir).select(col("event_id"), col("value")),
          "value", col("event_id"), 1.0 / 4)
        .orderBy(col("event_id"))),

    // fixed-point PSI drift monitor between the two doc_id halves over
    // n_chars buckets — integer-exact end to end (a drift alert must not
    // be flaky in the last ulp); the bucket terms sum order-independently
    "ext_drift_psi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Quality.psiDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          floor(col("n_chars") / lit(64)))
        .orderBy(col("bucket"))
    }),

    // EMBEDDING drift: the PSI monitor lifted to vectors — each embedding
    // buckets by the sign pattern of 4 seeded hyperplane projections (16
    // cells, the LSH sketch of the distribution), then the same
    // fixed-point PSI compares the two corpus halves. At 100 TB this is
    // how you watch an embedding model's output distribution move without
    // ever pairing vectors: per-row projections, then counts.
    "ext_embedding_drift" -> ((s, dir) => {
      val proj = graft.operators.Similarity.randomProject(
        col("embedding").cast("array<double>"), outDim = 4, dim = 64)
      val bucket = (0 until 4).map(i =>
          when(element_at(proj, i + 1) >= 0.0, lit(1L << i))
            .otherwise(lit(0L)))
        .reduce(_ + _)
      val b = Tables.embeddings(s, dir)
        .select(col("vec_id"), bucket.as("bucket"))
      graft.operators.Quality.psiDrift(
          b.filter(col("vec_id") % 2 === 0),
          b.filter(col("vec_id") % 2 === 1),
          col("bucket"))
        .orderBy(col("bucket"))
    }),

    // per-group HLL: distinct-shingle estimate PER LANGUAGE from one pass
    // — G * 2^p counter rows total; each lang's slice is a standalone
    // mergeable sketch. Registers, integer evidence and the two-rounding
    // double all hash-match the grouped DuckDB rebuild; exact truth joined
    // alongside
    "ext_hll_groups" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val sh = Tables.ensureParallelism(Tables.documents(s, dir))
        .select(col("lang"),
          explode(graft.operators.Dedup.wordShingles(col("text"), 5)).as("sh"))
      val est = Sk.hllEstimateGrouped(
        Sk.hllBuildGrouped(sh, "sh", Seq("lang"), p = 10), Seq("lang"), p = 10)
      val exact = sh.groupBy(col("lang"))
        .agg(count_distinct(col("sh")).as("exact_distinct"))
      est.join(exact, "lang").orderBy(col("lang"))
    }),

    // sliding-window distinct via sketch REUSE: per-day HLL registers of
    // the active-user set built once, then every 7-day window answered by
    // register max-merge — the pattern that replaces 7x re-scans of the
    // log with algebra over D * 2^p counter rows. Registers, integer
    // evidence, the two-rounding estimate AND the exact windowed truth
    // all hash-match the DuckDB rebuild.
    "ext_hll_sliding" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val ev = Tables.events(s, dir).select(
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"),
        col("user_id"))
      val regs = Sk.hllBuildGrouped(ev, "user_id", Seq("day"), p = 10)
      val days = regs.select(col("day")).distinct().select(col("day").as("d"))
      val win = regs.join(broadcast(days),
          col("day").between(col("d") - 6, col("d")))
        .groupBy(col("d"), col("bucket")).agg(max(col("register")).as("register"))
      val est = Sk.hllEstimateGrouped(win, Seq("d"), p = 10)
      val exact = ev.join(broadcast(days),
          col("day").between(col("d") - 6, col("d")))
        .groupBy(col("d")).agg(count_distinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "d").orderBy(col("d"))
    }),

    // KMV corpus-overlap estimate: distinct shingles SHARED by the two
    // doc_id-parity halves, from two 512-hash sketches alone — the set
    // operation HLL can't do. Sketches, union-kth-min, match count and
    // both single-division estimates all hash-match the DuckDB rebuild
    "ext_kmv_overlap" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val docs = Tables.ensureParallelism(Tables.documents(s, dir))
      def half(par: Int) = docs.filter(col("doc_id") % 2 === par)
        .select(explode(graft.operators.Dedup.wordShingles(col("text"), 5)).as("sh"))
      val k = 512
      // each sketch feeds the union AND a membership join; the union
      // feeds the kth-min AND the match count — cut the tiny frames
      val ka = graft.util.Checkpoints.cut(Sk.kmvBuild(half(0), "sh", k))
      val kb = graft.util.Checkpoints.cut(Sk.kmvBuild(half(1), "sh", k))
      val ku = graft.util.Checkpoints.cut(Sk.kmvUnion(ka, kb, k))
      val hk = ku.agg(max(col("h")).as("h_k"))
      val m = ku.join(ka, "h").join(kb, "h").agg(count(lit(1)).as("m"))
      val exact = half(0).distinct().join(half(1).distinct(), "sh")
        .agg(count(lit(1)).as("exact_intersection"))
      hk.crossJoin(m).crossJoin(exact)
        .select(lit(k.toLong).as("k"), col("h_k"), col("m"),
          (lit((k - 1).toLong * 4294967296L).cast("double") /
            col("h_k").cast("double")).as("est_union"),
          ((col("m") * lit((k - 1).toLong) * lit(4294967296L)).cast("double") /
            (lit(k.toLong) * col("h_k")).cast("double")).as("est_intersection"),
          col("exact_intersection"))
    }),

    // hybrid retrieval: BM25 lexical ranks fused with dense ANN ranks by
    // reciprocal-rank fusion in scaled integers (1e6 div (60 + rank), the
    // standard RRF with k=60) — deterministic end to end, full-outer so a
    // doc ranked by either system can win
    "ext_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = graft.operators.TextAnalysis.bm25Search(
          Tables.documents(s, dir), Seq("spark", "stream", "window", "dup"), k = 50)
        .withColumn("brank", row_number()
          .over(Window.orderBy(col("score_fp").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("brank"))
      val emb = Tables.embeddings(s, dir)
      val kn = graft.operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0).withColumnRenamed("vec_id", "q_id"), k = 50)
        .select(col("vec_id").as("kid"), col("rank").cast("long").as("krank"))
      bm.join(kn, col("id") === col("kid"), "full_outer")
        .select(coalesce(col("id"), col("kid")).as("id"), col("brank"), col("krank"))
        .withColumn("rrf_fp",
          coalesce(expr("1000000 div (60 + brank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + krank)"), lit(0L)))
        .orderBy(col("rrf_fp").desc, col("id"))
        .limit(20)
    }),

    // BM25 ranked retrieval, fixed-point: piecewise-linear log2 idf +
    // rational-k1/b saturation, all-integer scoring so the ranking is
    // engine-exact ("dup" is the rare high-idf term; the others spread tf)
    "ext_bm25_search" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25Search(
        Tables.documents(s, dir), Seq("spark", "stream", "window", "dup"), k = 20)),

    // weighted sampling without replacement: min-of-w md5 draws as the
    // priority (integer ordering only — no ln/pow to round differently
    // cross-engine), k smallest win; length-weighted so longer docs are
    // proportionally favored
    "ext_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id",
          lit(1L) + floor(col("n_chars") / lit(128)).cast("long"), k = 50)
        .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
        .orderBy(col("doc_id"))),

    // per-group sample quantiles: one bounded sample, independent rank
    // selection per l_returnflag group (the per-domain P50/P95 shape)
    "ext_quantile_groups" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val id = concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string"))
      graft.operators.Sketch.sampleQuantilesGrouped(
          li, "l_extendedprice", id, Seq("l_returnflag"), 1.0 / 16,
          Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy(col("l_returnflag"), col("q"))
    }),

    // sample-based quantiles next to the exact rank selection they
    // approximate: the sample path filters the corpus scan-parallel and
    // sorts ONLY the bounded sample (the 100 TB percentile pattern); both
    // value columns are picked ELEMENTS under a (value, id) order — no
    // interpolation arithmetic — so the whole row hash-matches the DuckDB
    // replay of the same md5 draw
    "ext_quantile_sample" -> ((s, dir) => {
      val Sk = graft.operators.Sketch
      val li = Tables.lineitem(s, dir)
      val id = concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string"))
      val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
      val samp = Sk.sampleQuantiles(li, "l_extendedprice", id, 1.0 / 16, qs)
        .select(col("q"), col("sample_n"), col("value").as("v_sample"))
      val exact = Sk.sampleQuantiles(li, "l_extendedprice", id, 1.0, qs)
        .select(col("q"), col("sample_n").as("exact_n"), col("value").as("v_exact"))
      samp.join(exact, "q").orderBy(col("q"))
    }),

    // REAL BPE merge training in-engine (Sennrich): six rounds of
    // pick-most-frequent-adjacent-pair + merge-everywhere over the word-
    // frequency vocabulary; the DuckDB oracle replays pair counting,
    // (n DESC, a, b) selection, and the greedy merge fold (list_reduce)
    // round for round
    "ext_bpe_train" -> ((s, dir) =>
      graft.functions.Bpe.trainMerges(Tables.documents(s, dir), rounds = 6)),

    // train-then-apply: the corpus tokenized by the merges just learned on
    // it — per-doc subword totals via a vocab-sized join, the trained
    // segmentation never recomputed per occurrence
    "ext_bpe_encode" -> ((s, dir) =>
      graft.functions.Bpe.encodeWithTrainedMerges(Tables.documents(s, dir), rounds = 6)
        .orderBy(col("doc_id"))),

    // monitoring-shaped quantiles: fixed-bucket histogram counts (additive,
    // keys x 256 counter rows of state) + a stateless "p99 <= upper"
    // projection — the Prometheus histogram_quantile pattern, exact
    // arithmetic so any engine derives the same bucket from the same
    // counts. The streaming twin maintains the SAME counts in complete
    // mode and shares this oracle.
    "ext_histogram_quantile" -> ((s, dir) =>
      graft.operators.Quality.histogramQuantileReport(
          graft.operators.Quality.histogramCounts(
            Tables.events(s, dir), "event_type", "value", step = 4.0),
          Seq(0.5, 0.95, 0.99), step = 4.0)
        .select(col("key").as("event_type"), col("q"), col("total_n"),
          col("bucket"), col("upper"))
        .orderBy(col("event_type"), col("q"))),

    // exact phrase search over the positional inverted index — the
    // retrieval shape bag-of-words BM25 cannot express (tokens must be
    // CONSECUTIVE); per-term postings equi-join on (doc, pos - offset)
    "ext_phrase_search" -> ((s, dir) =>
      graft.operators.TextAnalysis.phraseSearch(
        Tables.documents(s, dir), Seq("slow", "hash", "batch"))),

    // embedding-quality eval: 1-NN label classification over the corpus
    // (each query predicted by its nearest OTHER vector's label) with the
    // per-query verdict and the exact-ratio accuracy in every row — the
    // standard quick probe of whether an embedding space separates labels
    "ext_knn_classify_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 50).withColumnRenamed("vec_id", "q_id")
      val pred = graft.operators.Similarity.bruteForceTopK(emb, q, k = 1)
        .select(col("q_id"), col("vec_id").as("nn_id"))
        .join(emb.select(col("vec_id").as("nn_id"), col("label").as("pred")), "nn_id")
        .join(q.select(col("q_id"), col("label").as("truth")), "q_id")
        .select(col("q_id"), col("nn_id"), col("pred"), col("truth"),
          (col("pred") === col("truth")).as("correct"))
      pred.crossJoin(broadcast(pred.agg(
          (sum(when(col("correct"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("accuracy"))))
        .orderBy(col("q_id"))
    }),

    // contrastive TRIPLETS, the tier's capstone: each anchor pairs its
    // HARDEST same-label positive (top-1 by cosine) with its 4 sampled
    // uniform negatives — the (anchor, positive, negative) rows a triplet
    // loss consumes, every choice deterministic and oracle-replayed
    "x54_triplets" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
      val pos = graft.operators.Similarity.hardPositives(emb, q, k = 1)
        .select(col("q_id").as("anchor_id"), col("vec_id").as("pos_id"),
          col("cosine").as("pos_cosine"))
      val neg = graft.operators.Sampling.negativeSample(emb, k = 4)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"), col("neg_slot"), col("neg_id"))
      pos.join(neg, "anchor_id")
        .select(col("anchor_id"), col("pos_id"), col("pos_cosine"),
          col("neg_slot"), col("neg_id"))
        .orderBy(col("anchor_id"), col("neg_slot"))
    }),

    // HARD negatives: per query the top-5 most-similar DIFFERENT-label
    // vectors (near-the-margin pairs; uniform negatives go stale) —
    // exact here, the same label predicate rides an IVF probe at scale
    "ext_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5)
    }),

    // deterministic label-stratified negative sampling (contrastive
    // training pairs): every choice a content-hash function resolved by
    // equi-join on (donor label, permutation rank) — no all-pairs scoring
    "ext_negative_sample" -> ((s, dir) =>
      graft.operators.Sampling.negativeSample(Tables.embeddings(s, dir), k = 4)
        .orderBy(col("vec_id"), col("neg_slot"))),

    // robust outliers: |v - median| > 3 * MAD with BOTH statistics
    // rank-exact per key ([[graft.operators.Quality.madOutliers]] —
    // median/MAD have a 50% breakdown point where mean/stddev get
    // dragged by the outliers they hunt)
    "ext_outlier_mad" -> ((s, dir) =>
      graft.operators.Quality.madOutliers(
          Tables.events(s, dir), "event_type", "event_id", "value")
        .orderBy(col("event_type"), col("event_id"))),

    // the per-key form: exact p50/p99 per return flag via the same
    // refinement, every per-key range/bucket choice joined as broadcast
    // config ([[graft.operators.Sketch.exactQuantilesByKey]])
    "ext_quantile_exact_groups" -> ((s, dir) =>
      graft.operators.Sketch.exactQuantilesByKey(
          Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
          Seq(0.5, 0.9, 0.99))
        .withColumnRenamed("l_returnflag", "flag")),

    // distributed EXACT quantiles with NO global sort: two count-histogram
    // refinement rounds locate each rank's 1/B² value slice, a final
    // aggregation keys only that slice by exact value — shuffles carry
    // counts, never values ([[graft.operators.Sketch.exactQuantiles]]; the
    // quantile_exact_20m soak measured Spark's own percentile() holding
    // all 20M values in one 140 s reducer for the same answer)
    "ext_quantile_exact_dist" -> ((s, dir) =>
      graft.operators.Sketch.exactQuantiles(
        Tables.lineitem(s, dir), "l_extendedprice",
        Seq(0.01, 0.5, 0.9, 0.99, 0.999))),

    "ext_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.operators.TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    "ext_rolling_hash" -> ((s, dir) =>
      // order-sensitive token-stream hash as a chained md5 fold —
      // engine-portable, replayed exactly by DuckDB's list_reduce
      Tables.ensureParallelism(Tables.documents(s, dir)).select(col("doc_id"),
        graft.operators.TextAnalysis.rollingHash(col("text")).as("rhash"))),

    "ext_repetition" -> ((s, dir) => {
      // Gopher-style in-document repetition signals: duplicate-token
      // fraction and top-bigram share (boilerplate/spam filters).
      // Two-step select: the fraction derives from the already-computed
      // count column — CollapseProject's non-cheap guard keeps the
      // sort+fold evaluated ONCE per doc (verified: one array_sort in the
      // optimized plan), where a direct topBigramFraction(text) would pay
      // it twice.
      import graft.operators.TextAnalysis._
      Tables.ensureParallelism(Tables.documents(s, dir))
        .select(col("doc_id"),
          dupTokenFraction(col("text")).as("dup_token_fraction"),
          topBigramCount(col("text")).as("top_bigram_count"),
          bigramDenominator(col("text")).as("__nb"))
        .select(col("doc_id"), col("dup_token_fraction"), col("top_bigram_count"),
          (col("top_bigram_count").cast("double") / col("__nb"))
            .as("top_bigram_fraction"))
    }),

    "ext_strip_markup" -> ((s, dir) => {
      // deterministic synthetic markup is wrapped around each doc (the
      // corpus itself is plain text), then stripped; the oracle regenerates
      // the same wrapping and applies the same engine-portable regexes
      import graft.operators.TextAnalysis
      val marked = Tables.ensureParallelism(Tables.documents(s, dir))
        .withColumn("t", concat(
          lit("<html><body id=\"d"), col("doc_id").cast("string"),
          lit("\"><p>"), col("text"),
          lit("</p><br/>&amp;copy; source&gt;</body></html>")))
      // two-step select: n_clean derives from the already-computed column,
      // so the regex chain runs once per doc (CollapseProject's non-cheap
      // guard keeps the projections separate)
      marked.select(col("doc_id"), TextAnalysis.stripMarkup(col("t")).as("clean"))
        .select(col("doc_id"), col("clean"), length(col("clean")).as("n_clean"))
    }),

    "ext_vocab_topk" -> ((s, dir) =>
      // corpus-level token frequency top-100: explode -> partial-agg count
      // -> TakeOrdered (ties by token text)
      graft.operators.TextAnalysis.vocabTopK(
        Tables.ensureParallelism(Tables.documents(s, dir)), "text", 100)),

    // per-source OOV rate against the corpus top-100 vocabulary: the
    // tokenizer-coverage question (which sources fall outside a vocab
    // size, in integer basis points)
    "ext_vocab_coverage" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabCoverage(
          Tables.ensureParallelism(Tables.documents(s, dir)), "source",
          "text", 100)
        .orderBy(col("source"))),

    // winsorized per-type stats: exact global p05/p95 of the cents column
    // (count-histogram refinement, [[graft.operators.Sketch.exactQuantiles]])
    // clamp every value — robust-mean prep where trimming bounds, not
    // drops, the tails. Quantiles are two driver-collected longs; the
    // clamped aggregation is one combinable pass.
    "ext_winsorize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val qv = graft.operators.Sketch.exactQuantiles(ev, "cents",
          Seq(0.05, 0.95))
        .select(col("q"), col("value")).collect()
        .map(r => r.getDouble(0) -> r.getDouble(1).toLong).toMap
      val (lo, hi) = (qv(0.05), qv(0.95))
      ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(least(greatest(col("cents"), lit(lo)), lit(hi)))
            .as("winsorized_cents"),
          sum(when(col("cents") < lo, 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("cents") > hi, 1L).otherwise(0L)).as("n_clip_hi"))
        .orderBy(col("event_type"))
    }),

    "ext_bigram_quality" -> ((s, dir) =>
      // bigram-LM perplexity-proxy filter: counts trained on the 80%
      // content-hash split, every doc scored (integer log2 buckets)
      graft.operators.TextAnalysis.bigramQuality(
        Tables.ensureParallelism(Tables.documents(s, dir)))),

    "ext_dsir_resample" -> ((s, dir) =>
      // DSIR importance resampling toward the src0-src4 "target domain":
      // target-vs-corpus bigram-LM likelihood ratio -> clamped weight ->
      // deterministic content-hash repeat
      graft.operators.TextAnalysis.dsirResample(
        Tables.ensureParallelism(Tables.documents(s, dir)),
        col("source").isin("src0", "src1", "src2", "src3", "src4"))),

    // k-anonymity audit: group sizes over the (nation, segment) quasi-
    // identifier pair on customers, groups under k=5 flagged — the
    // re-identification screen a privacy-conscious pipeline runs before a
    // table is joined into a training corpus
    "ext_k_anonymity" -> ((s, dir) =>
      graft.operators.Pii.kAnonymity(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 5)),

    // l-diversity audit over the same quasi-identifier: a big group whose
    // members all share one account-balance band still leaks (homogeneity
    // attack) — groups carrying fewer than 3 distinct sensitive bands are
    // flagged even when k-anonymity passes them
    "ext_l_diversity" -> ((s, dir) =>
      graft.operators.Pii.lDiversity(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long"), l = 3)),

    "ext_pii_redact" -> ((s, dir) => {
      // deterministic synthetic PII is appended per doc (the corpus itself
      // is clean), then counted and scrubbed; the oracle regenerates the
      // same text and applies the same engine-portable regexes
      import graft.operators.Pii
      val withPii = Tables.ensureParallelism(Tables.documents(s, dir))
        .withColumn("t", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 or call +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      withPii.select(col("doc_id"),
        Pii.emailCount(col("t")).as("email_ct"),
        Pii.ipv4Count(col("t")).as("ip_ct"),
        Pii.phoneCount(col("t")).as("phone_ct"),
        Pii.redact(col("t")).as("redacted"))
    }),

    "ext_quantize" -> ((s, dir) => {
      // int8 embedding quantization (4x storage at 100 TB): scale, int8
      // stats and the cosine between original and dequantized vectors,
      // all oracle-checked
      import graft.functions.Vectors
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("scale", Vectors.quantScale(col("e")))
        .withColumn("q", Vectors.quantizeInt8(col("e"), col("scale")))
        .withColumn("deq", Vectors.dequantize(col("q"), col("scale")))
        .select(col("vec_id"), col("scale"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          Vectors.cosine(col("e"), col("deq")).as("cos_dequant"))
    }),

    // ---- LLM-pipeline extensions: dedup --------------------------------
    "ext_dedup_exact" -> ((s, dir) =>
      graft.operators.Dedup.exact(Tables.documents(s, dir)).select(col("doc_id"))),

    "ext_dedup_minhash" -> ((s, dir) =>
      graft.operators.Dedup.minhashCandidates(Tables.documents(s, dir))
        .orderBy(col("id_a"), col("id_b"))),

    // incremental dedup — the production shape: the "new" tenth of the
    // corpus dedups against the stored band index of the other nine
    // tenths. Old x old pairs are never re-emitted and old docs are never
    // re-shingled (the corpus side contributes bare stored keys).
    "ext_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldBands = graft.operators.Dedup.minhashBands(
        docs.filter(col("doc_id") % 10 =!= 0))
      graft.operators.Dedup.minhashCandidatesIncremental(
          docs.filter(col("doc_id") % 10 === 0), oldBands)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "ext_dedup_ngram" -> ((s, dir) =>
      graft.operators.Dedup.nearDuplicates(Tables.documents(s, dir), threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // SQL-registry twin for the simhash expression: pure SQL text through
    // GraftExtensions' function registry, graded against the DuckDB bit
    // replay — the third registry row (after fold-key and graft_top_k)
    // proving the SQL surface is the same engine, not a parallel one
    "ext_simhash_sql" -> ((s, dir) => {
      // graft_simhash takes the distinct token ARRAY (the expression's
      // contract) — the tokenization spelled in SQL is byte-identical to
      // Dedup.simhash's Column form
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs_sh")
      s.sql("""SELECT doc_id, graft_simhash(
              |  array_distinct(split(regexp_replace(lower(trim(text)), '\\s+', ' '), ' '))
              |) AS sim
              |FROM graft_docs_sh ORDER BY doc_id""".stripMargin)
    }),

    // dedup-quality evaluation — the measurement a pipeline owner runs
    // before trusting LSH at 100 TB: banding candidates vs the EXACT
    // threshold-pair truth set (prefix-pruned, proven lossless by its own
    // oracle), reduced to TP/FN/FP counts and integer basis-point
    // precision/recall. All set algebra, no floats until never.
    "ext_dedup_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // r16: BOTH pair sets are consumed twice (their own count + the
      // intersect), and each is an expensive derivation (prefix-filter
      // join / LSH band join) — cut once, pay the join once (guide §1.2
      // "don't compute things twice"; same device as the graph loops).
      // r17 (guide §2.6): the two derivations are INDEPENDENT, so their
      // eager materializations overlap on driver threads — the lighter
      // LSH pass back-fills the prefix join's stage tails instead of
      // waiting for it
      val Seq(truth, cand) = graft.util.Par.all(s)(
        () => graft.util.Checkpoints.cut(graft.operators.Dedup
          .prefixJaccardPairs(docs, thrNum = 3, thrDen = 10)
          .select(col("id_a"), col("id_b"))),
        () => graft.util.Checkpoints.cut(
          graft.operators.Dedup.minhashCandidates(docs)
            .select(col("id_a"), col("id_b")).distinct()))
      val tp = cand.intersect(truth)
      truth.agg(count(lit(1)).as("truth_pairs"))
        .crossJoin(cand.agg(count(lit(1)).as("cand_pairs")))
        .crossJoin(tp.agg(count(lit(1)).as("tp")))
        .selectExpr("truth_pairs", "cand_pairs", "tp",
          "truth_pairs - tp AS false_negatives",
          "cand_pairs - tp AS false_positives",
          "tp * 10000 div cand_pairs AS precision_bp",
          "tp * 10000 div truth_pairs AS recall_bp")
    }),

    // ---- evaluation-metrics tier ([[graft.operators.Eval]]): grade the
    // classifiers and retrievers a curation pipeline runs. All metrics
    // are exact-integer assembled; doubles appear only in one final
    // mirrored division or an ordered literal-weight fold. ----

    // exact ROC-AUC per user segment — can the spend amount rank
    // purchases above other events? Mann-Whitney over a
    // (segment, floor(value)) histogram: the one shuffle carries a row
    // per distinct integer score (never the raw events), ties count
    // half, and everything stays long until the single division
    "ext_auc" -> ((s, dir) =>
      graft.operators.Eval.aucByGroup(Tables.events(s, dir),
          pmod(col("user_id"), lit(4L)),
          floor(col("value")),
          col("event_type") === "purchase")
        .orderBy(col("segment"))),

    // confusion-matrix suite for the rule classifier "value >= 150 means
    // purchase": tp/fp/fn/tn plus precision/recall/F1/accuracy/Cohen's
    // kappa in ONE combinable aggregate; kappa's n-squared products widen
    // through decimal(18,0) so they stay exact at any corpus size and
    // inside both engines' 38-digit decimal ceiling
    "ext_eval_confusion" -> ((s, dir) =>
      graft.operators.Eval.confusion(Tables.events(s, dir),
        col("event_type") === "purchase", col("value") >= 150.0)),

    // multi-touch attribution ([[graft.operators.Funnel.attributionEven]]):
    // each purchase's value split in exact integer cents across the
    // user's clicks in a 3-day lookback, remainder to the first touch —
    // per conversion the credits sum to the conversion exactly (books
    // balance at any rollup), which a float 1/n split cannot guarantee.
    // The pair stage is the interval-join shape: equi-join on user plus a
    // time-range residual.
    "ext_attribution" -> ((s, dir) =>
      graft.operators.Funnel.attributionEven(Tables.events(s, dir),
          "user_id", "event_type", "ts", "event_id", "value",
          convType = "purchase", touchType = "click",
          windowSec = 3L * 86400L)
        .orderBy(col("conv_id"), col("touch_rank"))),

    // regression eval, completing the metric suite (classification,
    // ranking, calibration, clustering — now point prediction): the
    // "user-mean predictor" (integer lower mean of the user's cents)
    // scored by MAE and RMSE per event type — residuals and their squares
    // are exact longs (|res| < 2^31 keeps the square-sum in long range to
    // ~2^32 rows per group; widen through decimal beyond), with one
    // division (and one sqrt) per metric at the end
    "ext_regression_eval" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), (money(col("value")) * 100).cast("long").as("cents"))
      val pred = ev.groupBy(col("user_id"))
        .agg(expr("sum(cents) div count(1)").as("pred_cents"))
      ev.join(pred, Seq("user_id"))
        .withColumn("res", col("cents") - col("pred_cents"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("res"))).as("abs_sum"),
          sum(col("res") * col("res")).as("sq_sum"))
        .select(col("event_type"), col("n"),
          (col("abs_sum").cast("double") / col("n").cast("double"))
            .as("mae_cents"),
          sqrt(col("sq_sum").cast("double") / col("n").cast("double"))
            .as("rmse_cents"))
        .orderBy(col("event_type"))
    }),

    // calibration reliability table for the same score: ten equal-width
    // confidence bins, per-bin exact counts, observed accuracy and
    // |claimed - observed| gap — the table an ECE sums. Shuffle carries
    // ten rows; every double is one mirrored division (or abs of their
    // difference) of exact longs.
    "ext_calibration" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 50.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_pos"))
        .select(col("bin"), col("n"), col("n_pos"),
          ((col("bin").cast("double") + 0.5) / 10.0).as("conf"),
          (col("n_pos").cast("double") / col("n").cast("double")).as("acc"))
        .withColumn("gap", abs(col("conf") - col("acc")))
        .orderBy(col("bin"))),

    // retrieval eval, MRR@10: the tf retriever's ranked run
    // ([[graft.operators.Eval.rankedRun]] — inverted-index shape, tf
    // counted in one pass, bounded-heap top-k so the shuffle carries at
    // most 10 candidates per term per task) graded against "an English
    // doc is relevant". Reciprocal ranks stay integer via the LCM trick
    // (2520 div rank is exact for rank <= 10), so each per-query rr and
    // the corpus MRR are single divisions of longs.
    "ext_search_mrr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val run = graft.operators.Eval.rankedRun(
        docs, col("text"), col("doc_id"), evalTerms, k = 10)
      // cut once: the run feeds three consumers (per-query distinct,
      // first-relevant ranks, the corpus MRR row) — without the cut each
      // would re-run the corpus tokenization scan
      val rel = graft.util.Checkpoints.cut(run.join(
        docs.select(col("doc_id"), (col("lang") === "en").as("is_rel")),
        Seq("doc_id")))
      val firsts = rel.filter(col("is_rel"))
        .groupBy(col("query")).agg(min(col("rank")).as("first_rank"))
      val perQ = rel.select(col("query")).distinct()
        .join(firsts, Seq("query"), "left")
        .withColumn("rr_num", when(col("first_rank").isNull, 0L)
          .otherwise(expr("2520 div first_rank")))
        .select(col("query"), coalesce(col("first_rank"), lit(0L)).as("first_rank"),
          (col("rr_num").cast("double") / lit(2520.0)).as("rr"), col("rr_num"))
      val all = perQ.agg(sum(col("rr_num")).as("num"))
        .select(lit("*all*").as("query"), lit(0L).as("first_rank"),
          (col("num").cast("double") / lit(2520.0 * evalTerms.size)).as("rr"),
          col("num").as("rr_num"))
      perQ.unionByName(all).orderBy(col("query"))
    }),

    // retrieval eval, NDCG@10 with graded relevance (en=2, de=1, else
    // 0): DCG and ideal DCG are ordered left folds of rel x literal
    // 1/log2(rank+1) weights ([[graft.operators.Eval.dcgFold]] — the
    // weights are computed ONCE driver-side and fed to both engines as
    // string-cast double literals), so even the doubles hash-match; the
    // final ndcg is one division
    "ext_search_ndcg" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val k = 10
      val run = graft.operators.Eval.rankedRun(
        docs, col("text"), col("doc_id"), evalTerms, k)
      run.join(docs.select(col("doc_id"),
          when(col("lang") === "en", 2).when(col("lang") === "de", 1)
            .otherwise(0).as("grel")), Seq("doc_id"))
        .groupBy(col("query"))
        .agg(sort_array(collect_list(struct(col("rank"), col("grel"))))
          .as("hits"))
        .select(col("query"),
          concat(transform(col("hits"), h => h.getField("grel")),
            array_repeat(lit(0),
              (lit(k) - size(col("hits"))).cast("int"))).as("rels"))
        .select(col("query"),
          graft.operators.Eval.dcgFold(col("rels"), k).as("dcg"),
          graft.operators.Eval.dcgFold(
            sort_array(col("rels"), asc = false), k).as("idcg"))
        .withColumn("ndcg",
          when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(0.0))
        .orderBy(col("query"))
    }),

    // PMI collocation mining: top-50 bigrams by pointwise mutual
    // information, ranked on the exact integer Q16 ratio (log is monotone
    // — the ranking never needs it), marginals derived from the single
    // pair-count aggregation
    "ext_pmi_bigrams" -> ((s, dir) =>
      graft.operators.TextAnalysis.pmiCollocations(
        Tables.documents(s, dir), minCount = 5, k = 50)),

    // distributed integer fixed-point k-means: 3 Lloyd iterations trained
    // IN the engine (broadcast k x dim centroids -> scan-parallel argmin;
    // update shuffle carries k*dim partial rows per task) — exact in any
    // engine, so the oracle unrolls the identical iterations as CTEs
    "ext_kmeans_fp" -> ((s, dir) =>
      graft.operators.Similarity.kmeansFixedPoint(
          Tables.embeddings(s, dir), k = 8, iters = 3)
        .orderBy(col("vec_id"))),

    // cluster-quality eval over the SAME trained clustering: simplified
    // (centroid-based) silhouette — a = d² to the own centroid, b = d² to
    // the nearest other, s = (b−a)/max(a,b) — no all-pairs stage, exact
    // longs until the one division; the oracle re-trains the identical
    // Lloyd iterations and ranks the same k distances per point
    "ext_silhouette" -> ((s, dir) =>
      graft.operators.Similarity.silhouetteSimplified(
          Tables.embeddings(s, dir), k = 8, iters = 3)
        .orderBy(col("vec_id"))),

    // EXACT set-similarity join via prefix filtering (PPJoin family): the
    // same Jaccard >= 0.3 pair set as an all-pairs exact join — no LSH
    // false negatives — with candidates from a rarest-token prefix
    // equi-join. The oracle is an independent ALL-PAIRS join, so the hash
    // match proves the pruning lossless, not just self-consistent.
    "ext_setsim_prefix" -> ((s, dir) =>
      graft.operators.Dedup.prefixJaccardPairs(Tables.documents(s, dir),
          thrNum = 3, thrDen = 10)
        .orderBy(col("id_a"), col("id_b"))),

    // exact edit-distance record linkage: every title pair within
    // Levenshtein 4, candidates from positional 3-gram blocking with the
    // Gravano count bound — the oracle brute-forces all pairs, proving
    // the blocking lossless
    "ext_fuzzy_join" -> ((s, dir) => {
      val titles = Tables.documents(s, dir).select(col("doc_id"),
        substring(graft.operators.Dedup.normalize(col("text")), 1, 30).as("title"))
      graft.operators.Dedup.editDistancePairs(titles, "title", "doc_id",
          maxDist = 4, q = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // CROSS-relation fuzzy linkage — the entity-resolution shape (dirty
    // feed vs clean master): odd-id titles matched against even-id
    // titles, same lossless q-gram blocking, all-pairs oracle
    "ext_fuzzy_link" -> ((s, dir) => {
      val titles = Tables.documents(s, dir).select(col("doc_id"),
        substring(graft.operators.Dedup.normalize(col("text")), 1, 30).as("title"))
      graft.operators.Dedup.editDistanceLink(
          titles.filter(col("doc_id") % 2 === 1),
          titles.filter(col("doc_id") % 2 === 0),
          "title", "doc_id", maxDist = 4, q = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Benford first-digit screen over transaction values: integer-ppm
    // observed distribution against the hardcoded log10(1+1/d) table —
    // no log at run time, one scan, a 9-group aggregation
    "ext_benford" -> ((s, dir) =>
      graft.operators.Quality.benfordDigits(Tables.events(s, dir), "value")
        .orderBy(col("digit"))),

    // asymmetric containment (quote/subset detection — what symmetric
    // Jaccard misses): posting-list self-join over 3-gram shingles, with
    // the hot-shingle df cap exercised in the graded path
    "ext_dedup_contain" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairs(Tables.documents(s, dir),
          threshold = 0.5, maxShingleDf = 100)
        .orderBy(col("id_a"), col("id_b"))),

    "ext_dedup_components" -> ((s, dir) =>
      // pairwise candidates -> duplicate CLUSTERS (min-label connected
      // components): the step that makes near-dup results actionable (keep
      // one canonical doc per cluster)
      graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.minhashCandidates(Tables.documents(s, dir)))
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))),

    "ext_dup_source_matrix" -> ((s, dir) => {
      // which sources copy from each other: near-dup candidate pairs
      // labeled by their endpoints' sources (order-normalized), counted —
      // the provenance matrix that decides which feeds get dedup priority
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
      graft.operators.Dedup.minhashCandidates(Tables.documents(s, dir))
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_x"),
          greatest(col("sa"), col("sb")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_x"), col("source_y"))
    }),

    "ext_dup_cluster_sizes" -> ((s, dir) =>
      // duplicate-cluster size histogram: how MUCH of the corpus collapses
      // and into how many groups — the number that decides whether dedup
      // is worth a full pass; sizes from the same components labels
      graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.minhashCandidates(Tables.documents(s, dir)))
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    // survivorship over the near-dup clusters: one FUSED record per
    // cluster, each field independently resolved (longest text ties to
    // min id, min source/lang, max n_chars) — where keepCanonical drops
    // rows, this merges them, so the golden record can carry values from
    // different members. All rules are grouped argmin/argmax aggregates.
    "ext_golden_record" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.goldenRecords(docs,
          graft.operators.Dedup.connectedComponents(
            graft.operators.Dedup.minhashCandidates(docs)))
        .orderBy(col("cluster"))
    }),

    "ext_dedup_simhash" -> ((s, dir) =>
      // maxHamming = 3: the largest distance the 4-block LSH recall
      // guarantee covers (pigeonhole: <= 3 differing bits leave one block
      // untouched)
      graft.operators.Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // the GRADED embedding near-dup is the 100 TB-shaped LSH path (bucket
    // join, never all-pairs); the oracle reproduces bucket assignment from
    // the same plane literals. The exact all-pairs variant stays graded
    // below as ext_dedup_embedding_brute.
    "ext_dedup_embedding" -> ((s, dir) =>
      graft.operators.Dedup.embeddingNearDupsLsh(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    "ext_dedup_embedding_brute" -> ((s, dir) =>
      graft.operators.Dedup.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // the flagship LLM-tier composition: quality floor -> language filter
    // -> exact dedup -> near-dup canonical keep -> content-hash split.
    // Every stage is an operator graded individually above; this proves
    // they COMPOSE, end-to-end hash-checked against one DuckDB chain.
    "ext_curation_pipeline" -> ((s, dir) => {
      import graft.operators._
      val scored = Tables.ensureParallelism(Tables.documents(s, dir))
        .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      val filtered = scored
        .filter(col("quality_score") >= 0.3 && col("lang_pred") === "en")
      // lineage cut: the exact-dedup survivors feed BOTH the MinHash band
      // pass and the final canonical anti-join — without the cut the whole
      // score+filter+window chain runs twice
      val exactKept = graft.util.Checkpoints.cut(Dedup.exact(filtered))
      val canon = Dedup.keepCanonical(exactKept, Dedup.minhashCandidates(exactKept))
      Sampling.hashSplit(canon, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"), col("quality_score"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- LLM-pipeline extensions: similarity search --------------------
    "ext_knn_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"), k = 5)
    }),

    // FILTERED vector search: the metadata predicate restricts the corpus
    // BEFORE scoring (pre-filter — the predicate reaches the scan, and
    // only qualifying vectors are ever scored), not after the top-k —
    // post-filtering k results against a selective predicate silently
    // returns fewer than k. Same oracle family with the filter in the
    // corpus CTE.
    "ext_knn_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5)
    }),

    "ext_knn_brute_sql" -> ((s, dir) => {
      // SQL-surface twin of ext_knn_brute: graft_dot + the graft_top_k
      // bounded-heap aggregate straight from the function registry, graded
      // against the same DuckDB window-SQL oracle. posexplode unrolls the
      // top-k array in rank order (pos is 0-based; rank = pos + 1, same
      // INTEGER type as row_number).
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
      s.sql("""WITH n AS (SELECT vec_id, embedding,
              |    sqrt(graft_dot(embedding, embedding)) AS nm
              |  FROM graft_embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS qe, nm AS qn
              |  FROM n WHERE vec_id < 10),
              |scored AS (SELECT q_id, n.vec_id,
              |    graft_dot(n.embedding, q.qe) / (n.nm * q.qn) AS cosine
              |  FROM n JOIN q ON n.vec_id != q.q_id),
              |t AS (SELECT q_id, graft_top_k(cosine, vec_id, 5) AS top
              |  FROM scored GROUP BY q_id)
              |SELECT q_id, e.id AS vec_id, e.score AS cosine,
              |  CAST(pos + 1 AS INT) AS rank
              |FROM t LATERAL VIEW posexplode(top) x AS pos, e""".stripMargin)
    }),

    // JL random projection 64->8 (8x embedding compression for storage /
    // ANN bandwidth): every projected component graded as its own column —
    // each is one ordered dot over plane literals times a scale literal,
    // so the doubles replay bit-identically
    "ext_random_projection" -> ((s, dir) => {
      val proj = graft.operators.Similarity.randomProject(
        col("embedding").cast("array<double>"), outDim = 8, dim = 64)
      Tables.embeddings(s, dir).select(
        Seq(col("vec_id")) ++
          (0 until 8).map(j => element_at(proj, j + 1).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    }),

    // the compression contract end to end, graded on what JL actually
    // guarantees: pairwise squared DISTANCES survive the 8x projection
    // (per query: the fraction of its corpus pairs whose projected/full
    // distance ratio stays within ±25% / ±50%). Fractions are integer
    // counts over one division, and the ratios replay bit-identically
    // (projection from literal planes; both engines fold the identical
    // diff-square sequence) — so unlike the IVF recall rows this
    // hash-checks. Top-k RANKING in projected space is deliberately not
    // the graded claim: on isotropic fixtures all neighbors are
    // near-equidistant, so ranking there measures noise, not the operator.
    "ext_projection_distortion" -> ((s, dir) => {
      val Sim = graft.operators.Similarity
      val e64 = col("embedding").cast("array<double>")
      val base = Tables.embeddings(s, dir).select(col("vec_id"),
        e64.as("e"), Sim.randomProject(e64, outDim = 8, dim = 64).as("p"))
      val q = base.filter(col("vec_id") < 10).select(
        col("vec_id").as("q_id"), col("e").as("qe"), col("p").as("qp"))
      val ratio = (graft.functions.Vectors.l2Squared(col("p"), col("qp")) /
        graft.functions.Vectors.l2Squared(col("e"), col("qe"))).as("r")
      base.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), ratio)
        .groupBy(col("q_id")).agg(
          count(lit(1)).as("n_pairs"),
          (sum(when(abs(col("r") - 1) <= 0.25, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("frac_within_25"),
          (sum(when(abs(col("r") - 1) <= 0.5, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("frac_within_50"))
        .orderBy(col("q_id"))
    }),

    "ext_knn_lsh" -> ((s, dir) => {
      // hash-checked: the deterministic plane vectors are embedded as
      // literals in the oracle SQL, so DuckDB reproduces bucket assignment
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.lshTopK(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"), k = 5)
    }),

    // multi-probe LSH, hash-checked END TO END including the probe
    // sequence: the weakest-margin |dot| ranking replays bit-identically
    // in DuckDB, so the oracle reproduces which buckets each query probes
    "ext_knn_lsh_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.lshTopKMultiProbe(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5, nPlanes = 8, nprobe = 4)
    }),

    // quantified ANN quality in the gate: per-query and mean recall of
    // multi-table LSH against the exact brute-force top-k, oracle-checked
    // end to end (planes embedded as literals). nPlanes=2/tables=8 is the
    // recall-first operating point on these unclustered synthetic
    // embeddings (mean recall ~0.98-1.0 across scales; see README for the
    // recall-vs-parameter table) — real clustered embeddings sustain high
    // recall at much finer buckets.
    "ext_knn_lsh_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
      graft.operators.Similarity.recallAtK(
        graft.operators.Similarity.lshTopKMulti(emb, q, k = 5, nPlanes = 2, tables = 8),
        graft.operators.Similarity.bruteForceTopK(emb, q, k = 5))
    }),

    // REAL pruned IVF (nprobe < nlist — centroid quality decides recall),
    // hash-checked end to end: exactTrain derives the centroids via the
    // integer-exact Lloyd trainer (quantized sample, deterministic
    // hash-order init, truncating-division updates), so the DuckDB oracle
    // replays training, corpus assignment, query probing, and scoring as
    // unrolled CTEs — the same contract that oracles ext_kmeans_fp
    "ext_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5, nlist = 16, nprobe = 4, exactTrain = true, trainIters = 3)
    }),

    // hash-checked IVF: with nprobe = nlist every inverted list is probed,
    // so the output equals brute force REGARDLESS of centroid quality —
    // this grades the whole IVF machinery (training-sample plumbing,
    // assignment argmin, list probing, scoring, ranking) against the
    // brute-force oracle; centroid QUALITY is covered by the recall spec.
    // product quantization, real compression: codes are 8 ints per vector
    // (vs 64 doubles), ADC scores via per-query lookup tables. exactTrain
    // derives every sub-codebook via the integer-exact Lloyd trainer, so
    // the DuckDB oracle replays training (subspace as a CTE column —
    // one Lloyd unroll covers all m subspaces), encode argmin, and the
    // left-associative ADC sum; degenerate-parameter exactness stays
    // graded by ext_knn_pq_exact and recall stays spec-pinned (PqSpec)
    "ext_knn_pq" -> ((s, dir) => {
      val Sim = graft.operators.Similarity
      val emb = Tables.embeddings(s, dir)
      val model = Sim.pqTrain(emb, m = 8, ksub = 16, iters = 3, exactTrain = true)
      Sim.pqTopK(Sim.pqEncode(emb, model),
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        model, k = 5)
    }),

    // PQ with ksub >= corpus size and zero Lloyd iterations: every corpus
    // slice is its own sub-centroid, so ADC == exact inner products — the
    // whole encode + table + lookup machinery graded against a slice-wise
    // DuckDB dot-product oracle (the same trick as IVF's nprobe=nlist)
    "ext_knn_pq_exact" -> ((s, dir) => {
      val Sim = graft.operators.Similarity
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") < 64)
      val model = Sim.pqTrain(corpus, m = 4, ksub = 64, iters = 0, trainCap = 64)
      Sim.pqTopK(Sim.pqEncode(corpus, model),
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        model, k = 5)
    }),

    // IVF-PQ at nprobe = nlist with per-vector codebooks: exhaustive ADC
    // over exact sub-centroids == exact inner products — the composition
    // (probe join + code join + table lookup) graded end to end by the
    // same slice-wise dot oracle as ext_knn_pq_exact
    "ext_knn_ivfpq_exact" -> ((s, dir) => {
      val Sim = graft.operators.Similarity
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") < 64)
      val model = Sim.pqTrain(corpus, m = 4, ksub = 64, iters = 0, trainCap = 64)
      val idx = Sim.ivfIndex(corpus, nlist = 8, nprobe = 8)
      Sim.ivfPqTopK(idx, Sim.pqEncode(corpus, model),
        emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        model, k = 5, nprobe = 8)
    }),

    "ext_knn_ivf_exact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5, nlist = 16, nprobe = 16)
    }),

    // incremental maintenance graded end to end: index HALF the corpus,
    // append the other half against the frozen centroids (no retrain, no
    // re-scan of the first half), search exhaustively (nprobe = nlist) —
    // the appended index must reproduce brute force exactly, so the brute
    // SQL is its oracle. Centroids train on the first half only
    // (trainCap spans it), which changes nothing at nprobe = nlist:
    // exhaustive probing scores every list regardless of where the
    // centroids sit.
    "ext_knn_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val half = emb.filter(col("vec_id") < 320)
      val rest = emb.filter(col("vec_id") >= 320)
      graft.operators.Similarity.ivfIndex(half, nlist = 16, nprobe = 16)
        .append(rest)
        .search(emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
          k = 5, nprobe = 16)
    }),

    // the same exhaustive-probe grading with literalCentroidMax = 0, which
    // forces the broadcast-join assignment/probe — the FAISS-scale code path
    // (nlist beyond what a literal expression should inline) carries its own
    // hash row instead of riding on an equivalence spec
    "ext_knn_ivf_exact_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        k = 5, nlist = 16, nprobe = 16, literalCentroidMax = 0)
    }),

    // index persistence graded end to end: build -> save -> load -> search,
    // with exhaustive probing (nprobe = nlist pinned at build time and
    // carried THROUGH the saved artifact) so a loaded index must reproduce
    // the brute-force oracle exactly — a round-trip that loses a centroid,
    // an assignment row, or the saved nprobe cannot hash-match
    "ext_knn_ivf_saved" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
      val ivfDir = tempCkpt() // same deferred-reap lifecycle as stream ckpts
      graft.operators.Similarity.ivfIndex(emb, nlist = 16, nprobe = 16).save(ivfDir)
      graft.operators.Similarity.loadIvfIndex(s, ivfDir).search(q, k = 5)
    }),

    // in-engine recall number for pruned IVF — exactTrain makes the recall
    // itself deterministic, so the oracle recomputes it independently
    // (replayed-IVF top-k vs brute top-k, hits/k per query and the exact
    // sum(hits)/sum(k) mean); the >= 0.9 bar stays asserted in ExtensionSpec
    "ext_knn_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
      graft.operators.Similarity.recallAtK(
        graft.operators.Similarity.ivfTopK(emb, q, k = 5, nlist = 16, nprobe = 4,
          exactTrain = true, trainIters = 3),
        graft.operators.Similarity.bruteForceTopK(emb, q, k = 5))
    }),

    // per-label mean embeddings (class centroids), exploded to scalar
    // (label, dim_idx, value) rows; the bit-reproducible ordered fold is
    // graded, its distributed twin is spec-pinned to agree within 1e-9
    "ext_embed_centroid" -> ((s, dir) =>
      graft.operators.Similarity.labelCentroids(Tables.embeddings(s, dir))
        .orderBy(col("label"), col("dim_idx"))),

    // nearest-centroid assignment (prototype classification / the SemDeDup
    // assignment step): broadcast the per-label centroids, argmin squared-L2
    // via a combinable min(struct) — hash-checked end to end because every
    // float op (ordered-fold centroids, index-ordered dot products) replays
    // identically in the oracle
    "ext_centroid_assign" -> ((s, dir) =>
      graft.operators.Similarity.nearestCentroid(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"))),

    // SemDeDup end to end: nearest-centroid clusters bound the pairwise
    // cosine check to within-cluster pairs — hash-checked because the
    // whole chain (ordered-fold centroids, argmin assignment, prenormed
    // cosine) replays identically in SQL
    "ext_semdedup" -> ((s, dir) =>
      graft.operators.Similarity.semDedupPairs(Tables.embeddings(s, dir),
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- LLM-pipeline extensions: multimodal ---------------------------
    "ext_multimodal_features" -> ((s, dir) => {
      val media = graft.operators.Multimodal.synthesizeFromDocs(Tables.documents(s, dir))
      graft.operators.Multimodal.withFeatures(media)
        .select(col("media_id"), col("kind"), col("meta.width").as("width"),
          length(col("bytes")).as("n_bytes"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"))
    }),

    "ext_multimodal_resize" -> ((s, dir) =>
      graft.operators.Multimodal.resizeStub(
        graft.operators.Multimodal.synthesizeFromDocs(Tables.documents(s, dir)), 224, 224)
        .select(col("media_id"), col("kind"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          length(col("bytes")).as("n_bytes"))),

    "ext_multimodal_frames" -> ((s, dir) =>
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.synthesizeFromDocs(Tables.documents(s, dir)))),

    // ---- streaming parity rows (see runStream) -------------------------
    "stream_daily_spend" -> ((s, dir) =>
      // the canonical pipeline's streaming face: watermark -> cross-batch
      // dedup -> 1-day tumbling windows, with the last chunk re-fed as a
      // whole duplicate micro-batch (dedup must drop every copy); append
      // mode + sentinel flush finalizes each day exactly once
      runStream(s, "stream_daily_spend_t", parsed => {
        val marked = parsed.withWatermark("timestamp", "1 hour")
        Spend.dailySpendStream(Spend.dedupeStream(marked))
      }, dupTail = true)),

    // the batch-catchup trigger graded end to end: the whole feed
    // (including the watermark-flushing sentinel) is already available
    // when the query STARTS; Trigger.AvailableNow drains it and stops on
    // its own (awaitTermination — no per-batch feed loop), with the
    // trailing no-data micro-batch finalizing every window. Same relation
    // as the incrementally-fed twin, same oracle.
    "stream_daily_spend_available_now" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val ms = MemoryStream[String]
      (chunks(txPayloads(s), 4) :+ Seq(sentinelJson)).foreach(c => ms.addData(c))
      val out = Spend.dailySpendStream(Spend.dedupeStream(
        Ingest.parseTransactions(ms.toDF()).withWatermark("timestamp", "1 hour")))
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("stream_daily_spend_available_now_t")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tempCkpt()).start()
      q.awaitTermination()
      s.table("stream_daily_spend_available_now_t")
        .filter(col("customer_id") =!= "-1")
    }),

    // "latest record per key at ingest" end to end (r12, VERDICT r11 #7):
    // at-least-once delivery redelivers a whole chunk; ingest dedups it
    // with dropDuplicatesWithinWatermark (the purpose-built operator —
    // state is dropped once a key ages past the watermark, unlike classic
    // dropDuplicates whose keep-forever state leaks at 100 TB/day). The
    // 4h watermark delay deliberately EXCEEDS the re-fed chunk's ~83 min
    // event-time span: every redelivered row finds its original's dedup
    // state still live, making the drop GUARANTEED (the operator's
    // contract is one-sided — only within-watermark duplicates are
    // promised dropped). The batch half is the hot-key-safe latest-record
    // step: rankFamilyChunked (AutoChunkWindow's forced rank arms), latest
    // = cume_dist 1.0 — no single task ever sorts a whole hot customer.
    "stream_latest_record" -> ((s, dir) => {
      val deduped = runStream(s, "stream_latest_record_t", df =>
        df.withWatermark("timestamp", "4 hours")
          .dropDuplicatesWithinWatermark("transaction_id")
          .select(col("customer_id"), col("timestamp"), col("amount")),
        dupTail = true)
      val ev = deduped
        .withColumn("te", col("timestamp").cast("long"))
        .withColumn("cents", round(col("amount") * 100).cast("long"))
        .select(col("customer_id"), col("te"), col("cents"))
      graft.operators.Skew.rankFamilyChunked(ev, "customer_id", "te",
          chunks = 8)
        .filter(col("cume_dist") === 1.0)
        .select(col("customer_id"), col("te").as("last_te"),
          col("cents").as("last_cents"))
        .orderBy(col("customer_id"))
    }),

    "stream_windowed_spend" -> ((s, dir) =>
      // sliding 10-min/5-min windows per customer, streamed; epoch-second
      // window bounds (raw window timestamps are engine-ambiguous)
      runStream(s, "stream_windowed_spend_t", parsed =>
        Spend.windowedSpendStream(parsed, Spend.transactionCols,
            "10 minutes", "5 minutes", watermark = "1 hour")
          .select(col("customer_id"),
            col("window_start").cast("long").as("w_start"),
            col("window_end").cast("long").as("w_end"),
            col("total_spent")))),

    "stream_session_window" -> ((s, dir) =>
      // native session windows (15-min gap), streamed: cross-batch session
      // merging under the watermark, finalized in append mode
      runStream(s, "stream_session_window_t", parsed =>
        parsed.withWatermark("timestamp", "1 hour")
          .groupBy(session_window(col("timestamp"), "15 minutes"), col("customer_id"))
          .agg(dsum(col("amount")).as("total_spent"), count(lit(1)).as("n_events"))
          .select(col("customer_id"),
            col("session_window.start").cast("long").as("sess_start"),
            col("session_window.end").cast("long").as("sess_end"),
            col("total_spent"), col("n_events")))),

    // stream-stream interval join: purchases attributed to same-customer
    // views in the prior 10 minutes (inner: matched rows emit exactly once;
    // state evicted by the two watermarks)
    "stream_interval_join" -> ((s, dir) => intervalJoinStream(s, "inner")),

    // the left-outer twin: every purchase emits — unmatched ones finalize
    // as null-padded rows only once the view-side watermark proves no
    // match can still arrive, the semantics that make outer stream-stream
    // joins the hard case (the closing sentinel drives that finalization)
    "stream_interval_join_left" -> ((s, dir) => intervalJoinStream(s, "leftOuter")),

    // the full-outer completion of the family: unmatched rows on EITHER
    // side finalize null-padded, each once the OPPOSITE side's watermark
    // proves no match can still arrive — the heaviest state-eviction
    // contract the stream-stream join API offers
    "stream_interval_join_full" -> ((s, dir) => intervalJoinStream(s, "fullOuter")),

    // watermark late-drop graded end to end: same pipeline and oracle as
    // stream_daily_spend, but AFTER the feed has advanced the watermark
    // past the first day's windows, a micro-batch of 1,000 genuinely late
    // rows arrives — fresh transaction ids (so dedup passes them) with
    // event times back inside the finalized windows. Append-mode semantics
    // require dropping all of them; if even one leaks, the totals diverge
    // from the on-time-only oracle and the hash fails.
    "stream_late_data_drop" -> ((s, dir) => {
      val late = graft.sources.DataGen
        .transactions(s, 1000L, 42L, streamEpoch - 90000L,
          eventsPerSecond = 1.0, startId = 90000L)
        .select(to_json(struct(col("*"))).as("value"))
        .collect().map(_.getString(0)).toSeq
      runStream(s, "stream_late_data_drop_t", parsed => {
        val marked = parsed.withWatermark("timestamp", "1 hour")
        Spend.dailySpendStream(Spend.dedupeStream(marked))
      }, lateTail = late)
    }),

    // streaming chunked running aggregate (the hot-key window skew fix,
    // streamed): per-event running spend per customer across micro-batches
    // — foreachBatch computes the batch-local running sum with the chunk
    // decomposition (the hot key spreads over `chunks` tasks instead of
    // serializing one) and carries ONE offset row per key across batches
    // (O(keys) state, snapshotted per batch for restart). Exact long cents
    // end to end; the oracle is the plain SQL running window over the same
    // deterministic feed.
    "stream_running_chunked" -> ((s, dir) => runningChunkedStream(s)),

    // streaming TIME-BASED rolling window (r12): rolling trailing-hour
    // spend per customer, per event — the streaming twin of the RANGE
    // verb with O(horizon) tail state; oracle is the plain RANGE window
    // over the generator reconstruction
    "stream_rolling_range" -> ((s, dir) => rollingRangeStream(s)),

    "stream_rolling_range_slack" -> ((s, dir) => rollingRangeSlackStream(s)),

    // the restart-recovery twin: a NEW foreachBatch closure (empty
    // in-memory offsets) must recover per-key offsets from the stateDir
    // snapshot after a mid-feed stop; same oracle as the uninterrupted run
    "stream_running_chunked_restart" -> ((s, dir) =>
      runningChunkedRestartStream(s)),

    // streaming HLL: the distinct-shingle register table maintained as a
    // plain update-in-place max aggregation — state is bounded at 2^p rows
    // BY CONSTRUCTION (no watermark needed; the sketch cannot grow), and
    // the max is idempotent, so the deliberately RE-FED chunk changes
    // nothing. The final table must equal the batch build bit for bit —
    // the oracle is the same register SQL as ext_hll_distinct's
    "stream_hll_registers" -> ((s, dir) => streamHllRegisters(s, dir)),

    // streaming count-min twin: counters maintained across micro-batches in
    // complete mode, graded against the same DuckDB sketch rebuild that
    // backs ext_countmin_topk (additive counters — each row fed once)
    "stream_countmin_registers" -> ((s, dir) => streamCountMinRegisters(s, dir)),

    // per-group HLL on a live stream: (lang, bucket)-keyed max registers in
    // complete mode — G x 2^p counter rows of state, duplicates free (max is
    // idempotent, proven by re-feeding a whole chunk). Shares the batch
    // row's full DuckDB rebuild oracle.
    "stream_hll_groups" -> ((s, dir) => streamHllGroups(s, dir)),

    // the volume-anomaly monitor live: the stream maintains only the
    // (type, day) counts; the rolling-band alarm projects over the final
    // counter table — same oracle as the batch x32 row
    "stream_volume_anomaly" -> ((s, dir) => streamVolumeAnomaly(s, dir)),

    // live p50/p95/p99 value monitor: the stream maintains only the
    // (type, bucket) histogram counters; the quantile bound projects over
    // the final table — same oracle as the batch ext_histogram_quantile
    "stream_histogram_p99" -> ((s, dir) => streamHistogramQuantile(s, dir)),

    // the corpus vocabulary top-100 as a live leaderboard: complete-mode
    // count aggregation re-ranked and truncated each batch; shares
    // ext_vocab_topk's oracle
    "stream_vocab_topk" -> ((s, dir) => streamVocabTopK(s, dir)),

    // the document-curation pipeline's streaming face, hash-checked: the
    // documents table streamed in id order across several micro-batches
    // with one whole chunk RE-FED (exact duplicate rows the cross-batch
    // fingerprint dedup must drop), then the quality floor. Output is one
    // row per surviving doc — the same relation the batch oracle computes.
    "stream_doc_clean" -> ((s, dir) => docCleanStream(s, dir)),

    // bounded-state streaming dedup: 32 sharded 16 KiB bloom bitmaps in
    // transformWithState ValueState replace dropDuplicates' per-key-ever
    // state; the re-fed chunk must drop entirely, and the graded output is
    // the exact dedup set (bitmaps sized so the deterministic md5 positions
    // produce zero false positives at test scale). RocksDB required by TWS,
    // conf restored after (same arrangement as stream_session_tws).
    // streaming SCD2 changelog: one ValueState row per key in TWS, change
    // rows append as attributes transition — the CDC shape of x23's
    // dimension history (RocksDB required by TWS, conf restored after)
    "stream_scd2_changes" -> ((s, dir) => withRocksDbState(s)(streamScd2(s, dir))),

    // live drift monitor: the stream maintains only bucket counts; the
    // fixed-point PSI report projects over them vs the static reference
    "stream_drift_psi" -> ((s, dir) => streamDriftPsi(s, dir)),
    "stream_pmi_bigrams" -> ((s, dir) => streamPmiBigrams(s, dir)),

    // live percentiles at fixed memory: the stateless deterministic-hash
    // sample is the ONLY streaming state (sorted list + count in complete
    // mode); rank selection re-runs each trigger
    "stream_quantile_sample" -> ((s, dir) => streamQuantileSample(s, dir)),

    "stream_bloom_dedup" -> ((s, dir) => withRocksDbState(s)(streamBloomDedup(s, dir))),

    // batch-trained centroids applied to a live embedding stream as a
    // stateless per-row argmin — the "score the stream with a trained
    // model" pattern; shares ext_centroid_assign's oracle
    "stream_centroid_assign" -> ((s, dir) => centroidAssignStream(s, dir)),

    // cross-batch sequence stitching: one latest-event ValueState per user
    // emits each (from, to) transition the moment the successor arrives —
    // a lead() window can't run on a stream; the pair multiset must equal
    // the batch window's (shares x56's oracle). RocksDB required by TWS,
    // conf restored after.
    "stream_transitions" -> ((s, dir) => withRocksDbState(s)(streamTransitions(s, dir))),

    // real-time conversion funnel: per-user progress ValueState advances
    // and emits the moment a step completes — the greedy in-order scan
    // computes exactly the batch recurrence's earliest-qualifying reach,
    // so the (user, step) reach set equals x19's frame (shared oracle).
    // RocksDB required by TWS, conf restored after.
    "stream_funnel" -> ((s, dir) => withRocksDbState(s)(streamFunnel(s, dir))),

    // stream-static enrichment: the live stream joined to a static
    // dimension (merchant -> category) — the canonical "enrich the stream
    // with reference data" pattern. The static side broadcasts (no state,
    // re-read per micro-batch), then a 30-min tumbling rollup per category
    // finalizes under the watermark. The sentinel's own window never
    // finalizes (the watermark stops an hour short of it), so only real
    // rows reach the table.
    "stream_static_enrich" -> ((s, dir) =>
      runStream(s, "stream_static_enrich_t", parsed => {
        // m_category: the raw transaction schema already carries a (null)
        // `category` field — the dimension's column must not shadow it
        val dim = s.range(1, 501).select(col("id").cast("int").as("merchant_id"),
          (col("id") % 7).cast("int").as("m_category"))
        parsed.withWatermark("timestamp", "1 hour")
          .join(broadcast(dim), "merchant_id")
          .groupBy(window(col("timestamp"), "30 minutes"), col("m_category"))
          .agg(dsum(col("amount")).as("total_spent"), count(lit(1)).as("n_tx"))
          .select(col("m_category").as("category"),
            col("window.start").cast("long").as("w_start"),
            col("total_spent"), col("n_tx"))
      })),

    // exactly-once ACROSS A RESTART, graded: the stream_daily_spend
    // pipeline run against a fault-tolerant parquet sink, STOPPED after two
    // micro-batches, restarted from the same checkpoint, then fed the
    // second chunk AGAIN (the recovered dedup state must drop every re-sent
    // row) plus the rest of the feed. The oracle is stream_daily_spend's:
    // any lost finalized window, replayed batch, or dedup-state loss across
    // the restart shifts a total and fails the hash.
    "stream_daily_spend_restart" -> ((s, dir) => restartStream(s)),

    // sessionization via flatMapGroupsWithState, graded against the SAME
    // oracle as stream_session_window: the arbitrary-stateful API a real
    // pipeline reaches for when session logic outgrows the built-in window
    // (value-dependent gaps etc.), here held to hash-identical output with
    // the native operator. Amounts stream as cents (integer-valued doubles
    // sum exactly in any order up to 2^53), divided back once at emit — the
    // state fold's double addition would otherwise be order-sensitive where
    // the oracle's decimal sum is not.
    "stream_session_fmgws" -> ((s, dir) =>
      runStream(s, "stream_session_fmgws_t", parsed => {
        import s.implicits._
        val ev = parsed.withWatermark("timestamp", "1 hour")
          .select(col("customer_id"), col("timestamp"),
            round(col("amount") * 100).as("amount"))
          .as[graft.streaming.Sessionize.SessionEvent]
        graft.streaming.Sessionize.streaming(ev, gapMs = 15 * 60 * 1000L).toDF()
          .select(col("customer_id"),
            col("session_start").cast("long").as("sess_start"),
            col("session_end").cast("long").as("sess_end"),
            (col("total_spent") / 100.0).as("total_spent"),
            col("n_events").cast("long").as("n_events"))
      })),

    // sessionization via Spark 4's transformWithState (StatefulProcessor +
    // ListState + event-time timers), graded against the SAME oracle as the
    // native session_window and fmGWS rows — the third state API held to
    // hash-identical output. Runs under RocksDB (transformWithState rejects
    // the default provider); the conf is restored afterwards so the other
    // graded stream rows keep their recorded backend. Cents trick as in
    // the fmGWS row: integer-valued doubles sum exactly in any fold order.
    "stream_session_tws" -> ((s, dir) =>
      withRocksDbState(s)(runStream(s, "stream_session_tws_t", parsed => {
        import s.implicits._
        val ev = parsed.withWatermark("timestamp", "1 hour")
          .select(col("customer_id"), col("timestamp"),
            round(col("amount") * 100).as("amount"))
          .as[graft.streaming.Sessionize.SessionEvent]
        graft.streaming.Sessionize
          .transformWithStateStreaming(ev, gapMs = 15 * 60 * 1000L).toDF()
          .select(col("customer_id"),
            col("session_start").cast("long").as("sess_start"),
            col("session_end").cast("long").as("sess_end"),
            (col("total_spent") / 100.0).as("total_spent"),
            col("n_events").cast("long").as("n_events"))
      }))),

    // streaming data-quality monitor: the suite's counters (row count,
    // non-null count, per-rule pass counts) maintained as ONE complete-mode
    // global aggregation over the live stream — counters are additive, so
    // state is a handful of longs forever; the metric divisions project
    // AFTER the counters finalize (the Monitor pattern: counts on the
    // stream, report off it). The amount and status rules are genuinely
    // fractional (~90% / ~33%), so the ratios discriminate.
    "stream_quality_monitor" -> ((s, dir) => streamQualityMonitor(s)),

    // streaming confusion suite: the classifier eval as a complete-mode
    // global aggregation over micro-batches — four additive longs of
    // state regardless of stream length, metrics projected after
    // finalization; must equal the batch suite (same oracle)
    "stream_eval_confusion" -> ((s, dir) => streamEvalConfusion(s, dir)),

    // streaming contract enforcement: the SAME quarantine expression on a
    // live stream (stateless per-row tagging, append mode) — violations
    // surface with their rule id as they arrive instead of at day-end
    // batch audit; the final census equals the batch row's oracle
    "stream_quarantine" -> ((s, dir) => streamQuarantine(s, dir)),

    // streaming embedding drift: the LIVE half's sign-bucket counters
    // maintained in complete mode (16 additive longs of state) against
    // the static reference half; the fixed-point PSI projects after the
    // feed finishes — watching a model's output distribution move in
    // flight. Same oracle as the batch row.
    "stream_embedding_drift" -> ((s, dir) => streamEmbeddingDrift(s, dir)),

    // streaming calibration monitor: the per-bin (n, n_pos) counters as a
    // complete-mode grouped aggregation — ten rows of additive-long state
    // at any stream length; conf/acc/gap project after finalization, so
    // the finished table equals the batch reliability table (same oracle)
    "stream_calibration" -> ((s, dir) => streamCalibration(s, dir)),

    // streaming EWMA: the per-user fold arrives one DAY per micro-batch
    // (the order the recurrence requires); foreachBatch folds each day
    // into a one-row-per-user parquet levels table — O(users) state, the
    // incremental-table pattern. Must equal the batch fold (x41's oracle).
    "stream_ewma" -> ((s, dir) => streamEwma(s, dir)),

    // streaming peak-concurrency: one day of raw events per micro-batch;
    // each batch builds its day's user intervals, runs the +1/-1 sweep,
    // and appends that day's peak row — days are independent, so the
    // appended union must equal the batch sweep (same oracle)
    "stream_max_concurrency" -> ((s, dir) => streamMaxConcurrency(s, dir)),

    // streaming skyline: the frontier is MONOTONE-MAINTAINABLE state — each
    // micro-batch unions its points into the persisted frontier and
    // re-prunes (dominated rows can never return, so state is the frontier
    // itself, tiny at any corpus size); must converge to the one-shot
    // skyline (same oracle)
    "stream_skyline" -> ((s, dir) => streamSkyline(s, dir)),

    // streaming growth accounting: one week of user activity per
    // micro-batch; state is exactly (previous week's active set, the
    // ever-seen set) — each batch classifies its actives as
    // new/retained/resurrected against that state, counts churn from the
    // previous set, appends the week's row, then becomes the new state.
    // Union of appended rows must equal the batch shift-join (same oracle).
    "stream_growth_accounting" -> ((s, dir) => streamGrowthAccounting(s, dir)),

    // the bounded-heap top-k aggregate INSIDE a streaming aggregation:
    // complete-mode groupBy over micro-batches, state = one k-entry heap
    // per type (the state store serializes the typed buffer) — must
    // finalize to the batch heap row (same oracle)
    "stream_topk_users" -> ((s, dir) => streamTopkUsers(s, dir)),

    // incremental market basket: batches partition the ORDER key space so
    // every basket arrives whole, making pair/item/basket counts purely
    // ADDITIVE state — each micro-batch merges its counts in, and the
    // rules compute once from the final counters (same oracle as the
    // one-shot rules)
    "stream_basket_rules" -> ((s, dir) => streamBasketRules(s, dir)),

    // streaming CUSUM drift monitor: the production calibrate-then-monitor
    // shape — the reference level is the per-type mean fixed by the batch
    // calibration pass, then daily micro-batches fold the greatest(0, ...)
    // recurrence into a one-row-per-type state table (s, best, best-day).
    // Ends in exactly the batch detector's state: ext_cusum's oracle.
    "stream_cusum" -> ((s, dir) => streamCusum(s, dir)),

    // streaming incremental near-dup: new documents arrive in micro-batches
    // and dedup against the PERSISTED band index, which then absorbs each
    // batch's bands — the full production loop (screen the delta, grow the
    // index; never re-shingle the corpus). Cross-batch new x new pairs
    // surface because earlier batches' bands are already in the index by
    // the time later ones arrive. Same oracle as the one-shot incremental
    // batch row.
    "stream_dedup_incremental" -> ((s, dir) => streamDedupIncremental(s, dir)),

    // streaming vector search: a live stream of query ids scored against
    // the static corpus micro-batch by micro-batch (broadcast the batch's
    // queries, stream the corpus through the codegen'd dot product —
    // exactly the batch engine's plan, driven by foreachBatch). Stateless:
    // results append as they compute; the final relation must equal the
    // batch search for the same query set (same oracle as ext_knn_brute).
    "stream_knn" -> ((s, dir) => streamKnn(s, dir)),

    // streaming CDC apply: every micro-batch upserts into the
    // date-partitioned table via foreachBatch + the keyed partitioned
    // MERGE ([[graft.operators.Merge.upsertPartitioned]]) — the standard
    // "stream into a warehouse table" sink when the sink must be a plain
    // parquet layout. Exactly-once here comes from IDEMPOTENCE, not the
    // sink's commit log: the last feed chunk is re-fed whole, and the
    // replayed keys overwrite themselves. Graded by reading the final
    // table back into the canonical daily rollup.
    "stream_upsert_table" -> ((s, dir) => streamUpsertTable(s)),

    // stream-STREAM join, inner: the live transaction stream joined to a
    // live refund stream on transaction_id PLUS an event-time range
    // (refund within 30 min of the transaction). Both sides carry
    // watermarks, so join state is evicted as event time advances — the
    // shape that runs forever at 100 TB/day where an unbounded-state join
    // would OOM. The refund delays span 0-2,400 s, so ~25% of refunds fall
    // outside the window and the range condition genuinely filters.
    "stream_stream_join" -> ((s, dir) => streamStreamJoin(s, "inner")),

    // stream-stream LEFT OUTER join: same two streams and condition, but
    // every transaction must appear exactly once — unmatched rows emit
    // with a null delay only after the watermark proves no refund can
    // still arrive. The null-emission path (watermark-gated, one batch
    // late by design) is the part the inner row cannot exercise.
    "stream_stream_join_left" -> ((s, dir) => streamStreamJoin(s, "left_outer")),

    // stream-stream FULL OUTER join: both unmatched sides surface —
    // transactions with no in-window refund as null-delay rows, refunds
    // whose 30-min window closed with no in-range transaction as
    // right-only rows carrying just the id. Both emission paths are
    // watermark-gated; the oracle enumerates matched + left-only +
    // right-only from the same deterministic generator.
    "stream_stream_join_full" -> ((s, dir) => streamStreamJoin(s, "full_outer")),

    "q3_join_revenue" -> ((s, dir) => {
      // TPC-H Q3 shape: fact-fact shuffle join + broadcast dim join.
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      Tables.lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(money(col("l_extendedprice")) * (one - money(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    })
  )

  // ---- streaming parity: the gate's stream_* queries -----------------
  // Each runs a REAL Structured Streaming query (MemoryStream source,
  // multiple micro-batches, append mode) to completion inside the query
  // lambda and returns the finalized memory-sink table — so streaming
  // correctness is hash-checked by the same DuckDB oracles as batch,
  // instead of living only in specs. Append mode means every output row
  // was finalized by the watermark exactly once; a far-future sentinel
  // transaction advances the watermark past every real window (and is
  // filtered back out), flushing the last windows deterministically.
  //
  // The feed is the deterministic generator at eventsPerSecond = 1 (whole-
  // second timestamps, startEpoch 2023-12-31T22:00Z so the span crosses a
  // date boundary): every event time is an exact integer epoch second in
  // BOTH engines, so window/session boundary comparisons cannot split on
  // sub-second rounding.
  private val streamN = 20000L
  private val streamEpoch = 1704060000L // 2023-12-31T22:00:00Z
  private val sentinelJson =
    """{"transaction_id":"sentinel","customer_id":"-1","merchant_id":1,""" +
      """"timestamp":"2024-06-01T00:00:00.000Z","amount":1.0,""" +
      """"payment_method":"UPI","status":"Success"}"""

  /** Throwaway checkpoint dir for a graded stream run, removed at JVM
    * exit — repeated gate runs must not litter tmpdir. Deletion is
    * DEFERRED (not at q.stop()): the session-wide state-store maintenance
    * thread keeps providers loaded past a query's stop, and deleting the
    * directory under a loaded provider fails a LATER stateful query in the
    * same session with the dead path (observed: stream_late_data_drop
    * failing on an earlier query's deleted state dir). */
  private[graft] def tempCkpt(): String = {
    val dir = sys.props("java.io.tmpdir") + "/graft-ckpt-" +
      java.util.UUID.randomUUID().toString
    ckptsToReap.synchronized { ckptsToReap += dir }
    dir
  }

  private val ckptsToReap = scala.collection.mutable.Buffer.empty[String]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      ckptsToReap.synchronized {
        ckptsToReap.foreach(d => FileUtils.deleteQuietly(new File(d)))
      }))
  }

  /** Run `body` on RocksDB streaming state (transformWithState refuses the
    * default provider), then restore the session's provider so the other
    * graded stream rows keep their recorded backend. */
  private def withRocksDbState[A](s: SparkSession)(body: => A): A =
    GraftSession.withConfs(s, GraftSession.RocksDbState)(body)

  /** The confs every catalog-table [[autoChunkRow]] runs under: CBO on so
    * the optimizer sees the ANALYZE statistics, and thresholds sized so
    * the gate-scale tables count as hot. */
  private val autoChunkTableConfs = Seq("spark.sql.cbo.enabled" -> "true",
    "spark.graft.autoChunk.minRows" -> "1000",
    "spark.graft.autoChunk.perKeyRows" -> "10",
    "spark.graft.autoChunk.chunks" -> "8")

  /** One graded [[graft.plans.AutoChunkWindow]] row. `src` is written
    * fresh under the warehouse as `name`: a catalog table ANALYZEd for
    * the `analyze` columns, or, with none, bare parquet (the state the
    * census arms read). `query` builds the row over it, and runs under the
    * scoped `confs`. The row fails unless the rule fired. The result is an
    * eager localCheckpoint taken inside the conf scope: a lazy frame would
    * re-optimize WITHOUT the rule once the confs are restored, and the
    * checkpoint keeps the result distributed, with no driver round-trip. */
  private def autoChunkRow(s: SparkSession, name: String, src: DataFrame,
      analyze: Seq[String], confs: Seq[(String, String)] = autoChunkTableConfs)(
      query: DataFrame => DataFrame): DataFrame = {
    val loc = new File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (analyze.nonEmpty) s.sql(s"DROP TABLE IF EXISTS $name")
    FileUtils.deleteDirectory(loc)
    val input =
      if (analyze.isEmpty) {
        src.write.parquet(loc.toString)
        s.read.parquet(loc.toString)
      } else {
        src.write.saveAsTable(name)
        s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS " +
          analyze.mkString(", "))
        s.table(name)
      }
    GraftSession.withConfs(s, confs: _*) {
      val df = query(input)
      require(df.queryExecution.optimizedPlan.toString.contains("__graft_chunk"),
        s"AutoChunkWindow did not fire — $name must grade the re-plan")
      df.localCheckpoint(true)
    }
  }

  /** The harness every single-source graded stream row runs on: a
    * `MemoryStream` of `T` feeding the writer `sink` builds from it, with a
    * reaped [[tempCkpt]] checkpoint. Each inner `Seq` of `batches` is
    * exactly one micro-batch, in order. With `restartAfter = Some(k)` the
    * query stops after `k` batches and `sink` is called again on the same
    * source and checkpoint — a new query (and a fresh foreachBatch
    * closure, when the sink builds one) that must recover offsets and
    * state before the remaining batches arrive. The query is stopped on
    * every exit, and a failure propagates. */
  private[graft] def feedStream[T: Encoder](s: SparkSession, batches: Seq[Seq[T]],
      restartAfter: Option[Int] = None)(sink: Dataset[T] => DataStreamWriter[_]): Unit = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    val ms = MemoryStream[T]
    val ckpt = tempCkpt()
    val runs = restartAfter.fold(Seq(batches))(k => Seq(batches.take(k), batches.drop(k)))
    runs.foreach { run =>
      val q = sink(ms.toDS()).option("checkpointLocation", ckpt).start()
      try run.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
  }

  /** `rows` cut into micro-batches of `rows.length / n` rows (a short
    * remainder batch when `n` does not divide the length). */
  private def chunks[T](rows: Seq[T], n: Int): Seq[Seq[T]] =
    rows.grouped(math.max(1, rows.length / n)).toSeq

  /** The generator transaction feed as the JSON payloads the transaction
    * stream rows parse. */
  private def txPayloads(s: SparkSession): Seq[String] =
    graft.sources.DataGen
      .transactions(s, streamN, 42L, streamEpoch, eventsPerSecond = 1.0)
      .select(to_json(struct(col("*"))).as("value"))
      .collect().map(_.getString(0)).toSeq

  /** Feed the generator stream through `transform` (a streaming transform
    * of the parsed transaction stream) in four micro-batches into the
    * append-mode memory table `name`, then a sentinel batch that pushes
    * the watermark past every real window. Extra batches go between the
    * two: with `dupTail` the last chunk again (cross-batch duplicates the
    * pipeline's dedup must drop), then `lateTail` — genuinely late
    * arrivals (fresh ids, event times below the current watermark) the
    * engine must drop every one of. Returns the finalized table. */
  private def runStream(
      s: SparkSession,
      name: String,
      transform: DataFrame => DataFrame,
      dupTail: Boolean = false,
      lateTail: Seq[String] = Nil): DataFrame = {
    import s.implicits._
    val feed = chunks(txPayloads(s), 4)
    val dup = if (dupTail) Seq(feed.last) else Nil
    val late = if (lateTail.nonEmpty) Seq(lateTail) else Nil
    feedStream(s, feed ++ dup ++ late :+ Seq(sentinelJson)) { ms =>
      transform(Ingest.parseTransactions(ms.toDF())).writeStream
        .outputMode("append").format("memory").queryName(name)
    }
    // drop any finalized sentinel rows; transforms that aggregate the
    // customer away (e.g. stream_static_enrich) rely on the sentinel's
    // window never finalizing instead
    val t = s.table(name)
    if (t.columns.contains("customer_id")) t.filter(col("customer_id") =!= "-1") else t
  }

  /** Per-batch overwrite-mode parquet output for a foreachBatch verb:
    * batch `id` writes `cols` to its own directory (idempotent per batchId,
    * the foreachBatch exactly-once contract, so an engine replay rewrites
    * rather than duplicates); the graded result is the union read back. */
  private final class BatchParquet(cols: String*) {
    private val outDir = tempCkpt()
    private val dirs = scala.collection.mutable.Buffer.empty[String]
    def write(out: DataFrame, id: Long): Unit = {
      val dir = s"$outDir/b_$id"
      out.select(cols.map(col): _*).write.mode("overwrite").parquet(dir)
      dirs.synchronized { dirs += dir }
    }
    def read(s: SparkSession): DataFrame = s.read.parquet(dirs.distinct.toSeq: _*)
  }

  /** The run behind `stream_running_chunked`: the transaction feed in 4
    * micro-batches through [[graft.streaming.ChunkedRunning.foreachBatch]]
    * — per-customer running spend per event, batch-locally chunk-
    * decomposed, offsets carried across batches. Each batch's output goes
    * to its own overwrite-mode parquet directory (idempotent per batchId,
    * the foreachBatch exactly-once contract); the graded result is the
    * union read back. Amounts as exact long cents: the chunk verb's
    * exactness contract, and hash-stable against DuckDB's decimal window
    * sum. No watermark/sentinel — the pipeline is stateless inside the
    * stream engine (the cross-batch state lives in the verb). */
  private def runningChunkedStream(s: SparkSession): DataFrame = {
    import s.implicits._
    val out = new BatchParquet("customer_id", "te", "running_cents")
    val fn = graft.streaming.ChunkedRunning.foreachBatch(
      "customer_id", "te", "cents", "running_cents",
      agg = "sum", chunks = 8, stateDir = Some(tempCkpt()))(out.write)
    feedStream(s, chunks(txPayloads(s), 4)) { ms =>
      txCents(ms.toDF()).writeStream.foreachBatch(fn)
    }
    out.read(s)
  }

  /** The parsed transaction stream as the (customer_id, te, cents) rows
    * the running and rolling verbs take: epoch-second event time, exact
    * long cents. */
  private def txCents(payloads: DataFrame): DataFrame =
    Ingest.parseTransactions(payloads)
      .select(col("customer_id"),
        col("timestamp").cast("long").as("te"),
        round(col("amount") * lit(100)).cast("long").as("cents"))

  /** The run behind `stream_rolling_range` (r12): the transaction feed in
    * 4 micro-batches through [[graft.streaming.RollingRange.foreachBatch]]
    * — per-customer rolling spend over the TRAILING HOUR (RANGE 3600
    * seconds preceding on epoch-second event time), emitted per event.
    * Cross-batch state is the per-key horizon tail (O(window), not
    * O(history)) snapshotted per batchId; intra-batch the chunk-parallel
    * RANGE verb runs. Per-batch overwrite parquet sinks (idempotent by
    * batchId), graded as the union read back. Exact long cents. */
  private def rollingRangeStream(s: SparkSession): DataFrame = {
    import s.implicits._
    val out = new BatchParquet("customer_id", "te", "roll_cents")
    val fn = graft.streaming.RollingRange.foreachBatch(
      "customer_id", "te", "cents", "roll_cents",
      agg = "sum", preceding = 3600L, chunks = 8,
      stateDir = Some(tempCkpt()))(out.write)
    feedStream(s, chunks(txPayloads(s), 4)) { ms =>
      txCents(ms.toDF()).writeStream.foreachBatch(fn)
    }
    out.read(s)
  }

  /** The bounded-disorder twin of [[rollingRangeStream]] (r13, VERDICT
    * r12 #2): the same trailing-hour rolling spend, but the feed arrives
    * OUT OF ORDER within a 60-second disorder bound — consecutive
    * 30-event groups deterministically scrambled (displacement <= 29 s,
    * crossing micro-batch boundaries at the batch cuts) — and
    * [[graft.streaming.RollingRange]] runs with `slack = 60`: an event
    * finalizes only once its key's high-water passes event time + slack,
    * from a tail of horizon preceding + slack; a deeper-late event would
    * fail the batch loudly. A final sentinel event per customer (te one
    * past every real te + slack) flushes the last pending rows; the
    * sentinels themselves never finalize and never reach the sink. The
    * graded result is the union of per-batch emissions — it must equal
    * the batch RANGE window over the ordered relation exactly. */
  private def rollingRangeSlackStream(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = graft.sources.DataGen
      .transactions(s, streamN, 42L, streamEpoch, eventsPerSecond = 1.0)
      .select(col("customer_id"),
        col("timestamp").cast("long").as("te"),
        round(col("amount") * lit(100)).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // scramble: groups of 30 sorted by a bijective hash of te (te is
    // globally unique at 1 event/s) — disorder bounded at 29 s, inside
    // the verb's slack = 60 contract
    val scrambled = rows.grouped(30)
      .flatMap(_.sortBy(t => t._2 * 0x9E3779B97F4A7C15L)).toSeq
    val sentinelTe = rows.map(_._2).max + 61L
    val sentinels = rows.map(_._1).distinct.sorted
      .map(c => (c, sentinelTe, 0L))
    val out = new BatchParquet("customer_id", "te", "roll_cents")
    val fn = graft.streaming.RollingRange.foreachBatch(
      "customer_id", "te", "cents", "roll_cents",
      agg = "sum", preceding = 3600L, chunks = 8,
      stateDir = Some(tempCkpt()), slack = 60L)(out.write)
    feedStream(s, chunks(scrambled, 4) :+ sentinels) { ms =>
      ms.toDF("customer_id", "te", "cents").writeStream.foreachBatch(fn)
    }
    out.read(s)
  }

  /** The restart-recovery twin of [[runningChunkedStream]]
    * (`stream_running_chunked_restart`): two micro-batches in, the query
    * STOPS; a NEW query — meaning a brand-new foreachBatch closure with
    * EMPTY in-memory offsets — starts from the same checkpoint, stateDir
    * and sink directory, and is fed the remaining chunks. The fresh
    * closure must recover the per-key offsets from the stateDir snapshot
    * (`off_<batchId>`), and the engine may replay the last batch (the
    * per-batch overwrite parquet sink is idempotent by batchId). A
    * recovery bug — lost offsets, double-applied replay — shifts every
    * later running value and fails the oracle hash. */
  private def runningChunkedRestartStream(s: SparkSession): DataFrame = {
    import s.implicits._
    val out = new BatchParquet("customer_id", "te", "running_cents")
    val stateDir = tempCkpt()
    feedStream(s, chunks(txPayloads(s), 4), restartAfter = Some(2)) { ms =>
      // a NEW closure per start: in-memory offsets begin empty and the
      // stateDir reload path is what the row grades
      val fn = graft.streaming.ChunkedRunning.foreachBatch(
        "customer_id", "te", "cents", "running_cents",
        agg = "sum", chunks = 8, stateDir = Some(stateDir))(out.write)
      txCents(ms.toDF()).writeStream.foreachBatch(fn)
    }
    out.read(s)
  }

  /** The restart-recovery run behind `stream_daily_spend_restart`: the
    * canonical daily-spend streaming pipeline against a parquet sink (the
    * fault-tolerant sink whose `_spark_metadata` log gives exactly-once
    * file commits — the memory sink the other graded rows use is NOT
    * restart-durable, which is exactly why this row needs a file sink).
    * Two micro-batches in, the query STOPS; a new query starts from the
    * same checkpoint and is fed the second chunk again (duplicate rows only
    * the RECOVERED dedup state can drop), the remaining chunks, and the
    * watermark-flushing sentinel. Reading the sink directory back goes
    * through the metadata log, so an uncommitted or double-committed batch
    * would surface as missing/duplicated rows and fail the oracle hash. */
  private def restartStream(s: SparkSession): DataFrame = {
    import s.implicits._
    val outDir = tempCkpt() // same deferred-reap lifecycle as the checkpoint
    val feed = chunks(txPayloads(s), 4)
    // the re-fed second chunk lands AFTER recovery: dropping it requires
    // the dedup state to have survived the restart, not just the offsets
    val batches = feed.take(2) ++ (feed(1) +: feed.drop(2)) :+ Seq(sentinelJson)
    feedStream(s, batches, restartAfter = Some(2)) { ms =>
      Spend.dailySpendStream(Spend.dedupeStream(
          Ingest.parseTransactions(ms.toDF()).withWatermark("timestamp", "1 hour")))
        .writeStream.outputMode("append").format("parquet").option("path", outDir)
    }
    s.read.parquet(outDir).filter(col("customer_id") =!= "-1")
  }

  /** The two-stream join run behind `stream_stream_join` /
    * `stream_stream_join_left`: the transaction stream joined to the
    * derived refund stream ([[graft.sources.DataGen.refunds]]) on
    * `transaction_id` with a `[ts, ts + 30 min]` event-time range, both
    * sides watermarked (2 h — comfortably above the 2,400 s max
    * event-time skew between a transaction and its refund, so no valid
    * match is ever evicted early while state still stays bounded by event
    * time). Feeds interleave tx/refund chunks; a refund can land a
    * micro-batch before its transaction and must wait in join state.
    *
    * Finalization: inner matches emit on arrival, but LEFT OUTER null
    * rows emit only once the watermark proves the 30-min window closed —
    * and Structured Streaming emits them in the batch AFTER the watermark
    * advances. Two sentinel pairs a day apart (fed to BOTH streams — the
    * global watermark is the min across sources) first push the watermark
    * past every real window, then trigger the extra batch that flushes
    * the null-padded rows. Sentinel keys never match a real row; the tx
    * sentinel's own (possibly null-padded) output row is filtered by its
    * customer_id. */
  private def streamStreamJoin(s: SparkSession, joinType: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val name = joinType match {
      case "inner" => "stream_stream_join_t"
      case "left_outer" => "stream_stream_join_left_t"
      case _ => "stream_stream_join_full_t"
    }
    val rfPayloads = graft.sources.DataGen
      .refunds(s, streamN, 42L, streamEpoch, eventsPerSecond = 1.0)
      .select(to_json(struct(col("*"))).as("value")).collect().map(_.getString(0)).toSeq
    val msTx = MemoryStream[String]
    val msRf = MemoryStream[String]
    val tx = Ingest.parseTransactions(msTx.toDF())
      .select(col("transaction_id"), col("customer_id"), col("timestamp"),
        col("amount"))
      .withWatermark("timestamp", "2 hours")
    val rfSchema = StructType(Seq(
      StructField("transaction_id", StringType),
      StructField("refund_ts", TimestampType),
      StructField("refund_amount", DoubleType)))
    val rf = msRf.toDF()
      .select(from_json(col("value"), rfSchema).as("r")).select(col("r.*"))
      .withColumnRenamed("transaction_id", "r_transaction_id")
      .withWatermark("refund_ts", "2 hours")
    val joined = tx.join(rf,
      col("transaction_id") === col("r_transaction_id") &&
        col("refund_ts") >= col("timestamp") &&
        col("refund_ts") <= col("timestamp") + expr("INTERVAL 30 MINUTES"),
      joinType)
    // coalesced id: a FULL OUTER right-only row (refund whose window
    // closed with no in-range transaction) carries only r_transaction_id;
    // for inner/left the left id is always present so this is identity
    val out = joined.select(
      coalesce(col("transaction_id"), col("r_transaction_id")).as("transaction_id"),
      col("customer_id"), col("amount"),
      (col("refund_ts").cast("long") - col("timestamp").cast("long"))
        .as("delay_sec"))
    val ckpt = tempCkpt()
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).option("checkpointLocation", ckpt).start()
    val rfSentinel = (ts: String) =>
      s"""{"transaction_id":"sentinel-r","refund_ts":"$ts","refund_amount":1.0}"""
    val txSentinel2 = sentinelJson.replace("2024-06-01", "2024-06-02")
    try {
      chunks(txPayloads(s), 4).zipAll(chunks(rfPayloads, 4), Nil, Nil)
        .foreach { case (t, r) =>
          msTx.addData(t); msRf.addData(r)
          q.processAllAvailable()
        }
      msTx.addData(Seq(sentinelJson))
      msRf.addData(Seq(rfSentinel("2024-06-01T00:00:00.000Z")))
      q.processAllAvailable()
      msTx.addData(Seq(txSentinel2))
      msRf.addData(Seq(rfSentinel("2024-06-02T00:00:00.000Z")))
      q.processAllAvailable()
    } finally q.stop()
    // drop BOTH sentinels: the tx sentinel by its customer_id (null-safe —
    // full outer's right-only rows have a null customer and must survive),
    // the refund sentinel by its coalesced id
    s.table(name)
      .filter(coalesce(col("customer_id"), lit("")) =!= "-1" &&
        col("transaction_id") =!= "sentinel-r")
  }

  /** The streaming run behind `stream_eval_confusion`: the events table
    * fed in four micro-batches, the confusion counters maintained as ONE
    * complete-mode global aggregation (state = four additive longs,
    * bounded by construction at any stream length); the derived metrics
    * project AFTER finalization ([[graft.operators.Eval.metricsFromCounts]]),
    * so the finished relation must equal the batch suite over the same
    * rows — same oracle as `ext_eval_confusion`. */
  private def streamEvalConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val label = col("event_type") === "purchase"
    val pred = col("value") >= 150.0
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("event_type", "value").agg(
          cnt(label && pred).as("tp"), cnt(!label && pred).as("fp"),
          cnt(label && !pred).as("fn"), cnt(!label && !pred).as("tn"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_eval_confusion_t")
    }
    graft.operators.Eval.metricsFromCounts(s.table("stream_eval_confusion_t"))
  }

  /** The run behind `stream_quarantine`: events fed in four micro-batches
    * through the same [[graft.operators.Quality.quarantine]] expression —
    * stateless, append mode — then the appended rows are rolled into the
    * per-rule census the batch oracle states. */
  private def streamQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      graft.operators.Quality.quarantine(
          ms.toDF("event_id", "event_type", "value"), Seq(
            "value_le_400" -> (col("value") <= 400.0),
            "purchase_le_300" ->
              (col("event_type") =!= "purchase" || col("value") <= 300.0),
            "known_type" -> col("event_type").isin(
              "view", "click", "signup", "purchase", "error")))
        .select(col("event_id"), coalesce(col("quarantine_rule"), lit("PASS"))
          .as("rule"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_quarantine_t")
    }
    s.table("stream_quarantine_t")
      .groupBy(col("rule")).agg(count(lit(1)).as("n"))
      .orderBy(col("rule"))
  }

  /** The run behind `stream_embedding_drift`: the odd-id half of the
    * embedding corpus streams in four micro-batches; per-batch the sign
    * buckets aggregate in complete mode, and after the feed the counters
    * join the static even-half counts through the same fixed-point PSI
    * projection ([[graft.operators.Quality.psiDriftCounts]]). */
  private def streamEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val proj = graft.operators.Similarity.randomProject(
      col("embedding").cast("array<double>"), outDim = 4, dim = 64)
    val bucket = (0 until 4).map(i =>
        when(element_at(proj, i + 1) >= 0.0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val emb = Tables.embeddings(s, dir)
    val staticCounts = emb.filter(col("vec_id") % 2 === 0)
      .select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__ra"))
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("vec_id", "embedding")
        .select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("__rb"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_embdrift_t")
    }
    graft.operators.Quality.psiDriftCounts(
        staticCounts, s.table("stream_embdrift_t"))
      .orderBy(col("bucket"))
  }

  /** The run behind `stream_calibration`: events in four micro-batches,
    * per-bin counters in complete mode, the reliability columns projected
    * only after the feed finishes. */
  private def streamCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("event_type", "value")
        .groupBy(floor(col("value") / 50.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_pos"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_calibration_t")
    }
    s.table("stream_calibration_t")
      .select(col("bin"), col("n"), col("n_pos"),
        ((col("bin").cast("double") + 0.5) / 10.0).as("conf"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("acc"))
      .withColumn("gap", abs(col("conf") - col("acc")))
      .orderBy(col("bin"))
  }

  /** The run behind `stream_ewma`: daily per-user cents fed one day per
    * micro-batch; each batch full-outer-merges into the persisted levels
    * table — existing users fold `(level + x) div 2`, absent users carry
    * their level forward, new users initialize at their first day. The
    * state table is one row per user at any stream length. */
  private def streamEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stateDir = sys.props("java.io.tmpdir") + "/graft-ewma-stream-" +
      math.abs(dir.hashCode)
    FileUtils.deleteDirectory(new File(stateDir))
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      .select(col("user_id"), col("d").cast("string").as("d"), col("cents"))
      .as[(Long, String, Long)].collect().toSeq // bounded: users x days
    val days = daily.map(_._2).distinct.sorted
    feedStream(s, days.map(day => daily.filter(_._2 == day))) { ms =>
      ms.toDF("user_id", "d", "cents").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.select(col("user_id"), col("cents").as("x"))
          val first = !java.nio.file.Files.exists(
            java.nio.file.Paths.get(stateDir))
          val merged =
            if (first)
              b.select(col("user_id"), col("x").as("level"),
                lit(1L).as("n_days"))
            else s.read.parquet(stateDir).join(b, Seq("user_id"), "full_outer")
              .select(col("user_id"),
                when(col("x").isNull, col("level"))
                  .when(col("level").isNull, col("x"))
                  .otherwise(expr("(level + x) div 2")).as("level"),
                (coalesce(col("n_days"), lit(0L)) +
                  when(col("x").isNull, 0L).otherwise(1L)).as("n_days"))
          // stage before overwriting the directory being read
          graft.util.Checkpoints.cut(merged)
            .write.mode("overwrite").parquet(stateDir)
        }
    }
    s.read.parquet(stateDir)
      .select(col("user_id"), col("n_days"), col("level").as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** The run behind `stream_max_concurrency`: raw events fed one day per
    * micro-batch; each batch rolls its day's rows into per-user activity
    * intervals, runs the same +1/−1 sweep as the batch query, and APPENDS
    * the day's single peak row to the results table — per-day independence
    * is what makes the streaming union equal the one-shot sweep. */
  private def streamMaxConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val outDir = sys.props("java.io.tmpdir") + "/graft-conc-stream-" +
      math.abs(dir.hashCode)
    FileUtils.deleteDirectory(new File(outDir))
    val rows = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("d"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)].collect().toSeq
    val days = rows.map(_._2).distinct.sorted
    feedStream(s, days.map(day => rows.filter(_._2 == day))) { ms =>
      ms.toDF("user_id", "d", "ts_us").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val iv = batch.groupBy(col("user_id"), col("d"))
            .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
          val pts = iv.select(col("d"), col("s_us").as("t"), lit(1L).as("delta"))
            .unionAll(iv.select(col("d"), (col("e_us") + 1).as("t"),
              lit(-1L).as("delta")))
            .groupBy(col("d"), col("t")).agg(sum(col("delta")).as("net"))
          val w = Window.partitionBy(col("d")).orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val curve = pts.withColumn("conc", sum(col("net")).over(w))
          val peak = curve.groupBy(col("d"))
            .agg(max(col("conc")).as("max_concurrent"))
          peak.join(curve.select(col("d").as("c_d"), col("conc"), col("t")),
              col("d") === col("c_d") && col("max_concurrent") === col("conc"))
            .groupBy(col("d"), col("max_concurrent"))
            .agg(min(col("t")).as("peak_at_us"))
            .write.mode("append").parquet(outDir)
        }
    }
    s.read.parquet(outDir)
      .select(col("d"), col("max_concurrent"), col("peak_at_us"))
      .orderBy(col("d"))
  }

  /** The run behind `stream_skyline`: catalog rows fed in four chunks;
    * each micro-batch unions into the persisted frontier and re-runs the
    * dominance prune — the skyline is monotone state (a dominated row can
    * never rejoin), so the state table IS the answer and stays
    * frontier-sized at any stream length. */
  private def streamSkyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stateDir = sys.props("java.io.tmpdir") + "/graft-skyline-stream-" +
      math.abs(dir.hashCode)
    FileUtils.deleteDirectory(new File(stateDir))
    val rows = Tables.part(s, dir)
      .select(col("p_partkey"),
        (money(col("p_retailprice")) * 100).cast("long").as("price_cents"),
        col("p_size"))
      .as[(Long, Long, Int)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("p_partkey", "price_cents", "p_size").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val first = !java.nio.file.Files.exists(
            java.nio.file.Paths.get(stateDir))
          val candidates =
            if (first) batch
            else s.read.parquet(stateDir).unionByName(batch)
          graft.util.Checkpoints.cut( // stage before overwriting the source
            graft.operators.Skyline.frontier2d(
              candidates, "price_cents", "p_size"))
            .write.mode("overwrite").parquet(stateDir)
        }
    }
    s.read.parquet(stateDir)
      .select(col("p_partkey"), col("price_cents"), col("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  /** The run behind `stream_growth_accounting`: distinct (user, week) rows
    * fed one week per micro-batch; the persisted state is two user sets —
    * last week's actives and everyone ever seen. Each batch derives its
    * four counts from (batch, state), appends the week row to the results
    * table, and writes the new state. Gap weeks would need a tick per
    * empty week; the corpus has none (30 contiguous days). */
  private def streamGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = sys.props("java.io.tmpdir") + "/graft-growth-stream-" +
      math.abs(dir.hashCode)
    val stateDir = base + "/state"
    val outDir = base + "/rows"
    FileUtils.deleteDirectory(new File(base))
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").cast("string").as("w"))
      .distinct()
      .as[(Long, String)].collect().toSeq
    val weeks = uw.map(_._2).distinct.sorted
    feedStream(s, weeks.map(wk => uw.filter(_._2 == wk))) { ms =>
      ms.toDF("user_id", "w").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cur = batch.select(col("user_id"), col("w"))
          val first = !java.nio.file.Files.exists(
            java.nio.file.Paths.get(stateDir))
          val stats =
            if (first) cur.groupBy(col("w")).agg(
              count(lit(1)).as("new_users"), lit(0L).as("retained"),
              lit(0L).as("resurrected"), lit(0L).as("churned"))
            else {
              val st = s.read.parquet(stateDir) // (user_id, was_prev, seen)
              val j = st.join(cur.withColumn("act", lit(1L)),
                Seq("user_id"), "full_outer")
              j.agg(
                max(col("w")).as("w"),
                sum(when(col("act").isNotNull && col("seen").isNull, 1L)
                  .otherwise(0L)).as("new_users"),
                sum(when(col("act").isNotNull &&
                  coalesce(col("was_prev"), lit(0L)) === 1L, 1L)
                  .otherwise(0L)).as("retained"),
                sum(when(col("act").isNotNull && col("seen").isNotNull &&
                  coalesce(col("was_prev"), lit(0L)) === 0L, 1L)
                  .otherwise(0L)).as("resurrected"),
                sum(when(col("act").isNull &&
                  coalesce(col("was_prev"), lit(0L)) === 1L, 1L)
                  .otherwise(0L)).as("churned"))
                .select(col("w"), col("new_users"), col("retained"),
                  col("resurrected"), col("churned"))
            }
          stats.write.mode("append").parquet(outDir)
          // next state: current actives flagged prev, everyone-seen kept
          val prevState =
            if (first) s.emptyDataFrame.select(lit(0L).as("user_id"),
              lit(0L).as("was_prev"), lit(1L).as("seen")).limit(0)
            else s.read.parquet(stateDir)
          val nextState = prevState.select(col("user_id"), lit(1L).as("seen"))
            .unionByName(cur.select(col("user_id"), lit(1L).as("seen")))
            .groupBy(col("user_id")).agg(max(col("seen")).as("seen"))
            .join(cur.select(col("user_id"), lit(1L).as("was_prev")),
              Seq("user_id"), "left_outer")
            .select(col("user_id"), coalesce(col("was_prev"), lit(0L))
              .as("was_prev"), col("seen"))
          graft.util.Checkpoints.cut(nextState)
            .write.mode("overwrite").parquet(stateDir)
        }
    }
    s.read.parquet(outDir)
      .select(col("w").as("week"), col("new_users"), col("retained"),
        col("resurrected"), col("churned"))
      .orderBy(col("week"))
  }

  /** The run behind `stream_topk_users`: per-user totals fed in four
    * micro-batches through a complete-mode groupBy running the
    * TopKByScore heap aggregate — streaming state is the k-entry heap
    * itself (serialize/merge exercised across batches), finalized once at
    * the end. */
  private def streamTopkUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import s.implicits._
    val pu = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
      .as[(String, Long, Long)].collect().toSeq
    val agg = ColumnBridge.column(graft.functions.TopKByScore(
      ColumnBridge.expression(col("cents").cast("double")),
      ColumnBridge.expression(col("user_id")), 3).toAggregateExpression())
    feedStream(s, chunks(pu, 4)) { ms =>
      ms.toDF("event_type", "user_id", "cents")
        .groupBy(col("event_type")).agg(agg.as("__top"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_topk_users_t")
    }
    s.table("stream_topk_users_t")
      .select(col("event_type"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("event_type"), (col("__pos") + 1).as("rank"),
        col("__e.id").as("user_id"),
        col("__e.score").cast("long").as("cents"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** The run behind `stream_basket_rules`: distinct (order, brand) rows
    * fed in four micro-batches split BY ORDER KEY (baskets never straddle
    * batches), so the three counter families — pair counts, item counts,
    * basket count — are additive across batches; each batch computes its
    * own counts and merges them into the persisted state, and the rules
    * project once from the final counters. */
  private def streamBasketRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = sys.props("java.io.tmpdir") + "/graft-basket-stream-" +
      math.abs(dir.hashCode)
    FileUtils.deleteDirectory(new File(base))
    val bi = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("b"), col("p_brand").as("i")).distinct()
      .as[(Long, String)].collect().toSeq
    val byOrder = (0 until 4).map(c => bi.filter(t => (t._1 % 4).toInt == c))
    feedStream(s, byOrder) { ms =>
      ms.toDF("b", "i").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val pairs = batch.select(col("b"), col("i").as("item_a"))
            .join(batch.select(col("b"), col("i").as("item_b")), Seq("b"))
            .filter(col("item_a") < col("item_b"))
            .groupBy(col("item_a"), col("item_b"))
            .agg(count(lit(1)).as("n_ab"))
          val items = batch.groupBy(col("i")).agg(count(lit(1)).as("ni"))
          val nb = batch.select(countDistinct(col("b")).as("nb"))
          def merge(dirName: String, delta: DataFrame, keys: Seq[String],
              cnt: String): Unit = {
            val path = s"$base/$dirName"
            val merged =
              if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
                delta
              else s.read.parquet(path).unionByName(delta)
                .groupBy(keys.map(col): _*)
                .agg(sum(col(cnt)).as(cnt))
            graft.util.Checkpoints.cut(merged)
              .write.mode("overwrite").parquet(path)
          }
          merge("pairs", pairs, Seq("item_a", "item_b"), "n_ab")
          merge("items", items, Seq("i"), "ni")
          merge("baskets", nb.select(lit(0L).as("k"), col("nb")), Seq("k"), "nb")
        }
    }
    val pairs = s.read.parquet(s"$base/pairs").filter(col("n_ab") >= 5L)
    val items = s.read.parquet(s"$base/items")
    val nb = s.read.parquet(s"$base/baskets")
      .select(col("nb").as("n_baskets"))
    pairs
      .join(broadcast(items.select(col("i").as("item_a"),
        col("ni").as("n_a"))), Seq("item_a"))
      .join(broadcast(items.select(col("i").as("item_b"),
        col("ni").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        expr("n_ab * 10000 div n_baskets").as("support_bp"),
        expr("n_ab * 10000 div n_a").as("conf_a_to_b_bp"),
        expr("n_ab * 10000 div n_b").as("conf_b_to_a_bp"),
        ((col("n_ab") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** The run behind `stream_cusum`: per-type daily cents fed one day per
    * micro-batch against the FIXED calibration mean (computed once, batch —
    * the μ₀ a production CUSUM monitors against); each batch full-outer-
    * merges the greatest(0, s + x − μ₀) step into the persisted per-type
    * state (s, best, bestd, n_days) — one row per type at any stream
    * length. Absent types carry state; the earliest-peak tie rule is the
    * batch fold's strict `>`. */
  private def streamCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stateDir = sys.props("java.io.tmpdir") + "/graft-cusum-stream-" +
      math.abs(dir.hashCode)
    FileUtils.deleteDirectory(new File(stateDir))
    val dailyDf = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("cents"))
    // calibration pass: the reference level each later day is scored against
    val mean = dailyDf.groupBy(col("event_type"))
      .agg(expr("sum(cents) div count(1)").as("mean_cents"))
    val daily = dailyDf
      .select(col("event_type"), col("d").cast("string").as("d"), col("cents"))
      .as[(String, String, Long)].collect().toSeq // bounded: types x days
    val days = daily.map(_._2).distinct.sorted
    feedStream(s, days.map(day => daily.filter(_._2 == day))) { ms =>
      ms.toDF("event_type", "d", "cents").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.join(broadcast(mean), Seq("event_type"))
            .select(col("event_type"), col("d").as("bd"),
              col("cents").as("x"), col("mean_cents").as("mu"))
          val first = !java.nio.file.Files.exists(
            java.nio.file.Paths.get(stateDir))
          val stepped =
            if (first) b.select(col("event_type"),
              expr("greatest(0L, x - mu)").as("s"),
              expr("greatest(0L, x - mu)").as("best"),
              when(expr("greatest(0L, x - mu)") > 0L, col("bd")).as("bestd"),
              lit(1L).as("n_days"))
            else s.read.parquet(stateDir)
              .join(b, Seq("event_type"), "full_outer")
              .select(col("event_type"),
                when(col("x").isNull, col("s"))
                  .otherwise(expr("greatest(0L, coalesce(s, 0L) + x - mu)"))
                  .as("s"),
                when(col("x").isNull, col("best")).otherwise(
                  greatest(coalesce(col("best"), lit(0L)),
                    expr("greatest(0L, coalesce(s, 0L) + x - mu)")))
                  .as("best"),
                when(col("x").isNull, col("bestd")).otherwise(
                  when(expr("greatest(0L, coalesce(s, 0L) + x - mu)") >
                      coalesce(col("best"), lit(0L)), col("bd"))
                    .otherwise(col("bestd"))).as("bestd"),
                (coalesce(col("n_days"), lit(0L)) +
                  when(col("x").isNull, 0L).otherwise(1L)).as("n_days"))
          // stage before overwriting the directory being read
          graft.util.Checkpoints.cut(stepped)
            .write.mode("overwrite").parquet(stateDir)
        }
    }
    s.read.parquet(stateDir).join(broadcast(mean), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("mean_cents"),
        col("best").as("max_cusum"), col("s").as("final_cusum"),
        col("bestd").as("peak_d"))
      .orderBy(col("event_type"))
  }

  /** The streaming-quality run behind `stream_quality_monitor`: four
    * additive counters over the whole transaction stream in complete
    * mode; the final counter row unfolds into per-check metric rows. */
  private def streamQualityMonitor(s: SparkSession): DataFrame = {
    import s.implicits._
    feedStream(s, chunks(txPayloads(s), 4)) { ms =>
      Ingest.parseTransactions(ms.toDF()).agg(
          count(lit(1)).as("n"),
          count(col("customer_id")).as("comp_cust"),
          sum(when(col("amount") >= 100, 1L).otherwise(0L)).as("amt_ok"),
          sum(when(col("status") === "Success", 1L).otherwise(0L)).as("st_ok"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_quality_monitor_t")
    }
    s.table("stream_quality_monitor_t")
      .select(explode(array(
        struct(lit("completeness:customer_id").as("check"),
          col("comp_cust").as("num"), col("n").as("den")),
        struct(lit("compliance:amount>=100").as("check"),
          col("amt_ok").as("num"), col("n").as("den")),
        struct(lit("compliance:status=Success").as("check"),
          col("st_ok").as("num"), col("n").as("den")))).as("e"))
      .select(col("e.check").as("check"), col("e.num").as("num"),
        col("e.den").as("den"),
        (col("e.num").cast("double") / col("e.den").cast("double"))
          .as("metric"),
        (col("e.num").cast("double") / col("e.den").cast("double") >= 0.25)
          .as("passed"))
  }

  /** The streaming-dedup run behind `stream_dedup_incremental`: the band
    * index seeds from the stored nine tenths of the corpus; the new tenth
    * streams in three micro-batches. Per batch: candidates against the
    * CURRENT index (new x old AND within-batch new x new), then the
    * batch's own bands append into the index so later batches collide
    * with earlier ones. The final pair set must equal the one-shot
    * incremental run over the whole new tenth. */
  private def streamDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val indexDir = tempCkpt()
    val pairsDir = tempCkpt()
    graft.operators.Dedup.minhashBands(docs.filter(col("doc_id") % 10 =!= 0))
      .write.mode("overwrite").parquet(indexDir)
    val newIds = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq // bounded: a tenth of the corpus' IDS
    feedStream(s, chunks(newIds, 3)) { ms =>
      ms.toDF("sid").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val newDocs = batch.join(docs, batch("sid") === docs("doc_id"))
            .select(col("doc_id"), col("text"))
          graft.operators.Dedup.minhashCandidatesIncremental(
              newDocs, s.read.parquet(indexDir))
            .write.mode("append").parquet(pairsDir)
          // grow the index AFTER the screen: append never disturbs the
          // files the screen just read
          graft.operators.Dedup.minhashBands(newDocs)
            .write.mode("append").parquet(indexDir)
        }
    }
    s.read.parquet(pairsDir).distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The streaming-search run behind `stream_knn`: query ids arrive as a
    * MemoryStream in three micro-batches; each batch's vectors are looked
    * up in the static corpus and brute-force-scored against it
    * ([[graft.operators.Similarity.bruteForceTopK]] — broadcast queries,
    * corpus-parallel codegen'd dot product), appending per-batch results
    * to a parquet sink. The union of batches must equal the one-shot
    * batch search over the same ten queries. */
  private def streamKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val outDir = tempCkpt()
    feedStream(s, Seq(0L until 4L, 4L until 7L, 7L until 10L)) { ms =>
      ms.toDF("id").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val qs = batch.join(emb, batch("id") === emb("vec_id"))
            .select(col("vec_id").as("q_id"), col("embedding"))
          graft.operators.Similarity.bruteForceTopK(emb, qs, k = 5)
            .write.mode("append").parquet(outDir)
        }
    }
    s.read.parquet(outDir)
  }

  /** The streaming-CDC run behind `stream_upsert_table`: the transaction
    * stream applied to a date-partitioned parquet table batch-by-batch
    * through the keyed partitioned MERGE. The first batch seeds the
    * layout; every later batch (including the deliberately re-fed
    * duplicate chunk) upserts — replayed keys rewrite their own rows, so
    * the final table is exactly one row per distinct transaction no
    * matter how many times a chunk is delivered. */
  private def streamUpsertTable(s: SparkSession): DataFrame = {
    import s.implicits._
    val outDir = tempCkpt() // reaped like every graded stream artifact
    val feed = chunks(txPayloads(s), 4)
    // the last chunk again is a replayed delivery: the upsert must absorb
    // it without duplicates
    feedStream(s, feed :+ feed.last) { ms =>
      Ingest.parseTransactions(ms.toDF()).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch
            .withColumn("t_date", to_date(col("timestamp")))
          if (!new java.io.File(outDir).exists()) {
            rows.repartition(col("t_date"))
              .write.mode("overwrite").partitionBy("t_date").parquet(outDir)
          } else {
            graft.operators.Merge.upsertPartitioned(
              s, outDir, rows, Seq("transaction_id"), "t_date")
          }
        }
    }
    s.read.parquet(outDir)
      .groupBy(col("customer_id"),
        col("t_date").cast("string").as("transaction_date"))
      .agg(dsum(col("amount")).as("total_spent"))
  }

  /** Streaming register maintenance behind `stream_hll_registers`: the
    * documents fed in four micro-batches (one re-fed — max is idempotent),
    * shingled in-stream, registers kept in complete mode. The memory sink
    * REPLACES its table each complete-mode batch, so the final table is
    * exactly the register state — compared against the batch SQL build. */
  private def streamHllRegisters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    val feed = chunks(rows, 4)
    feedStream(s, feed :+ feed.head) { ms =>
      val sh = ms.toDF()
        .select(explode(graft.operators.Dedup.wordShingles(col("_2"), 5)).as("sh"))
      graft.operators.Sketch.hllBuild(sh, "sh", p = 10)
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_hll_registers_t")
    }
    s.table("stream_hll_registers_t")
  }

  /** The run behind `stream_hll_groups`: documents fed in 4 id-ordered
    * micro-batches (plus the first chunk RE-FED whole — duplicate rows may
    * not move a max-register), per-(lang, bucket) registers maintained as a
    * complete-mode grouped max. The estimate projects over the final
    * register table against the BATCH exact counts, so the output relation
    * is the same one `ext_hll_groups` computes. */
  private def streamHllGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Sk = graft.operators.Sketch
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String, String)].collect().toSeq
    val feed = chunks(rows, 4)
    feedStream(s, feed :+ feed.head) { ms =>
      val sh = ms.toDF()
        .select(col("_2").as("lang"),
          explode(graft.operators.Dedup.wordShingles(col("_3"), 5)).as("sh"))
      Sk.hllBuildGrouped(sh, "sh", Seq("lang"), p = 10)
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_hll_groups_t")
    }
    // lineage cut: the estimate's summary CTEs self-join the register
    // relation — against the raw memory-sink table that resolves to
    // conflicting references (same unresolved relation on both sides)
    val est = Sk.hllEstimateGrouped(
      graft.util.Checkpoints.cut(s.table("stream_hll_groups_t")),
      Seq("lang"), p = 10)
    val exact = Tables.ensureParallelism(Tables.documents(s, dir))
      .select(col("lang"),
        explode(graft.operators.Dedup.wordShingles(col("text"), 5)).as("sh"))
      .groupBy(col("lang"))
      .agg(count_distinct(col("sh")).as("exact_distinct"))
    est.join(exact, "lang").orderBy(col("lang"))
  }

  /** The streaming-changelog run behind `stream_scd2_changes`: events fed
    * in four ts-ordered micro-batches through the per-key TWS state
    * machine ([[graft.streaming.Scd2Stream]] — one ValueState row per
    * key), emitting a change row per attribute transition. The final
    * table must equal the change half of the batch SCD2 (x23's runs —
    * same lag-based oracle minus the interval close). */
  private def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id").cast("string").as("key"),
        unix_micros(col("ts")).as("ts"), col("event_type").as("attr"),
        col("event_id").as("id"))
      .orderBy(col("ts"), col("id"))
      .as[graft.streaming.Scd2Stream.Ev].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      graft.streaming.Scd2Stream.changes(ms).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_scd2_changes_t")
    }
    s.table("stream_scd2_changes_t")
      .select(col("key").cast("long").as("user_id"), col("attr").as("event_type"),
        col("valid_from"), col("version"))
      .orderBy(col("user_id"), col("version"))
  }

  /** The live run behind `stream_pmi_bigrams`: documents stream in four
    * micro-batches; the ONLY state is the complete-mode (l, r) pair-count
    * table (additive — each bigram occurrence feeds exactly once), and
    * the exact Q16 PMI ranking is a stateless projection over the final
    * counters ([[graft.operators.TextAnalysis.pmiFromCounts]]) — live
    * collocation monitoring at bounded memory. Graded by the same oracle
    * as the batch `ext_pmi_bigrams`. */
  private def streamPmiBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      graft.operators.TextAnalysis.bigramPairs(ms.toDF("doc_id", "text"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_ab"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_pmi_counts")
    }
    graft.operators.TextAnalysis.pmiFromCounts(
      s.table("stream_pmi_counts"), minCount = 5, k = 50)
  }

  /** The live-drift run behind `stream_drift_psi`: the even-doc_id half is
    * the STATIC reference corpus; the odd half streams in four
    * micro-batches, its n_chars bucket counts maintained as a
    * complete-mode aggregation (additive — each row feeds exactly once,
    * like the count-min twin). The fixed-point PSI report is a stateless
    * projection over the final maintained counts vs the reference cells —
    * the monitor shape where the stream holds only G counter rows and the
    * alert math replays exactly ([[graft.operators.Quality.psiDriftCounts]]).
    * Graded by the same oracle as the batch `ext_drift_psi`. */
  private def streamDriftPsi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(floor(col("n_chars") / lit(64)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__ra"))
    val rows = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))
      .as[(Long, Long)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("doc_id", "n_chars")
        .select(floor(col("n_chars") / lit(64)).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("__rb"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_drift_psi_cells")
    }
    graft.operators.Quality.psiDriftCounts(ref, s.table("stream_drift_psi_cells"))
      .orderBy(col("bucket"))
  }

  /** The live percentile monitor behind `stream_histogram_p99`: the stream
    * maintains ONLY the (key, bucket) counter table (complete mode — at
    * most keys x 256 additive counter rows of state, duplicates are new
    * observations by design), and the quantile report is a stateless
    * projection over the final counters — the same relation the batch
    * histogram computes, so the DuckDB rebuild oracle is shared. */
  private def streamHistogramQuantile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .orderBy(col("event_id"))
      .as[(Long, String, Double)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      // the SAME histogramCounts the batch row runs — one bucket function,
      // one oracle; plain filter+groupBy+agg streams unchanged
      graft.operators.Quality.histogramCounts(
          ms.toDF("event_id", "event_type", "value"),
          "event_type", "value", step = 4.0)
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_histogram_p99_t")
    }
    graft.operators.Quality.histogramQuantileReport(
        s.table("stream_histogram_p99_t"), Seq(0.5, 0.95, 0.99), step = 4.0)
      .select(col("key").as("event_type"), col("q"), col("total_n"),
        col("bucket"), col("upper"))
      .orderBy(col("event_type"), col("q"))
  }

  /** The run behind `stream_volume_anomaly`: events fed in 4 micro-batches,
    * the stream maintaining ONLY the (event_type, day) counts (complete-mode
    * additive aggregation — bounded state of keys x days counter rows); the
    * rolling-band report is a stateless window projection over the final
    * counts, so the alarm relation equals the batch row's exactly. */
  private def streamVolumeAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .orderBy(col("event_id"))
      .as[(Long, String, Long)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("event_id", "event_type", "us")
        .groupBy(col("event_type").as("key"),
          to_date(timestamp_micros(col("us"))).cast("string").as("d"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_volume_anomaly_t")
    }
    graft.operators.Quality.volumeAnomalyReport(
        s.table("stream_volume_anomaly_t"))
      .select(col("key").as("event_type"), col("d"), col("n"), col("mu"),
        col("sigma"), col("is_anomaly"))
      .orderBy(col("event_type"), col("d"))
  }

  /** The sharded-bloom dedup run behind `stream_bloom_dedup`: documents
    * fingerprinted (md5 of normalized text), batch-compacted to one row
    * per fingerprint (min doc_id keeper — same arrangement as
    * [[docCleanStream]], so surviving-copy choice is feed-independent),
    * fed in four micro-batches plus the first chunk re-fed whole. The
    * bloom processor must pass every unique fingerprint (bitmaps sized
    * for ~1e-6 aggregate false-positive odds, deterministic besides) and
    * drop the entire re-fed chunk, so the streamed result equals the
    * batch dedup the DuckDB oracle computes. */
  private def streamBloomDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(graft.operators.Dedup.normalize(col("text")).cast("binary")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp")).orderBy(col("doc_id"))
      .as[graft.streaming.BloomDedup.Doc].collect().toSeq
    val feed = chunks(rows, 4)
    feedStream(s, feed :+ feed.head) { ms =>
      graft.streaming.BloomDedup.dedup(ms).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_bloom_dedup_t")
    }
    s.table("stream_bloom_dedup_t")
  }

  /** Streaming sample-quantile maintenance behind `stream_quantile_sample`:
    * the deterministic-hash sample membership is STATELESS (a pure
    * function of each row's id), so the only streaming state is the
    * bounded sample itself, held as a sorted collect_list in a
    * complete-mode aggregation and rank-selected every trigger — live
    * percentiles over an unbounded stream at fixed memory. Rows feed
    * exactly once (the sample list is additive, like the count-min twin);
    * the final table equals the batch rank selection, graded by the
    * sample half of ext_quantile_sample's oracle. */
  private def streamQuantileSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Sa = graft.operators.Sampling
    val rows = Tables.lineitem(s, dir)
      .select(concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("id"), col("l_extendedprice").as("v"))
      .orderBy(col("id")).as[(String, Double)].collect().toSeq
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
    val rank = floor(col("q") * (col("sample_n") - 1L).cast("double"))
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("id", "v")
        .filter(Sa.hashBucket(col("id"), "qsample") < lit(Sa.hexThreshold(1.0 / 16)))
        .agg(sort_array(collect_list(struct(col("v"), col("id")))).as("__sorted"),
          count(lit(1)).as("sample_n"))
        .select(col("__sorted"), col("sample_n"),
          explode(array(qs.map(lit): _*)).as("q"))
        .select(col("q"), col("sample_n"), rank.as("rank"),
          element_at(col("__sorted"), (rank + 1L).cast("int")).getField("v").as("value"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_quantile_sample_t")
    }
    s.table("stream_quantile_sample_t")
  }

  /** Streaming count-min maintenance behind `stream_countmin_registers`:
    * the documents tokenized in-stream across four micro-batches, counters
    * kept in complete mode — the heavy-hitter monitor shape where each
    * trigger updates a fixed `depth x width` counter table. Unlike the HLL
    * twin's max-registers (idempotent, so it re-feeds a chunk to prove it),
    * count-min counters are ADDITIVE: each row is fed exactly once, and
    * exactly-once delivery is what makes the streamed sketch equal the
    * batch build (the DuckDB rebuild oracle). */
  private def streamCountMinRegisters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      val toks = ms.toDF()
        .select(explode(split(graft.operators.Dedup.normalize(col("_2")), " ")).as("tok"))
      graft.operators.Sketch.countMinBuild(toks, "tok", depth = 4, width = 1024)
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_countmin_registers_t")
    }
    s.table("stream_countmin_registers_t")
  }

  /** Continuous top-k leaderboard: the corpus token frequencies maintained
    * across micro-batches as a complete-mode streaming aggregation with a
    * rank-and-truncate on every emit (sort + limit are legal exactly in
    * complete mode, where each batch emits the full aggregate). After the
    * final batch the memory table IS the corpus-wide top-100 — the same
    * relation the batch [[graft.operators.TextAnalysis.vocabTopK]] (and
    * its DuckDB oracle) computes. */
  private def streamVocabTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF()
        .select(explode(graft.operators.TextAnalysis.tokens(lower(col("_2")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)
        .writeStream.outputMode("complete").format("memory")
        .queryName("stream_vocab_topk_t")
    }
    s.table("stream_vocab_topk_t")
  }

  /** Feed the events table globally (ts, event_id)-ordered in 4 chunks
    * through [[graft.streaming.Transitions.pairs]]; the graded projection
    * re-counts the streamed pair multiset into x56's exact relation. */
  private def streamTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .as[(Long, String, Long, Long)].collect().toSeq
      .map { case (u, t, us, id) => graft.streaming.Transitions.Ev(u, t, us, id) }
    feedStream(s, chunks(rows, 4)) { ms =>
      graft.streaming.Transitions.pairs(ms).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_transitions_t")
    }
    s.table("stream_transitions_t")
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("share_bp", expr("n * 10000 DIV from_total"))
      .drop("from_total")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Feed the events table (ts, event_id)-ordered in 4 chunks through
    * [[graft.streaming.FunnelStream.reaches]]; the graded projection
    * counts the streamed reach set into x19's exact step frame (a step
    * nobody reaches still emits its zero row, like the batch operator). */
  private def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val steps = Seq("signup", "view", "click", "purchase")
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .as[(Long, String, Long, Long)].collect().toSeq
      .map { case (u, t, us, id) => graft.streaming.FunnelStream.Ev(u, t, us, id) }
    feedStream(s, chunks(rows, 4)) { ms =>
      graft.streaming.FunnelStream.reaches(ms, steps, windowSec = 86400L).toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_funnel_t")
    }
    val stepFrame = steps.zipWithIndex
      .map { case (n, i) => (i + 1, n) }.toDF("step", "step_name")
      .select(col("step").cast("int").as("step"), col("step_name"))
    stepFrame
      .join(s.table("stream_funnel_t").groupBy(col("step"))
        .agg(count(lit(1)).as("n_users")), Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy(col("step"))
  }

  /** The streaming document-curation run behind `stream_doc_clean`:
    * [[graft.streaming.DocumentPipeline.clean]] driven over the documents
    * table as a MemoryStream (ingest_ts = a fixed epoch + doc_id seconds,
    * so event time is integer-exact), four micro-batches plus the last
    * chunk re-fed whole.
    *
    * The feed is batch-compacted first (min doc_id per fingerprint — the
    * standard arrangement: [[graft.operators.Dedup.exact]] compacts the
    * backlog, the stream dedups re-sends), so the only fingerprint
    * collisions the stream ever sees are the re-fed byte-identical rows —
    * the surviving-copy choice cannot affect the output at ANY scale
    * factor. Without the compaction, an organic duplicate pair (present at
    * sf0.1) would make the kept doc_id depend on partition order inside a
    * micro-batch. The re-fed chunk is the newest data, so its fingerprints
    * are still inside the watermark's dedup state regardless of the feed's
    * total event-time span. No sentinel: dedup is not an aggregation, rows
    * finalize on arrival in append mode. */
  private def docCleanStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val compacted = graft.operators.Dedup.exact(Tables.documents(s, dir))
    val rows = compacted
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    val feed = chunks(rows, 4)
    feedStream(s, feed :+ feed.last) { ms =>
      val docs = ms.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
        .withColumn("ingest_ts", timestamp_seconds(lit(streamEpoch) + col("doc_id")))
      graft.streaming.DocumentPipeline.clean(docs, watermark = "1 hour")
        .select(col("doc_id"), col("fingerprint"), col("quality_score"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_doc_clean_t")
    }
    s.table("stream_doc_clean_t")
  }

  /** Model-apply on a live stream: per-label mean centroids are trained
    * BATCH-side (the deployed model artifact — one bounded row per label,
    * exactly like the IVF literal-centroid path) and every streamed
    * embedding is assigned to its nearest centroid as a PURE PER-ROW
    * expression (literal-centroid argmin, no state, no aggregation — so
    * append mode needs no watermark). Grades against the same DuckDB
    * oracle as the batch `ext_centroid_assign`: the centroids are the
    * engine's own ordered-fold values collected and re-embedded as
    * literals, and the d2 arithmetic mirrors the batch operator term for
    * term, so the stream twin is bit-identical per row. */
  private def centroidAssignStream(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = graft.operators.Similarity.labelCentroidVectors(emb)
      .select(col("label"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val rows = emb
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Int, Seq[Double])].collect().toSeq
    // same argmin the batch groupBy(min(struct(d2, label))) computes,
    // expressed per row: ascending struct sort, first element wins ties
    // by label — and the same (ee - 2*dot) + cc term order
    val candidates = array(cents.map { case (lbl, c) =>
      val cl = array(c.map(lit): _*)
      struct(
        ((Vectors.dot(col("__e"), col("__e"))
          - lit(2.0) * Vectors.dot(col("__e"), cl))
          + Vectors.dot(cl, cl)).as("d2"),
        lit(lbl).as("lbl"))
    }: _*)
    feedStream(s, chunks(rows, 4)) { ms =>
      ms.toDF("vec_id", "label_true", "__e")
        .select(col("vec_id"), col("label_true"),
          element_at(array_sort(candidates), 1).as("__m"))
        .select(col("vec_id"), col("label_true"),
          col("__m.lbl").as("assigned_label"), col("__m.d2").as("d2"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_centroid_assign_t")
    }
    s.table("stream_centroid_assign_t")
  }

  /** The stream-stream interval join behind `stream_interval_join` (inner)
    * and `stream_interval_join_left` (leftOuter): the generator feed split
    * into two REAL streams by merchant parity (a field both engines
    * re-derive, so routing is order-independent), each with its own
    * watermark; purchases join same-customer views from the prior 10
    * minutes. The closing sentinel on both sides pushes both watermarks
    * past every real event — inner rows have all emitted by then, and the
    * outer join's null-padded rows finalize (an unmatched purchase may only
    * emit once the view watermark proves no match can arrive). */
  private def intervalJoinStream(s: SparkSession, joinType: String): DataFrame = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val rows = graft.sources.DataGen
      .transactions(s, streamN, 42L, streamEpoch, eventsPerSecond = 1.0)
      .select(col("merchant_id"), to_json(struct(col("*"))).as("value"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val (vRows, pRows) = rows.partition(_._1 % 2 == 0)
    val vs = MemoryStream[String]
    val ps = MemoryStream[String]
    val v = Ingest.parseTransactions(vs.toDF())
      .selectExpr("customer_id AS v_cust", "timestamp AS v_ts",
        "transaction_id AS view_id")
      .withWatermark("v_ts", "10 minutes")
    val p = Ingest.parseTransactions(ps.toDF())
      .selectExpr("customer_id", "timestamp AS p_ts",
        "transaction_id AS purchase_id")
      .withWatermark("p_ts", "10 minutes")
    val joined0 = p.join(v, expr(
        "customer_id = v_cust AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 10 MINUTES"),
        joinType)
    val joined =
      if (joinType == "fullOuter")
        // both unmatched sides emit null-padded: the output customer must
        // come from whichever side is present (the purchase-side column
        // alone would null out unmatched views and lose them to the
        // sentinel filter)
        joined0.select(col("purchase_id"), col("view_id"),
          coalesce(col("customer_id"), col("v_cust")).as("customer_id"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts")))
            .as("secs_since_view"))
      else joined0
        .select(col("purchase_id"), col("view_id"), col("customer_id"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts")))
            .as("secs_since_view"))
    val qname = s"stream_interval_join_${joinType.toLowerCase}_t"
    val ckpt = tempCkpt()
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(qname)
      .option("checkpointLocation", ckpt).start()
    try {
      // both sides advance across several batches; the final sentinel on
      // each side pushes both watermarks past every real event
      chunks(vRows.map(_._2).toSeq, 3).zipAll(chunks(pRows.map(_._2).toSeq, 3), Nil, Nil)
        .foreach { case (vc, pc) =>
          if (vc.nonEmpty) vs.addData(vc)
          if (pc.nonEmpty) ps.addData(pc)
          q.processAllAvailable()
        }
      vs.addData(Seq(sentinelJson)); ps.addData(Seq(sentinelJson))
      q.processAllAvailable()
    } finally q.stop()
    s.table(qname).filter(col("customer_id") =!= "-1")
  }

  // oracle generator CTE: regenerates the stream feed (md5-derived fields,
  // integer epoch seconds) — the same construction s6/s7 pin
  private def streamTxCte(n: Long, startEpoch: Long): String =
    s"""g AS (SELECT range AS id FROM range(0, $n)),
       |t AS (SELECT
       |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS customer_id,
       |  (CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 99900 + 100) / 100.0 AS amount,
       |  $startEpoch + id AS te
       |FROM g)""".stripMargin

  // ---- LSH oracle building blocks ------------------------------------
  // The hyperplanes are deterministic (seeded gaussians), so embedding the
  // SAME values the engine uses as SQL literals makes bucket assignment a
  // pure function any engine reproduces — which is what turns approximate
  // LSH output into a hash-checkable result. Each element is a STRING cast
  // to DOUBLE: DuckDB's string->double parse is correctly rounded, whereas
  // a bare decimal literal routes through DECIMAL and loses the last ulp on
  // ~10% of values (measured), which is invisible to sign-only bucket use
  // but fails hash checks on raw projected components.
  private def planeList(p: Array[Double]): String =
    p.map(d => s"'$d'::DOUBLE").mkString("[", ", ", "]")

  // ---- Unicode-normalization fixture ---------------------------------
  // Shared by the ext_text_normalize query AND its oracle so both engines
  // see byte-identical codepoints: composed/decomposed pairs, a ligature
  // and non-decomposable letters (ß, ﬁ, ø must survive accent stripping).
  // Rows 2/3 are genuinely decomposed (e/E + U+0301) — the case the
  // normalization exists for.
  private val unicodeFixture: Seq[(Long, String)] = Seq(
    (1L, "café"),
    (2L, "café"),
    (3L, "École"),
    (4L, "STRASSE ß"),
    (5L, "crème brûlée"),
    (6L, "naïve ﬁre"),
    (7L, "Ωμέγα"), // Greek, no final sigma
    (8L, "plain ascii text"),
    (9L, "mañana ø ål"))

  /** DuckDB expression equal to Similarity.lshBucket(e, nPlanes, dim, seed)
    * for a DOUBLE[] column named `e`. */
  private def bucketSql(e: String, nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): String =
    graft.operators.Similarity.planes(nPlanes, dim, seed).zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($e, ${planeList(p)}) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // exact top-5 per query by cosine — the oracle for the brute-force kNN
  // AND for IVF at nprobe = nlist (exhaustive probing ≡ brute force)
  private val bloomDecontaminateSql =
      """WITH tr AS (SELECT doc_id, list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS s
        |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents WHERE doc_id % 10 != 0)),
        |ev AS (SELECT doc_id, list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS s
        |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents WHERE doc_id % 10 = 0)),
        |ks AS (SELECT unnest([0, 1, 2]) AS i),
        |bits AS (SELECT DISTINCT
        |    CAST(CAST('0x' || substr(md5(sh || '#bf' || CAST(i AS VARCHAR) || '.bloom'), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 131072 AS bit
        |  FROM (SELECT unnest(s) AS sh FROM ev) CROSS JOIN ks),
        |pos AS (SELECT train_id, sh, i,
        |    CAST(CAST('0x' || substr(md5(sh || '#bf' || CAST(i AS VARCHAR) || '.bloom'), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 131072 AS bit
        |  FROM (SELECT doc_id AS train_id, unnest(s) AS sh FROM tr) CROSS JOIN ks),
        |hit AS (SELECT train_id, sh, count(b.bit) = 3 AS maybe
        |  FROM pos p LEFT JOIN bits b USING (bit) GROUP BY train_id, sh)
        |SELECT train_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
        |FROM hit GROUP BY train_id
        |HAVING n_suspect >= 2 ORDER BY train_id""".stripMargin

  /** Shared by `x19_funnel` (batch step chain) and its TWS twin
    * `stream_funnel`: the strict ordered funnel unrolled as one CTE per
    * step, counted per step with explicit zero rows. */
  private lazy val funnelOracleSql: String = {
    def step(n: Int, ty: String) =
      s"""s$n AS (SELECT e.user_id AS u, min(e.ts) AS reached FROM events e
         |  JOIN s${n - 1} ON e.user_id = s${n - 1}.u
         |  WHERE e.event_type = '$ty' AND e.ts >= s${n - 1}.reached
         |    AND e.ts <= s${n - 1}.reached + INTERVAL 86400 SECOND
         |  GROUP BY 1)""".stripMargin
    s"""WITH s1 AS (SELECT user_id AS u, min(ts) AS reached FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |${step(2, "view")},
       |${step(3, "click")},
       |${step(4, "purchase")}
       |SELECT CAST(1 AS INTEGER) AS step, 'signup' AS step_name,
       |  (SELECT count(*) FROM s1) AS n_users
       |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
       |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
       |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""".stripMargin
  }

  /** Shared by `x1_asof_attribution` (composed union-window form) and
    * `x62_asof_native` (custom AsOfJoinExec): DuckDB's native ASOF JOIN. */
  private val asofAttributionSql =
    """SELECT p.event_id, p.user_id, p.value, c.event_id AS click_event_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Shared by `x56_transitions` and its TWS twin `stream_transitions`:
    * lead over the unique (ts, event_id) per-user order, then integral
    * division for the share (// in DuckDB, DIV in Spark — float division
    * truncates differently at exact-integer boundaries). */
  private val transitionsSql =
    """WITH p AS (SELECT user_id AS u, event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST((n * 10000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS share_bp
      |FROM c ORDER BY from_type, to_type""".stripMargin

  private val vocabTopKSql =
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents) u
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  private val centroidAssignSql =
    """WITH l AS (SELECT label, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS vs,
      |    count(*) AS n
      |  FROM embeddings GROUP BY label),
      |c AS (SELECT label AS c_label, list_transform(
      |    list_reduce(vs, (acc, x) -> list_transform(list_zip(acc, x), p -> p[1] + p[2])),
      |    v -> v / n) AS centroid FROM l),
      |e AS (SELECT vec_id, label AS label_true, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |sc AS (SELECT vec_id, label_true, c_label,
      |  list_dot_product(e, e) - 2 * list_dot_product(e, centroid)
      |    + list_dot_product(centroid, centroid) AS d2
      |  FROM e, c)
      |SELECT vec_id, label_true, c_label AS assigned_label, d2 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |  FROM sc) t
      |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** The fixed-point PSI projection over CTEs `a(bucket, ra)` /
    * `b(bucket, rb)` — shared by the n_chars drift rows and the
    * embedding-drift composition. */
  private val psiTailSql =
    """cells AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |    coalesce(ra, 0) + 1 AS n_a, coalesce(rb, 0) + 1 AS n_b
        |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS na_tot,
        |    CAST(sum(n_b) AS BIGINT) AS nb_tot FROM cells),
        |fp AS (SELECT bucket, n_a, n_b,
        |    n_a * 1048576 // na_tot - n_b * 1048576 // nb_tot AS dp,
        |    n_a * nb_tot AS num, n_b * na_tot AS den
        |  FROM cells CROSS JOIN t),
        |y AS (SELECT bucket, n_a, n_b, dp, num, den,
        |    CASE WHEN num >= den THEN num * 1024 // den
        |         ELSE den * 1024 // num END AS yv FROM fp),
        |e AS (SELECT *, length(bin(yv)) - 1 AS ee FROM y),
        |alr AS (SELECT bucket, n_a, n_b, dp, num, den,
        |    ee * 65536 + ((yv - (CAST(1 AS BIGINT) << ee)) * 65536 >> ee)
        |      - 655360 AS av FROM e)
        |SELECT bucket, n_a, n_b,
        |  dp * (CASE WHEN num >= den THEN av ELSE -av END) AS term_fp
        |FROM alr ORDER BY bucket""".stripMargin

  private lazy val embeddingDriftSql: String = {
    val ps = graft.operators.Similarity.planes(4, 64, 42L)
    val scale = 1.0 / math.sqrt(4.0)
    val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(e, ${planeList(p)}) * '$scale'::DOUBLE >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bk AS (SELECT vec_id,
       |      $bucketExpr AS bucket
       |  FROM n),
       |a AS (SELECT bucket, count(*) AS ra FROM bk
       |  WHERE vec_id % 2 = 0 GROUP BY 1),
       |b AS (SELECT bucket, count(*) AS rb FROM bk
       |  WHERE vec_id % 2 = 1 GROUP BY 1),
       |$psiTailSql""".stripMargin
  }

  private val psiDriftSql =
    s"""WITH a AS (SELECT CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
        |    count(*) AS ra FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT CAST(floor(n_chars / 64) AS BIGINT) AS bucket,
        |    count(*) AS rb FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        |$psiTailSql""".stripMargin

  private val pqExactSql =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |    FROM embeddings WHERE vec_id < 64),
      |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      |    FROM embeddings WHERE vec_id < 10),
      |scored AS (SELECT q_id, vec_id,
      |    list_dot_product(qe[1:16], e[1:16]) + list_dot_product(qe[17:32], e[17:32])
      |    + list_dot_product(qe[33:48], e[33:48]) + list_dot_product(qe[49:64], e[49:64]) AS score
      |  FROM c, q WHERE vec_id != q_id)
      |SELECT q_id, vec_id, score, rank FROM (
      |  SELECT q_id, vec_id, score, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 5""".stripMargin

  private val bruteKnnSql =
    """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, e AS qe, nm AS qn FROM n WHERE vec_id < 10),
      |scored AS (SELECT q_id, vec_id,
      |  list_dot_product(e, qe) / (nm * qn) AS cosine
      |  FROM n, q WHERE vec_id != q_id)
      |SELECT q_id, vec_id, cosine, rank FROM (
      |  SELECT q_id, vec_id, cosine, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 5""".stripMargin

  private val normCte =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
      |  FROM embeddings""".stripMargin

  // quality-score formula over a column named `text` — the same expression
  // ext_text_profile's oracle uses, factored for reuse in composed oracles
  private val qualityScoreSql =
    """least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
      |    + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |        t -> list_contains(['the','a','an','of','and','to','in','is','it','for'], t))) AS DOUBLE)
      |      / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) * 5.0, 1.0) * 0.3
      |    + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?''"()\-]', '', 'g')) AS DOUBLE)
      |      / CAST(greatest(length(text), 1) AS DOUBLE) * 4.0, 1.0)) * 0.2""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared by `ext_hll_groups` and its streaming twin: the complete DuckDB
    * HLL rebuild (per-(lang, bucket) max registers -> nz/max_m/s summary ->
    * alpha-corrected estimate) joined to the exact distinct counts. */
  private lazy val hllGroupsOracleSql: String = {
    val p = 10; val m = 1 << p
    val alpha = 0.7213 / (1 + 1.079 / m)
    s"""WITH sh AS (SELECT lang, unnest(list_distinct(
       |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)])) AS sh
       |  FROM (SELECT lang, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |        FROM documents)),
       |hx AS (SELECT lang,
       |    CAST(CAST('0x' || substr(md5(sh || '#hll.b'), 1, 8) AS UBIGINT) AS BIGINT) % $m AS bucket,
       |    CAST(CAST('0x' || substr(md5(sh || '#hll.w'), 1, 8) AS UBIGINT) AS BIGINT) AS w
       |  FROM sh),
       |reg AS (SELECT lang, bucket,
       |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS register
       |  FROM hx GROUP BY lang, bucket),
       |st AS (SELECT lang, count(*) AS nz, max(register) AS max_m
       |  FROM reg GROUP BY lang),
       |sp AS (SELECT reg.lang,
       |    CAST(sum(CAST(1 AS BIGINT) << (st.max_m - register)) AS BIGINT) AS s_present
       |  FROM reg JOIN st USING (lang) GROUP BY reg.lang),
       |fin AS (SELECT st.lang, st.nz, st.max_m,
       |    sp.s_present + ($m - st.nz) * (CAST(1 AS BIGINT) << st.max_m) AS s
       |  FROM st JOIN sp USING (lang)),
       |ex AS (SELECT lang, count(DISTINCT sh) AS exact_distinct FROM sh GROUP BY lang)
       |SELECT fin.lang, CAST($m AS BIGINT) AS m, CAST(nz AS BIGINT) AS nz,
       |  CAST(max_m AS INTEGER) AS max_m, CAST(s AS BIGINT) AS s,
       |  '$alpha'::DOUBLE * (CAST(${m.toLong * m} AS DOUBLE)
       |    * CAST(CAST(1 AS BIGINT) << max_m AS DOUBLE) / CAST(s AS DOUBLE)) AS estimate,
       |  ex.exact_distinct
       |FROM fin JOIN ex USING (lang) ORDER BY lang""".stripMargin
  }

  /** DuckDB replay of `ext_hll_sliding`: per-day registers (same two md5
    * draws over the stringified user id), a day-range join for the 7-day
    * max-merge, then the identical nz/max_m/s evidence and two-rounding
    * estimate per window, joined to the exact windowed distinct. */
  private lazy val hllSlidingOracleSql: String = {
    val p = 10; val m = 1 << p
    val alpha = 0.7213 / (1 + 1.079 / m)
    s"""WITH ev AS (SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
       |    user_id FROM events),
       |hx AS (SELECT day,
       |    CAST(CAST('0x' || substr(md5(user_id || '#hll.b'), 1, 8) AS UBIGINT) AS BIGINT) % $m AS bucket,
       |    CAST(CAST('0x' || substr(md5(user_id || '#hll.w'), 1, 8) AS UBIGINT) AS BIGINT) AS w
       |  FROM ev),
       |reg AS (SELECT day, bucket,
       |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS register
       |  FROM hx GROUP BY day, bucket),
       |days AS (SELECT DISTINCT day AS d FROM reg),
       |win AS (SELECT d, bucket, max(register) AS register
       |  FROM reg JOIN days ON day BETWEEN d - 6 AND d GROUP BY d, bucket),
       |st AS (SELECT d, count(*) AS nz, max(register) AS max_m
       |  FROM win GROUP BY d),
       |sp AS (SELECT win.d,
       |    CAST(sum(CAST(1 AS BIGINT) << (st.max_m - register)) AS BIGINT) AS s_present
       |  FROM win JOIN st USING (d) GROUP BY win.d),
       |fin AS (SELECT st.d, st.nz, st.max_m,
       |    sp.s_present + ($m - st.nz) * (CAST(1 AS BIGINT) << st.max_m) AS s
       |  FROM st JOIN sp USING (d)),
       |ex AS (SELECT d, count(DISTINCT user_id) AS exact_distinct
       |  FROM ev JOIN days ON day BETWEEN d - 6 AND d GROUP BY d)
       |SELECT CAST(fin.d AS INTEGER) AS d, CAST($m AS BIGINT) AS m,
       |  CAST(nz AS BIGINT) AS nz, CAST(max_m AS INTEGER) AS max_m,
       |  CAST(s AS BIGINT) AS s,
       |  '$alpha'::DOUBLE * (CAST(${m.toLong * m} AS DOUBLE)
       |    * CAST(CAST(1 AS BIGINT) << max_m AS DOUBLE) / CAST(s AS DOUBLE)) AS estimate,
       |  ex.exact_distinct
       |FROM fin JOIN ex USING (d) ORDER BY d""".stripMargin
  }

  /** Shared by `x32_volume_anomaly` and its streaming twin: trailing
    * 7-day rolling bands over per-(type, day) counts, 3-sigma flags. */
  private lazy val volumeAnomalyOracleSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS d, count(*) AS n
      |  FROM events GROUP BY event_type, d),
      |w AS (
      |  SELECT event_type, d, n,
      |    CAST(sum(n) OVER win AS DOUBLE) / count(*) OVER win AS mu,
      |    sqrt(greatest(CAST(sum(n*n) OVER win AS DOUBLE) / count(*) OVER win
      |      - (CAST(sum(n) OVER win AS DOUBLE) / count(*) OVER win)
      |        * (CAST(sum(n) OVER win AS DOUBLE) / count(*) OVER win), 0.0)) AS sigma,
      |    count(*) OVER win AS w_cnt
      |  FROM daily
      |  WINDOW win AS (PARTITION BY event_type ORDER BY d
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, d, n, mu, sigma,
      |  CASE WHEN w_cnt >= 3 AND sigma > 0 AND abs(n - mu) > 3*sigma
      |       THEN 1 ELSE 0 END AS is_anomaly
      |FROM w ORDER BY event_type, d""".stripMargin

  /** DuckDB replay of `x33_pagerank`: the five fixed-point iterations
    * unrolled as CTE pairs (contribution sum, rank refresh) — identical
    * integer arithmetic to [[graft.operators.Graph.pageRankFixedPoint]]. */
  /** Shared DuckDB CTE pair rebuilding
    * [[graft.operators.Graph.coOccurrenceEdges]] over the supplier
    * co-order graph (x33 PageRank and x35 triangles grade against the
    * identical edge set). */
  private val coOrderPairsCte: String =
    """pairs AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
      |    count(DISTINCT a.l_orderkey) AS w
      |  FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey=b.l_orderkey AND a.l_suppkey<>b.l_suppkey
      |  GROUP BY src, dst)""".stripMargin

  private val coOrderEdgesCte: String =
    coOrderPairsCte + """,
      |edges AS (SELECT src, dst FROM (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      |  FROM pairs) t WHERE rn <= 15)""".stripMargin

  /** DuckDB band-index replay shared by the one-shot and streamed
    * incremental dedup rows: every pair sharing a band with at least one
    * new-tenth doc. */
  private lazy val incrementalDedupSql: String =
    """WITH toks AS (SELECT doc_id,
      |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
      |  FROM toks),
      |sig AS (SELECT doc_id,
      |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
      |   for j in generate_series(0, 11)] AS g FROM sh),
      |bands AS (SELECT doc_id, band,
      |  md5(g[band*3+1] || '|' || g[band*3+2] || '|' || g[band*3+3]) AS key,
      |  (doc_id % 10 = 0) AS nw
      |  FROM sig, (SELECT unnest([0,1,2,3]) AS band) b)
      |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |FROM bands x JOIN bands y
      |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      |  AND (x.nw OR y.nw)
      |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replay of `x45_bfs`: four expand-and-min rounds unrolled over
    * the same directed co-order edge set. The unrolled form expands the
    * whole known set each round where the engine expands only the
    * frontier — same fixed-round min-distance relation, different work
    * profile (the oracle only has to be right, not scalable). */
  /** DuckDB replay of `x71_hits`: the same three HITS rounds unrolled —
    * per round, the in-edge hub sum, its total, the truncating rescale to
    * 10^6, then the same three steps for hubs from the fresh authorities. */
  private lazy val hitsOracleSql: String = {
    val pre =
      s"""WITH $coOrderEdgesCte,
         |nodes AS (SELECT DISTINCT n FROM (
         |  SELECT src AS n FROM edges UNION ALL SELECT dst FROM edges) t),
         |h0 AS (SELECT n AS node, CAST(1000000 AS BIGINT) AS h
         |  FROM nodes)""".stripMargin
    val its = (1 to 3).map { i =>
      s"""a${i}r AS (SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS v
         |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
         |a${i}s AS (SELECT CAST(sum(v) AS BIGINT) AS sv FROM a${i}r),
         |a$i AS (SELECT n.n AS node,
         |  CAST(coalesce(v, 0) * 1000000 // sv AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN a${i}r r ON r.node = n.n
         |  CROSS JOIN a${i}s),
         |h${i}r AS (SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS v
         |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |h${i}s AS (SELECT CAST(sum(v) AS BIGINT) AS sv FROM h${i}r),
         |h$i AS (SELECT n.n AS node,
         |  CAST(coalesce(v, 0) * 1000000 // sv AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN h${i}r r ON r.node = n.n
         |  CROSS JOIN h${i}s)""".stripMargin
    }.mkString(",\n")
    s"""$pre,
       |$its
       |SELECT h3.node AS s_suppkey, h3.h AS hub, a3.a AS auth
       |FROM h3 JOIN a3 ON a3.node = h3.node
       |ORDER BY s_suppkey""".stripMargin
  }

  private lazy val bfsOracleSql: String = {
    val pre =
      s"""WITH $coOrderEdgesCte,
         |d0 AS (SELECT s_suppkey AS node, 0 AS d FROM supplier
         |  WHERE s_suppkey % 50 = 0)""".stripMargin
    val its = (1 to 4).map { i =>
      s""",
         |d$i AS (SELECT node, min(d) AS d FROM (
         |  SELECT node, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, p.d + 1 AS d
         |  FROM d${i - 1} p JOIN edges e ON e.src = p.node) u
         |  GROUP BY node)""".stripMargin
    }.mkString
    pre + its + "\nSELECT node AS s_suppkey, d AS dist FROM d4 ORDER BY s_suppkey"
  }

  /** DuckDB replay of `x69_landmark_closeness`: the same expand-and-min
    * rounds with a seed label, then the integer harmonic fold. */
  private lazy val landmarkClosenessOracleSql: String = {
    val pre =
      s"""WITH $coOrderEdgesCte,
         |d0 AS (SELECT s_suppkey AS seed, s_suppkey AS node, 0 AS d
         |  FROM supplier WHERE s_suppkey % 100 = 0)""".stripMargin
    val its = (1 to 4).map { i =>
      s""",
         |d$i AS (SELECT seed, node, min(d) AS d FROM (
         |  SELECT seed, node, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT p.seed, e.dst AS node, p.d + 1 AS d
         |  FROM d${i - 1} p JOIN edges e ON e.src = p.node) u
         |  GROUP BY seed, node)""".stripMargin
    }.mkString
    pre + its +
      """
        |SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS n_landmarks,
        |  CAST(sum(12 // d) AS BIGINT) AS harmonic12
        |FROM d4 WHERE d >= 1 GROUP BY node
        |ORDER BY harmonic12 DESC, s_suppkey""".stripMargin
  }

  /** DuckDB replay of `x57_shortest_path`: four full Bellman-Ford
    * relaxations unrolled over the weighted co-order edge set (cost =
    * greatest(1, 6 - co-occurrence count)). The engine relaxes only the
    * delta set each round; this relaxes everything — same bounded-hop
    * min-cost relation. */
  private lazy val shortestPathOracleSql: String = {
    val pre =
      s"""WITH $coOrderPairsCte,
         |wedges AS (SELECT src, dst,
         |  CAST(CASE WHEN 6 - w < 1 THEN 1 ELSE 6 - w END AS BIGINT) AS c
         |  FROM (SELECT src, dst, w,
         |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
         |    FROM pairs) t WHERE rn <= 15),
         |d0 AS (SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS d
         |  FROM supplier WHERE s_suppkey % 50 = 0)""".stripMargin
    val its = (1 to 4).map { i =>
      s""",
         |d$i AS (SELECT node, min(d) AS d FROM (
         |  SELECT node, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, p.d + e.c AS d
         |  FROM d${i - 1} p JOIN wedges e ON e.src = p.node) u
         |  GROUP BY node)""".stripMargin
    }.mkString
    pre + its + "\nSELECT node AS s_suppkey, d AS cost FROM d4 ORDER BY s_suppkey"
  }

  private lazy val pageRankOracleSql: String = {
    val S = 1000000000000L
    val pre =
      s"""WITH nodes AS (SELECT s_suppkey AS node FROM supplier),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |$coOrderEdgesCte,
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT node, (SELECT $S // n FROM cnt) AS r FROM nodes)""".stripMargin
    val its = (1 to 5).map { i =>
      s""",
         |c$i AS (SELECT dst AS node, sum(r // deg) AS s
         |  FROM edges JOIN r${i - 1} ON edges.src = r${i - 1}.node
         |  JOIN outdeg ON outdeg.src = edges.src
         |  GROUP BY dst),
         |r$i AS (SELECT nodes.node,
         |    CAST((SELECT (15*$S//100)//n FROM cnt)
         |      + (85*coalesce(s,0))//100 AS BIGINT) AS r
         |  FROM nodes LEFT JOIN c$i ON nodes.node=c$i.node)""".stripMargin
    }.mkString
    pre + its +
      "\nSELECT node AS s_suppkey, r AS rank_fp FROM r5 ORDER BY rank_fp DESC, s_suppkey"
  }

  /** The weighted variant: contributions are `(r·w) div wt` over the
    * weighted top-k edges; iterations otherwise identical. */
  private lazy val weightedPageRankOracleSql: String = {
    val S = 1000000000000L
    val pre =
      s"""WITH nodes AS (SELECT s_suppkey AS node FROM supplier),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |$coOrderPairsCte,
         |wedges AS (SELECT src, dst, w FROM (
         |  SELECT src, dst, w,
         |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
         |  FROM pairs) t WHERE rn <= 15),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM wedges
         |  GROUP BY src),
         |r0 AS (SELECT node, (SELECT $S // n FROM cnt) AS r FROM nodes)""".stripMargin
    val its = (1 to 5).map { i =>
      s""",
         |c$i AS (SELECT dst AS node, sum((r * w) // wt) AS s
         |  FROM wedges JOIN r${i - 1} ON wedges.src = r${i - 1}.node
         |  JOIN outw ON outw.src = wedges.src
         |  GROUP BY dst),
         |r$i AS (SELECT nodes.node,
         |    CAST((SELECT (15*$S//100)//n FROM cnt)
         |      + (85*coalesce(s,0))//100 AS BIGINT) AS r
         |  FROM nodes LEFT JOIN c$i ON nodes.node=c$i.node)""".stripMargin
    }.mkString
    pre + its +
      "\nSELECT node AS s_suppkey, r AS wrank_fp FROM r5 " +
      "ORDER BY wrank_fp DESC, s_suppkey"
  }

  /** The personalized variant: the teleport column b is `base` on the
    * seed set and 0 elsewhere; iterations are otherwise identical. */
  private lazy val pprOracleSql: String = {
    val S = 1000000000000L
    val pre =
      s"""WITH nodes AS (SELECT s_suppkey AS node FROM supplier),
         |srcs AS (SELECT node FROM nodes WHERE node % 10 = 1),
         |cnt AS (SELECT count(*) AS m FROM srcs),
         |$coOrderEdgesCte,
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |tp AS (SELECT n.node,
         |    CASE WHEN s.node IS NULL THEN 0
         |      ELSE (SELECT (15*$S//100)//m FROM cnt) END AS b
         |  FROM nodes n LEFT JOIN srcs s ON n.node = s.node),
         |r0 AS (SELECT node,
         |    CASE WHEN b > 0 THEN (SELECT $S // m FROM cnt) ELSE 0 END AS r
         |  FROM tp)""".stripMargin
    val its = (1 to 5).map { i =>
      s""",
         |c$i AS (SELECT dst AS node, sum(r // deg) AS s
         |  FROM edges JOIN r${i - 1} ON edges.src = r${i - 1}.node
         |  JOIN outdeg ON outdeg.src = edges.src
         |  GROUP BY dst),
         |r$i AS (SELECT tp.node,
         |    CAST(tp.b + (85*coalesce(s,0))//100 AS BIGINT) AS r
         |  FROM tp LEFT JOIN c$i ON tp.node=c$i.node)""".stripMargin
    }.mkString
    pre + its +
      "\nSELECT node AS s_suppkey, r AS ppr_fp FROM r5 ORDER BY ppr_fp DESC, s_suppkey"
  }

  /** DuckDB replay of `ext_bpe_train`: the vocabulary, then per round a
    * weighted adjacent-pair count, the (n DESC, a, b) argmax, and the
    * greedy merge expressed as the same string-accumulator fold
    * ([[graft.functions.Bpe.trainMerges]]) via `list_reduce`. */
  private lazy val bpeTrainSql: String =
    bpeTrainCtes(6) + "\n" + (1 to 6).map { r =>
      (if (r == 1) s"SELECT 1 AS round, ba AS a, bb AS b, n FROM b1"
       else s"UNION ALL SELECT $r, ba, bb, n FROM b$r")
    }.mkString("\n") + "\nORDER BY round"

  /** The encode face of the same trainer: every word occurrence joins to
    * its final trained segmentation, per-doc subword totals. */
  private lazy val bpeEncodeSql: String =
    bpeTrainCtes(6) +
      """
        |SELECT d.doc_id, count(*) AS n_words,
        |  CAST(sum(len(string_split(v.seq, ' '))) AS BIGINT) AS n_subwords
        |FROM (SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |  FROM documents) d
        |JOIN v6 v ON d.w = v.w
        |WHERE length(d.w) >= 1
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  private def bpeTrainCtes(rounds: Int): String = {
    val pre =
      """WITH w0 AS (SELECT w, count(*) AS freq FROM (
        |  SELECT unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |  FROM documents) WHERE length(w) >= 1 GROUP BY w),
        |v0 AS (SELECT w, freq, array_to_string(
        |  [substring(w, i, 1) for i in generate_series(1, length(w))], ' ') AS seq
        |  FROM w0)""".stripMargin
    val its = (1 to rounds).map { r =>
      s""",
         |p$r AS (SELECT s[i] AS a, s[i+1] AS b, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
         |        FROM (SELECT freq, string_split(seq, ' ') AS s FROM v${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a AS ba, b AS bb, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |v$r AS (SELECT w, freq, list_reduce(string_split(seq, ' '), (acc, x) -> CASE
         |    WHEN (acc = ba OR suffix(acc, ' ' || ba)) AND x = bb
         |    THEN substring(acc, 1, length(acc) - length(ba)) || ba || bb
         |    ELSE acc || ' ' || x END) AS seq
         |  FROM v${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString
    pre + its
  }

  /** Shared by `ext_histogram_quantile` and its streaming twin: the full
    * DuckDB histogram rebuild (clamped bucket, per-key counts, cumulative
    * crossing of ceil(q * total), bucket upper bound). */
  private lazy val histogramQuantileSql: String =
    """WITH b AS (SELECT event_type,
      |  least(greatest(CAST(floor(value / 4.0) AS INTEGER), 0), 255) AS bucket
      |  FROM events WHERE value IS NOT NULL),
      |c AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2),
      |cc AS (SELECT event_type, bucket, n,
      |  sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
      |  sum(n) OVER (PARTITION BY event_type) AS total FROM c),
      |qv AS (SELECT CAST(q AS DOUBLE) AS q
      |  FROM (VALUES (0.5), (0.95), (0.99)) t(q))
      |SELECT event_type, q, CAST(total AS BIGINT) AS total_n, bucket,
      |  (bucket + 1) * 4.0 AS upper
      |FROM cc CROSS JOIN qv
      |WHERE cum >= ceil(q * total) AND cum - n < ceil(q * total)
      |ORDER BY event_type, q""".stripMargin

  /** The deterministic negative-draw CTEs shared by `ext_negative_sample`
    * and `x54_triplets` (identical arithmetic to
    * [[graft.operators.Sampling.negativeSample]]). */
  private lazy val negativeSampleCtes: String =
    """b AS (SELECT vec_id AS id, label AS lbl FROM embeddings
      |  WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |labs AS (SELECT list(lbl ORDER BY lbl) AS ls
      |  FROM (SELECT DISTINCT lbl FROM b)),
      |cand AS (SELECT id, lbl, row_number() OVER (PARTITION BY lbl
      |    ORDER BY substr(md5(CAST(id AS VARCHAR) || '#negperm'), 1, 8), id)
      |    - 1 AS nr FROM b),
      |sizes AS (SELECT lbl, count(*) AS cnt FROM b GROUP BY lbl),
      |anchors AS (SELECT b.id, b.lbl, j,
      |    list_filter(ls, x -> x != b.lbl) AS others,
      |    CAST(id AS VARCHAR) || '|' || CAST(j AS VARCHAR) AS dk
      |  FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) CROSS JOIN labs),
      |donor AS (SELECT id, lbl, j,
      |    others[CAST(CAST(CAST('0x' || substr(md5(dk || '#negdonor'), 1, 8)
      |      AS UBIGINT) AS BIGINT) % len(others) AS INTEGER) + 1] AS donor,
      |    CAST(CAST('0x' || substr(md5(dk || '#negidx'), 1, 8)
      |      AS UBIGINT) AS BIGINT) AS idraw
      |  FROM anchors)""".stripMargin

  /** The minhash-band candidate + reachability CTEs shared by
    * `ext_dedup_components` and `x51_leakage_safe_split` (identical band
    * construction to [[graft.operators.Dedup.minhashCandidates]]). */
  /** The shared band-join candidate CTEs (through `cand`) — the pair level
    * the source matrix reads; components extend them with reachability. */
  private lazy val nearDupPairsCtes: String =
    """toks AS (SELECT doc_id,
      |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
      |  FROM toks),
      |sig AS (SELECT doc_id,
      |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
      |   for j in generate_series(0, 11)] AS g FROM sh),
      |bands AS (SELECT doc_id, band,
      |  md5(g[band*3+1] || '|' || g[band*3+2] || '|' || g[band*3+3]) AS key
      |  FROM sig, (SELECT unnest([0,1,2,3]) AS band) b),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM bands x JOIN bands y
      |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)""".stripMargin

  private lazy val nearDupComponentsCtes: String =
    nearDupPairsCtes + """,
      |und AS (SELECT id_a AS a, id_b AS b FROM cand
      |  UNION SELECT id_b, id_a FROM cand),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)""".stripMargin

  /** DuckDB replay of `ext_kmeans_fp`: quantization, the three Lloyd
    * iterations (broadcast argmin + truncating-division centroid update)
    * unrolled as CTE triples, and the final assignment — identical integer
    * arithmetic to [[graft.operators.Similarity.kmeansFixedPoint]]
    * (floor quantization, d2/cid argmin ties, `//` = Spark `div` both
    * truncate toward zero). */
  /** The Lloyd-iteration CTE prefix shared by the kmeans oracle and the
    * silhouette oracle: quantized points `pts` and trained centroids
    * `c3`. */
  private lazy val kmeansCtes: String = {
    val pre =
      """WITH pts AS (SELECT vec_id AS id,
        |  [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT) for x in embedding] AS v
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS cv
        |  FROM (SELECT id, v FROM pts ORDER BY id LIMIT 8))""".stripMargin
    val its = (1 to 3).map { i =>
      s""",
         |a$i AS (SELECT id, cid, v FROM (
         |  SELECT p.id, c.cid, p.v,
         |    list_sum([(p.v[j]-c.cv[j])*(p.v[j]-c.cv[j])
         |      for j in generate_series(1, len(p.v))]) AS d2
         |  FROM pts p CROSS JOIN c${i - 1} c)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
         |s$i AS (SELECT cid, e.i AS i, sum(e.x) AS s, count(*) AS cnt FROM (
         |  SELECT cid, unnest([{'i': j, 'x': v[j]}
         |    for j in generate_series(1, len(v))]) AS e
         |  FROM a$i) GROUP BY cid, e.i),
         |u$i AS (SELECT cid, list(CAST(s // cnt AS BIGINT) ORDER BY i) AS nxt
         |  FROM s$i GROUP BY cid),
         |c$i AS (SELECT c.cid, coalesce(u.nxt, c.cv) AS cv
         |  FROM c${i - 1} c LEFT JOIN u$i u ON c.cid = u.cid)""".stripMargin
    }.mkString
    pre + its
  }

  private lazy val kmeansOracleSql: String =
    kmeansCtes +
      """
        |SELECT id AS vec_id, cid AS cluster, d2 AS dist2 FROM (
        |  SELECT p.id, c.cid,
        |    CAST(list_sum([(p.v[j]-c.cv[j])*(p.v[j]-c.cv[j])
        |      for j in generate_series(1, len(p.v))]) AS BIGINT) AS d2
        |  FROM pts p CROSS JOIN c3 c)
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cid) = 1
        |ORDER BY vec_id""".stripMargin

  /** The silhouette tail over the same trained centroids: rank the k
    * squared distances per point; rn=1 is the own cluster (the trainer's
    * argmin), rn=2 the nearest other; one division assembles s. */
  private lazy val silhouetteOracleSql: String =
    kmeansCtes +
      """,
        |d AS (SELECT p.id, c.cid,
        |    CAST(list_sum([(p.v[j]-c.cv[j])*(p.v[j]-c.cv[j])
        |      for j in generate_series(1, len(p.v))]) AS BIGINT) AS d2
        |  FROM pts p CROSS JOIN c3 c),
        |r AS (SELECT id, cid, d2,
        |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
        |  FROM d)
        |SELECT a.id AS vec_id, a.cid AS cluster, a.d2 AS a2, b.d2 AS b2,
        |  CASE WHEN greatest(a.d2, b.d2) = 0 THEN 0.0::DOUBLE
        |    ELSE CAST(b.d2 - a.d2 AS DOUBLE) /
        |         CAST(greatest(a.d2, b.d2) AS DOUBLE) END AS sil
        |FROM r a JOIN r b ON a.id = b.id AND a.rn = 1 AND b.rn = 2
        |ORDER BY vec_id""".stripMargin

  /** The exact-trained IVF replay shared by `ext_knn_ivf` and
    * `ext_knn_ivf_recall`: quantized training sample in deterministic
    * md5-hash order (mirroring [[graft.operators.Sampling.hashBucket]] +
    * the trainCap limit), `iters` integer Lloyd rounds unrolled
    * ([[graft.operators.Similarity.lloydCentroidsExact]] — same
    * floor-quantization, argmin-with-cid-ties, truncating `//` division),
    * centroids dequantized to exact doubles, then full-corpus nearest-list
    * assignment and per-query nprobe probing via the same
    * (d2, cid)-ordered double argmin the engine's literal-centroid path
    * computes, cosine scoring inside probed lists, window top-k. */
  private def ivfReplayCtes(nlist: Int, nprobe: Int, iters: Int): String = {
    val pre =
      s"""ivfp AS (SELECT vec_id AS id, h,
         |  [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT) for x in embedding] AS v
         |  FROM (SELECT vec_id, embedding,
         |          substr(md5(CAST(vec_id AS VARCHAR) || '#ivf-train'), 1, 8) AS h
         |        FROM embeddings WHERE embedding IS NOT NULL
         |        ORDER BY h, vec_id LIMIT 16384)),
         |ic0 AS (SELECT row_number() OVER (ORDER BY h, id) - 1 AS cid, v AS cv
         |  FROM (SELECT h, id, v FROM ivfp ORDER BY h, id LIMIT $nlist))""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |ia$i AS (SELECT id, cid, v FROM (
         |  SELECT p.id, c.cid, p.v,
         |    list_sum([(p.v[j]-c.cv[j])*(p.v[j]-c.cv[j])
         |      for j in generate_series(1, len(p.v))]) AS d2
         |  FROM ivfp p CROSS JOIN ic${i - 1} c)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
         |is$i AS (SELECT cid, e.i AS i, sum(e.x) AS s, count(*) AS cnt FROM (
         |  SELECT cid, unnest([{'i': j, 'x': v[j]}
         |    for j in generate_series(1, len(v))]) AS e
         |  FROM ia$i) GROUP BY cid, e.i),
         |iu$i AS (SELECT cid, list(CAST(s // cnt AS BIGINT) ORDER BY i) AS nxt
         |  FROM is$i GROUP BY cid),
         |ic$i AS (SELECT c.cid, coalesce(u.nxt, c.cv) AS cv
         |  FROM ic${i - 1} c LEFT JOIN iu$i u ON c.cid = u.cid)""".stripMargin
    }.mkString
    pre + its +
      s""",
         |icent AS (SELECT cid, [CAST(q AS DOUBLE) / 65536.0 for q in cv] AS cv
         |  FROM ic$iters),
         |nrm AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |       CAST(embedding AS DOUBLE[]))) AS nm
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |asg AS (SELECT vec_id, e, nm, cid AS list_id FROM (
         |  SELECT vec_id, e, nm, cid, list_dot_product(d, d) AS d2 FROM (
         |    SELECT n.vec_id, n.e, n.nm, c.cid,
         |      [n.e[j] - c.cv[j] for j in generate_series(1, len(n.e))] AS d
         |    FROM nrm n CROSS JOIN icent c))
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
         |prb AS (SELECT q_id, qe, qn, cid AS list_id FROM (
         |  SELECT q_id, qe, qn, cid, list_dot_product(d, d) AS d2 FROM (
         |    SELECT n.vec_id AS q_id, n.e AS qe, n.nm AS qn, c.cid,
         |      [n.e[j] - c.cv[j] for j in generate_series(1, len(n.e))] AS d
         |    FROM nrm n CROSS JOIN icent c WHERE n.vec_id < 10))
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d2, cid) <= $nprobe),
         |ivfk AS (SELECT q_id, vec_id, cosine,
         |    CAST(row_number() OVER (
         |      PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
         |  FROM (SELECT q.q_id, a.vec_id,
         |          list_dot_product(a.e, q.qe) / (a.nm * q.qn) AS cosine
         |        FROM asg a JOIN prb q ON a.list_id = q.list_id
         |        WHERE a.vec_id != q.q_id)
         |  QUALIFY row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 5)""".stripMargin
  }

  private lazy val ivfExactTrainSql: String =
    "WITH " + ivfReplayCtes(nlist = 16, nprobe = 4, iters = 3) +
      "\nSELECT q_id, vec_id, cosine, rank FROM ivfk"

  /** Recall of the replayed pruned IVF against the replayed brute-force
    * top-k — hits/k per query, mean as the exact single division
    * sum(hits)/sum(k) ([[graft.operators.Similarity.recallAtK]]). */
  private lazy val ivfRecallSql: String =
    "WITH " + ivfReplayCtes(nlist = 16, nprobe = 4, iters = 3) +
      """,
        |bk AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, n.vec_id,
        |    list_dot_product(n.e, q.qe) / (n.nm * q.qn) AS cosine
        |  FROM nrm n CROSS JOIN (SELECT vec_id AS q_id, e AS qe, nm AS qn
        |                         FROM nrm WHERE vec_id < 10) q
        |  WHERE n.vec_id != q.q_id)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 5),
        |hits AS (SELECT i.q_id, count(*) AS hits FROM ivfk i
        |  JOIN bk b ON i.q_id = b.q_id AND i.vec_id = b.vec_id GROUP BY i.q_id),
        |truth AS (SELECT q_id, count(*) AS k FROM bk GROUP BY q_id),
        |j AS (SELECT t.q_id, coalesce(h.hits, 0) AS hits, t.k
        |  FROM truth t LEFT JOIN hits h USING (q_id))
        |SELECT q_id, CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall, mean_recall
        |FROM j CROSS JOIN (SELECT CAST(sum(hits) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
        |                   AS mean_recall FROM j) m""".stripMargin

  /** DuckDB replay of `ext_knn_pq` (exact-trained): one Lloyd unroll
    * covers all m subspaces by carrying `sub` as a column, then encode
    * argmin per (vector, subspace) and the left-associative m-term ADC
    * sum — identical arithmetic to
    * [[graft.operators.Similarity.pqTrain]]/[[graft.operators.Similarity.pqEncode]]/
    * [[graft.operators.Similarity.pqTopK]] at exactTrain. */
  private lazy val pqExactTrainSql: String = {
    val m = 8; val dsub = 8; val ksub = 16; val iters = 3
    val pre =
      s"""WITH pqp AS (SELECT vec_id AS id, h,
         |  [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT) for x in embedding] AS v
         |  FROM (SELECT vec_id, embedding,
         |          substr(md5(CAST(vec_id AS VARCHAR) || '#pq-train'), 1, 8) AS h
         |        FROM embeddings WHERE embedding IS NOT NULL
         |        ORDER BY h, vec_id LIMIT 16384)),
         |spl AS (SELECT id, h, s.sub AS sub, s.sv AS v FROM (
         |  SELECT id, h, unnest([{'sub': s, 'sv': v[s*$dsub+1 : (s+1)*$dsub]}
         |    for s in generate_series(0, ${m - 1})]) AS s
         |  FROM pqp)),
         |pc0 AS (SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY h, id) - 1 AS cid,
         |    v AS cv
         |  FROM spl
         |  QUALIFY row_number() OVER (PARTITION BY sub ORDER BY h, id) <= $ksub)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |pa$i AS (SELECT id, sub, cid, v FROM (
         |  SELECT p.id, p.sub, c.cid, p.v,
         |    list_sum([(p.v[j]-c.cv[j])*(p.v[j]-c.cv[j])
         |      for j in generate_series(1, len(p.v))]) AS d2
         |  FROM spl p JOIN pc${i - 1} c ON p.sub = c.sub)
         |  QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) = 1),
         |ps$i AS (SELECT sub, cid, e.i AS i, sum(e.x) AS s, count(*) AS cnt FROM (
         |  SELECT sub, cid, unnest([{'i': j, 'x': v[j]}
         |    for j in generate_series(1, len(v))]) AS e
         |  FROM pa$i) GROUP BY sub, cid, e.i),
         |pu$i AS (SELECT sub, cid, list(CAST(s // cnt AS BIGINT) ORDER BY i) AS nxt
         |  FROM ps$i GROUP BY sub, cid),
         |pc$i AS (SELECT c.sub, c.cid, coalesce(u.nxt, c.cv) AS cv
         |  FROM pc${i - 1} c LEFT JOIN pu$i u ON c.sub = u.sub AND c.cid = u.cid)""".stripMargin
    }.mkString
    val adcTerms = (0 until m)
      .map(s => s"max(CASE WHEN sub = $s THEN dp END)").mkString("\n  + ")
    pre + its +
      s""",
         |cb AS (SELECT sub, cid, [CAST(q AS DOUBLE) / 65536.0 for q in cv] AS cv
         |  FROM pc$iters),
         |ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |cs AS (SELECT vec_id, s.sub AS sub, s.sv AS sv FROM (
         |  SELECT vec_id, unnest([{'sub': s, 'sv': e[s*$dsub+1 : (s+1)*$dsub]}
         |    for s in generate_series(0, ${m - 1})]) AS s
         |  FROM ce)),
         |codes AS (SELECT vec_id, sub, cid FROM (
         |  SELECT vec_id, sub, cid, list_dot_product(d, d) AS d2 FROM (
         |    SELECT c.vec_id, c.sub, b.cid,
         |      [c.sv[j] - b.cv[j] for j in generate_series(1, len(c.sv))] AS d
         |    FROM cs c JOIN cb b ON c.sub = b.sub))
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) = 1),
         |qsub AS (SELECT vec_id AS q_id, sub, sv FROM cs WHERE vec_id < 10),
         |adc AS (SELECT q.q_id, c.vec_id, c.sub, list_dot_product(q.sv, b.cv) AS dp
         |  FROM codes c JOIN cb b ON c.sub = b.sub AND c.cid = b.cid
         |  JOIN qsub q ON q.sub = c.sub
         |  WHERE c.vec_id != q.q_id),
         |sc AS (SELECT q_id, vec_id,
         |    $adcTerms AS score
         |  FROM adc GROUP BY q_id, vec_id)
         |SELECT q_id, vec_id, score, rank FROM (
         |  SELECT q_id, vec_id, score, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
         |  FROM sc) t
         |WHERE rank <= 5""".stripMargin
  }

  /** DuckDB replay of `x36_kcore`: the >= 2-shared-orders part graph and
    * eight peel rounds unrolled as CTEs — identical fixed-round semantics
    * to [[graft.operators.Graph.kCore]]. */
  private lazy val kCoreOracleSql: String = {
    val pre =
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        |n0 AS (SELECT DISTINCT u AS node FROM adj)""".stripMargin
    val its = (1 to 8).map { i =>
      s""",
         |n$i AS (SELECT u AS node, count(*) AS deg FROM adj
         |  JOIN n${i - 1} x ON adj.u = x.node
         |  JOIN n${i - 1} y ON adj.v = y.node
         |  GROUP BY u HAVING count(*) >= 3)""".stripMargin
    }.mkString
    pre + its +
      "\nSELECT node AS p_partkey, deg FROM n8 ORDER BY p_partkey"
  }

  /** DuckDB replay of `x37_communities`: the same part graph, four
    * synchronous majority-vote rounds unrolled (QUALIFY row_number on
    * (cnt DESC, label) = the deterministic argmax with smallest-label
    * ties), identical to [[graft.operators.Graph.labelPropagation]]. */
  private lazy val labelPropOracleSql: String = {
    val pre =
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj)""".stripMargin
    val its = (1 to 4).map { i =>
      s""",
         |l$i AS (SELECT u AS node, label FROM (
         |  SELECT u, label, count(*) AS cnt FROM adj
         |  JOIN l${i - 1} ON adj.v = l${i - 1}.node GROUP BY u, label)
         |  QUALIFY row_number() OVER (PARTITION BY u ORDER BY cnt DESC, label) = 1)""".stripMargin
    }.mkString
    pre + its +
      "\nSELECT node AS p_partkey, label FROM l4 ORDER BY p_partkey"
  }

  private lazy val pmiBigramsSql: String =
    """WITH toks AS (SELECT string_split(
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |pr AS (SELECT e.l AS l, e.r AS r FROM (
      |  SELECT unnest([{'l': t[i], 'r': t[i+1]}
      |    for i in generate_series(1, len(t)-1)]) AS e
      |  FROM toks WHERE len(t) >= 2)),
      |cab AS (SELECT l, r, count(*) AS c_ab FROM pr GROUP BY l, r),
      |cl AS (SELECT l, sum(c_ab) AS c_l FROM cab GROUP BY l),
      |cr AS (SELECT r, sum(c_ab) AS c_r FROM cab GROUP BY r),
      |nn AS (SELECT sum(c_ab) AS n FROM cab)
      |SELECT l, r, c_ab,
      |  CAST((CAST(c_ab AS HUGEINT) * n * 65536) //
      |    (CAST(c_l AS HUGEINT) * c_r) AS BIGINT) AS pmi_q16
      |FROM cab JOIN cl USING (l) JOIN cr USING (r) CROSS JOIN nn
      |WHERE c_ab >= 5
      |ORDER BY pmi_q16 DESC, l, r LIMIT 50""".stripMargin

  /** DuckDB replay of `x39_random_walks`: the same hash-min neighbor
    * choice per step ([[graft.operators.Graph.randomWalks]]) — the md5 of
    * `walk_id|step|here|neighbor` ordered lexicographically, four steps
    * unrolled. */
  private lazy val randomWalksOracleSql: String = {
    val pre =
      s"""WITH $coOrderEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
         |f0 AS (SELECT CAST(start AS VARCHAR) || '#' || CAST(w AS VARCHAR) AS walk_id,
         |    start, start AS node
         |  FROM (SELECT DISTINCT u AS start FROM adj)
         |  CROSS JOIN (SELECT unnest([0, 1]) AS w))""".stripMargin
    val its = (1 to 4).map { i =>
      s""",
         |f$i AS (SELECT walk_id, start, node FROM (
         |  SELECT f.walk_id, f.start, adj.v AS node,
         |    row_number() OVER (PARTITION BY f.walk_id ORDER BY
         |      md5(f.walk_id || '|' || '$i' || '|' ||
         |          CAST(adj.u AS VARCHAR) || '|' || CAST(adj.v AS VARCHAR)),
         |      adj.v) AS rn
         |  FROM f${i - 1} f JOIN adj ON f.node = adj.u) WHERE rn = 1)""".stripMargin
    }.mkString
    pre + its + """
      |SELECT walk_id, start, step, node FROM (
      |  SELECT walk_id, start, 0 AS step, node FROM f0
      |  UNION ALL SELECT walk_id, start, 1, node FROM f1
      |  UNION ALL SELECT walk_id, start, 2, node FROM f2
      |  UNION ALL SELECT walk_id, start, 3, node FROM f3
      |  UNION ALL SELECT walk_id, start, 4, node FROM f4)
      |ORDER BY walk_id, step""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "x33_pagerank" -> pageRankOracleSql,

    "x65_ppr" -> pprOracleSql,

    "x70_weighted_pagerank" -> weightedPageRankOracleSql,

    "x39_random_walks" -> randomWalksOracleSql,

    "x45_bfs" -> bfsOracleSql,
    "x71_hits" -> hitsOracleSql,

    "x69_landmark_closeness" -> landmarkClosenessOracleSql,

    "x57_shortest_path" -> shortestPathOracleSql,

    "ext_kmeans_fp" -> kmeansOracleSql,
    "ext_silhouette" -> silhouetteOracleSql,

    "x36_kcore" -> kCoreOracleSql,

    "x37_communities" -> labelPropOracleSql,

    // wedge counts minus existing edges, ranked by (common DESC, ids) —
    // the same part-graph CTEs as x36/x37
    "x38_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        |w AS (SELECT x.v AS id_a, y.v AS id_b, count(*) AS common
        |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, common FROM w
        |ANTI JOIN und ON w.id_a = und.a AND w.id_b = und.b
        |ORDER BY common DESC, id_a, id_b LIMIT 100""".stripMargin,

    // same single pair-count aggregation, marginals and 1-row N derived
    // from it, exact HUGEINT Q16 ratio — log-free PMI ranking (shared by
    // the batch row and its streaming counter-table twin)
    "ext_pmi_bigrams" -> pmiBigramsSql,
    "stream_pmi_bigrams" -> pmiBigramsSql,

    // ordered-triple enumeration over the symmetrized co-order edges —
    // an algorithm independent of the Spark side's degree orientation
    "x35_triangles" ->
      s"""WITH $coOrderEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT node AS s_suppkey, count(*) AS triangles FROM (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri) t
         |GROUP BY node ORDER BY s_suppkey""".stripMargin,

    "x34_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM orders
        |JOIN (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0) t
        |ON o_orderkey = l_orderkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q22_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate < TIMESTAMP '1996-07-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_filter_sum" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, CAST(sum(vol) AS DOUBLE) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2))) AS vol
        |  FROM supplier JOIN lineitem ON s_suppkey=l_suppkey
        |  JOIN orders ON o_orderkey=l_orderkey JOIN customer ON c_custkey=o_custkey
        |  JOIN nation n1 ON s_nationkey=n1.n_nationkey JOIN nation n2 ON c_nationkey=n2.n_nationkey
        |  WHERE ((n1.n_name='NATION_1' AND n2.n_name='NATION_2') OR (n1.n_name='NATION_2' AND n2.n_name='NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year, CAST(CAST(sum(CASE WHEN nation='NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE)
        |  / CAST(sum(vol) AS DOUBLE) AS DOUBLE) AS mkt_share FROM (
        |  SELECT year(o_orderdate) AS o_year, n2.n_name AS nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,8)) AS vol
        |  FROM part JOIN lineitem ON p_partkey=l_partkey
        |  JOIN supplier ON s_suppkey=l_suppkey JOIN orders ON o_orderkey=l_orderkey
        |  JOIN customer ON c_custkey=o_custkey JOIN nation n1 ON c_nationkey=n1.n_nationkey
        |  JOIN region ON n1.n_regionkey=r_regionkey JOIN nation n2 ON s_nationkey=n2.n_nationkey
        |  WHERE r_name='ASIA' AND p_type='PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q12_late_shipment" ->
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey=o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT CAST(100.0 * CAST(sum(CASE WHEN p_type='PROMO' THEN vol ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE)
        |  / CAST(sum(vol) AS DOUBLE) AS DOUBLE) AS promo_revenue
        |FROM (SELECT p_type,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,8)) AS vol
        |  FROM lineitem JOIN part ON l_partkey=p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01') t""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue FROM supplier JOIN revenue ON s_suppkey=supplier_no
        |WHERE total_revenue=(SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY' AND p_size IN (1,4,9,14,23,36,45,49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/7.0 AS DOUBLE) AS avg_yearly
        |FROM lineitem JOIN (
        |  SELECT l_partkey AS agg_partkey,
        |    0.2*(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*)) AS qty_thresh
        |  FROM lineitem GROUP BY l_partkey) t ON l_partkey=agg_partkey
        |JOIN part ON p_partkey=l_partkey
        |WHERE p_brand='Brand#5' AND l_quantity < qty_thresh""".stripMargin,

    "q19_disjunctive_pred" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey=l_partkey
        |WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand='Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey=l1.l_suppkey
        |JOIN orders ON o_orderkey=l1.l_orderkey JOIN nation ON s_nationkey=n_nationkey
        |WHERE o_orderstatus='F' AND n_name='NATION_3'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey=l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey=l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH offer AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_price
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |eu AS (
        |  SELECT o.*, s_acctbal, s_name, n_name FROM offer o
        |  JOIN supplier ON s_suppkey=l_suppkey JOIN nation ON s_nationkey=n_nationkey
        |  JOIN region ON n_regionkey=r_regionkey WHERE r_name='EUROPE'),
        |mn AS (SELECT l_partkey AS m_partkey, min(unit_price) AS min_price FROM eu GROUP BY l_partkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price
        |FROM eu JOIN mn ON l_partkey=m_partkey AND unit_price=min_price
        |JOIN part ON p_partkey=l_partkey
        |WHERE p_size=15 AND p_type='STANDARD'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    "q9_nation_profit" ->
      """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))*(CAST(1 AS DECIMAL(3,2))-CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,8))
        |      - CAST(CAST(p_retailprice AS DECIMAL(18,2))*CAST(0.6 AS DECIMAL(2,1))*CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,8)) AS amount
        |  FROM part JOIN lineitem ON p_partkey=l_partkey
        |  JOIN supplier ON s_suppkey=l_suppkey JOIN orders ON o_orderkey=l_orderkey
        |  JOIN nation ON s_nationkey=n_nationkey
        |  WHERE p_name LIKE '%red%') t
        |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_parts" ->
      """WITH pv AS (
        |  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS pv_dec
        |  FROM lineitem JOIN part ON p_partkey=l_partkey
        |  JOIN supplier ON s_suppkey=l_suppkey JOIN nation ON s_nationkey=n_nationkey
        |  WHERE n_name IN ('NATION_1','NATION_2','NATION_3')
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, CAST(pv_dec AS DOUBLE) AS part_value FROM pv
        |WHERE CAST(pv_dec AS DOUBLE) > (SELECT CAST(sum(pv_dec) AS DOUBLE)*0.001 FROM pv)
        |ORDER BY part_value DESC, p_partkey""".stripMargin,

    "q20_excess_shippers" ->
      """SELECT s_name, s_nationkey FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey=l_partkey
        |  WHERE p_type='PROMO' AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0)
        |ORDER BY s_name""".stripMargin,

    "a1_windowed_tx" ->
      """SELECT user_id, event_id, w_start, w_start + 600 AS w_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS window_total_spent
        |FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(epoch(ts)/300)*300 AS BIGINT) - s.off AS w_start
        |  FROM events, (SELECT unnest([0,300]) AS off) s)
        |GROUP BY user_id, event_id, w_start""".stripMargin,

    "a2_windowed_spend" ->
      """SELECT user_id, w_start, w_start + 600 AS w_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM (
        |  SELECT user_id, value,
        |    CAST(floor(epoch(ts)/300)*300 AS BIGINT) - s.off AS w_start
        |  FROM events, (SELECT unnest([0,300]) AS off) s)
        |GROUP BY user_id, w_start""".stripMargin,

    "a3_daily_spend" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS transaction_date,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')""".stripMargin,

    "a5_count" -> "SELECT count(*) AS n FROM events",

    "a12_cube" ->
      """SELECT coalesce(event_type,'ALL') AS et,
        |  coalesce(CAST(CAST(ts AS DATE) AS VARCHAR),'ALL') AS d,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY CUBE(event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
        |ORDER BY et, d""".stripMargin,

    "a8_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "a13_grouping_sets" ->
      """SELECT event_type, user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (event_type, user_id))""".stripMargin,

    // portable long-form: UNION ALL of the four measures (UNPIVOT sugar
    // differs per engine; the relation does not)
    "a14_unpivot" ->
      """WITH b AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  CAST(l_quantity AS DOUBLE) AS amount FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  CAST(l_extendedprice AS DOUBLE) FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  CAST(l_discount AS DOUBLE) FROM b
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |  CAST(l_tax AS DOUBLE) FROM b""".stripMargin,

    "a9_rollup" ->
      """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  count(*) AS n
        |FROM events GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))""".stripMargin,

    "a10_pivot_payment" ->
      """SELECT user_id,
        |  COALESCE(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DOUBLE), 0.0) AS purchase_total,
        |  COALESCE(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS DOUBLE), 0.0) AS click_total,
        |  COALESCE(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE), 0.0) AS view_total
        |FROM events GROUP BY user_id""".stripMargin,

    "a11_percentile" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    // regenerates DataGen.transactions(1000, seed=42) field-for-field: each
    // field is a pure function of md5(seed#salt#id), identical in any engine
    "s6_datagen" ->
      """WITH g AS (SELECT range AS id FROM range(0, 1000)),
        |h AS (SELECT id,
        |  md5('42-' || CAST(id AS VARCHAR)) AS transaction_id,
        |  CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hc,
        |  CAST(CAST('0x' || substr(md5('42#merch#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hm,
        |  CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS ha,
        |  CAST(CAST('0x' || substr(md5('42#pm#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hp,
        |  CAST(CAST('0x' || substr(md5('42#st#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hs
        |FROM g)
        |SELECT transaction_id,
        |  CAST(hc % 1000 + 1 AS VARCHAR) AS customer_id,
        |  CAST(hm % 500 + 1 AS INTEGER) AS merchant_id,
        |  (ha % 99900 + 100) / 100.0 AS amount,
        |  (['Credit Card','Debit Card','PayPal','UPI','Net Banking'])[CAST(hp % 5 + 1 AS INTEGER)] AS payment_method,
        |  (['Success','Pending','Failed'])[CAST(hs % 3 + 1 AS INTEGER)] AS status
        |FROM h""".stripMargin,

    // end-to-end pipeline oracle: regenerate the 200k synthetic
    // transactions (the JSON wire round-trip and the by-id dedup are
    // content-preserving, so the oracle aggregates the generator output
    // directly) and roll up daily totals per customer
    "s7_pipeline_batch" ->
      """WITH g AS (SELECT range AS id FROM range(0, 200000)),
        |t AS (SELECT
        |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS customer_id,
        |  (CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 99900 + 100) / 100.0 AS amount,
        |  make_timestamp(CAST((1704067200 + id/10.0) * 1000000 AS BIGINT)) AS ts
        |FROM g)
        |SELECT customer_id, strftime(ts, '%Y-%m-%d') AS transaction_date,
        |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM t GROUP BY customer_id, strftime(ts, '%Y-%m-%d')""".stripMargin,

    // NOTE: this >=-gap split is safe ONLY because events.ts is ns-grained
    // (an exact 1800.000000000s gap cannot occur); Spark's session_window
    // actually MERGES an event landing exactly gap seconds after the last
    // one — see stream_session_window's strict-> oracle, where whole-second
    // timestamps hit the boundary for real
    "a7_session_window" ->
      """WITH m AS (
        |  SELECT user_id, epoch(ts) AS t, value,
        |    CASE WHEN lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 1800
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id, t, value,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id,
        |  CAST(floor(min(t)) AS BIGINT) AS sess_start,
        |  CAST(floor(max(t)) AS BIGINT) + 1800 AS sess_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "a6_sql_count" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",

    "d2_dedup_batch" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,

    "p2_from_json_flatten" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",

    "o1_sort_topk" ->
      "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 100",

    "e1_except" ->
      """SELECT DISTINCT event_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT event_id FROM events WHERE value >= 100""".stripMargin,

    "e2_intersect" ->
      """SELECT DISTINCT event_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT event_id FROM events WHERE value >= 100""".stripMargin,

    "s5_memory_relation" ->
      """SELECT * FROM (VALUES ('Credit Card', 1), ('Debit Card', 2),
        |('PayPal', 3), ('UPI', 4), ('Net Banking', 5))
        |AS t(payment_method, method_id)""".stripMargin,

    "p1_cast_binary_string" ->
      "SELECT event_id, decode(CAST(props AS BLOB)) AS props_str FROM events",

    "p4_project_alias" ->
      "SELECT event_id AS id, value AS amount FROM events WHERE event_type = 'purchase'",

    "p5_withcolumn" ->
      "SELECT event_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents FROM events",

    "p6_drop_column" ->
      "SELECT event_id, user_id, event_type, value FROM events",

    "p7_struct_field_access" ->
      "SELECT event_id, user_id AS uid, value AS v FROM events",

    "t4_to_timestamp_parse" ->
      """SELECT event_id, CAST(epoch(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |'%Y-%m-%d %H:%M:%S')) AS BIGINT) AS epoch_s FROM events""".stripMargin,

    "t5_utc_normalize" ->
      "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS utc_epoch FROM events",

    "t6_to_date_trunc" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "d1_dedup_union_self" ->
      """SELECT DISTINCT event_id, user_id, value
        |FROM (SELECT * FROM events UNION ALL SELECT * FROM events) u""".stripMargin,

    "d3_rollup_dedup_noop" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS transaction_date,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')""".stripMargin,

    "w6_lag_delta" ->
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  epoch_us(ts) // 1000000
        |    - lag(epoch_us(ts) // 1000000, 1) OVER w AS gap_sec
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "w5_ntile" ->
      """SELECT event_id, event_type, value,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
        |    AS quartile
        |FROM events""".stripMargin,

    // same five integer sums, same single-expression double assembly —
    // multiply/divide/sqrt are IEEE-correctly-rounded in both engines, so
    // identical inputs and identical expression shape give identical bits
    "ext_corr_exact" ->
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    user_id AS y
        |  FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM b GROUP BY event_type)
        |SELECT event_type, n, sx, sy, sxy, sxx, syy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
        |FROM s""".stripMargin,

    "w1_rank_per_user" ->
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase') t
        |WHERE rn <= 3""".stripMargin,

    "x1_asof_attribution" -> asofAttributionSql,

    // the native sort-merge operator must produce the composed form's
    // exact relation — same oracle
    "x62_asof_native" -> asofAttributionSql,

    "w2_running_total" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "w3_lag_delta" ->
      """SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2)), 1) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS delta_prev,
        |  CAST(lead(CAST(value AS DECIMAL(18,2)), 1) OVER (
        |    PARTITION BY user_id ORDER BY event_id) - CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS delta_next
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "w4_distribution_fns" ->
      """SELECT user_id, event_id,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)""".stripMargin,

    "x7_salted_agg" ->
      """SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x8_salted_join" ->
      """SELECT event_id, e.user_id, value, CAST(e.user_id % 5 AS INTEGER) AS segment
        |FROM (SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase') e
        |JOIN (SELECT DISTINCT user_id FROM events) d ON e.user_id = d.user_id
        |ORDER BY event_id""".stripMargin,

    "x21_salted_distinct" ->
      """SELECT user_id, count(DISTINCT event_type) AS distinct_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the chunk decomposition must be invisible in the answer — the
    // oracle IS the plain running window (unique event_id per key makes
    // ROWS == RANGE, so DuckDB's default ORDER BY frame matches)
    "ext_window_chunked_sum" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_cents
        |FROM events ORDER BY event_id""".stripMargin,

    // the optimizer re-plan (AutoChunkWindow) must be invisible — the
    // oracle IS the plain running window, same cents idiom
    "ext_autochunk_window" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_cents
        |FROM events ORDER BY event_id""".stripMargin,

    // the multi-expression re-plan must be invisible: plain SQL window,
    // avg spelled as exact-sum / exact-count division (both engines then
    // perform the identical IEEE double division — DuckDB's own avg()
    // accumulator is not part of the contract)
    "ext_autochunk_multi" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
        |  CAST(count(cents) OVER w AS BIGINT) AS n_run,
        |  CAST(max(cents) OVER w AS BIGINT) AS peak_cents,
        |  CAST(sum(cents) OVER w AS DOUBLE) / CAST(count(cents) OVER w AS DOUBLE)
        |    AS avg_cents,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS INTEGER) AS rn,
        |  lag(cents, 2) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS prev_cents,
        |  lead(cents, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS next_cents,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // the manual sliding-frame decomposition must be invisible — the
    // oracle IS the plain sliding window (exact integer cents end to end)
    "ext_window_chunked_sliding" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
        |  CAST(min(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS low_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the automatic sliding re-plan must be invisible — exact cents sum
    // plus a min over the raw double (min involves no arithmetic, so
    // doubles compare exactly across engines)
    "ext_autochunk_sliding" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents, value FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
        |  min(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS low_value
        |FROM c ORDER BY event_id""".stripMargin,

    // the manual RANGE-frame decomposition must be invisible — the
    // oracle IS the plain RANGE window (exact integer cents end to end)
    "ext_window_chunked_range" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll_cents,
        |  CAST(count(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 300 PRECEDING AND 200 FOLLOWING) AS BIGINT)
        |    AS n_win
        |FROM c ORDER BY event_id""".stripMargin,

    // the automatic RANGE re-plan must be invisible — same exact idiom
    "ext_autochunk_range" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll_cents,
        |  CAST(min(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS low_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the timestamp-ord re-plan must be invisible. The Spark side orders
    // by an event time that is a monotone injective function of
    // event_id, so ordering by event_id HERE induces the identical
    // per-key order and (unique) peer groups — no raw timestamp crosses
    // the engine boundary (TESTDATA ns-vs-us hazard)
    "ext_autochunk_ts" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  lag(cents, 2) OVER w AS prev_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // the DESC re-plan must be invisible — the oracle IS the plain
    // descending window (event_id unique per key makes it deterministic)
    "ext_autochunk_desc" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run_back,
        |  lag(cents, 1) OVER w AS newer
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id DESC)
        |ORDER BY event_id""".stripMargin,

    // the composed-arms re-plan must be invisible: per-event latest-value
    // context, ordered by event_id (the event time is a monotone
    // injective function of it — no raw timestamp crosses the boundary)
    "ext_autochunk_latest" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  first_value(cents) OVER w AS latest_cents,
        |  CAST(row_number() OVER w AS INTEGER) AS rn_desc
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id DESC)
        |ORDER BY event_id""".stripMargin,

    // the first_value re-plans must be invisible — the oracle IS the
    // plain pair of anchor windows (unique event_id -> deterministic)
    "ext_autochunk_first" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  first_value(cents) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS earliest_cents,
        |  first_value(cents) OVER (PARTITION BY user_id ORDER BY event_id DESC)
        |    AS latest_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the decimal re-plan must be invisible: both engines sum the SAME
    // exact 2-dp decimals, read back as exact integer cents (the x100
    // conversion is lossless for scale-2 decimals)
    "ext_autochunk_decimal" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(12,2)) / 100
        |    AS amount FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(amount) OVER (PARTITION BY user_id ORDER BY event_id)
        |    * 100 AS BIGINT) AS run_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the census global arm must be invisible — plain serial windows;
    // avg replays Spark's exact-integer double division
    "ext_autochunk_global" ->
      """WITH c AS (SELECT event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
        |  CAST(row_number() OVER (ORDER BY event_id) AS INTEGER) AS rn,
        |  CAST(sum(cents) OVER w AS DOUBLE) /
        |    CAST(count(cents) OVER w AS DOUBLE) AS avg_cents
        |FROM c
        |WINDOW w AS (ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the multi-key rewrite must be invisible — plain serial windows
    // over the same two-key ordering
    "ext_autochunk_multiord" ->
      """WITH c AS (SELECT event_id, user_id,
        |  event_id % 97 AS o1,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER wr AS BIGINT) AS run_cents,
        |  CAST(row_number() OVER wo AS INTEGER) AS rn,
        |  CAST(rank() OVER wo AS INTEGER) AS rk,
        |  CAST(dense_rank() OVER wo AS INTEGER) AS dr
        |FROM c
        |WINDOW wo AS (PARTITION BY user_id ORDER BY o1 ASC, event_id DESC),
        |wr AS (PARTITION BY user_id ORDER BY o1 ASC, event_id DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the off-default anchor rewrite must be invisible — DuckDB's own
    // NULLS LAST serial window is the oracle
    "ext_autochunk_anchor_off" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_id END AS o,
        |  CASE WHEN event_id % 13 = 0 OR event_id % 7 = 0 THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  first_value(cents) OVER wa AS fv_nl,
        |  first_value(cents IGNORE NULLS) OVER wa AS fnn_nl,
        |  last_value(cents IGNORE NULLS) OVER wa AS fill_nl
        |FROM c
        |WINDOW wa AS (PARTITION BY user_id ORDER BY o ASC NULLS LAST
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the keyed census probe must be invisible — plain serial windows
    "ext_autochunk_keyed_census" ->
      """WITH c AS (SELECT event_id,
        |  CASE WHEN event_id % 10 < 6 THEN 0 ELSE user_id END AS k,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, k,
        |  CAST(sum(cents) OVER w AS BIGINT) AS run_cents,
        |  CAST(row_number() OVER (PARTITION BY k ORDER BY event_id)
        |    AS INTEGER) AS rn
        |FROM c
        |WINDOW w AS (PARTITION BY k ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the full-frame rewrite must be invisible — plain serial windows;
    // avg replays the exact-integer double division
    "ext_autochunk_full" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS tot_cents,
        |  CAST(count(cents) OVER w AS BIGINT) AS n_vals,
        |  CAST(max(cents) OVER w AS BIGINT) AS hi_cents,
        |  CAST(sum(cents) OVER w AS DOUBLE) /
        |    CAST(count(cents) OVER w AS DOUBLE) AS avg_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id)
        |ORDER BY event_id""".stripMargin,

    // the automatic IGNORE-NULLS twins must equal DuckDB's native form
    "ext_autochunk_ffill" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(cents IGNORE NULLS) OVER w AS filled_cents,
        |  first_value(cents IGNORE NULLS) OVER w AS first_nn_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // the non-null-sequence decomposition must be invisible — the oracle
    // IS the plain IGNORE NULLS window (DuckDB's in-call modifier syntax)
    "ext_window_chunked_lag_ignore" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  lag(cents, 2 IGNORE NULLS) OVER w AS prev_nn,
        |  coalesce(lead(cents, 1 IGNORE NULLS) OVER w, -1) AS next_nn
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // forward fill must equal the canonical last_value IGNORE NULLS
    // spelling over the running frame
    "ext_window_forward_fill" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 3 = 0 THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(cents IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the manual decimal verb must be invisible — same exact-cents idiom
    "ext_window_chunked_decimal" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(12,2)) / 100
        |    AS amount FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(amount) OVER (PARTITION BY user_id ORDER BY event_id)
        |    * 100 AS BIGINT) AS run_cents
        |FROM c ORDER BY event_id""".stripMargin,

    // the chunk-parallel rank family must equal the plain windows; the
    // double columns divide the SAME exact integers in both engines
    "ext_window_chunked_rank" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INTEGER) AS row_number,
        |  percent_rank() OVER w AS percent_rank,
        |  cume_dist() OVER w AS cume_dist,
        |  CAST(ntile(5) OVER w AS INTEGER) AS ntile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // the chunk-parallel anchor values must equal the plain windows
    "ext_window_chunked_anchor" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  first_value(cents) OVER w AS first_cents,
        |  last_value(cents) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // the chunk-parallel lag/lead must equal the plain navigation window
    "ext_window_chunked_lag" ->
      """WITH c AS (SELECT event_id, user_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  lag(cents, 2) OVER w AS prev_cents,
        |  lead(cents, 1) OVER w AS next_cents
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,

    // same invisibility contract for the max face (max of BIGINT is
    // BIGINT in both engines — no cast dance needed)
    "ext_window_chunked_max" ->
      """SELECT event_id, user_id,
        |  max(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY event_id) AS peak_cents
        |FROM events ORDER BY event_id""".stripMargin,

    // plain count(DISTINCT) per event type
    "ext_autosalt_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // plain (inner) ASOF drops unmatched left rows
    "x6_asof_inner" ->
      """SELECT p.event_id, p.user_id, p.value, c.event_id AS click_event_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS micros_since_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // DuckDB's ASOF with the inequality flipped picks the earliest right
    // row at-or-after the left timestamp — the forward direction
    "x4_asof_forward" ->
      """SELECT p.event_id, p.user_id, p.value, c.event_id AS click_event_id,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS micros_until_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // ASOF match, then matches farther than the 10-minute tolerance are
    // nulled (left rows kept) — merge_asof's tolerance semantics
    "x5_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, p.value,
        |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
        |    THEN c.event_id END AS click_event_id,
        |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
        |    THEN epoch_us(p.ts) - epoch_us(c.ts) END AS micros_since_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "x2_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x3_source_quota" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 15 ORDER BY doc_id""".stripMargin,

    "x9_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS excl FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(excl / 512) AS BIGINT) AS bin,
        |  CAST(excl % 512 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "x11_decontaminate" ->
      """WITH tr AS (SELECT doc_id, list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS s
        |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents WHERE doc_id % 10 != 0)),
        |ev AS (SELECT doc_id, list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)]) AS s
        |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents WHERE doc_id % 10 = 0)),
        |tr_e AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM tr),
        |ev_e AS (SELECT doc_id AS eval_id, unnest(s) AS sh FROM ev),
        |hot AS (SELECT sh FROM tr_e GROUP BY sh HAVING count(*) > 100),
        |flt AS (SELECT * FROM tr_e ANTI JOIN hot USING (sh))
        |SELECT train_id, eval_id, count(*) AS shared_ngrams
        |FROM flt JOIN ev_e USING (sh)
        |GROUP BY train_id, eval_id HAVING count(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin,

    // bloom replayed in set-membership form (a bit is set iff it is in the
    // distinct eval-position set — representation differs from the packed
    // bitmap, the verdicts are identical by construction); count(b.bit)=3
    // requires ALL of a shingle's 3 positions present, duplicate-position
    // collisions included, exactly like the AND of the 3 Spark bit tests
    "x18_bloom_decontaminate" -> bloomDecontaminateSql,
    // the saved-then-loaded filter screens with identical verdicts
    "x22_bloom_saved" -> bloomDecontaminateSql,

    // the engine's hash draw replayed numerically: first 8 md5 hex chars of
    // "<id>#repeat" parsed as an integer, compared against floor(frac * 2^32)
    "x12_weighted_repeat" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST((CAST(regexp_replace(source, 'src', '') AS INTEGER) % 4) * 0.75 AS DOUBLE) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#repeat'), 1, 8) AS UBIGINT) AS BIGINT)
        |       < CAST(floor((w - floor(w)) * 4294967296) AS BIGINT) THEN 1 ELSE 0 END AS copies
        |  FROM t)
        |SELECT doc_id, source, unnest(generate_series(0, copies - 1)) AS copy_idx
        |FROM c WHERE copies > 0 ORDER BY doc_id, copy_idx""".stripMargin,

    // the bit interleave replayed literally: per dimension and bit,
    // ((dim >> b) & 1) << (b*2 + j) summed — disjoint bit positions, so
    // + is bitwise OR in both engines
    // step chain replayed as dependent CTEs: each step's reach time is the
    // earliest qualifying event at-or-after (and within 24h of) the
    // previous step's; counts are scalar subqueries so empty steps still
    // emit their row, mirroring the engine's count-on-empty aggregate
    // epoch-aligned tumbling buckets (Spark's window() aligns to the epoch
    // in the session TZ = UTC), counts, rank-3 per bucket
    "x28_trending" ->
      """WITH c AS (SELECT
        |    epoch_us(ts) // 21600000000 * 21600000000 AS win_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT win_start, event_type, n, rank FROM (
        |  SELECT win_start, event_type, n, CAST(row_number() OVER (
        |    PARTITION BY win_start ORDER BY n DESC, event_type) AS BIGINT) AS rank
        |  FROM c) t
        |WHERE rank <= 3 ORDER BY win_start, rank""".stripMargin,

    // per-user hourly generate_series + the last observation at-or-before
    // each grid point (correlated order-by-limit — the union-window's
    // semantics; ties impossible at microsecond event times)
    // same integer-cents fold: list_reduce seeds its accumulator with the
    // first element, mirroring the engine's aggregate(slice(..), cs[0], ..)
    "x41_ewma" -> ewmaSql,

    // day-per-batch streaming fold converges to the identical levels
    "stream_ewma" -> ewmaSql,

    // same daily pairs, same co-moment assembly
    "ext_autocorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, cents AS x,
        |    lead(cents) OVER (PARTITION BY event_type ORDER BY d) AS y
        |  FROM daily),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT event_type, n, sx, sy, sxy, sxx, syy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS autocorr_1
        |FROM m ORDER BY event_type""".stripMargin,

    // same ranked integer sums, one mirrored division
    "ext_gini" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT cents, CAST(row_number() OVER (
        |    ORDER BY cents ASC, user_id ASC) AS BIGINT) AS i FROM pu),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(sum(i * cents) AS BIGINT) AS ix FROM r)
        |SELECT n, s,
        |  CAST(2 * ix - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)
        |    AS gini
        |FROM t""".stripMargin,

    // same exact ranked shares, same strictly-before head rule
    "ext_pareto" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM pu),
        |r AS (SELECT user_id, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, user_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM pu)
        |SELECT user_id, cents,
        |  cum_cents * 10000 // total AS cum_share_bp,
        |  (cum_cents - cents) * 10000 // total < 8000 AS in_head
        |FROM r CROSS JOIN t ORDER BY cents DESC, user_id""".stripMargin,

    // the INDEPENDENT quadratic dominance scan — the engine's sort-based
    // window rewrite must reproduce it row for row
    "ext_skyline" -> skylineSql,

    // an incrementally-maintained frontier must converge to the one-shot
    // skyline — same oracle
    "stream_skyline" -> skylineSql,

    // same daily rollup, same running peak, same earliest-trough join-back
    "ext_drawdown" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, d, cents,
        |    CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum FROM daily),
        |dd AS (SELECT event_type, d, cents, cum,
        |    CAST(max(cum) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - cum AS dd FROM c),
        |tops AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(max(cum) AS BIGINT) AS peak_cents,
        |    CAST(sum(cents) AS BIGINT) AS final_cents,
        |    CAST(max(dd) AS BIGINT) AS max_drawdown_cents
        |  FROM dd GROUP BY 1)
        |SELECT t.event_type, n_days, peak_cents, final_cents,
        |  max_drawdown_cents, CAST(min(dd.d) AS VARCHAR) AS trough_d
        |FROM tops t JOIN dd ON dd.event_type = t.event_type
        |  AND dd.dd = t.max_drawdown_cents
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY t.event_type""".stripMargin,

    // same +1/-1 sweep: deltas net per exact micros, one running sum,
    // earliest peak via the same join-back
    "ext_max_concurrency" -> sweepConcurrencySql,

    // the per-day batches' appended union must equal the one-shot sweep
    "stream_max_concurrency" -> sweepConcurrencySql,

    // same exact category counts, same mirrored collision division
    "ext_simpson" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS ni
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(ni) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_langs,
        |    CAST(sum(ni * (ni - 1)) AS BIGINT) AS coll
        |  FROM c GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(coll AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE)
        |    AS simpson,
        |  1.0 - CAST(coll AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE)
        |    AS diversity
        |FROM m ORDER BY source""".stripMargin,

    // same dedup'd basket-item self-join, same integer bp, same one
    // mirrored lift division
    "ext_basket_rules" -> basketRulesSql,

    // additive counters over whole baskets must finalize identically
    "stream_basket_rules" -> basketRulesSql,

    // same symmetrized edges, same degree moments, same oriented-triple
    // triangle count scaled by 3
    "ext_graph_clustering" ->
      s"""WITH $coOrderEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS n FROM und UNION ALL SELECT b FROM und) t
         |  GROUP BY 1),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges FROM deg),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
         |t AS (SELECT CAST(3 * count(*) AS BIGINT) AS closed_ends FROM tri)
         |SELECT n_nodes, n_edges, wedges, closed_ends,
         |  CAST(closed_ends AS DOUBLE) / CAST(wedges AS DOUBLE) AS global_cc
         |FROM s CROSS JOIN e CROSS JOIN t""".stripMargin,

    // the identical recurrence as a recursive CTE: same truncating mean,
    // same greatest(0, ...) step, same strict-> earliest-peak tie rule
    "ext_cusum" -> cusumSql,

    // the day-per-batch monitor must finish in exactly the batch detector's
    // state — same oracle
    "stream_cusum" -> cusumSql,

    // same symmetrized edges and degree join, same sqrt-free collapse
    "ext_assortativity" ->
      s"""WITH $coOrderEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS n FROM und UNION ALL SELECT b FROM und) t
         |  GROUP BY 1),
         |ends AS (SELECT da.deg AS x, db.deg AS y
         |  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
         |  UNION ALL
         |  SELECT db.deg, da.deg
         |  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_ends,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx FROM ends)
         |SELECT n_ends, sx, sxy, sxx,
         |  CAST(n_ends * sxy - sx * sx AS DOUBLE) /
         |    CAST(n_ends * sxx - sx * sx AS DOUBLE) AS assortativity
         |FROM m""".stripMargin,

    // same integer count moments, same mirrored divisions and sqrt
    "ext_burstiness" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, s, ss,
        |  CAST(n_days * ss - s * s AS DOUBLE) /
        |    CAST((n_days - 1) * s AS DOUBLE) AS fano,
        |  (sqrt(CAST(n_days * ss - s * s AS DOUBLE) /
        |      CAST(n_days * (n_days - 1) AS DOUBLE))
        |    - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |  (sqrt(CAST(n_days * ss - s * s AS DOUBLE) /
        |      CAST(n_days * (n_days - 1) AS DOUBLE))
        |    + CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) AS burstiness
        |FROM m ORDER BY event_type""".stripMargin,

    // same dedup'd (type, user) self-join, same integer bp coefficients
    "ext_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
        |  FROM events),
        |aud AS (SELECT t, CAST(count(*) AS BIGINT) AS nu FROM tu GROUP BY 1),
        |inter AS (SELECT x.t AS type_a, y.t AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM tu x JOIN tu y ON x.u = y.u AND x.t < y.t
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, a.nu AS n_a, b.nu AS n_b, n_both,
        |  n_both * 10000 // (a.nu + b.nu - n_both) AS jaccard_bp,
        |  n_both * 10000 // least(a.nu, b.nu) AS overlap_bp
        |FROM inter JOIN aud a ON a.t = type_a JOIN aud b ON b.t = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // same (ts, id)-ordered lag, same rank-formula median, same
    // truncating mean
    "ext_interarrival" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |g AS (SELECT user_id,
        |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS gap, event_id
        |  FROM ev),
        |gaps AS (SELECT user_id, CAST(gap AS BIGINT) AS gap, event_id
        |  FROM g WHERE gap IS NOT NULL),
        |med AS (SELECT user_id, gap AS median_gap_us FROM (
        |    SELECT user_id, gap,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY gap, event_id) AS r,
        |      count(*) OVER (PARTITION BY user_id) AS n
        |    FROM gaps) t WHERE r = (n + 1) // 2),
        |agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(min(gap) AS BIGINT) AS min_gap_us,
        |    CAST(max(gap) AS BIGINT) AS max_gap_us,
        |    CAST(sum(gap) AS BIGINT) // count(*) AS mean_gap_us
        |  FROM gaps GROUP BY 1)
        |SELECT a.user_id, n_gaps, min_gap_us, max_gap_us, mean_gap_us,
        |  median_gap_us
        |FROM agg a JOIN med m ON m.user_id = a.user_id
        |ORDER BY a.user_id""".stripMargin,

    // same symmetrized degrees, same top-down cumulative share
    "ext_degree_histogram" ->
      s"""WITH $coOrderEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS n FROM und UNION ALL SELECT b FROM und) t
         |  GROUP BY 1),
         |hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM deg GROUP BY 1),
         |c AS (SELECT deg, n_nodes,
         |    CAST(sum(n_nodes) OVER (ORDER BY deg DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS n_at_or_above,
         |    CAST(sum(n_nodes) OVER () AS BIGINT) AS total FROM hist)
         |SELECT deg, n_nodes, n_at_or_above,
         |  n_at_or_above * 10000 // total AS ccdf_bp
         |FROM c ORDER BY deg""".stripMargin,

    // same decile cut by doc_id rank, same first-bucket charge per type,
    // same 10-row cumulative window
    "ext_vocab_growth" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS toks
        |  FROM documents),
        |r AS (SELECT doc_id, toks, row_number() OVER (ORDER BY doc_id) AS rk,
        |    count(*) OVER () AS n FROM d),
        |b AS (SELECT doc_id, toks, (rk - 1) * 10 // n AS bucket FROM r),
        |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(toks)) AS BIGINT) AS n_instances
        |  FROM b GROUP BY 1),
        |fb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
        |    SELECT tok, min(bucket) AS bucket FROM (
        |      SELECT bucket, unnest(list_distinct(toks)) AS tok FROM b) t
        |    GROUP BY 1) g GROUP BY 1)
        |SELECT p.bucket, n_docs, n_instances,
        |  CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(n_docs) OVER w AS BIGINT) AS docs_cum,
        |  CAST(sum(n_instances) OVER w AS BIGINT) AS instances_cum,
        |  CAST(sum(coalesce(new_types, 0)) OVER w AS BIGINT) AS vocab_cum
        |FROM pb p LEFT JOIN fb f ON f.bucket = p.bucket
        |WINDOW w AS (ORDER BY p.bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY p.bucket""".stripMargin,

    // same daily counts, same offset join, same co-moment assembly
    "ext_xcorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |c AS (SELECT d, n AS x FROM daily WHERE event_type = 'click'),
        |p AS (SELECT d AS bd, n AS y FROM daily
        |  WHERE event_type = 'purchase'),
        |l AS (SELECT d, x, unnest([0, 1, 2]) AS lag FROM c),
        |j AS (SELECT lag, x, y FROM l JOIN p ON bd = d + lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1)
        |SELECT lag, n, sx, sy, sxy, sxx, syy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM m ORDER BY lag""".stripMargin,

    // same two rank-formula medians, same integer 3-MAD rule
    "ext_mad_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, cents AS med_cents FROM (
        |    SELECT event_type, cents, row_number() OVER (
        |      PARTITION BY event_type ORDER BY cents, d) AS r,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM daily) t WHERE r = (n + 1) // 2),
        |dev AS (SELECT daily.event_type, d, cents, med_cents,
        |    abs(cents - med_cents) AS dev
        |  FROM daily JOIN med ON med.event_type = daily.event_type),
        |mad AS (SELECT event_type, dev AS mad_cents FROM (
        |    SELECT event_type, dev, row_number() OVER (
        |      PARTITION BY event_type ORDER BY dev, d) AS r,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM dev) t WHERE r = (n + 1) // 2)
        |SELECT dev.event_type, CAST(d AS VARCHAR) AS d, cents, med_cents,
        |  mad_cents, dev, dev > mad_cents * 3 AS flagged
        |FROM dev JOIN mad ON mad.event_type = dev.event_type
        |ORDER BY dev.event_type, d""".stripMargin,

    // same per-user-day claims explode, same exact distinct counts
    "ext_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |claims AS (SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(d, d + 29, INTERVAL 1 DAY)) AS DATE)
        |      AS rd
        |  FROM ud),
        |mau AS (SELECT rd AS d, CAST(count(*) AS BIGINT) AS mau FROM claims
        |  GROUP BY 1)
        |SELECT CAST(dau.d AS VARCHAR) AS d, dau.dau, mau.mau,
        |  dau * 10000 // mau AS stickiness_bp
        |FROM dau JOIN mau ON mau.d = dau.d
        |ORDER BY d""".stripMargin,

    // same exact marginals, same mirrored per-cell division, same fixed
    // (priority, status) fold order for the float sum; the grid is
    // DENSIFIED by crossing the marginals (an absent cell contributes its
    // full expected count), mirroring the Spark side exactly
    "ext_chi_square" ->
      """WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
        |    CAST(count(*) AS BIGINT) AS obs FROM orders GROUP BY 1, 2),
        |rm AS (SELECT p, CAST(sum(obs) AS BIGINT) AS rm FROM cells
        |  GROUP BY 1),
        |cm AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cm FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    CAST(count(DISTINCT p) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT st) AS BIGINT) AS nc FROM cells),
        |dense AS (SELECT rm.p, cm.st, COALESCE(obs, CAST(0 AS BIGINT)) AS obs,
        |    rm, cm
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ON cells.p = rm.p AND cells.st = cm.st),
        |con AS (SELECT dense.p, dense.st,
        |    CAST(obs * n - rm * cm AS DOUBLE) *
        |    CAST(obs * n - rm * cm AS DOUBLE) /
        |    CAST(n * rm * cm AS DOUBLE) AS contrib, n, nr, nc
        |  FROM dense CROSS JOIN tot)
        |SELECT n, (nr - 1) * (nc - 1) AS df,
        |  list_reduce(list(contrib ORDER BY p, st), (a, b) -> a + b) AS chi2
        |FROM con GROUP BY 1, 2""".stripMargin,

    // same first-week cohorts, same exact week offsets and bp
    "ext_retention_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |cohort AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
        |sizes AS (SELECT w0, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM cohort GROUP BY 1),
        |act AS (SELECT w0, date_diff('day', w0, w) // 7 AS offset_w,
        |    CAST(count(*) AS BIGINT) AS active_users
        |  FROM uw JOIN cohort ON cohort.user_id = uw.user_id
        |  GROUP BY 1, 2)
        |SELECT CAST(a.w0 AS VARCHAR) AS cohort_w, offset_w, active_users,
        |  cohort_size, active_users * 10000 // cohort_size AS retention_bp
        |FROM act a JOIN sizes s ON s.w0 = a.w0
        |ORDER BY cohort_w, offset_w""".stripMargin,

    // same first-signup/first-purchase pairing, same rank-formula median
    "ext_conversion_latency" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s AS (SELECT user_id, min(ts_us) AS s_us FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |conv AS (SELECT e.user_id, min(ts_us) - s_us AS lat
        |  FROM ev e JOIN s ON s.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND ts_us >= s_us
        |  GROUP BY e.user_id, s_us),
        |med AS (SELECT lat AS median_lat_us FROM (
        |    SELECT lat, row_number() OVER (ORDER BY lat, user_id) AS r,
        |      count(*) OVER () AS n FROM conv) t
        |  WHERE r = (n + 1) // 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(min(lat) AS BIGINT) AS min_lat_us,
        |  CAST(max(lat) AS BIGINT) AS max_lat_us,
        |  CAST(sum(lat) AS BIGINT) // count(*) AS mean_lat_us,
        |  CAST(median_lat_us AS BIGINT) AS median_lat_us
        |FROM conv CROSS JOIN med GROUP BY median_lat_us""".stripMargin,

    // same first-seen rollup, same cumulative window and bp share
    "ext_user_adoption" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events
        |  GROUP BY 1),
        |daily AS (SELECT d0, CAST(count(*) AS BIGINT) AS new_users FROM f
        |  GROUP BY 1),
        |c AS (SELECT d0, new_users,
        |    CAST(sum(new_users) OVER (ORDER BY d0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_users,
        |    CAST(sum(new_users) OVER () AS BIGINT) AS total FROM daily)
        |SELECT CAST(d0 AS VARCHAR) AS d, new_users, cum_users,
        |  cum_users * 10000 // total AS adoption_bp
        |FROM c ORDER BY d""".stripMargin,

    // the identical triple recurrence as a recursive CTE carrying the
    // 7-element seasonal list; trunc() mirrors the toward-zero div
    "ext_holt_winters" ->
      """WITH RECURSIVE daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |arr AS (SELECT event_type, list(cents ORDER BY d) AS cs,
        |    CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
        |b AS (SELECT event_type, cs, n,
        |    CAST(list_sum(cs[1:7]) AS BIGINT) // 7 AS l0
        |  FROM arr WHERE n >= 8),
        |r AS (SELECT event_type, cs, n, CAST(7 AS BIGINT) AS i,
        |    l0 AS level, CAST(0 AS BIGINT) AS trend,
        |    [CAST(cs[k] - l0 AS BIGINT) for k in generate_series(1, 7)]
        |      AS seas
        |  FROM b
        |  UNION ALL
        |  SELECT event_type, cs, n, i + 1,
        |    CAST(trunc(CAST(cs[i+1] - seas[1] + level + trend AS DOUBLE)
        |      / 2) AS BIGINT),
        |    CAST(trunc(CAST(
        |      CAST(trunc(CAST(cs[i+1] - seas[1] + level + trend AS DOUBLE)
        |        / 2) AS BIGINT) - level + trend AS DOUBLE) / 2) AS BIGINT),
        |    seas[2:7] || [CAST(trunc(CAST(cs[i+1] -
        |      CAST(trunc(CAST(cs[i+1] - seas[1] + level + trend AS DOUBLE)
        |        / 2) AS BIGINT) + seas[1] AS DOUBLE) / 2) AS BIGINT)]
        |  FROM r WHERE i < n)
        |SELECT event_type, n AS n_days, level AS hw_level, trend AS hw_trend,
        |  seas[1] AS hw_seas_next,
        |  level + trend + seas[1] AS forecast_next
        |FROM r WHERE i = n ORDER BY event_type""".stripMargin,

    // INDEPENDENT implementations: DuckDB's builtin Damerau-Levenshtein
    // (same unrestricted variant) and levenshtein over the same prefixes
    "ext_fuzzy_dl" ->
      """WITH s AS (SELECT doc_id, lang, substr(text, 1, 16) AS p
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(damerau_levenshtein(a.p, b.p) AS BIGINT) AS dl,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev
        |FROM s a JOIN s b ON b.lang = a.lang AND a.doc_id < b.doc_id
        |ORDER BY a.lang, id_a, id_b""".stripMargin,

    // same key-frequency tables, same rank-formula percentile picks
    "ext_skew_metrics" ->
      """WITH lf AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS f
        |  FROM lineitem GROUP BY 1),
        |ef AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY 1),
        |lr AS (SELECT f, row_number() OVER (ORDER BY f, k) AS r,
        |    count(*) OVER () AS n FROM lf),
        |er AS (SELECT f, row_number() OVER (ORDER BY f, k) AS r,
        |    count(*) OVER () AS n FROM ef),
        |l AS (SELECT 'lineitem.l_suppkey' AS relation,
        |    (SELECT CAST(sum(f) AS BIGINT) FROM lf) AS n_rows,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lf) AS n_keys,
        |    (SELECT CAST(max(f) AS BIGINT) FROM lf) AS top1_freq,
        |    (SELECT f FROM lr WHERE r = (n + 1) // 2) AS p50_freq,
        |    (SELECT f FROM lr WHERE r = (n * 99 + 99) // 100) AS p99_freq),
        |e AS (SELECT 'events.user_id' AS relation,
        |    (SELECT CAST(sum(f) AS BIGINT) FROM ef) AS n_rows,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ef) AS n_keys,
        |    (SELECT CAST(max(f) AS BIGINT) FROM ef) AS top1_freq,
        |    (SELECT f FROM er WHERE r = (n + 1) // 2) AS p50_freq,
        |    (SELECT f FROM er WHERE r = (n * 99 + 99) // 100) AS p99_freq)
        |SELECT relation, n_rows, n_keys, top1_freq * 10000 // n_rows AS top1_bp,
        |  p50_freq, p99_freq, p99_freq * 10000 // p50_freq AS p99_p50_bp
        |FROM (SELECT * FROM l UNION ALL SELECT * FROM e) u
        |ORDER BY relation""".stripMargin,

    // same ceiling-rank picks over the same total order
    "ext_quantile_ladder" ->
      """WITH r AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
        |        event_id) AS r,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |q AS (SELECT event_type, cents, r, n,
        |    unnest([10, 25, 50, 75, 90]) AS q_pct FROM r)
        |SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct,
        |  cents AS value_cents
        |FROM q WHERE r = (q_pct * n + 99) // 100
        |ORDER BY event_type, q_pct""".stripMargin,

    // same rank-1 firsts, same lexicographic (ts, id) comparison
    "ext_seq_precedence" ->
      """WITH f AS (SELECT user_id, event_type, ts_us, event_id FROM (
        |    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts), event_id) AS r
        |    FROM events) t WHERE r = 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN a.ts_us < b.ts_us OR
        |      (a.ts_us = b.ts_us AND a.event_id < b.event_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_a_first,
        |  CAST(sum(CASE WHEN a.ts_us < b.ts_us OR
        |      (a.ts_us = b.ts_us AND a.event_id < b.event_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 //
        |    CAST(count(*) AS BIGINT) AS a_first_bp
        |FROM f a JOIN f b ON b.user_id = a.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,

    // same user-week shift join, same flag resolution, same week crop
    "ext_growth_accounting" -> growthAccountingSql,

    // the week-per-batch state machine must append the identical rows
    "stream_growth_accounting" -> growthAccountingSql,

    // same total order, same frame boundaries
    "w7_frame_values" ->
      """SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  CAST(first_value(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) OVER running AS BIGINT) AS first_cents,
        |  CAST(nth_value(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |    AS BIGINT), 3) OVER running AS BIGINT) AS third_cents,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    OVER centered AS BIGINT) AS window_sum_3
        |FROM events
        |WINDOW running AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  centered AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    // same per-group exact moments, same weekday-ordered float fold
    // (dayofweek + 1 aligns DuckDB's 0=Sunday to Spark's 1=Sunday)
    "ext_anova_weekday" ->
      """WITH g AS (SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT)
        |      AS dow,
        |    CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sg,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS ssg
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s,
        |    CAST(sum(ssg) AS BIGINT) AS ss,
        |    list_reduce(list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) /
        |      CAST(ng AS DOUBLE) ORDER BY dow), (a, b) -> a + b)
        |      AS sq_over_n
        |  FROM g),
        |d AS (SELECT k, n,
        |    sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      CAST(n AS DOUBLE) AS ssb,
        |    CAST(ss AS DOUBLE) - sq_over_n AS ssw
        |  FROM t)
        |SELECT k, n, ssb, ssw,
        |  (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))
        |    AS f_stat
        |FROM d""".stripMargin,

    // same marginals and fixed fold, one extra mirrored sqrt
    "ext_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
        |    CAST(count(*) AS BIGINT) AS obs FROM orders GROUP BY 1, 2),
        |rm AS (SELECT p, CAST(sum(obs) AS BIGINT) AS rm FROM cells
        |  GROUP BY 1),
        |cm AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cm FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |    CAST(count(DISTINCT p) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT st) AS BIGINT) AS nc FROM cells),
        |con AS (SELECT cells.p, cells.st,
        |    CAST(obs * n - rm * cm AS DOUBLE) *
        |    CAST(obs * n - rm * cm AS DOUBLE) /
        |    CAST(n * rm * cm AS DOUBLE) AS contrib, n, nr, nc
        |  FROM cells JOIN rm ON rm.p = cells.p JOIN cm ON cm.st = cells.st
        |  CROSS JOIN tot),
        |s AS (SELECT n,
        |    list_reduce(list(contrib ORDER BY p, st), (a, b) -> a + b)
        |      AS chi2,
        |    least(nr - 1, nc - 1) AS m
        |  FROM con GROUP BY n, nr, nc)
        |SELECT n, chi2,
        |  sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE))) AS cramers_v
        |FROM s""".stripMargin,

    // same row frame, same exact windowed moments, same mirrored division
    "ext_rolling_var" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, d, cents,
        |    CAST(count(*) OVER w AS BIGINT) AS wn,
        |    CAST(sum(cents) OVER w AS BIGINT) AS ws,
        |    CAST(sum(cents * cents) OVER w AS BIGINT) AS wss
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(d AS VARCHAR) AS d, cents, wn, ws, wss,
        |  CAST(wn * wss - ws * ws AS DOUBLE) /
        |    CAST(wn * (wn - 1) AS DOUBLE) AS rolling_var
        |FROM r WHERE wn >= 2 ORDER BY event_type, d""".stripMargin,

    // same integer binary-length bucket, same share bp
    "ext_token_histogram" ->
      """WITH t AS (SELECT length(bin(CAST(len(string_split(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |      AS BIGINT))) AS bucket
        |  FROM documents),
        |h AS (SELECT CAST(bucket AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY 1),
        |s AS (SELECT bucket, n_docs,
        |    CAST(sum(n_docs) OVER () AS BIGINT) AS total FROM h)
        |SELECT bucket, n_docs, n_docs * 10000 // total AS share_bp
        |FROM s ORDER BY bucket""".stripMargin,

    // same user-week shift join, same four exact driver terms
    "ext_revenue_bridge" ->
      """WITH uw AS (SELECT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |sh AS (SELECT user_id, w + 7 AS w, cents AS prev_cents FROM uw),
        |wk AS (SELECT DISTINCT w FROM uw),
        |j AS (SELECT coalesce(uw.w, sh.w) AS w, uw.cents, sh.prev_cents
        |  FROM uw FULL OUTER JOIN sh
        |    ON sh.user_id = uw.user_id AND sh.w = uw.w)
        |SELECT CAST(j.w AS VARCHAR) AS week,
        |  CAST(sum(CASE WHEN prev_cents IS NULL THEN cents ELSE 0 END)
        |    AS BIGINT) AS new_cents,
        |  CAST(sum(CASE WHEN cents IS NULL THEN -prev_cents ELSE 0 END)
        |    AS BIGINT) AS churned_cents,
        |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
        |      AND cents > prev_cents THEN cents - prev_cents ELSE 0 END)
        |    AS BIGINT) AS expansion_cents,
        |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
        |      AND cents < prev_cents THEN cents - prev_cents ELSE 0 END)
        |    AS BIGINT) AS contraction_cents,
        |  CAST(sum(CASE WHEN prev_cents IS NULL THEN cents ELSE 0 END) +
        |    sum(CASE WHEN cents IS NULL THEN -prev_cents ELSE 0 END) +
        |    sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
        |      AND cents > prev_cents THEN cents - prev_cents ELSE 0 END) +
        |    sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
        |      AND cents < prev_cents THEN cents - prev_cents ELSE 0 END)
        |    AS BIGINT) AS net_change_cents
        |FROM j JOIN wk ON wk.w = j.w
        |GROUP BY 1 ORDER BY week""".stripMargin,

    // the parquet original must agree with the ORC roundtrip
    "s9_orc_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same exact contingency counts
    "ext_crosstab" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f_cnt,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS o_cnt,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS p_cnt
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,

    // same path extraction via DuckDB's JSON functions
    "p8_json_path" ->
      """SELECT event_type,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS n_extracted,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
        |      AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_50
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same sorted type list, scalar projections via DuckDB list functions
    "p9_array_hof" ->
      """WITH t AS (SELECT user_id,
        |    list_sort(list(DISTINCT event_type)) AS types
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(len(types) AS BIGINT) AS n_types,
        |  list_contains(types, 'error') AS has_error,
        |  types[1] AS first_type,
        |  coalesce(list_reduce(list_transform(types,
        |    t -> length(t) >= 4), (a, b) -> a AND b), true) AS all_len_ge_4,
        |  array_to_string(types, ',') AS types_csv
        |FROM t ORDER BY user_id""".stripMargin,

    // the survivors computed directly: everything except the RF2 keys
    "x73_tpch_refresh" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // the streaming heap must finalize to the batch heap
    "stream_topk_users" -> topkUsersSql,

    // the window idiom the heap aggregate is value-identical to
    "ext_topk_users" -> topkUsersSql,

    // same values again — this row is WRITTEN in the window idiom and the
    // optimizer rule supplies the heap
    "ext_topk_rewrite" -> topkUsersSql,

    // same (lang, 2-char) blocking, same builtin distance, same threshold
    "ext_fuzzy_dl_join" ->
      """WITH s AS (SELECT doc_id, lang, substr(text, 1, 12) AS p,
        |    substr(text, 1, 2) AS blk FROM documents)
        |SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(damerau_levenshtein(a.p, b.p) AS BIGINT) AS dl
        |FROM s a JOIN s b ON b.lang = a.lang AND b.blk = a.blk
        |  AND a.doc_id < b.doc_id
        |WHERE damerau_levenshtein(a.p, b.p) <= 4
        |ORDER BY a.lang, id_a, id_b""".stripMargin,

    // same day gaps, same rank-formula median and truncating mean
    "ext_ship_latency" ->
      """WITH g AS (SELECT o_orderpriority AS prio,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS gap,
        |    l_orderkey, l_linenumber
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |med AS (SELECT prio, gap AS median_gap_days FROM (
        |    SELECT prio, gap, row_number() OVER (PARTITION BY prio
        |      ORDER BY gap, l_orderkey, l_linenumber) AS r,
        |      count(*) OVER (PARTITION BY prio) AS n FROM g) t
        |  WHERE r = (n + 1) // 2)
        |SELECT g.prio AS prio, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(min(gap) AS BIGINT) AS min_gap_days,
        |  CAST(max(gap) AS BIGINT) AS max_gap_days,
        |  CAST(sum(gap) AS BIGINT) // count(*) AS mean_gap_days,
        |  CAST(median_gap_days AS BIGINT) AS median_gap_days
        |FROM g JOIN med ON med.prio = g.prio
        |GROUP BY 1, median_gap_days ORDER BY prio""".stripMargin,

    // same per-order sizes, same share bp
    "ext_basket_size_dist" ->
      """WITH s AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS sz
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_orders FROM s
        |  GROUP BY 1),
        |t AS (SELECT sz, n_orders,
        |    CAST(sum(n_orders) OVER () AS BIGINT) AS total FROM h)
        |SELECT sz AS basket_size, n_orders,
        |  n_orders * 10000 // total AS share_bp
        |FROM t ORDER BY basket_size""".stripMargin,

    // same ceiling-rank deciles on both sides, same mirrored ratio
    "ext_qq_table" ->
      """WITH p AS (SELECT cents, row_number() OVER (ORDER BY cents,
        |      event_id) AS r, count(*) OVER () AS n FROM (
        |    SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents, event_id FROM events
        |    WHERE event_type = 'purchase') t),
        |v AS (SELECT cents, row_number() OVER (ORDER BY cents,
        |      event_id) AS r, count(*) OVER () AS n FROM (
        |    SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents, event_id FROM events
        |    WHERE event_type = 'view') t),
        |pq AS (SELECT q, cents AS purchase_cents FROM p,
        |    (SELECT unnest(generate_series(1, 9)) AS q) qs
        |  WHERE r = (q * n + 9) // 10),
        |vq AS (SELECT q, cents AS view_cents FROM v,
        |    (SELECT unnest(generate_series(1, 9)) AS q) qs
        |  WHERE r = (q * n + 9) // 10)
        |SELECT CAST(pq.q AS BIGINT) AS decile, purchase_cents, view_cents,
        |  CAST(purchase_cents AS DOUBLE) / CAST(view_cents AS DOUBLE)
        |    AS ratio
        |FROM pq JOIN vq ON vq.q = pq.q ORDER BY decile""".stripMargin,

    // same directed edges, same reversed-key self-join
    "ext_reciprocity" ->
      s"""WITH $coOrderEdgesCte,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM edges r
         |      WHERE r.src = e.dst AND r.dst = e.src)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual
         |  FROM edges e)
         |SELECT n_edges, n_mutual,
         |  n_mutual * 10000 // n_edges AS reciprocity_bp
         |FROM m""".stripMargin,

    // same active-day rollup, same span arithmetic
    "ext_calendar_coverage" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_active,
        |  CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT)
        |    AS n_days_span,
        |  CAST(min(d) AS VARCHAR) AS first_d,
        |  CAST(max(d) AS VARCHAR) AS last_d,
        |  CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) -
        |    CAST(count(*) AS BIGINT) AS n_days_missing
        |FROM daily GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same weekly factors, same truncating divisions
    "ext_arpu_decomposition" ->
      """WITH a AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS w,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS actives
        |  FROM events GROUP BY 1),
        |b AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS w,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS buyers,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS rev_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(a.w AS VARCHAR) AS week, actives,
        |  coalesce(buyers, 0) AS buyers,
        |  coalesce(n_purchases, 0) AS n_purchases,
        |  coalesce(rev_cents, 0) AS rev_cents,
        |  coalesce(buyers, 0) * 10000 // actives AS conversion_bp,
        |  CASE WHEN coalesce(n_purchases, 0) = 0 THEN 0
        |    ELSE rev_cents // n_purchases END AS aov_cents,
        |  coalesce(rev_cents, 0) // actives AS arpu_cents
        |FROM a LEFT JOIN b ON b.w = a.w ORDER BY week""".stripMargin,

    // same squared-share arithmetic, same tie-broken top 20
    "ext_hhi_parts" ->
      """WITH q AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS qc
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    CAST(sum(qc) AS BIGINT) AS total_qc,
        |    CAST(sum(qc * qc) AS BIGINT) AS sq
        |  FROM q GROUP BY 1)
        |SELECT l_partkey, n_suppliers,
        |  sq * 10000 // (total_qc * total_qc) AS hhi_bp
        |FROM h
        |ORDER BY hhi_bp DESC, n_suppliers ASC, l_partkey ASC
        |LIMIT 20""".stripMargin,

    // same island key, same rank-1 longest-streak pick
    "ext_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |i AS (SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS INTEGER) AS grp
        |  FROM ud),
        |s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
        |    min(d) AS start_d
        |  FROM i GROUP BY 1, 2),
        |r AS (SELECT user_id, len, start_d,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_d ASC) AS r,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_streaks,
        |    CAST(sum(len) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_active
        |  FROM s)
        |SELECT user_id, n_active AS n_active_days, n_streaks,
        |  len AS longest_streak, CAST(start_d AS VARCHAR) AS streak_start
        |FROM r WHERE r = 1 ORDER BY user_id""".stripMargin,

    // same parity arms, same collapsed d^2/n statistic
    "ext_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b, n_a + n_b AS n,
        |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
        |    CAST(n_a + n_b AS DOUBLE) AS srm_chi2,
        |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
        |    CAST(n_a + n_b AS DOUBLE) > 3.841 AS srm_flag
        |FROM c""".stripMargin,

    // same epoch-day range frame, strictly following
    "ext_future_labels" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT user_id, d, cents,
        |    date_diff('day', DATE '1970-01-01', d) AS ep FROM daily),
        |r AS (SELECT user_id, d, cents,
        |    CAST(count(*) OVER w AS BIGINT) AS fwd_days,
        |    CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS fwd_cents
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ep
        |    RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING))
        |SELECT user_id, CAST(d AS VARCHAR) AS d, cents,
        |  fwd_days AS active_next_7d, fwd_cents AS spend_next_7d_cents,
        |  fwd_days = 0 AS churn_7d_label
        |FROM r ORDER BY user_id, d""".stripMargin,

    // same exclude-self arithmetic, same bp scaling
    "ext_target_encoding" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CASE WHEN value >= 150.0 THEN 1 ELSE 0 END AS y FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(y) AS BIGINT) AS sg FROM ev GROUP BY 1)
        |SELECT event_id, ev.event_type AS event_type,
        |  CAST(y AS BIGINT) AS y,
        |  (sg - y) * 10000 // (ng - 1) AS loo_encoding_bp
        |FROM ev JOIN g ON g.event_type = ev.event_type
        |ORDER BY event_id""".stripMargin,

    // same two-row_number island key over the same total order
    "ext_run_lengths" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    event_id FROM events),
        |i AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) -
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) AS grp
        |  FROM ev),
        |runs AS (SELECT user_id, event_type, grp,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(len) AS BIGINT) AS longest_run,
        |  CAST(count(*) AS BIGINT) * 10000 // CAST(sum(len) AS BIGINT)
        |    AS rle_ratio_bp
        |FROM runs GROUP BY 1 ORDER BY user_id""".stripMargin,

    // same cumulative-weight threshold over the same total order
    "ext_weighted_median" ->
      """WITH li AS (SELECT p_brand,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_cents,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS wq,
        |    l_orderkey, l_linenumber
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |c AS (SELECT p_brand, price_cents,
        |    CAST(sum(wq) OVER (PARTITION BY p_brand
        |      ORDER BY price_cents, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(wq) OVER (PARTITION BY p_brand) AS BIGINT) AS tw
        |  FROM li),
        |f AS (SELECT p_brand, price_cents, cw, tw FROM c
        |  WHERE cw * 2 >= tw),
        |m AS (SELECT p_brand, min(cw) AS mcw, max(tw) AS total_weight
        |  FROM f GROUP BY 1)
        |SELECT m.p_brand AS p_brand,
        |  CAST(min(f.price_cents) AS BIGINT) AS wmedian_cents,
        |  total_weight
        |FROM m JOIN f ON f.p_brand = m.p_brand AND f.cw = m.mcw
        |GROUP BY 1, total_weight ORDER BY p_brand""".stripMargin,

    // same exact pair census over the same daily table
    "ext_kendall_tau" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        |  FROM daily a JOIN daily b ON a.d < b.d)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |  CAST(sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |  CAST(sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
        |      THEN 1 ELSE 0 END) -
        |    sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
        |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS tau_a
        |FROM p""".stripMargin,

    // same tie-broken ranks, same sqrt-free collapse
    "ext_spearman" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |r AS (SELECT
        |    CAST(row_number() OVER (ORDER BY x, d) AS BIGINT) AS rx,
        |    CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS ry
        |  FROM daily),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(rx) AS BIGINT) AS sx,
        |    CAST(sum(rx * ry) AS BIGINT) AS sxy,
        |    CAST(sum(rx * rx) AS BIGINT) AS sxx
        |  FROM r)
        |SELECT n, sx, sxy, sxx,
        |  CAST(n * sxy - sx * sx AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS spearman_rho
        |FROM m""".stripMargin,

    // same offset join per lag, same co-moment assembly
    "ext_acf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, d, cents AS x,
        |    unnest(generate_series(1, 7)) AS lag FROM daily),
        |j AS (SELECT l.event_type, CAST(lag AS BIGINT) AS lag, x,
        |    f.cents AS y
        |  FROM l JOIN daily f ON f.event_type = l.event_type
        |    AND f.d = l.d + CAST(lag AS INTEGER)),
        |m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1, 2)
        |SELECT event_type, lag, n, sx, sy, sxy, sxx, syy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
        |FROM m ORDER BY event_type, lag""".stripMargin,

    // same 30-minute gap rule, same start-dated sessions
    "ext_bounce_rate" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |g AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |sid AS (SELECT user_id, ts_us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |    min(ts_us) AS start_us
        |  FROM sid GROUP BY 1, 2),
        |d AS (SELECT CAST(CAST(make_timestamp(start_us) AS DATE)
        |      AS VARCHAR) AS d,
        |    n_events FROM sess)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 10000 // CAST(count(*) AS BIGINT) AS bounce_bp
        |FROM d GROUP BY 1 ORDER BY d""".stripMargin,

    // same scaled integer ECDF gap, same earliest-peak pick
    "ext_ks_test" ->
      """WITH v AS (SELECT
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |bv AS (SELECT cents, CAST(sum(g1) AS BIGINT) AS d1,
        |    CAST(sum(1 - g1) AS BIGINT) AS d2 FROM v GROUP BY 1),
        |c AS (SELECT cents,
        |    CAST(sum(d1) OVER w AS BIGINT) AS c1,
        |    CAST(sum(d2) OVER w AS BIGINT) AS c2,
        |    CAST(sum(d1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(d2) OVER () AS BIGINT) AS n2
        |  FROM bv WINDOW w AS (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT cents, n1, n2, abs(c1 * n2 - c2 * n1) AS gap FROM c),
        |p AS (SELECT CAST(max(gap) AS BIGINT) AS d_scaled FROM g)
        |SELECT n1, n2, d_scaled, CAST(min(cents) AS BIGINT) AS at_cents,
        |  CAST(d_scaled AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d
        |FROM g JOIN p ON g.gap = p.d_scaled
        |GROUP BY 1, 2, 3""".stripMargin,

    // same cross-multiplied gap, same earliest argmax and truncating means
    "ext_changepoint" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |c AS (SELECT d,
        |    CAST(count(*) OVER w AS BIGINT) AS k,
        |    CAST(sum(cents) OVER w AS BIGINT) AS s1,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(cents) OVER () AS BIGINT) AS s
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT d, k, s1, n, s,
        |    abs(s1 * (n - k) - (s - s1) * k) AS gap FROM c WHERE k < n),
        |p AS (SELECT CAST(max(gap) AS BIGINT) AS d_max FROM g)
        |SELECT CAST(d AS VARCHAR) AS split_after, k, n, d_max,
        |  s1 // k AS mean_before_cents,
        |  (s - s1) // (n - k) AS mean_after_cents
        |FROM g JOIN p ON g.gap = p.d_max
        |ORDER BY d LIMIT 1""".stripMargin,

    // same doubled midranks, same integer U
    "ext_mann_whitney" ->
      """WITH v AS (SELECT
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |bv AS (SELECT cents, CAST(sum(g1) AS BIGINT) AS d1,
        |    CAST(sum(1 - g1) AS BIGINT) AS d2 FROM v GROUP BY 1),
        |c AS (SELECT d1, d2,
        |    CAST(sum(d1 + d2) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - d1 - d2 AS before
        |  FROM bv),
        |m AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
        |    CAST(sum(d2) AS BIGINT) AS n2,
        |    CAST(sum(d1 * (before * 2 + d1 + d2 + 1)) AS BIGINT) AS r1_2x
        |  FROM c)
        |SELECT n1, n2, r1_2x - n1 * (n1 + 1) AS u1_2x,
        |  CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) /
        |    CAST(n1 * n2 * 2 AS DOUBLE) AS p_purchase_gt_view
        |FROM m""".stripMargin,

    // same ranked deciles, same cumulative bp at each decile top
    "ext_lorenz_curve" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents ASC, user_id ASC)
        |      AS BIGINT) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(cents) OVER (ORDER BY cents ASC, user_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM pu),
        |d AS (SELECT (r * 10 + n - 1) // n AS decile, r, cum, total FROM r)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(max(cum) AS BIGINT) * 10000 // CAST(max(total) AS BIGINT)
        |    AS cum_share_bp
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,

    // same histogram argmax, same tie rule
    "ext_mode_value" ->
      """WITH h AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS freq
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cents, freq,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY freq DESC, cents ASC) AS r
        |  FROM h)
        |SELECT event_type, cents AS mode_cents, freq AS mode_freq
        |FROM r WHERE r = 1 ORDER BY event_type""".stripMargin,

    // same synthesized magic bytes, same hex-prefix detection
    "ext_media_sniff" ->
      """WITH m AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN unhex('89504E47')
        |      WHEN doc_id % 4 = 1 THEN unhex('FFD8FFE0')
        |      WHEN doc_id % 4 = 2 THEN unhex('52494646')
        |      ELSE encode('') END) || encode(text) AS bytes
        |  FROM documents),
        |f AS (SELECT
        |    CASE WHEN left(hex(bytes), 8) = '89504E47' THEN 'png'
        |      WHEN left(hex(bytes), 8) = 'FFD8FFE0' THEN 'jpeg'
        |      WHEN left(hex(bytes), 8) = '52494646' THEN 'riff'
        |      ELSE 'raw' END AS format,
        |    CAST(octet_length(bytes) AS BIGINT) AS len
        |  FROM m),
        |g AS (SELECT format, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(len) AS BIGINT) AS total_bytes FROM f GROUP BY 1)
        |SELECT format, n_files, total_bytes,
        |  n_files * 10000 // CAST(sum(n_files) OVER () AS BIGINT)
        |    AS share_bp
        |FROM g ORDER BY format""".stripMargin,

    // same strictly-before thresholds at 80/95
    "ext_abc_classification" ->
      """WITH pp AS (SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT l_partkey, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM pp),
        |c AS (SELECT CASE WHEN (cum - cents) * 10000 // total < 8000
        |      THEN 'A'
        |    WHEN (cum - cents) * 10000 // total < 9500 THEN 'B'
        |    ELSE 'C' END AS abc, cents
        |  FROM r),
        |g AS (SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
        |    CAST(sum(cents) AS BIGINT) AS class_cents FROM c GROUP BY 1)
        |SELECT abc, n_parts, class_cents,
        |  class_cents * 10000 // CAST(sum(class_cents) OVER () AS BIGINT)
        |    AS revenue_share_bp
        |FROM g ORDER BY abc""".stripMargin,

    // the x24 split replayed, then the same bp-parity comparison
    "ext_split_parity" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(doc_id::VARCHAR || '#split'), 1, 8),
        |        doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |    CASE WHEN rnk <= floor(CAST(0.8 AS DOUBLE) * n) THEN 'train'
        |      WHEN rnk <= floor(CAST(0.9 AS DOUBLE) * n) THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM r),
        |corpus AS (SELECT lang,
        |    CAST(count(*) AS BIGINT) * 10000 //
        |      CAST(sum(count(*)) OVER () AS BIGINT) AS corpus_bp
        |  FROM s GROUP BY 1),
        |per AS (SELECT split, lang,
        |    CAST(count(*) AS BIGINT) * 10000 //
        |      CAST(sum(count(*)) OVER (PARTITION BY split) AS BIGINT)
        |      AS split_bp
        |  FROM s GROUP BY 1, 2)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_langs,
        |  CAST(max(abs(split_bp - corpus_bp)) AS BIGINT) AS max_dev_bp
        |FROM per JOIN corpus ON corpus.lang = per.lang
        |GROUP BY 1 ORDER BY split""".stripMargin,

    // same rank-1 dominants, same truncating average of bp shares
    "ext_dominant_type" ->
      """WITH c AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, event_type, n,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS total,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type ASC) AS r
        |  FROM c),
        |d AS (SELECT event_type, n * 10000 // total AS share_bp FROM t
        |  WHERE r = 1)
        |SELECT event_type AS dominant_type,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(share_bp) AS BIGINT) // count(*) AS avg_share_bp
        |FROM d GROUP BY 1 ORDER BY dominant_type""".stripMargin,

    // same (type, hour) histogram, same rank-1 peak
    "ext_peak_hour" ->
      """WITH h AS (SELECT event_type,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, hr, n,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, hr ASC) AS r
        |  FROM h)
        |SELECT event_type, hr AS peak_hour, n AS peak_n,
        |  n * 10000 // total AS peak_share_bp
        |FROM r WHERE r = 1 ORDER BY event_type""".stripMargin,

    // same rank-picked first/second purchases, same truncating gaps
    "ext_repeat_rate" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS r
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, ts_us AS t1 FROM p WHERE r = 1),
        |s AS (SELECT user_id, ts_us AS t2 FROM p WHERE r = 2),
        |j AS (SELECT f.user_id, t1, t2 FROM f
        |  LEFT JOIN s ON s.user_id = f.user_id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_buyers,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_repeat,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL
        |      THEN (t2 - t1) // 86400000000 ELSE 0 END) AS BIGINT)
        |      AS gap_days_sum
        |  FROM j)
        |SELECT n_buyers, n_repeat,
        |  n_repeat * 10000 // n_buyers AS repeat_bp,
        |  CASE WHEN n_repeat = 0 THEN 0
        |    ELSE gap_days_sum // n_repeat END AS mean_gap_days
        |FROM m""".stripMargin,

    // same first-purchase cohorts, same exact-cent cumulative window
    "ext_cohort_ltv" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(d) AS cohort_d FROM p GROUP BY 1),
        |daily AS (SELECT cohort_d,
        |    CAST(datediff('day', cohort_d, d) AS BIGINT) AS age_days,
        |    CAST(sum(cents) AS BIGINT) AS day_cents,
        |    CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_users
        |  FROM p JOIN f ON p.user_id = f.user_id GROUP BY 1, 2)
        |SELECT CAST(cohort_d AS VARCHAR) AS cohort, age_days, day_cents,
        |  active_users,
        |  CAST(sum(day_cents) OVER (PARTITION BY cohort_d ORDER BY age_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM daily ORDER BY cohort, age_days""".stripMargin,

    // same per-user rollup, same tie-broken quartiles
    "ext_rfm" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events
        |  WHERE event_type = 'purchase'),
        |pu AS (SELECT user_id, max(d) AS last_d,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(v) * 100 AS BIGINT) AS monetary_cents
        |  FROM p GROUP BY 1),
        |m AS (SELECT max(d) AS corpus_max FROM p),
        |r AS (SELECT pu.*, CAST(datediff('day', last_d, corpus_max)
        |    AS BIGINT) AS recency_days FROM pu CROSS JOIN m),
        |qq AS (SELECT user_id, recency_days, frequency, monetary_cents,
        |    ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS r_q,
        |    ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m_q
        |  FROM r)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  r_q, f_q, m_q, r_q * 100 + f_q * 10 + m_q AS rfm_code
        |FROM qq ORDER BY user_id""".stripMargin,

    // same leave-one-out weekday baseline, same integer bp deviation
    "ext_seasonal_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |dd AS (SELECT event_type, d, n,
        |    CAST(dayofweek(d) + 1 AS BIGINT) AS dow FROM daily),
        |b AS (SELECT event_type AS bt, dow AS bd,
        |    CAST(sum(n) AS BIGINT) AS tot, count(*) AS days
        |  FROM dd GROUP BY 1, 2)
        |SELECT event_type, CAST(d AS VARCHAR) AS day, dow, n, baseline,
        |  dev_bp, abs(dev_bp) > 2500 AS is_anomaly
        |FROM (SELECT event_type, d, dow, n, baseline,
        |    -- trunc, not //: Spark's div truncates negative deviations
        |    -- toward zero where DuckDB's // floors them
        |    CAST(trunc(CAST((n - baseline) * 10000 AS DOUBLE) /
        |      greatest(baseline, 1)) AS BIGINT) AS dev_bp
        |  FROM (SELECT event_type, d, dow, n,
        |      (tot - n) // (days - 1) AS baseline
        |    FROM dd JOIN b ON event_type = bt AND dow = bd
        |    WHERE days > 1))
        |ORDER BY event_type, day""".stripMargin,

    // same per-character histogram, same bin-length log2 replay
    "ext_byte_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        |  FROM documents),
        |h AS (SELECT doc_id, c, count(*) AS nb FROM ch
        |  WHERE length(c) = 1 GROUP BY 1, 2),
        |t AS (SELECT doc_id, c, nb,
        |    CAST(sum(nb) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM h),
        |q AS (SELECT doc_id, nb, n, n * 1024 // nb AS y FROM t),
        |a AS (SELECT doc_id, nb, n,
        |    (length(bin(y)) - 1) * 65536 +
        |    ((y - (CAST(1 AS BIGINT) << (length(bin(y)) - 1))) * 65536
        |      >> (length(bin(y)) - 1)) - 655360 AS alr
        |  FROM q)
        |SELECT doc_id, max(n) AS n_chars_counted,
        |  CAST(count(*) AS BIGINT) AS distinct_bytes,
        |  CAST(sum(nb * alr // n) AS BIGINT) AS entropy_fp
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same smoothed Q16 ratio, same deterministic ordering
    "ext_keyness" ->
      """WITH t AS (SELECT source = 'src0' AS in_a,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(a) AS BIGINT) AS at,
        |    CAST(sum(b) AS BIGINT) AS bt FROM c)
        |SELECT tok, a, b,
        |  ((a + 1) * (bt + 1) * 65536) // ((b + 1) * (at + 1)) AS ratio_q16
        |FROM c CROSS JOIN tt
        |ORDER BY ratio_q16 DESC, tok LIMIT 20""".stripMargin,

    // same two leads, same deterministic ranking
    "ext_event_trigrams" ->
      """WITH e AS (SELECT user_id, event_type AS t1,
        |    epoch_us(ts) AS ts_us, event_id FROM events),
        |l AS (SELECT t1,
        |    lead(t1, 1) OVER w AS t2, lead(t1, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT t1, t2, t3, count(*) AS n FROM l WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    // the same irregular rate card inlined
    "ext_band_lookup" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('B1', 0.0, 1000.0), ('B2', 1000.0, 5000.0),
        |  ('B3', 5000.0, 20000.0), ('B4', 20000.0, 40000.0),
        |  ('B5', 40000.0, 60000.0), ('B6', 60000.0, 1e18))
        |SELECT band, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem JOIN bands
        |  ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    // same per-arm counts, the z statistic assembled by the identical
    // IEEE expression (each sub-expression mirrored operation for
    // operation)
    "ext_ab_test" ->
      """WITH pu AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 300
        |      THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |arms AS (SELECT user_id % 2 AS arm,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS conv
        |  FROM pu GROUP BY 1),
        |ab AS (SELECT
        |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
        |    (SELECT conv FROM arms WHERE arm = 0) AS conv_a,
        |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
        |    (SELECT conv FROM arms WHERE arm = 1) AS conv_b),
        |se AS (SELECT *,
        |    sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) *
        |      (1.0::DOUBLE - CAST(conv_a + conv_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |      (1.0::DOUBLE / CAST(n_a AS DOUBLE) +
        |       1.0::DOUBLE / CAST(n_b AS DOUBLE))) AS sev
        |  FROM ab)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  conv_b * 10000 // n_b - conv_a * 10000 // n_a AS lift_bp,
        |  CASE WHEN sev > 0 THEN
        |    (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
        |     CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / sev
        |  ELSE 0.0::DOUBLE END AS z
        |FROM se""".stripMargin,

    // same md5 buckets and sign bits, same signed collision sum
    "ext_feature_hash" ->
      """WITH f AS (SELECT event_id AS id, unnest([
        |    'type=' || event_type,
        |    'uband=' || CAST(user_id % 100 AS VARCHAR),
        |    'vband=' || CAST(CAST(floor(value / '50.0'::DOUBLE) AS BIGINT)
        |      AS VARCHAR)]) AS key
        |  FROM events),
        |h AS (SELECT id,
        |    CAST(CAST('0x' || substr(md5(key), 1, 15) AS UBIGINT) AS BIGINT)
        |      % 64 AS bucket,
        |    CASE WHEN CAST(CAST('0x' || substr(md5(key || '#sign'), 1, 1)
        |      AS UBIGINT) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM f)
        |SELECT id, bucket, CAST(sum(s) AS BIGINT) AS v
        |FROM h GROUP BY id, bucket ORDER BY id, bucket""".stripMargin,

    // the same 24h range frame, list-collected and rank-picked
    "ext_rolling_median_24h" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT event_id, user_id, ts_us,
        |    list_sort(list(cents) OVER w) AS arr
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts_us,
        |  arr[(len(arr) + 1) // 2] AS roll_med_cents,
        |  CAST(len(arr) AS BIGINT) AS rolling_n
        |FROM f ORDER BY event_id""".stripMargin,

    // the same lower-median rank selection and join-back
    "ext_impute_median" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |good AS (SELECT user_id, cents, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY cents, event_id) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM ev WHERE event_type <> 'error'),
        |med AS (SELECT user_id, cents AS median_cents FROM good
        |  WHERE r = (n + 1) // 2)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN e.event_type = 'error' THEN m.median_cents
        |    ELSE e.cents END AS cents_imputed,
        |  e.event_type = 'error' AS was_imputed
        |FROM ev e LEFT JOIN med m ON e.user_id = m.user_id
        |ORDER BY e.event_id""".stripMargin,

    // the identical recurrence unrolled as a recursive CTE; trunc-division
    // (NOT //, which floors) mirrors Spark's `div` on negative trends
    "ext_holt" ->
      """WITH RECURSIVE daily AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, list(cents ORDER BY d) AS cs FROM daily
        |  GROUP BY user_id HAVING len(cs) >= 2),
        |r AS (
        |  SELECT user_id, cs, len(cs) AS n, 1 AS i,
        |    cs[1] AS level, cs[2] - cs[1] AS trend
        |  FROM a
        |  UNION ALL
        |  SELECT user_id, cs, n, i + 1,
        |    CAST(trunc(CAST(cs[i+1] + level + trend AS DOUBLE) / 2) AS BIGINT),
        |    CAST(trunc(CAST(
        |      CAST(trunc(CAST(cs[i+1] + level + trend AS DOUBLE) / 2) AS BIGINT)
        |      - level + trend AS DOUBLE) / 2) AS BIGINT)
        |  FROM r WHERE i < n)
        |SELECT user_id, n AS n_days, level AS holt_level, trend AS holt_trend,
        |  level + trend AS forecast_next
        |FROM r WHERE i = n ORDER BY user_id""".stripMargin,

    "x26_resample_ffill" ->
      """WITH b AS (SELECT user_id,
        |    date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
        |  FROM events GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
        |  FROM b),
        |f AS (SELECT g.user_id, epoch_us(g.grid_ts) AS grid_us,
        |    (SELECT epoch_us(e.ts) FROM events e WHERE e.user_id = g.user_id
        |      AND e.ts <= g.grid_ts ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS src_us,
        |    (SELECT e.value FROM events e WHERE e.user_id = g.user_id
        |      AND e.ts <= g.grid_ts ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS value,
        |    (SELECT e.event_id FROM events e WHERE e.user_id = g.user_id
        |      AND e.ts <= g.grid_ts ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS src_event_id
        |  FROM g)
        |SELECT user_id, grid_us, src_us, value, src_event_id FROM f
        |ORDER BY user_id, grid_us""".stripMargin,

    // the same range frame over epoch micros; cents via round-half-up
    "x27_rolling_24h" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS rolling_cents,
        |  count(*) OVER w AS rolling_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // rank-range replay: same (md5 bucket, id) order, same floor(cum * n)
    // boundaries per stratum
    "x24_stratified_split" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(doc_id::VARCHAR || '#split'), 1, 8), doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN rnk <= floor(CAST(0.8 AS DOUBLE) * n) THEN 'train'
        |       WHEN rnk <= floor(CAST(0.9 AS DOUBLE) * n) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    // counts + integer share/skew divisions, per-partition-heads top-20
    "x29_incremental_rollup" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY d, event_type ORDER BY d, event_type""".stripMargin,

    "stream_incremental_rollup" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY d, event_type ORDER BY d, event_type""".stripMargin,

    "x30_schema_evolution" ->
      """SELECT doc_id, text, source, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, text, source, lang, n_chars
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    "x31_compact" ->
      "SELECT * FROM documents ORDER BY doc_id",

    // the dim selects days 3, 10, 17, 24 of January (index % 7 = 2); the
    // oracle filters the base directly — DPP must be invisible to results
    "x47_dpp" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        |  count(*) AS n_events
        |FROM events
        |WHERE (CAST(strftime(ts, '%d') AS INTEGER) - 1) % 7 = 2
        |GROUP BY 1, 2""".stripMargin,

    // v0 = the untouched relation's aggregate; v1 = the merged relation's
    // (x44's replay) — both snapshots from one versioned table
    "x48_time_travel" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |nw AS (SELECT event_id + 10000000 AS event_id, event_type, value, ed
        |  FROM d WHERE ed = '2024-01-05' AND event_id % 2 = 1),
        |keep AS (SELECT event_id, event_type, value, ed FROM d
        |  WHERE NOT (ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0)),
        |v1 AS (SELECT * FROM keep UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM nw)
        |SELECT ed AS event_date, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  0 AS version
        |FROM d GROUP BY 1, 2
        |UNION ALL
        |SELECT ed, event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 1
        |FROM v1 GROUP BY 1, 2""".stripMargin,

    // the feed replayed from the raw relation: inserts = the appended new
    // rows, updates = the +1000 evens (survivor rows rewritten with
    // identical values must NOT appear), deletes = the v1 rows the keyed
    // delete removed, carrying OLD values
    "x52_change_feed" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |nw AS (SELECT event_id + 10000000 AS event_id, event_type, value, ed
        |  FROM d WHERE ed = '2024-01-05' AND event_id % 2 = 1)
        |SELECT 'insert' AS change_type, event_id, event_type, value,
        |  ed AS event_date, 0 AS vfrom, 1 AS vto FROM nw
        |UNION ALL
        |SELECT 'update', event_id, event_type, value, ed, 0, 1 FROM upd
        |UNION ALL
        |SELECT 'delete', event_id, event_type, value, ed, 1, 2 FROM d
        |WHERE ed = '2024-01-07' AND event_id % 3 = 0
        |ORDER BY vfrom, event_id""".stripMargin,

    // the maintained rollup must equal the direct v2 aggregate
    "x68_ivm_retract" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |keep AS (SELECT event_id, event_type, value, ed FROM d
        |  WHERE NOT (ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0)),
        |v1 AS (SELECT * FROM keep UNION ALL SELECT * FROM upd),
        |v2 AS (SELECT * FROM v1
        |  WHERE NOT (ed = '2024-01-07' AND event_id % 3 = 0))
        |SELECT ed AS event_date, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM v2 GROUP BY 1, 2""".stripMargin,

    // branch 0 (source latest) = the upsert only; branch 1 (clone latest)
    // = upsert AND the clone-side delete
    "x64_clone" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |keep AS (SELECT event_id, event_type, value, ed FROM d
        |  WHERE NOT (ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0)),
        |v1 AS (SELECT * FROM keep UNION ALL SELECT * FROM upd),
        |dl AS (SELECT * FROM v1
        |  WHERE NOT (ed = '2024-01-07' AND event_id % 3 = 0))
        |SELECT ed AS event_date, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  0 AS branch
        |FROM v1 GROUP BY 1, 2
        |UNION ALL
        |SELECT ed, event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 1
        |FROM dl GROUP BY 1, 2""".stripMargin,

    // v2 = upsert applied then the 01-07 thirds deleted; v3 (the rollback)
    // = the original relation verbatim
    "x63_rollback" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |keep AS (SELECT event_id, event_type, value, ed FROM d
        |  WHERE NOT (ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0)),
        |v1 AS (SELECT * FROM keep UNION ALL SELECT * FROM upd),
        |v2 AS (SELECT * FROM v1
        |  WHERE NOT (ed = '2024-01-07' AND event_id % 3 = 0))
        |SELECT ed AS event_date, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  2 AS version
        |FROM v2 GROUP BY 1, 2
        |UNION ALL
        |SELECT ed, event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 3
        |FROM d GROUP BY 1, 2""".stripMargin,

    // the refreshed MV must answer exactly what the base table would:
    // the oracle is the plain full-table aggregate
    "x46_mv_refresh" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // replay of the merge relation: kept originals + updated evens + the
    // appended odd-key copies, aggregated like the graded read-back
    "x44_upsert" ->
      """WITH d AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS ed FROM events),
        |upd AS (SELECT event_id, event_type, value + 1000 AS value, ed
        |  FROM d WHERE ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0),
        |nw AS (SELECT event_id + 10000000 AS event_id, event_type, value, ed
        |  FROM d WHERE ed = '2024-01-05' AND event_id % 2 = 1),
        |keep AS (SELECT event_id, event_type, value, ed FROM d
        |  WHERE NOT (ed BETWEEN '2024-01-05' AND '2024-01-06'
        |    AND event_id % 2 = 0)),
        |t AS (SELECT * FROM keep UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM nw)
        |SELECT ed AS event_date, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM t GROUP BY 1, 2""".stripMargin,

    // the MV rewrite must be invisible to results: the oracle is the same
    // aggregate over the base table the user query was written against
    "x42_mv_rewrite" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,

    // same invisibility contract for the filtered shape
    "x49_mv_filter" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10'
        |GROUP BY event_type""".stripMargin,

    // the rewrite must be invisible: the oracle is the base-table query
    // (min/max of doubles are exact selections, hash-safe)
    "x66_mv_minmax" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  count(value) AS n_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10'
        |GROUP BY event_type""".stripMargin,

    // the partitioned layout must be content-preserving: the pruned
    // two-day read aggregates to exactly what a date filter over the
    // original table yields
    "x40_partition_prune" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-03' AND '2024-01-04'
        |GROUP BY 1, 2""".stripMargin,

    "x32_volume_anomaly" -> volumeAnomalyOracleSql,

    // the streamed counter table converges to the identical daily counts,
    // so the band report (a stateless projection) shares the oracle
    "stream_volume_anomaly" -> volumeAnomalyOracleSql,

    "x25_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
        |    count(*) AS n_distinct_keys FROM c)
        |SELECT user_id, n, total_rows, n_distinct_keys,
        |  n * 1000000 // total_rows AS share_ppm,
        |  n * 1000 * n_distinct_keys // total_rows AS skew_x1000
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, user_id LIMIT 20""".stripMargin,

    // the change half of x23's oracle: same lag-based run detection, no
    // interval close (the streamed changelog publishes valid_from only)
    "stream_scd2_changes" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_s, event_id FROM events),
        |ch AS (SELECT user_id, event_type, ts_s, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS prev
        |  FROM e),
        |runs AS (SELECT user_id, event_type, ts_s, event_id FROM ch
        |  WHERE prev IS NULL OR prev != event_type)
        |SELECT user_id, event_type, ts_s AS valid_from,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |    AS BIGINT) AS version
        |FROM runs ORDER BY user_id, version""".stripMargin,

    // the two-window replay: change detection via lag over (ts, event_id),
    // interval close + version via lead/row_number on the filtered set
    "x23_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_s, event_id FROM events),
        |ch AS (SELECT user_id, event_type, ts_s, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS prev
        |  FROM e),
        |runs AS (SELECT user_id, event_type, ts_s, event_id FROM ch
        |  WHERE prev IS NULL OR prev != event_type)
        |SELECT user_id, event_type, ts_s AS valid_from,
        |  lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |    AS BIGINT) AS version
        |FROM runs ORDER BY user_id, version""".stripMargin,

    "x19_funnel" -> funnelOracleSql,

    // sessions replayed by the same gap method, the recurrence keyed on
    // (user '#' session); windowSec=0 — the session gap is the bound
    "x67_session_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    event_id FROM events),
        |l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS prev FROM e),
        |sx AS (SELECT user_id, event_type, ts_us,
        |    sum(CASE WHEN prev IS NOT NULL AND ts_us - prev > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM l),
        |k AS (SELECT CAST(user_id AS VARCHAR) || '#' ||
        |    CAST(sess AS VARCHAR) AS u, event_type, ts_us FROM sx),
        |s1 AS (SELECT u, min(ts_us) AS reached FROM k
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT k.u, min(k.ts_us) AS reached FROM k
        |  JOIN s1 ON k.u = s1.u
        |  WHERE k.event_type = 'click' AND k.ts_us >= s1.reached GROUP BY 1),
        |s3 AS (SELECT k.u, min(k.ts_us) AS reached FROM k
        |  JOIN s2 ON k.u = s2.u
        |  WHERE k.event_type = 'purchase' AND k.ts_us >= s2.reached GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    // the same runs, filtered to the intervals containing T
    "ext_scd2_asof" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_s, event_id FROM events),
        |ch AS (SELECT user_id, event_type, ts_s, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS prev
        |  FROM e),
        |runs AS (SELECT user_id, event_type, ts_s, event_id FROM ch
        |  WHERE prev IS NULL OR prev != event_type),
        |iv AS (SELECT user_id, event_type, ts_s AS valid_from,
        |    lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
        |      AS valid_to,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id) AS BIGINT) AS version
        |  FROM runs)
        |SELECT * FROM iv
        |WHERE valid_from <= 1705276800000000
        |  AND (valid_to IS NULL OR valid_to > 1705276800000000)
        |ORDER BY user_id""".stripMargin,

    // first-failure attribution replayed as the same ordered CASE
    "ext_quarantine" -> quarantineSql,

    // the stateless per-row tagging appends to the same census
    "stream_quarantine" -> quarantineSql,

    // the TWS greedy scan must reproduce the batch recurrence's reach set
    // exactly — same oracle
    "stream_funnel" -> funnelOracleSql,

    "x20_retention" ->
      """WITH f AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |j AS (SELECT f.cohort,
        |  date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset,
        |  e.user_id AS u
        |  FROM events e JOIN f ON e.user_id = f.u)
        |SELECT CAST(cohort AS VARCHAR) AS cohort,
        |  CAST(day_offset AS INTEGER) AS day_offset,
        |  count(DISTINCT u) AS n_users
        |FROM j WHERE day_offset < 14 GROUP BY 1, 2""".stripMargin,

    // the per-user mask is identical bit algebra in both engines; DuckDB's
    // sum(BIGINT) widens to HUGEINT, so every sum is cast back
    "x55_bitmap_retention" ->
      """WITH f AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |o AS (SELECT e.user_id AS u, f.cohort,
        |  date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS off
        |  FROM events e JOIN f ON e.user_id = f.u),
        |bm AS (SELECT u, cohort, bit_or(CAST(1 AS BIGINT) << off) AS bm
        |  FROM o WHERE off BETWEEN 0 AND 63 GROUP BY 1, 2)
        |SELECT CAST(cohort AS VARCHAR) AS cohort, count(*) AS n_users,
        |  CAST(sum(CAST(bit_count(bm) AS BIGINT)) AS BIGINT) AS active_user_days,
        |  CAST(sum((bm >> 1) & 1) AS BIGINT) AS ret_d1,
        |  CAST(sum((bm >> 7) & 1) AS BIGINT) AS ret_d7,
        |  CAST(sum((bm >> 14) & 1) AS BIGINT) AS ret_d14
        |FROM bm GROUP BY 1""".stripMargin,

    // lead over the same unique total order, then integral division for
    // the share (// in DuckDB, DIV in Spark — float division truncates
    // differently at exact-integer boundaries)
    // x19's step chain carried one level further: the reach-time frames
    // joined pairwise per user, gaps in epoch micros
    "x58_conversion_lag" -> {
      def step(n: Int, ty: String) =
        s"""s$n AS (SELECT e.user_id AS u, min(e.ts) AS reached FROM events e
           |  JOIN s${n - 1} ON e.user_id = s${n - 1}.u
           |  WHERE e.event_type = '$ty' AND e.ts >= s${n - 1}.reached
           |    AND e.ts <= s${n - 1}.reached + INTERVAL 86400 SECOND
           |  GROUP BY 1)""".stripMargin
      s"""WITH s1 AS (SELECT user_id AS u, min(ts) AS reached FROM events
         |  WHERE event_type = 'signup' GROUP BY 1),
         |${step(2, "view")},
         |${step(3, "click")},
         |${step(4, "purchase")},
         |lags AS (
         |  SELECT 1 AS from_step,
         |    epoch_us(s2.reached) - epoch_us(s1.reached) AS lag_us
         |  FROM s1 JOIN s2 USING (u)
         |  UNION ALL SELECT 2, epoch_us(s3.reached) - epoch_us(s2.reached)
         |  FROM s2 JOIN s3 USING (u)
         |  UNION ALL SELECT 3, epoch_us(s4.reached) - epoch_us(s3.reached)
         |  FROM s3 JOIN s4 USING (u))
         |SELECT CAST(from_step AS INTEGER) AS from_step,
         |  count(*) AS n_converted, min(lag_us) AS min_us,
         |  max(lag_us) AS max_us, CAST(sum(lag_us) AS BIGINT) AS sum_us
         |FROM lags GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the window idiom IS the oracle for the heap aggregate (the spec pins
    // their equality; here the oracle proves it cross-engine)
    "x59_grouped_topk" ->
      """WITH rev AS (SELECT n_name, l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
        |    AS rev_e4
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT n_name, l_partkey AS p_partkey, rev_e4,
        |  row_number() OVER (PARTITION BY n_name
        |    ORDER BY rev_e4 DESC, l_partkey) AS rank
        |  FROM rev)
        |SELECT n_name, CAST(rank AS INTEGER) AS rank, p_partkey, rev_e4
        |FROM r WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin,

    "x56_transitions" -> transitionsSql,

    // the TWS state stitching must reproduce the batch lead() pair
    // multiset exactly — same oracle
    "stream_transitions" -> transitionsSql,

    "x15_zorder" -> {
      val terms = (for (b <- 0 until 8; (d, j) <- Seq(("dx", 0), ("dy", 1)))
        yield s"((($d >> $b) & 1) << ${2 * b + j})").mkString(" + ")
      s"""WITH d AS (SELECT event_id,
         |  user_id % 256 AS dx,
         |  CAST(floor(abs(value) * 100) AS BIGINT) % 256 AS dy
         |  FROM events)
         |SELECT event_id, CAST($terms AS BIGINT) AS zval
         |FROM d ORDER BY event_id""".stripMargin
    },

    // the metadata answers must equal the scan answers exactly
    "x53_stats_only" ->
      """WITH e AS (SELECT value,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        |  FROM events)
        |SELECT 'day' AS col, count(*) AS n_rows,
        |  CAST(min(day) AS DOUBLE) AS min, CAST(max(day) AS DOUBLE) AS max
        |FROM e
        |UNION ALL
        |SELECT 'value', count(*), min(value), max(value) FROM e
        |ORDER BY col""".stripMargin,

    // bloom skipping is a superset guarantee — the pruned point lookups
    // must equal the plain filters; the absent key still emits its zero
    // row (the engine unions one aggregate per key)
    "x60_bloom_skip_index" ->
      """WITH ks AS (SELECT CAST(unnest([7, 42, 999999999]) AS BIGINT) AS user_id),
        |a AS (SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM events WHERE user_id IN (7, 42, 999999999) GROUP BY 1)
        |SELECT ks.user_id, coalesce(n, 0) AS n_events,
        |  coalesce(s, 0) AS sum_cents
        |FROM ks LEFT JOIN a USING (user_id) ORDER BY user_id""".stripMargin,

    // skipping is a superset guarantee — pruned-then-filtered must equal
    // the plain filtered aggregate over the raw table
    "x50_skip_index" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE value >= 100.0 AND value <= 150.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // tiles replayed literally (grouping by tile text = the engine's
    // md5(tile) grouping); keep-first = row_number over (doc_id, tile_idx)
    "x16_passage_dedup" ->
      """WITH t AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |tl AS (SELECT doc_id, toks,
        |  CAST(floor((len(toks) - 1) / 3.0) AS BIGINT) + 1 AS n_tiles,
        |  unnest(generate_series(0, CAST(floor((len(toks) - 1) / 3.0) AS BIGINT))) AS tile_idx
        |  FROM t WHERE len(toks) > 0),
        |tiles AS (SELECT doc_id, n_tiles, tile_idx,
        |  array_to_string(list_slice(toks, tile_idx * 3 + 1, tile_idx * 3 + 3), ' ') AS tile
        |  FROM tl),
        |w AS (SELECT *, row_number() OVER (PARTITION BY tile ORDER BY doc_id, tile_idx) AS rn
        |  FROM tiles)
        |SELECT doc_id, max(n_tiles) AS n_tiles, count(*) AS n_kept,
        |  string_agg(tile, ' ' ORDER BY tile_idx) AS clean_text
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x17_boilerplate_tiles" ->
      """WITH t AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |tl AS (SELECT doc_id, toks,
        |  CAST(floor((len(toks) - 1) / 2.0) AS BIGINT) + 1 AS n_tiles,
        |  unnest(generate_series(0, CAST(floor((len(toks) - 1) / 2.0) AS BIGINT))) AS tile_idx
        |  FROM t WHERE len(toks) > 0),
        |tiles AS (SELECT doc_id, n_tiles, tile_idx,
        |  array_to_string(list_slice(toks, tile_idx * 2 + 1, tile_idx * 2 + 2), ' ') AS tile
        |  FROM tl),
        |hot AS (SELECT tile FROM tiles GROUP BY tile HAVING count(DISTINCT doc_id) > 15),
        |keep AS (SELECT tiles.* FROM tiles ANTI JOIN hot USING (tile))
        |SELECT doc_id, max(n_tiles) AS n_tiles, count(*) AS n_kept,
        |  string_agg(tile, ' ' ORDER BY tile_idx) AS clean_text
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the engine's portable shard draw replayed numerically (same md5
    // mechanism as x12's repeat draw), plus the within-shard rank the
    // layout's sortWithinPartitions produces
    "x14_shard_layout" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8) AS UBIGINT) AS BIGINT) % 7 AS INTEGER) AS shard
        |  FROM documents)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS shard_rank
        |FROM t ORDER BY doc_id""".stripMargin,

    "x13_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s2 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM t GROUP BY source),
        |w AS (SELECT doc_id, t.source, n_tokens,
        |  CAST(5000.0 AS DOUBLE) / src_tokens AS w FROM t JOIN s2 USING (source)),
        |c AS (SELECT doc_id, source, n_tokens,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#repeat'), 1, 8) AS UBIGINT) AS BIGINT)
        |       < CAST(floor((w - floor(w)) * 4294967296) AS BIGINT) THEN 1 ELSE 0 END AS copies
        |  FROM w)
        |SELECT doc_id, source, n_tokens, unnest(generate_series(0, copies - 1)) AS copy_idx
        |FROM c WHERE copies > 0 ORDER BY doc_id, copy_idx""".stripMargin,

    "ext_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, rank, tok AS keyword, tf, df FROM (
        |  SELECT doc_id, tok, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, tok) AS INTEGER) AS rank
        |  FROM tf JOIN dfreq USING (tok)) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // rebuilds the IDENTICAL sketch: the md5 hash rows are engine-portable
    "ext_countmin_topk" ->
      """WITH toks AS (SELECT unnest(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |rb AS (SELECT tok, r,
        |    CAST(CAST('0x' || substr(md5(tok || '#cm' || CAST(r AS VARCHAR) || '.cm'), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 1024 AS bucket
        |  FROM toks CROSS JOIN rs),
        |sk AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket),
        |exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
        |  ORDER BY exact_n DESC, tok LIMIT 30),
        |probe AS (SELECT e.tok, e.exact_n, rs.r,
        |    CAST(CAST('0x' || substr(md5(e.tok || '#cm' || CAST(rs.r AS VARCHAR) || '.cm'), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 1024 AS bucket
        |  FROM exact e CROSS JOIN rs)
        |SELECT p.tok, p.exact_n, min(coalesce(sk.cnt, 0)) AS cm_n
        |FROM probe p LEFT JOIN sk USING (r, bucket)
        |GROUP BY p.tok, p.exact_n
        |ORDER BY exact_n DESC, tok""".stripMargin,

    // identical register table from the same two md5 draws; the estimate's
    // float path is two IEEE-rounded ops on exact powers of two, so even
    // the double hash-matches. alpha/m interpolated from the same Scala
    // values the query uses (Double.toString round-trips exactly)
    "ext_hll_distinct" -> {
      val p = 10; val m = 1 << p
      val alpha = 0.7213 / (1 + 1.079 / m)
      s"""WITH sh AS (SELECT unnest(list_distinct(
         |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)])) AS sh
         |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
         |        FROM documents)),
         |hx AS (SELECT
         |    CAST(CAST('0x' || substr(md5(sh || '#hll.b'), 1, 8) AS UBIGINT) AS BIGINT) % $m AS bucket,
         |    CAST(CAST('0x' || substr(md5(sh || '#hll.w'), 1, 8) AS UBIGINT) AS BIGINT) AS w
         |  FROM sh),
         |reg AS (SELECT bucket,
         |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS register
         |  FROM hx GROUP BY bucket),
         |st AS (SELECT count(*) AS nz, coalesce(max(register), 0) AS max_m FROM reg),
         |sp AS (SELECT coalesce(sum(CAST(1 AS BIGINT) << (st.max_m - register)), 0) AS s_present
         |  FROM reg, st),
         |fin AS (SELECT st.nz, st.max_m,
         |    sp.s_present + ($m - st.nz) * (CAST(1 AS BIGINT) << st.max_m) AS s
         |  FROM st, sp)
         |SELECT CAST($m AS BIGINT) AS m, CAST(nz AS BIGINT) AS nz,
         |  CAST(max_m AS INTEGER) AS max_m, CAST(s AS BIGINT) AS s,
         |  '$alpha'::DOUBLE * (CAST(${m.toLong * m} AS DOUBLE)
         |    * CAST(CAST(1 AS BIGINT) << max_m AS DOUBLE) / CAST(s AS DOUBLE)) AS estimate,
         |  (SELECT count(DISTINCT sh) FROM sh) AS exact_distinct
         |FROM fin""".stripMargin
    },

    // the same two sketch rebuilds joined bucket-wise; min row inner
    // product + the exact join count
    "ext_join_estimate" ->
      """WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |ska AS (SELECT r, bucket, count(*) AS cnt FROM (
        |    SELECT rs.r, CAST(CAST('0x' || substr(md5(l_orderkey::VARCHAR ||
        |      '#cm' || CAST(rs.r AS VARCHAR) || '.cm'), 1, 8) AS UBIGINT) AS BIGINT)
        |      % 1048576 AS bucket
        |    FROM lineitem CROSS JOIN rs) t GROUP BY r, bucket),
        |skb AS (SELECT r, bucket, count(*) AS cnt FROM (
        |    SELECT rs.r, CAST(CAST('0x' || substr(md5(o_orderkey::VARCHAR ||
        |      '#cm' || CAST(rs.r AS VARCHAR) || '.cm'), 1, 8) AS UBIGINT) AS BIGINT)
        |      % 1048576 AS bucket
        |    FROM orders CROSS JOIN rs) t GROUP BY r, bucket),
        |ip AS (SELECT ska.r, CAST(sum(ska.cnt * skb.cnt) AS BIGINT) AS row_est
        |  FROM ska JOIN skb USING (r, bucket) GROUP BY ska.r)
        |SELECT CAST(min(row_est) AS BIGINT) AS estimate,
        |  count(*) AS rows_present,
        |  (SELECT count(*) FROM lineitem JOIN orders
        |    ON l_orderkey = o_orderkey) AS exact_n
        |FROM ip""".stripMargin,

    // sampled quartiles by the same rank selection, fence arithmetic in
    // the same operation order, flags from the full relation
    "ext_outlier_iqr" ->
      """WITH ev AS (SELECT event_id, value FROM events),
        |s AS (SELECT value AS v, event_id::VARCHAR AS id FROM ev
        |  WHERE substr(md5(event_id::VARCHAR || '#qsample'), 1, 8) < '40000000'),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS rnk FROM s),
        |sn AS (SELECT count(*) AS n FROM s),
        |qq AS (SELECT
        |    max(CASE WHEN q = 0.25 THEN v END) AS q1,
        |    max(CASE WHEN q = 0.75 THEN v END) AS q3
        |  FROM (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.25), (0.75)) t(q))
        |  CROSS JOIN sn JOIN sr ON floor(q * (n - 1)) = sr.rnk),
        |f AS (SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM qq)
        |SELECT event_id, value, lo, hi FROM ev CROSS JOIN f
        |WHERE value < lo OR value > hi
        |ORDER BY event_id""".stripMargin,

    // smoothed union-bucket cells, the same integer dp / pl2 log-ratio
    // arithmetic, per-bucket terms
    "ext_drift_psi" -> psiDriftSql,

    // the same sign-pattern buckets from the same string-cast plane
    // literals, then the shared PSI tail (the streaming twin's complete-
    // mode counters finalize to the same per-bucket counts)
    "ext_embedding_drift" -> embeddingDriftSql,
    "stream_embedding_drift" -> embeddingDriftSql,
    // the streamed counts ARE the batch counts (additive, fed once) — the
    // same report, the same oracle
    "stream_drift_psi" -> psiDriftSql,

    // the grouped register rebuild: same draws, same evidence columns,
    // every aggregate keyed by lang
    "ext_hll_groups" -> hllGroupsOracleSql,

    "ext_hll_sliding" -> hllSlidingOracleSql,

    // the streaming twin converges to the identical registers (max is
    // idempotent under the re-fed duplicate chunk), so it shares the full
    // DuckDB HLL rebuild verbatim
    "stream_hll_groups" -> hllGroupsOracleSql,

    // the k smallest distinct md5 draws are engine-independent order
    // statistics; both estimates are one integer-exact numerator, one
    // rounded BIGINT->DOUBLE cast per side and one rounded division
    "ext_kmv_overlap" ->
      """WITH ta AS (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |    FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |    FROM documents WHERE doc_id % 2 = 1),
        |sa AS (SELECT unnest(list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)])) AS sh FROM ta),
        |sb AS (SELECT unnest(list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)])) AS sh FROM tb),
        |ka AS (SELECT DISTINCT CAST(CAST('0x' || substr(md5(sh || '#kmv'), 1, 8) AS UBIGINT) AS BIGINT) AS h
        |    FROM sa ORDER BY h LIMIT 512),
        |kb AS (SELECT DISTINCT CAST(CAST('0x' || substr(md5(sh || '#kmv'), 1, 8) AS UBIGINT) AS BIGINT) AS h
        |    FROM sb ORDER BY h LIMIT 512),
        |ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) u
        |    ORDER BY h LIMIT 512),
        |hk AS (SELECT max(h) AS h_k FROM ku),
        |mm AS (SELECT count(*) AS m FROM ku
        |    WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
        |ex AS (SELECT count(*) AS exact_intersection FROM
        |    (SELECT DISTINCT sh FROM sa) x JOIN (SELECT DISTINCT sh FROM sb) y USING (sh))
        |SELECT CAST(512 AS BIGINT) AS k, hk.h_k, mm.m,
        |  CAST(511 * 4294967296 AS DOUBLE) / CAST(hk.h_k AS DOUBLE) AS est_union,
        |  CAST(mm.m * 511 * 4294967296 AS DOUBLE) / CAST(512 * hk.h_k AS DOUBLE) AS est_intersection,
        |  ex.exact_intersection
        |FROM hk, mm, ex""".stripMargin,

    "ext_doc_rarity" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS tok
        |  FROM documents),
        |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
        |SELECT doc_id, count(*) AS n_distinct_tokens,
        |  CAST(sum(df) AS BIGINT) AS sum_df,
        |  CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
        |FROM toks JOIN dfreq USING (tok)
        |GROUP BY doc_id""".stripMargin,

    "x10_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  unnest(generate_series(0, CAST(floor((n_tokens - 1) / 32.0) AS BIGINT))) AS chunk_idx
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, chunk_idx,
        |  chunk_idx * 32 AS token_start,
        |  least((chunk_idx + 1) * 32, n_tokens) AS token_end
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "ext_text_profile" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^.,;:!?''"()\-]', '', 'g')) AS DOUBLE)
        |    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','an','of','and','to','in','is','it','for'], t))) AS DOUBLE)
        |    / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS stopword_ratio,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |    / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS mean_token_len,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
        |    + least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        t -> list_contains(['the','a','an','of','and','to','in','is','it','for'], t))) AS DOUBLE)
        |      / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) * 5.0, 1.0) * 0.3
        |    + (1.0 - least(CAST(length(regexp_replace(text, '[^.,;:!?''"()\-]', '', 'g')) AS DOUBLE)
        |      / CAST(greatest(length(text), 1) AS DOUBLE) * 4.0, 1.0)) * 0.2 AS quality_score
        |FROM documents""".stripMargin,

    // the generated merge table embedded as SQL literals (same precedent as
    // the LSH plane literals); the recursive CTE replays the exact greedy
    // longest-match scan: space skips, 3-gram beats 2-gram beats 1 char
    "ext_bpe_tokens" -> {
      val v3 = graft.functions.Bpe.mergeTable.filter(_.length == 3)
        .map("'" + _ + "'").mkString("[", ",", "]")
      val v2 = graft.functions.Bpe.mergeTable.filter(_.length == 2)
        .map("'" + _ + "'").mkString("[", ",", "]")
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s,
         |    0 AS pos, 0 AS cnt
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, s,
         |    pos + CASE WHEN substr(s, pos + 1, 1) = ' ' THEN 1
         |      WHEN list_contains($v3, substr(s, pos + 1, 3)) THEN 3
         |      WHEN list_contains($v2, substr(s, pos + 1, 2)) THEN 2
         |      ELSE 1 END,
         |    cnt + CASE WHEN substr(s, pos + 1, 1) = ' ' THEN 0 ELSE 1 END
         |  FROM tok WHERE pos < len(s))
         |SELECT doc_id, CAST(max(cnt) AS BIGINT) AS n_bpe_tokens
         |FROM tok GROUP BY doc_id""".stripMargin
    },

    // pair explode replayed as a list comprehension over generate_series;
    // same normalize, same char-based substring, same (n DESC, pair) ties
    "ext_bpe_pair_stats" ->
      """WITH t AS (SELECT string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |w AS (SELECT unnest(toks) AS w FROM t),
        |p AS (SELECT unnest([substring(w, i, 2)
        |    for i in generate_series(1, length(w) - 1)]) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // byte-identical fixture literals (shared Scala val); DuckDB's
    // utf8proc NFC/strip_accents implements the same Unicode algorithms
    // as the JDK normalizer the expressions wrap
    "ext_text_normalize" -> {
      val vals = unicodeFixture
        .map { case (i, t) => s"($i, '${t.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH t(id, s) AS (VALUES $vals)
         |SELECT CAST(id AS BIGINT) AS id, nfc_normalize(s) AS nfc,
         |  strip_accents(s) AS stripped,
         |  lower(strip_accents(nfc_normalize(s))) AS fold_key
         |FROM t ORDER BY id""".stripMargin
    },

    // same rebuild as ext_text_normalize — the SQL-registry twin must be
    // indistinguishable from the Column form
    "ext_text_normalize_sql" -> {
      val vals = unicodeFixture
        .map { case (i, t) => s"($i, '${t.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH t(id, s) AS (VALUES $vals)
         |SELECT CAST(id AS BIGINT) AS id, nfc_normalize(s) AS nfc,
         |  strip_accents(s) AS stripped,
         |  lower(strip_accents(nfc_normalize(s))) AS fold_key
         |FROM t ORDER BY id""".stripMargin
    },

    "ext_lang_id" ->
      s"""WITH $langPredCtes
         |SELECT doc_id, lang_pred FROM pred""".stripMargin,

    // the engine's own classifier graded by the engine's own eval suite:
    // confusion of (lang = 'en') vs (langId = 'en'), same metric assembly
    "ext_langid_eval" ->
      s"""WITH $langPredCtes,
         |j AS (SELECT d.lang, p.lang_pred FROM documents d
         |  JOIN pred p ON d.doc_id = p.doc_id),
         |cc AS (SELECT
         |  CAST(sum(CASE WHEN lang = 'en' AND lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN lang <> 'en' AND lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN lang = 'en' AND lang_pred <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN lang <> 'en' AND lang_pred <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM j)
         |SELECT tp, fp, fn, tn,
         |  CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0) AS precision,
         |  CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0) AS recall,
         |  CAST(tp * 2 AS DOUBLE) / NULLIF(CAST(tp * 2 + fp + fn AS DOUBLE), 0) AS f1,
         |  CAST(tp + tn AS DOUBLE) / NULLIF(CAST(tp + fp + fn + tn AS DOUBLE), 0) AS accuracy,
         |  CAST((CAST(tp AS DECIMAL(18,0)) * CAST(tn AS DECIMAL(18,0)) -
         |        CAST(fp AS DECIMAL(18,0)) * CAST(fn AS DECIMAL(18,0)))
         |       * 2::DECIMAL(1,0) AS DOUBLE) /
         |  NULLIF(CAST((CAST(tp AS DECIMAL(18,0)) + CAST(fp AS DECIMAL(18,0))) *
         |       (CAST(fp AS DECIMAL(18,0)) + CAST(tn AS DECIMAL(18,0))) +
         |       (CAST(tp AS DECIMAL(18,0)) + CAST(fn AS DECIMAL(18,0))) *
         |       (CAST(fn AS DECIMAL(18,0)) + CAST(tn AS DECIMAL(18,0)))
         |       AS DOUBLE), 0) AS kappa
         |FROM cc""".stripMargin,

    // each check's metric replayed as the same single exact division; the
    // passed booleans compare those identical doubles, so they replay too
    "ext_quality_checks" ->
      """WITH g AS (SELECT l_orderkey, count(*) AS n FROM lineitem
        |  WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |u AS (SELECT CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(greatest(sum(n), 1) AS DOUBLE) AS m FROM g),
        |c AS (SELECT CAST(count(o_custkey) AS DOUBLE)
        |  / CAST(greatest(count(*), 1) AS DOUBLE) AS m FROM orders),
        |d AS (SELECT CAST(count(DISTINCT o_orderkey) AS DOUBLE)
        |  / CAST(greatest(count(o_orderkey), 1) AS DOUBLE) AS m FROM orders),
        |av AS (SELECT CAST(sum(CASE WHEN o_orderstatus IN ('O','F')
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(greatest(count(*), 1) AS DOUBLE) AS m FROM orders),
        |tp AS (SELECT CAST(sum(CASE WHEN coalesce(o_totalprice > 0.0, false)
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(greatest(count(*), 1) AS DOUBLE) AS m FROM orders),
        |rf AS (SELECT
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |    AND o_custkey IN (SELECT c_custkey FROM customer)) AS DOUBLE)
        |  / CAST(greatest((SELECT count(*) FROM orders
        |    WHERE o_custkey IS NOT NULL), 1) AS DOUBLE) AS m)
        |SELECT * FROM (
        |  SELECT 'completeness:o_custkey' AS "check", m AS metric, m >= 1.0 AS passed FROM c
        |  UNION ALL
        |  SELECT 'distinctness:o_orderkey', m, m >= 1.0 FROM d
        |  UNION ALL
        |  SELECT 'uniqueness:l_orderkey', m, m >= 1.0 FROM u
        |  UNION ALL
        |  SELECT 'compliance:accepted:o_orderstatus', m, m >= 1.0 FROM av
        |  UNION ALL
        |  SELECT 'compliance:totalprice_positive', m, m >= 1.0 FROM tp
        |  UNION ALL
        |  SELECT 'referential:o_custkey', m, m >= 1.0 FROM rf)
        |ORDER BY "check"""".stripMargin,

    // the same cents-sum derivation: s1/s2 are exact integer decimals, and
    // every double below is the identical IEEE expression Spark runs. The
    // sums cast to double THROUGH VARCHAR: DuckDB's direct int128-decimal
    // cast double-rounds above 2^53 (measured: Σc² at sf0.1 lands one ulp
    // off), while its string→double parse — like Spark's BigDecimal path —
    // is correctly rounded
    "ext_numeric_stats" ->
      """WITH g AS (SELECT o_orderpriority,
        |    count(o_totalprice) AS n,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS s1,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
        |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS s2
        |  FROM orders GROUP BY 1),
        |d AS (SELECT o_orderpriority, n,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d
        |  FROM g)
        |SELECT o_orderpriority, n,
        |  (s1d / n) / 100.0 AS mean,
        |  (s2d / n - (s1d / n) * (s1d / n)) / 10000.0 AS var_pop,
        |  sqrt((s2d / n - (s1d / n) * (s1d / n)) / 10000.0) AS stddev_pop
        |FROM d ORDER BY o_orderpriority""".stripMargin,

    "ext_profile_columns" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_orderdate AS DATE) AS o_orderdate FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |    count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_repr,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_repr FROM o
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM o)
        |ORDER BY "column"""".stripMargin,

    // the Gopher rule set replayed literally: same tokenization as the
    // profile queries, lines split on chr(10) with trimmed-nonempty filter,
    // literal-replace symbol counts, every ratio one integer division
    "ext_gopher_rules" ->
      """WITH m AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS toks,
        |  list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  len(toks) AS n_words,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_word_len,
        |  ((length(text) - length(replace(text, '#', ''))) / 1
        |    + (length(text) - length(replace(text, '...', ''))) / 3)
        |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS symbol_ratio,
        |  CAST(len(list_filter(lines, l ->
        |      list_contains(['-','*','•'], substring(trim(l), 1, 1)))) AS DOUBLE)
        |    / CAST(greatest(len(lines), 1) AS DOUBLE) AS bullet_line_frac,
        |  CAST(len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS DOUBLE)
        |    / CAST(greatest(len(lines), 1) AS DOUBLE) AS ellipsis_line_frac,
        |  CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS alpha_word_frac
        |FROM m)
        |SELECT *, n_words BETWEEN 5 AND 100000
        |  AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio < 0.1 AND bullet_line_frac <= 0.9
        |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac > 0.8
        |  AS gopher_keep
        |FROM r""".stripMargin,

    // both rankers replayed (the BM25 CTE chain + the cosine window),
    // fused with the same scaled-integer reciprocal ranks
    "ext_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |corp AS (SELECT count(*) AS n_docs,
        |    CAST(CAST(sum(dl) AS BIGINT) // count(*) AS BIGINT) AS avgdl FROM dls),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'stream', 'window', 'dup')
        |  GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
        |scored AS (SELECT tf.doc_id, tf.tf, dls.dl, corp.n_docs, corp.avgdl,
        |    (2048 * corp.n_docs + 2048) // (2 * dfreq.dfreq + 1) AS y
        |  FROM tf JOIN dfreq USING (tok) JOIN dls USING (doc_id) CROSS JOIN corp),
        |fp AS (SELECT doc_id, tf, dl, avgdl, y,
        |    length(bin(y)) - 1 AS e FROM scored),
        |bscore AS (SELECT doc_id, CAST(sum(
        |    (e * 65536 + ((y - (CAST(1 AS BIGINT) << e)) * 65536 >> e) - 655360) *
        |    ((22 * tf * avgdl * 1024) // (10 * tf * avgdl + 3 * avgdl + 9 * dl))
        |  ) AS BIGINT) AS score_fp FROM fp GROUP BY doc_id),
        |b AS (SELECT doc_id AS id, CAST(row_number() OVER (
        |    ORDER BY score_fp DESC, doc_id) AS BIGINT) AS brank FROM bscore
        |  ORDER BY score_fp DESC, doc_id LIMIT 50),
        |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS q_id, e AS qe, nm AS qn FROM n WHERE vec_id = 0),
        |kscored AS (SELECT vec_id, list_dot_product(e, qe) / (nm * qn) AS cosine
        |  FROM n, qv WHERE vec_id != q_id),
        |k AS (SELECT vec_id AS kid, CAST(row_number() OVER (
        |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS krank FROM kscored
        |  ORDER BY cosine DESC, vec_id LIMIT 50),
        |hy AS (SELECT coalesce(b.id, k.kid) AS id, b.brank, k.krank
        |  FROM b FULL OUTER JOIN k ON b.id = k.kid)
        |SELECT id, brank, krank,
        |  coalesce(1000000 // (60 + brank), 0) + coalesce(1000000 // (60 + krank), 0) AS rrf_fp
        |FROM hy ORDER BY rrf_fp DESC, id LIMIT 20""".stripMargin,

    // the integer BM25 pipeline replayed: same tokenizer regex, same
    // fixed-point idf (bin-length log2 with linear interpolation) and
    // saturation divisions; DuckDB's // floors like Spark's div on
    // positives, and sums are cast back from HUGEINT
    "ext_bm25_search" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |corp AS (SELECT count(*) AS n_docs,
        |    CAST(CAST(sum(dl) AS BIGINT) // count(*) AS BIGINT) AS avgdl FROM dls),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'stream', 'window', 'dup')
        |  GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
        |scored AS (SELECT tf.doc_id, tf.tf, dls.dl, corp.n_docs, corp.avgdl,
        |    (2048 * corp.n_docs + 2048) // (2 * dfreq.dfreq + 1) AS y
        |  FROM tf JOIN dfreq USING (tok) JOIN dls USING (doc_id) CROSS JOIN corp),
        |fp AS (SELECT doc_id, tf, dl, avgdl, y,
        |    length(bin(y)) - 1 AS e FROM scored),
        |terms AS (SELECT doc_id,
        |    (e * 65536 + ((y - (CAST(1 AS BIGINT) << e)) * 65536 >> e) - 655360) *
        |      ((22 * tf * avgdl * 1024) // (10 * tf * avgdl + 3 * avgdl + 9 * dl))
        |      AS term_fp,
        |    dl FROM fp)
        |SELECT doc_id, CAST(sum(term_fp) AS BIGINT) AS score_fp,
        |  count(*) AS n_terms, CAST(min(dl) AS BIGINT) AS dl
        |FROM terms GROUP BY doc_id
        |ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin,

    // the same min-of-w md5 draws, the same (priority, id-string) top-k;
    // the tie-breaks are cast to VARCHAR to mirror Spark's string id
    "ext_weighted_sample" ->
      """WITH d AS (SELECT doc_id, source, n_chars, 1 + n_chars // 128 AS w
        |    FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(1, w)) AS cp FROM d),
        |pri AS (SELECT doc_id,
        |    min(CAST(CAST('0x' || substr(md5(doc_id::VARCHAR || ':' ||
        |      cp::VARCHAR || '#wsample'), 1, 8) AS UBIGINT) AS BIGINT)) AS priority
        |  FROM c GROUP BY doc_id),
        |top AS (SELECT * FROM pri ORDER BY priority, doc_id::VARCHAR LIMIT 50)
        |SELECT d.doc_id, d.source, d.n_chars, top.priority
        |FROM d JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the grouped replay: same sample filter, rank window PARTITION BY
    // the group, per-group counts
    "ext_quantile_groups" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice AS v,
        |    l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS id FROM lineitem),
        |s AS (SELECT * FROM li WHERE substr(md5(id || '#qsample'), 1, 8) < '10000000'),
        |sr AS (SELECT l_returnflag, v, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY v, id) - 1 AS rnk FROM s),
        |sn AS (SELECT l_returnflag, count(*) AS sample_n FROM s GROUP BY l_returnflag),
        |qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.25), (0.5),
        |    (0.75), (0.95)) t(q))
        |SELECT sn.l_returnflag AS l_returnflag, q, sample_n, rnk AS rank, v AS value
        |FROM qv CROSS JOIN sn
        |JOIN sr ON sr.l_returnflag = sn.l_returnflag
        |  AND floor(q * (sample_n - 1)) = sr.rnk
        |ORDER BY sn.l_returnflag, q""".stripMargin,

    // same md5 draw, same (value, id)-ordered rank selection — both the
    // sampled and exact quantile columns replay exactly; q literals cast
    // to DOUBLE so DuckDB's decimal inference can't shift floor(q*(n-1))
    "ext_quantile_sample" ->
      """WITH li AS (SELECT l_extendedprice AS v,
        |    l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS id FROM lineitem),
        |s AS (SELECT * FROM li WHERE substr(md5(id || '#qsample'), 1, 8) < '10000000'),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS rnk FROM s),
        |sn AS (SELECT count(*) AS sample_n FROM s),
        |er AS (SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS rnk FROM li),
        |en AS (SELECT count(*) AS exact_n FROM li),
        |qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.01), (0.25),
        |    (0.5), (0.75), (0.9), (0.99)) t(q))
        |SELECT q, sample_n, sr.v AS v_sample, exact_n, er.v AS v_exact
        |FROM qv CROSS JOIN sn CROSS JOIN en
        |JOIN sr ON floor(q * (sample_n - 1)) = sr.rnk
        |JOIN er ON floor(q * (exact_n - 1)) = er.rnk
        |ORDER BY q""".stripMargin,

    "ext_bpe_train" -> bpeTrainSql,
    "ext_bpe_encode" -> bpeEncodeSql,

    "ext_histogram_quantile" -> histogramQuantileSql,
    "stream_histogram_p99" -> histogramQuantileSql,

    // consecutive-position replay: a match is any index i where all three
    // tokens line up; positions are 0-based in the engine (posexplode), so
    // DuckDB's 1-based list index shifts by one
    "ext_phrase_search" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |m AS (SELECT doc_id, i FROM (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks)
        |  WHERE t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch')
        |SELECT doc_id, count(*) AS n_matches, min(i) - 1 AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same brute top-1 replay + label joins + one exact division
    "ext_knn_classify_eval" ->
      """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |       CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS truth, e AS qe, nm AS qn
        |  FROM n WHERE vec_id < 50),
        |nn AS (SELECT q_id, vec_id AS nn_id, truth FROM (
        |  SELECT q_id, n.vec_id, truth, row_number() OVER (PARTITION BY q_id
        |    ORDER BY list_dot_product(n.e, qe) / (n.nm * qn) DESC, n.vec_id) AS rnk
        |  FROM n, q WHERE n.vec_id != q_id) t WHERE rnk = 1),
        |p AS (SELECT nn.q_id, nn.nn_id, m.label AS pred, nn.truth,
        |  m.label = nn.truth AS correct
        |  FROM nn JOIN n m ON nn.nn_id = m.vec_id)
        |SELECT q_id, nn_id, pred, truth, correct, accuracy
        |FROM p CROSS JOIN (SELECT CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) AS accuracy FROM p) a
        |ORDER BY q_id""".stripMargin,

    // the brute replay with the label-exclusion predicate
    "ext_hard_negatives" ->
      """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |       CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_lbl, e AS qe, nm AS qn
        |  FROM n WHERE vec_id < 10),
        |scored AS (SELECT q_id, n.vec_id, n.label AS neg_label,
        |  list_dot_product(n.e, qe) / (n.nm * qn) AS cosine
        |  FROM n, q WHERE n.vec_id != q_id AND n.label != q_lbl)
        |SELECT q_id, vec_id, neg_label, cosine, rank FROM (
        |  SELECT q_id, vec_id, neg_label, cosine, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,

    // replay: md5 permutation ranks per label, hash donor/index draws,
    // the same 1-based list picks
    "ext_negative_sample" ->
      s"""WITH $negativeSampleCtes
        |SELECT d.id AS vec_id, d.j AS neg_slot, c.id AS neg_id,
        |  d.donor AS neg_label
        |FROM donor d
        |JOIN sizes s ON d.donor = s.lbl
        |JOIN cand c ON c.lbl = d.donor AND c.nr = d.idraw % s.cnt
        |ORDER BY vec_id, neg_slot""".stripMargin,

    // triplets = the hardest positive joined to the sampled negatives,
    // both replays composed
    "x54_triplets" ->
      s"""WITH $negativeSampleCtes,
        |n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |       CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_lbl, e AS qe, nm AS qn
        |  FROM n WHERE vec_id < 10),
        |pos AS (SELECT q_id, vec_id AS pos_id, cosine AS pos_cosine FROM (
        |  SELECT q_id, n.vec_id,
        |    list_dot_product(n.e, qe) / (n.nm * qn) AS cosine,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY list_dot_product(n.e, qe) / (n.nm * qn) DESC,
        |        n.vec_id) AS rnk
        |  FROM n, q WHERE n.vec_id != q_id AND n.label = q_lbl) t
        |  WHERE rnk = 1),
        |neg AS (SELECT d.id AS q_id, d.j AS neg_slot, c.id AS neg_id
        |  FROM donor d
        |  JOIN sizes s ON d.donor = s.lbl
        |  JOIN cand c ON c.lbl = d.donor AND c.nr = d.idraw % s.cnt
        |  WHERE d.id < 10)
        |SELECT p.q_id AS anchor_id, p.pos_id, p.pos_cosine,
        |  neg.neg_slot, neg.neg_id
        |FROM pos p JOIN neg ON p.q_id = neg.q_id
        |ORDER BY anchor_id, neg_slot""".stripMargin,

    // replay: the same rank-selection convention for median and MAD
    "ext_outlier_mad" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
        |mr AS (SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rnk
        |  FROM e),
        |med AS (SELECT n.event_type, mr.value AS med FROM n
        |  JOIN mr ON n.event_type = mr.event_type
        |  AND mr.rnk = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        |dev AS (SELECT e.event_type, e.event_id, e.value, med.med,
        |  abs(e.value - med.med) AS absdev
        |  FROM e JOIN med ON e.event_type = med.event_type),
        |dr AS (SELECT event_type, absdev,
        |  row_number() OVER (PARTITION BY event_type ORDER BY absdev) - 1 AS rnk
        |  FROM dev),
        |mad AS (SELECT n.event_type, dr.absdev AS mad FROM n
        |  JOIN dr ON n.event_type = dr.event_type
        |  AND dr.rnk = CAST(floor(0.5 * (n - 1)) AS BIGINT))
        |SELECT d.event_type, d.event_id, d.value, d.med, mad.mad
        |FROM dev d JOIN mad ON d.event_type = mad.event_type
        |WHERE d.absdev > 3.0 * mad.mad
        |ORDER BY d.event_type, d.event_id""".stripMargin,

    "ext_quantile_exact_groups" ->
      """WITH li AS (SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT k, count(*) AS n FROM li GROUP BY k),
        |r AS (SELECT k, v,
        |  row_number() OVER (PARTITION BY k ORDER BY v) - 1 AS rnk FROM li),
        |qv AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9), (0.99)) t(q))
        |SELECT n.k AS flag, q, n, CAST(floor(q * (n - 1)) AS BIGINT) AS rank,
        |  r.v AS value
        |FROM qv CROSS JOIN n JOIN r ON n.k = r.k AND floor(q * (n - 1)) = r.rnk
        |ORDER BY flag, q""".stripMargin,

    // the exact-quantile element is rank-defined, so the oracle computes it
    // the direct way (row_number) — ANY exact engine must agree with the
    // bucket-refinement path
    "ext_quantile_exact_dist" ->
      """WITH li AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM li),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rnk FROM li),
        |qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.01), (0.5),
        |    (0.9), (0.99), (0.999)) t(q))
        |SELECT q, n, CAST(floor(q * (n - 1)) AS BIGINT) AS rank, r.v AS value
        |FROM qv CROSS JOIN n JOIN r ON floor(q * (n - 1)) = r.rnk
        |ORDER BY q""".stripMargin,

    "ext_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |  AS fingerprint FROM documents""".stripMargin,

    // the lang-ID CTE + integer aggregates; DuckDB's sum(int) widens to
    // HUGEINT, so every sum is cast back to BIGINT to match Spark's long
    "ext_data_card" ->
      """WITH s AS (SELECT source, text,
        |  string_split_regex(trim(lower(text)), '\s+') AS lt FROM documents),
        |c AS (SELECT source, text,
        |  len(list_filter(lt, t -> list_contains(['the','is','and','of','a'], t))) AS s_en,
        |  len(list_filter(lt, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
        |  len(list_filter(lt, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
        |  len(list_filter(lt, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr,
        |  len(list_filter(lt, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |FROM s),
        |l AS (SELECT source, text, CASE
        |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'en'
        |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'es'
        |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'de'
        |  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'fr'
        |  WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN 'zh'
        |  ELSE 'und' END AS lang_pred
        |FROM c)
        |SELECT source, lang_pred, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique_docs
        |FROM l GROUP BY source, lang_pred
        |ORDER BY source, lang_pred""".stripMargin,

    "ext_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks,
        |  [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)] AS bgs
        |  FROM t),
        |c AS (SELECT doc_id, max(cnt) AS top FROM (
        |  SELECT doc_id, bg, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM b) u GROUP BY doc_id, bg) g
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS dup_token_fraction,
        |  COALESCE(c.top, 0) AS top_bigram_count,
        |  CAST(COALESCE(c.top, 0) AS DOUBLE)
        |      / CAST(greatest(len(bgs), 1) AS DOUBLE) AS top_bigram_fraction
        |FROM b LEFT JOIN c ON b.doc_id = c.doc_id""".stripMargin,

    // same wrapping, same tag-strip regex, same entity-decode order (&amp;
    // LAST — the wrapper's '&amp;copy;' must decode exactly once to the
    // literal '&copy;', pinning the no-double-decode semantics)
    "ext_strip_markup" ->
      """WITH m AS (SELECT doc_id,
        |  '<html><body id="d' || CAST(doc_id AS VARCHAR) || '"><p>' || text ||
        |  '</p><br/>&amp;copy; source&gt;</body></html>' AS t FROM documents),
        |c AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(t, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM m)
        |SELECT doc_id, clean, length(clean) AS n_clean FROM c""".stripMargin,

    "ext_vocab_topk" -> vocabTopKSql,

    // same tokenization as the vocab; sums cast back from HUGEINT, share
    // via integral //
    "ext_vocab_coverage" ->
      """WITH tok AS (SELECT source AS seg,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS n FROM tok GROUP BY token
        |  ORDER BY n DESC, token LIMIT 100) t),
        |st AS (SELECT seg, token, count(*) AS n FROM tok GROUP BY 1, 2)
        |SELECT seg AS source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST((sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) * 10000)
        |    // sum(n) AS BIGINT) AS oov_bp
        |FROM st LEFT JOIN v USING (token)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the exact-quantile element is the row_number()-selected value at
    // rank 1 + floor(q*(n-1)) — the same discrete-rank convention the
    // engine's histogram refinement proves; clamp + count in one pass
    "ext_winsorize" ->
      """WITH v AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |  count(*) OVER () AS n FROM v),
        |b AS (SELECT
        |  max(CASE WHEN rn = 1 + CAST(floor(0.05*(n-1)) AS BIGINT)
        |    THEN cents END) AS lo,
        |  max(CASE WHEN rn = 1 + CAST(floor(0.95*(n-1)) AS BIGINT)
        |    THEN cents END) AS hi FROM r)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN cents < lo THEN lo WHEN cents > hi THEN hi
        |    ELSE cents END) AS BIGINT) AS winsorized_cents,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi
        |FROM v, b GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the complete-mode streaming leaderboard converges to the same
    // corpus-wide top-100 after its final batch
    "stream_vocab_topk" -> vocabTopKSql,

    // bigram-LM replay: same tokenization, same '#bigramlm' 80% train
    // split, same length(bin(cnt+1))-1 integer log2 bucket
    "ext_bigram_quality" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |lm AS (SELECT bigram, count(*) AS cnt FROM b
        |  WHERE substr(md5(doc_id::VARCHAR || '#bigramlm'), 1, 8) < 'cccccccc'
        |  GROUP BY 1),
        |s AS (SELECT b.doc_id,
        |    CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END AS oov,
        |    length(bin(coalesce(lm.cnt, 0) + 1)) - 1 AS bucket
        |  FROM b LEFT JOIN lm USING (bigram))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(oov) AS BIGINT) AS oov_n,
        |  CAST(sum(bucket) AS BIGINT) AS sum_bucket,
        |  CAST(sum(oov) AS DOUBLE) / count(*) AS oov_ratio,
        |  CAST(sum(bucket) AS DOUBLE) / count(*) AS avg_log2_bucket
        |FROM s GROUP BY doc_id""".stripMargin,

    // DSIR replay: both LMs' buckets, the exact-division importance, the
    // affine weight clamp, and x12's md5 Bernoulli repeat — one pipeline
    "ext_dsir_resample" ->
      """WITH t AS (SELECT doc_id, source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, source, toks[i] || ' ' || toks[i+1] AS bigram
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |lmt AS (SELECT bigram, count(*) AS cnt_t FROM b
        |  WHERE source IN ('src0','src1','src2','src3','src4') GROUP BY 1),
        |lmc AS (SELECT bigram, count(*) AS cnt_c FROM b GROUP BY 1),
        |s AS (SELECT b.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(length(bin(coalesce(lmt.cnt_t, 0) + 1)) - 1) AS BIGINT) AS sum_t,
        |    CAST(sum(length(bin(lmc.cnt_c + 1)) - 1) AS BIGINT) AS sum_c
        |  FROM b LEFT JOIN lmt USING (bigram) JOIN lmc USING (bigram)
        |  GROUP BY b.doc_id),
        |w AS (SELECT doc_id, n_bigrams,
        |    CAST(sum_t AS DOUBLE) / n_bigrams - CAST(sum_c AS DOUBLE) / n_bigrams AS importance,
        |    least(greatest(2.0 + (CAST(sum_t AS DOUBLE) / n_bigrams
        |      - CAST(sum_c AS DOUBLE) / n_bigrams) / 2, 0.0), 3.0) AS w
        |  FROM s),
        |c AS (SELECT doc_id, n_bigrams, importance, w,
        |  CAST(floor(w) AS BIGINT) +
        |  CASE WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#dsir'), 1, 8) AS UBIGINT) AS BIGINT)
        |       < CAST(floor((w - floor(w)) * 4294967296) AS BIGINT) THEN 1 ELSE 0 END AS copies
        |  FROM w)
        |SELECT doc_id, n_bigrams, importance, w,
        |  unnest(generate_series(0, copies - 1)) AS copy_idx
        |FROM c WHERE copies > 0""".stripMargin,

    "ext_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "ext_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / '1000.0'::DOUBLE)
        |    AS BIGINT)) AS BIGINT) AS distinct_sensitive,
        |  count(DISTINCT CAST(floor(c_acctbal / '1000.0'::DOUBLE)
        |    AS BIGINT)) < 3 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "ext_pii_redact" -> {
      import graft.operators.Pii
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com at ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |  '.7 or call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents),
         |r AS (SELECT doc_id, t,
         |  regexp_replace(regexp_replace(t, '${Pii.emailRe}', '<EMAIL>', 'g'),
         |    '${Pii.ipv4Re}', '<IP>', 'g') AS t2
         |  FROM p)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '${Pii.emailRe}')) AS email_ct,
         |  len(regexp_extract_all(t, '${Pii.ipv4Re}')) AS ip_ct,
         |  len(regexp_extract_all(t2, '${Pii.phoneRe}')) AS phone_ct,
         |  regexp_replace(t2, '${Pii.phoneRe}', '<PHONE>', 'g') AS redacted
         |FROM r""".stripMargin
    },

    "ext_quantize" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |  greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM n),
        |q AS (SELECT vec_id, e, scale,
        |  list_transform(e, x -> CAST(round(x / scale) AS INTEGER)) AS qv FROM s),
        |d AS (SELECT vec_id, e, scale, qv,
        |  list_transform(qv, x -> x * scale) AS deq FROM q)
        |SELECT vec_id, scale,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  list_dot_product(e, deq) /
        |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(deq, deq))) AS cos_dequant
        |FROM d""".stripMargin,

    // replay the chained-md5 fold: list_reduce over ('' prepended as the
    // initial accumulator, then the token stream)
    "ext_rolling_hash" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend('', string_split_regex(trim(lower(text)), '\s+')),
        |  (acc, t) -> md5(acc || '|' || t)) AS rhash
        |FROM documents""".stripMargin,

    "ext_dedup_exact" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn = 1""".stripMargin,

    "ext_dedup_minhash" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
        |   for j in generate_series(0, 11)] AS g FROM sh),
        |bands AS (SELECT doc_id, band,
        |  md5(g[band*3+1] || '|' || g[band*3+2] || '|' || g[band*3+3]) AS key
        |  FROM sig, (SELECT unnest([0,1,2,3]) AS band) b)
        |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    // same band replay with a new-batch flag: pairs keep only new x new
    // and new x old (old x old was adjudicated when the corpus was built)
    "ext_dedup_incremental" -> incrementalDedupSql,
    // the streamed loop (screen each micro-batch, grow the index) must
    // converge to the identical pair set
    "stream_dedup_incremental" -> incrementalDedupSql,

    // the per-doc half of the simhash replay (same h/sim CTEs as the
    // dedup row, emitted before banding)
    "ext_simhash_sql" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(
        |    list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')),
        |    t -> CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) AS BIGINT)) AS hs
        |  FROM documents)
        |SELECT doc_id, CAST(list_sum(
        |  [CASE WHEN 2 * len(list_filter(hs, x -> (x >> b) & 1 = 1)) > len(hs)
        |   THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
        |   for b in generate_series(0, 59)]) AS BIGINT) AS sim
        |FROM h ORDER BY doc_id""".stripMargin,

    // exact truth (the setsim CTE), band candidates (the incremental CTE
    // without the new flag), one INTERSECT, integer basis points
    "ext_dedup_eval" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 10 >=
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 3),
        |sh2 AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
        |   for j in generate_series(0, 11)] AS g FROM sh2),
        |bands AS (SELECT doc_id, band,
        |  md5(g[band*3+1] || '|' || g[band*3+2] || '|' || g[band*3+3]) AS key
        |  FROM sig, (SELECT unnest([0,1,2,3]) AS band) b),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        |tp_t AS (SELECT id_a, id_b FROM cand INTERSECT SELECT id_a, id_b FROM truth),
        |c AS (SELECT (SELECT count(*) FROM truth) AS truth_pairs,
        |  (SELECT count(*) FROM cand) AS cand_pairs,
        |  (SELECT count(*) FROM tp_t) AS tp)
        |SELECT truth_pairs, cand_pairs, tp,
        |  truth_pairs - tp AS false_negatives,
        |  cand_pairs - tp AS false_positives,
        |  tp * 10000 // cand_pairs AS precision_bp,
        |  tp * 10000 // truth_pairs AS recall_bp
        |FROM c""".stripMargin,

    // the census replayed from the source relation: corrupt = the
    // truncated twentieths; the parsed total re-rounds each value to the
    // two decimals the CSV carried
    "s8_csv_corrupt" ->
      """WITH p AS (SELECT event_id,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN event_id % 20 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parsed,
        |  CAST(sum(CASE WHEN event_id % 20 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(CASE WHEN event_id % 20 <> 0 THEN v END) AS DOUBLE)
        |    AS parsed_total
        |FROM p""".stripMargin,

    // the same histogram Mann-Whitney: positives beat negatives scored
    // strictly below plus half the ties; longs until the one division
    "ext_auc" ->
      """WITH h AS (SELECT user_id % 4 AS segment,
        |    CAST(floor(value) AS BIGINT) AS s,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS neg
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT segment, pos, neg,
        |    COALESCE(sum(neg) OVER (PARTITION BY segment ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        |  FROM h)
        |SELECT segment, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(neg) AS BIGINT) AS n_neg,
        |  CAST(sum(pos * (neg_below * 2 + neg)) AS BIGINT) AS auc_num2,
        |  CAST(sum(pos * (neg_below * 2 + neg)) AS DOUBLE) /
        |    NULLIF(CAST(sum(pos) * sum(neg) * 2 AS DOUBLE), 0) AS auc
        |FROM c GROUP BY segment ORDER BY segment""".stripMargin,

    "ext_eval_confusion" -> evalConfusionSql,

    // the complete-mode counters finalize to the batch counts exactly
    "stream_eval_confusion" -> evalConfusionSql,

    // the same even split replayed: integer floor division, remainder to
    // the rank-1 touch
    "ext_attribution" ->
      """WITH conv AS (SELECT user_id AS u, event_id AS conv_id, ts AS cts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS conv_cents
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS u, event_id AS touch_id, ts AS tts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT c.conv_id, c.u, t.touch_id, c.conv_cents,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.tts, t.touch_id) AS touch_rank,
        |    count(*) OVER (PARTITION BY c.conv_id) AS n_touches
        |  FROM conv c JOIN touch t ON c.u = t.u
        |    AND t.tts <= c.cts
        |    AND t.tts >= c.cts - INTERVAL 259200 SECOND)
        |SELECT conv_id, u, touch_id, touch_rank,
        |  CAST(n_touches AS BIGINT) AS n_touches,
        |  conv_cents // n_touches +
        |    CASE WHEN touch_rank = 1 THEN conv_cents % n_touches
        |      ELSE 0 END AS credit_cents
        |FROM p ORDER BY conv_id, touch_rank""".stripMargin,

    // same integer lower-mean predictor, same exact residual sums
    "ext_regression_eval" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |p AS (SELECT user_id, CAST(sum(cents) AS BIGINT) // count(*)
        |    AS pred_cents FROM e GROUP BY 1),
        |r AS (SELECT e.event_type, e.cents - p.pred_cents AS res
        |  FROM e JOIN p ON e.user_id = p.user_id)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(abs(res)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mae_cents,
        |  sqrt(CAST(sum(res * res) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    AS rmse_cents
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same bins, same exact counts, same mirrored divisions (shared with
    // the complete-mode streaming twin, whose counters finalize to the
    // same per-bin counts)
    "ext_calibration" -> calibrationSql,
    "stream_calibration" -> calibrationSql,

    // the ranked run replayed as the window idiom the bounded-heap
    // aggregate is value-identical to; MRR via the same 2520 LCM trick
    "ext_search_mrr" -> {
      val inList = evalTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT t.tok AS query, d.doc_id, d.lang,
         |    count(*) AS tf
         |  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
         |  WHERE t.tok IN ($inList) GROUP BY 1, 2, 3),
         |top AS (SELECT * FROM (SELECT query, doc_id, lang,
         |    row_number() OVER (PARTITION BY query
         |      ORDER BY tf DESC, doc_id ASC) AS rank
         |  FROM toks) WHERE rank <= 10),
         |firsts AS (SELECT query, min(rank) AS first_rank FROM top
         |  WHERE lang = 'en' GROUP BY 1),
         |perq AS (SELECT q.query, COALESCE(f.first_rank, 0) AS first_rank,
         |    CASE WHEN f.first_rank IS NULL THEN 0
         |      ELSE 2520 // f.first_rank END AS rr_num
         |  FROM (SELECT DISTINCT query FROM top) q
         |  LEFT JOIN firsts f USING (query))
         |SELECT query, first_rank,
         |  CAST(rr_num AS DOUBLE) / '2520.0'::DOUBLE AS rr,
         |  CAST(rr_num AS BIGINT) AS rr_num FROM perq
         |UNION ALL
         |SELECT '*all*', 0,
         |  CAST(sum(rr_num) AS DOUBLE) / '${2520.0 * evalTerms.size}'::DOUBLE,
         |  CAST(sum(rr_num) AS BIGINT) FROM perq
         |ORDER BY query""".stripMargin
    },

    // the same folds over the same string-cast double weights, replayed
    // with list_reduce (left fold, zero prepended — exactly Spark's
    // aggregate(..., 0.0, +)); rank-padded to 10 with zero relevance
    "ext_search_ndcg" -> {
      val inList = evalTerms.map(t => s"'$t'").mkString(", ")
      val w = graft.operators.Eval.dcgWeights(10)
        .map(x => s"'$x'::DOUBLE").mkString("[", ", ", "]")
      s"""WITH toks AS (SELECT t.tok AS query, d.doc_id, d.lang,
         |    count(*) AS tf
         |  FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
         |  WHERE t.tok IN ($inList) GROUP BY 1, 2, 3),
         |top AS (SELECT * FROM (SELECT query, doc_id, lang,
         |    row_number() OVER (PARTITION BY query
         |      ORDER BY tf DESC, doc_id ASC) AS rank
         |  FROM toks) WHERE rank <= 10),
         |g AS (SELECT query, rank,
         |    CASE WHEN lang = 'en' THEN 2 WHEN lang = 'de' THEN 1
         |      ELSE 0 END AS grel FROM top),
         |lists AS (SELECT query,
         |    list_resize(list(grel ORDER BY rank), 10, 0) AS rels
         |  FROM g GROUP BY 1),
         |folded AS (SELECT query,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(rels, (x, i) -> x * ($w)[i])),
         |      (a, b) -> a + b) AS dcg,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(list_reverse_sort(rels), (x, i) -> x * ($w)[i])),
         |      (a, b) -> a + b) AS idcg
         |  FROM lists)
         |SELECT query, dcg, idcg,
         |  CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0::DOUBLE END AS ndcg
         |FROM folded ORDER BY query""".stripMargin
    },

    "ext_dedup_ngram" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
        |   for j in generate_series(0, 11)] AS g FROM sh),
        |bands AS (SELECT doc_id, band,
        |  md5(g[band*3+1] || '|' || g[band*3+2] || '|' || g[band*3+3]) AS key
        |  FROM sig, (SELECT unnest([0,1,2,3]) AS band) b),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
        |  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id) t
        |WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // ALL-PAIRS exact Jaccard — deliberately NOT a replay of the prefix
    // filter: hash equality against the brute-force set proves the Spark
    // side's prefix pruning lossless. Integer threshold compare
    // (inter*10 >= uni*3) on both sides.
    "ext_setsim_prefix" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) AS inter,
        |    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
        |FROM pairs WHERE inter * 10 >= uni * 3
        |ORDER BY id_a, id_b""".stripMargin,

    // cross-halves all-pairs Levenshtein — the linkage form's brute force
    "ext_fuzzy_link" ->
      """WITH ti AS (SELECT doc_id,
        |  substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 30) AS title
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.title, b.title) AS distance
        |FROM ti a JOIN ti b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |WHERE levenshtein(a.title, b.title) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    // first significant digit from the decimal string (every printed form
    // of a nonzero double leads with its significant digits), integer ppm
    "ext_benford" ->
      """WITH g AS (SELECT regexp_extract(CAST(abs(value) AS VARCHAR), '[1-9]') AS digit,
        |    count(*) AS n
        |  FROM events WHERE value IS NOT NULL AND value <> 0
        |  GROUP BY 1),
        |gg AS (SELECT digit, n FROM g WHERE digit <> ''),
        |t AS (SELECT sum(n) AS total FROM gg)
        |SELECT digit, n,
        |  CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
        |  ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])
        |    [CAST(digit AS INT)] AS benford_ppm,
        |  abs(CAST(n * 1000000 // total AS BIGINT) -
        |    ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])
        |      [CAST(digit AS INT)]) AS gap_ppm
        |FROM gg CROSS JOIN t
        |ORDER BY digit""".stripMargin,

    // ALL-PAIRS Levenshtein over the 30-char normalized titles — again an
    // independent brute force, proving the q-gram blocking lossless
    "ext_fuzzy_join" ->
      """WITH ti AS (SELECT doc_id,
        |  substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 30) AS title
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.title, b.title) AS distance
        |FROM ti a JOIN ti b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    // containment replayed on the same 3-gram shingle CTE as the Jaccard
    // oracle: posting-list self-join, hot shingles (df > 100) anti-joined
    // out first, integer shared counts, one exact division per direction
    "ext_dedup_contain" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
        |  FROM toks WHERE len(t) >= 3),
        |p0 AS (SELECT doc_id, len(s) AS nsh, unnest(s) AS sg FROM sh),
        |hot AS (SELECT sg FROM p0 GROUP BY sg HAVING count(*) > 100),
        |p AS (SELECT * FROM p0 ANTI JOIN hot USING (sg)),
        |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    x.nsh AS na, y.nsh AS nb, count(*) AS shared
        |  FROM p x JOIN p y ON x.sg = y.sg AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, shared, contain_a, contain_b FROM (
        |  SELECT id_a, id_b, shared,
        |    CAST(shared AS DOUBLE) / na AS contain_a,
        |    CAST(shared AS DOUBLE) / nb AS contain_b
        |  FROM pairs) t
        |WHERE greatest(contain_a, contain_b) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // the composed curation chain, mirrored stage by stage: score ->
    // filter -> exact dedup -> MinHash bands -> CC closure -> canonical
    // keep -> hash split (thresholds generated by the same Scala code the
    // engine uses)
    "ext_curation_pipeline" -> {
      val g = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
      s"""WITH RECURSIVE ltok AS (SELECT doc_id, text,
         |  string_split_regex(trim(lower(text)), '\\s+') AS lt FROM documents),
         |langsc AS (SELECT doc_id, text,
         |  len(list_filter(lt, t -> list_contains(['the','is','and','of','a'], t))) AS s_en,
         |  len(list_filter(lt, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
         |  len(list_filter(lt, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
         |  len(list_filter(lt, t -> list_contains(['le','la','les','et','est'], t))) AS s_fr,
         |  len(list_filter(lt, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
         |FROM ltok),
         |scored AS (SELECT doc_id, text,
         |  $qualityScoreSql AS quality_score,
         |  CASE WHEN s_en = $g AND $g > 0 THEN 'en'
         |       WHEN s_es = $g AND $g > 0 THEN 'es'
         |       WHEN s_de = $g AND $g > 0 THEN 'de'
         |       WHEN s_fr = $g AND $g > 0 THEN 'fr'
         |       WHEN s_zh = $g AND $g > 0 THEN 'zh'
         |       ELSE 'und' END AS lang_pred
         |FROM langsc),
         |filtered AS (SELECT * FROM scored
         |  WHERE quality_score >= 0.3 AND lang_pred = 'en'),
         |exact AS (SELECT doc_id, text, quality_score, lang_pred FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |    ORDER BY doc_id) AS rn FROM filtered) e WHERE rn = 1),
         |toks2 AS (SELECT doc_id,
         |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
         |  FROM exact),
         |sh2 AS (SELECT doc_id, list_distinct(
         |  [array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS s
         |  FROM toks2),
         |sig2 AS (SELECT doc_id,
         |  [list_min(list_transform(s, x -> md5(x || '#' || CAST(j AS VARCHAR))))
         |   for j in generate_series(0, 11)] AS g2 FROM sh2),
         |bands2 AS (SELECT doc_id, band,
         |  md5(g2[band*3+1] || '|' || g2[band*3+2] || '|' || g2[band*3+3]) AS key
         |  FROM sig2, (SELECT unnest([0,1,2,3]) AS band) b),
         |cand2 AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands2 x JOIN bands2 y
         |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |und2 AS (SELECT id_a AS a, id_b AS b FROM cand2
         |  UNION SELECT id_b, id_a FROM cand2),
         |reach2(a, b) AS (SELECT a, b FROM und2
         |  UNION SELECT r.a, u.b FROM reach2 r JOIN und2 u ON r.b = u.a),
         |losers AS (SELECT a AS doc_id FROM (
         |  SELECT a, least(a, min(b)) AS comp FROM reach2 GROUP BY a) c
         |  WHERE a != comp)
         |SELECT doc_id,
         |  CASE WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < '${graft.operators.Sampling.hexThreshold(0.9)}' THEN 'train'
         |       WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < '${graft.operators.Sampling.hexThreshold(0.9 + 0.05)}' THEN 'val'
         |       ELSE 'test' END AS split,
         |  quality_score, lang_pred
         |FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin
    },

    // same MinHash banding CTEs as ext_dedup_minhash, then a recursive
    // transitive closure; component = min reachable id (incl. self)
    "ext_dedup_components" ->
      s"""WITH RECURSIVE $nearDupComponentsCtes
        |SELECT a AS doc_id, least(a, min(b)) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // same band-join candidates, endpoints labeled and order-normalized
    "ext_dup_source_matrix" ->
      s"""WITH $nearDupPairsCtes
        |SELECT least(da.source, db.source) AS source_x,
        |  greatest(da.source, db.source) AS source_y,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM cand JOIN documents da ON da.doc_id = cand.id_a
        |JOIN documents db ON db.doc_id = cand.id_b
        |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,

    // same components, rolled to a size histogram
    "ext_dup_cluster_sizes" ->
      s"""WITH RECURSIVE $nearDupComponentsCtes,
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // the same components, field rules replayed: longest text via the
    // rank-1 window (ties min id), min/max per remaining field
    "ext_golden_record" ->
      s"""WITH RECURSIVE $nearDupComponentsCtes,
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |lab AS (SELECT coalesce(c.component, d.doc_id) AS cluster,
        |    d.doc_id, d.text, d.source, d.lang, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |best AS (SELECT cluster, text FROM (SELECT cluster, text,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY length(text) DESC, doc_id ASC) AS rn FROM lab)
        |  WHERE rn = 1)
        |SELECT l.cluster, count(*) AS n_members,
        |  any_value(b.text) AS text,
        |  min(l.source) AS source, min(l.lang) AS lang,
        |  max(l.n_chars) AS n_chars
        |FROM lab l JOIN best b ON l.cluster = b.cluster
        |GROUP BY l.cluster ORDER BY l.cluster""".stripMargin,

    // leakage-safe split: every doc inherits its near-dup CLUSTER
    // representative's hash draw, so a cluster can never straddle splits
    "x51_leakage_safe_split" ->
      s"""WITH RECURSIVE $nearDupComponentsCtes,
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |rep AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT doc_id, rep,
        |  CASE WHEN substr(md5(rep::VARCHAR || '#split'), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5(rep::VARCHAR || '#split'), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM rep ORDER BY doc_id""".stripMargin,

    "ext_dedup_simhash" ->
      """WITH h AS (SELECT doc_id,
        |  list_transform(
        |    list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')),
        |    t -> CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) AS BIGINT)) AS hs
        |  FROM documents),
        |sim AS (SELECT doc_id, CAST(list_sum(
        |  [CASE WHEN 2 * len(list_filter(hs, x -> (x >> b) & 1 = 1)) > len(hs)
        |   THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
        |   for b in generate_series(0, 59)]) AS BIGINT) AS sim FROM h),
        |blocks AS (SELECT doc_id, sim, blk, (sim >> (blk * 15)) & 32767 AS key
        |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS blk) b)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |    CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
        |  FROM blocks x JOIN blocks y
        |    ON x.blk = y.blk AND x.key = y.key AND x.doc_id < y.doc_id) t
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // LSH path: same-bucket pairs only (buckets from the embedded plane
    // literals), then the exact cosine threshold
    "ext_dedup_embedding" ->
      s"""WITH n AS ($normCte),
         |b AS (SELECT vec_id, e, nm, ${bucketSql("e")} AS bucket FROM n)
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |  list_dot_product(a.e, b2.e) / (a.nm * b2.nm) AS cosine
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE list_dot_product(a.e, b2.e) / (a.nm * b2.nm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "ext_dedup_embedding_brute" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.e, b.e) / (a.nm * b.nm) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) / (a.nm * b.nm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // the same 8 gaussian planes embedded as list literals; component =
    // list_dot_product * the identical scale literal
    "ext_random_projection" -> {
      val ps = graft.operators.Similarity.planes(8, 64, 42L)
      val scale = 1.0 / math.sqrt(8.0)
      val comps = ps.zipWithIndex.map { case (p, j) =>
        s"list_dot_product(e, ${planeList(p)}) * '$scale'::DOUBLE AS p$j"
      }.mkString(",\n         |  ")
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id,
         |  $comps
         |FROM n ORDER BY vec_id""".stripMargin
    },

    // the same 8 projected components from the string-cast plane literals;
    // both squared distances fold the identical diff-square sequence
    // (list_dot_product of the diff list with itself = the zip_with fold),
    // so each ratio — and each band count — is bit-identical
    "ext_projection_distortion" -> {
      val ps = graft.operators.Similarity.planes(8, 64, 42L)
      val scale = 1.0 / math.sqrt(8.0)
      val comps = ps.map { p =>
        s"list_dot_product(e, ${planeList(p)}) * '$scale'::DOUBLE"
      }.mkString("[", ",\n         |   ", "]")
      s"""WITH n0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, $comps AS p FROM n0),
         |q AS (SELECT vec_id AS q_id, e AS qe, p AS qp FROM b WHERE vec_id < 10),
         |pr AS (SELECT q.q_id,
         |    list_transform(list_zip(b.p, q.qp), x -> x[1] - x[2]) AS dp,
         |    list_transform(list_zip(b.e, q.qe), x -> x[1] - x[2]) AS de
         |  FROM b, q WHERE b.vec_id != q.q_id),
         |r AS (SELECT q_id,
         |    list_dot_product(dp, dp) / list_dot_product(de, de) AS r FROM pr)
         |SELECT q_id, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN abs(r - 1) <= 0.25 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS frac_within_25,
         |  CAST(sum(CASE WHEN abs(r - 1) <= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS frac_within_50
         |FROM r GROUP BY q_id ORDER BY q_id""".stripMargin
    },

    "ext_knn_lsh" ->
      s"""WITH n AS ($normCte),
         |b AS (SELECT vec_id, e, nm, ${bucketSql("e")} AS bucket FROM n),
         |q AS (SELECT vec_id AS q_id, e AS qe, nm AS qn, bucket FROM b WHERE vec_id < 10),
         |scored AS (SELECT q_id, b.vec_id, list_dot_product(b.e, qe) / (b.nm * qn) AS cosine
         |  FROM b JOIN q USING (bucket) WHERE b.vec_id != q_id)
         |SELECT q_id, vec_id, cosine, rank FROM (
         |  SELECT q_id, vec_id, cosine, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin,

    // multi-probe replay: the same per-plane |margin| ranking (ties by
    // plane index — the struct list_sort is lexicographic on (a, j)), the
    // same base-bucket XOR bit flips, the same window top-k
    "ext_knn_lsh_multiprobe" -> {
      val ps = graft.operators.Similarity.planes(8, 64, 42L)
      val marginsList = ps.zipWithIndex.map { case (p, j) =>
        s"{'a': abs(list_dot_product(qe, ${planeList(p)})), 'j': $j}"
      }.mkString("[", ", ", "]")
      s"""WITH n AS ($normCte),
         |b AS (SELECT vec_id, e, nm, ${bucketSql("e")} AS bucket FROM n),
         |q0 AS (SELECT vec_id AS q_id, e AS qe, nm AS qn, bucket AS qb FROM b WHERE vec_id < 10),
         |r AS (SELECT q_id, qe, qn, qb, list_sort($marginsList) AS ranked FROM q0),
         |p AS (SELECT q_id, qe, qn, unnest(list_prepend(qb,
         |    list_transform(ranked[1:3], s -> xor(qb, (1::BIGINT << s.j))))) AS bucket FROM r),
         |scored AS (SELECT q_id, b.vec_id, list_dot_product(b.e, qe) / (b.nm * qn) AS cosine
         |  FROM b JOIN p USING (bucket) WHERE b.vec_id != q_id)
         |SELECT q_id, vec_id, cosine, rank FROM (
         |  SELECT q_id, vec_id, cosine, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin
    },

    // multi-table LSH candidates (8 plane sets, seeds 42..49) -> top-5 ->
    // recall against the exact brute-force top-5; mean = sum(hits)/sum(k)
    "ext_knn_lsh_recall" -> {
      val nTables = 8
      val bks = (0 until nTables).map(t => bucketSql("e", nPlanes = 2, seed = 42L + t))
      s"""WITH n AS ($normCte),
         |b AS (SELECT vec_id, e, nm, ${bks.zipWithIndex.map { case (b, i) => s"$b AS bk$i" }.mkString(", ")} FROM n),
         |q AS (SELECT vec_id AS q_id, e AS qe, nm AS qn,
         |  ${(0 until nTables).map(i => s"bk$i AS qb$i").mkString(", ")} FROM b WHERE vec_id < 10),
         |cand AS (SELECT DISTINCT q.q_id, b.vec_id FROM b, q
         |  WHERE b.vec_id != q.q_id AND
         |    (${(0 until nTables).map(i => s"b.bk$i = q.qb$i").mkString(" OR ")})),
         |ascored AS (SELECT c.q_id, c.vec_id, list_dot_product(b.e, q.qe) / (b.nm * q.qn) AS cosine
         |  FROM cand c JOIN b ON c.vec_id = b.vec_id JOIN q ON c.q_id = q.q_id),
         |approx AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM ascored) t
         |  WHERE rn <= 5),
         |escored AS (SELECT q.q_id, n.vec_id, list_dot_product(n.e, q.qe) / (n.nm * q.qn) AS cosine
         |  FROM n, q WHERE n.vec_id != q.q_id),
         |exact AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM escored) t
         |  WHERE rn <= 5),
         |h AS (SELECT e.q_id, count(a.vec_id) AS hits, count(*) AS k
         |  FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |  GROUP BY e.q_id)
         |SELECT q_id, CAST(hits AS DOUBLE) / k AS recall,
         |  (SELECT CAST(sum(hits) AS DOUBLE) / sum(k) FROM h) AS mean_recall
         |FROM h""".stripMargin
    },

    "ext_knn_brute" -> bruteKnnSql,

    // the corpus CTE carries the metadata predicate; queries stay unfiltered
    "ext_knn_filtered" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
        |  FROM embeddings),
        |c AS (SELECT * FROM n WHERE vec_id % 3 = 0),
        |q AS (SELECT vec_id AS q_id, e AS qe, nm AS qn FROM n WHERE vec_id < 10),
        |scored AS (SELECT q_id, c.vec_id,
        |  list_dot_product(c.e, qe) / (c.nm * qn) AS cosine
        |  FROM c, q WHERE c.vec_id != q_id)
        |SELECT q_id, vec_id, cosine, rank FROM (
        |  SELECT q_id, vec_id, cosine, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    // the streamed per-batch searches union to the identical relation
    "stream_knn" -> bruteKnnSql,
    // the SQL-registry twin computes the identical scored relation and
    // ranks through graft_top_k — same oracle by construction
    "ext_knn_brute_sql" -> bruteKnnSql,

    // IVF at nprobe = nlist is exhaustive search — the brute-force SQL IS
    // its oracle (see the ext_knn_ivf_exact query comment); the _join twin
    // grades the broadcast-join assignment/probe path against the same SQL
    "ext_knn_ivf_exact" -> bruteKnnSql,

    // the PRUNED rows: exact-trained centroids/codebooks let the oracle
    // replay training + assignment + probe/encode + scoring end to end
    "ext_knn_ivf" -> ivfExactTrainSql,
    "ext_knn_ivf_recall" -> ivfRecallSql,
    "ext_knn_pq" -> pqExactTrainSql,
    "ext_knn_ivf_exact_join" -> bruteKnnSql,

    // PQ exact twin: ADC with per-vector codebooks is slice-wise exact
    // inner products — four list_dot_product terms added in the same
    // left-assoc grouping as the Scala reduce, ranked (score DESC, vec_id)
    "ext_knn_pq_exact" -> pqExactSql,
    // IVF-PQ at nprobe = nlist is exhaustive ADC — same oracle
    "ext_knn_ivfpq_exact" -> pqExactSql,
    // appended index at nprobe = nlist is exhaustive over old + new lists
    "ext_knn_ivf_append" -> bruteKnnSql,
    // the saved-then-loaded index searches with the nprobe pinned in the
    // artifact (= nlist, exhaustive), so the brute SQL is its oracle too
    "ext_knn_ivf_saved" -> bruteKnnSql,

    // replay of the ordered fold: list(...ORDER BY vec_id) then a sequential
    // element-wise reduce — the same summation order the engine uses, which
    // is what makes a float centroid hash-comparable (list_reduce seeds with
    // the first element vs the engine's +0.0 seed: identical bits, since
    // 0.0 + x == x for every non-(-0.0) x and this data has no zeros)
    "ext_embed_centroid" ->
      """WITH l AS (SELECT label, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS vs,
        |    count(*) AS n
        |  FROM embeddings GROUP BY label),
        |c AS (SELECT label, n, list_transform(
        |    list_reduce(vs, (acc, x) -> list_transform(list_zip(acc, x), p -> p[1] + p[2])),
        |    s -> s / n) AS centroid FROM l)
        |SELECT label, n,
        |  CAST(generate_subscripts(centroid, 1) - 1 AS INTEGER) AS dim_idx,
        |  unnest(centroid) AS value
        |FROM c ORDER BY label, dim_idx""".stripMargin,

    // same centroid replay, then the d2 expansion in the same operation
    // order the engine uses ((ee - 2*eb) + cc) and the same (d2, label)
    // argmin tie-break
    "ext_centroid_assign" -> centroidAssignSql,
    // the streaming twin computes the identical per-row argmin against the
    // batch-trained centroids — same oracle
    "stream_centroid_assign" -> centroidAssignSql,

    // the assignment CTE extended with the within-cluster pair join — the
    // same prenormed-cosine formula the brute-KNN oracle uses
    "ext_semdedup" ->
      """WITH l AS (SELECT label, list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS vs,
        |    count(*) AS n
        |  FROM embeddings GROUP BY label),
        |c AS (SELECT label AS c_label, list_transform(
        |    list_reduce(vs, (acc, x) -> list_transform(list_zip(acc, x), p -> p[1] + p[2])),
        |    v -> v / n) AS centroid FROM l),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (SELECT vec_id, c_label,
        |  list_dot_product(e, e) - 2 * list_dot_product(e, centroid)
        |    + list_dot_product(centroid, centroid) AS d2
        |  FROM e, c),
        |asg AS (SELECT vec_id, c_label AS cluster FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
        |  FROM sc) t WHERE rn = 1),
        |en AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm FROM e)
        |SELECT id_a, id_b, cluster, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, x.cluster,
        |    list_dot_product(a.e, b.e) / (a.nm * b.nm) AS cosine
        |  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  JOIN en a ON x.vec_id = a.vec_id JOIN en b ON y.vec_id = b.vec_id) p
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "ext_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  CAST((doc_id % 16) * 64 + 256 AS INTEGER) AS width,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  CAST(CAST('0x' || substr(md5(text || '/f0'), 1, 12) AS UBIGINT) AS DOUBLE)
        |    / 281474976710656.0 AS f0,
        |  CAST(CAST('0x' || substr(md5(text || '/f1'), 1, 12) AS UBIGINT) AS DOUBLE)
        |    / 281474976710656.0 AS f1
        |FROM documents""".stripMargin,

    "ext_multimodal_resize" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  CAST(224 AS INTEGER) AS width, CAST(224 AS INTEGER) AS height,
        |  (doc_id % 30) * 1000 + 1000 AS duration_ms,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes
        |FROM documents""".stripMargin,

    "ext_multimodal_frames" ->
      """SELECT doc_id AS media_id,
        |  unnest(generate_series(0, (doc_id % 30) * 1000 + 1000 - 1, 1000)) AS frame_ts_ms,
        |  md5(CAST(doc_id AS VARCHAR) || '@' ||
        |    CAST(unnest(generate_series(0, (doc_id % 30) * 1000 + 1000 - 1, 1000)) AS VARCHAR))
        |    AS frame_stub
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    // streaming parity: same deterministic-generator reconstruction the
    // batch s6/s7 oracles use; the dedup'd duplicate micro-batch and the
    // sentinel row are absent by construction (dedup drops the former, the
    // query filters the latter)
    "stream_daily_spend" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id,
         |  strftime(make_timestamp(te * 1000000), '%Y-%m-%d') AS transaction_date,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM t GROUP BY 1, 2""".stripMargin,

    // identical to stream_daily_spend's oracle: the trigger mode changes
    // WHEN batches run, never what the finalized relation contains
    "stream_daily_spend_available_now" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id,
         |  strftime(make_timestamp(te * 1000000), '%Y-%m-%d') AS transaction_date,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM t GROUP BY 1, 2""".stripMargin,

    // identical to stream_daily_spend's oracle: the restart in the middle
    // of the feed (and the re-fed post-restart duplicate chunk) must be
    // invisible in the final relation — exactly-once across recovery
    "stream_daily_spend_restart" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id,
         |  strftime(make_timestamp(te * 1000000), '%Y-%m-%d') AS transaction_date,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM t GROUP BY 1, 2""".stripMargin,

    // identical to stream_daily_spend's oracle: the 1,000 late-fed rows
    // must contribute NOTHING — the on-time-only relation is the truth
    "stream_late_data_drop" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id,
         |  strftime(make_timestamp(te * 1000000), '%Y-%m-%d') AS transaction_date,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM t GROUP BY 1, 2""".stripMargin,

    // rolling trailing-hour cents per customer per event: the plain RANGE
    // window over the generator reconstruction (te = exact epoch seconds,
    // cents exact from the 2-dp amount)
    "stream_rolling_range" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, te,
         |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) OVER (
         |    PARTITION BY customer_id ORDER BY te
         |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS roll_cents
         |FROM t""".stripMargin,

    // the bounded-disorder twin: the 60s-scrambled feed, buffered by
    // slack and flushed by per-key sentinels, must land on the SAME
    // plain RANGE window over the ordered relation — sentinels never
    // finalize, so the truth is exactly the real events
    "stream_rolling_range_slack" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, te,
         |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) OVER (
         |    PARTITION BY customer_id ORDER BY te
         |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS roll_cents
         |FROM t""".stripMargin,

    // the dedup'd re-fed chunk is absent by construction, so the truth is
    // the plain generator relation; latest per customer = max te (te is
    // globally unique), cents recovered exactly from the 2-dp amount
    "stream_latest_record" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, te AS last_te,
         |  CAST(round(amount * 100) AS BIGINT) AS last_cents
         |FROM t
         |QUALIFY row_number() OVER (PARTITION BY customer_id ORDER BY te DESC) = 1
         |ORDER BY customer_id""".stripMargin,

    // the generator's counter truth: every field a pure md5 function, the
    // three ratios replayed as the same single divisions
    "stream_quality_monitor" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |t AS (SELECT
         |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS cid,
         |  (CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 99900 + 100) / 100.0 AS amount,
         |  (['Success','Pending','Failed'])[CAST(CAST(CAST('0x' || substr(md5('42#st#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 3 + 1 AS INTEGER)] AS status
         |FROM g),
         |c AS (SELECT count(*) AS n, count(cid) AS comp_cust,
         |  CAST(sum(CASE WHEN amount >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS amt_ok,
         |  CAST(sum(CASE WHEN status = 'Success' THEN 1 ELSE 0 END) AS BIGINT) AS st_ok
         |FROM t)
         |SELECT 'completeness:customer_id' AS "check", comp_cust AS num, n AS den,
         |  CAST(comp_cust AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
         |  CAST(comp_cust AS DOUBLE) / CAST(n AS DOUBLE) >= 0.25 AS passed FROM c
         |UNION ALL
         |SELECT 'compliance:amount>=100', amt_ok, n,
         |  CAST(amt_ok AS DOUBLE) / CAST(n AS DOUBLE),
         |  CAST(amt_ok AS DOUBLE) / CAST(n AS DOUBLE) >= 0.25 FROM c
         |UNION ALL
         |SELECT 'compliance:status=Success', st_ok, n,
         |  CAST(st_ok AS DOUBLE) / CAST(n AS DOUBLE),
         |  CAST(st_ok AS DOUBLE) / CAST(n AS DOUBLE) >= 0.25 FROM c""".stripMargin,

    // the CDC-applied table must aggregate to the same daily rollup as the
    // generator relation — a replayed chunk that duplicated rows, or an
    // upsert that dropped survivors, shifts a total
    "stream_upsert_table" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id,
         |  strftime(make_timestamp(te * 1000000), '%Y-%m-%d') AS transaction_date,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM t GROUP BY 1, 2""".stripMargin,

    // stream-stream inner join: a refund exists iff status = Failed, and
    // it matches iff its md5-derived delay fits the 30-minute range — the
    // whole two-stream join collapses to a pure function of the generator
    "stream_stream_join" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |h AS (SELECT id,
         |  md5('42-' || CAST(id AS VARCHAR)) AS transaction_id,
         |  CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hc,
         |  CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS ha,
         |  CAST(CAST('0x' || substr(md5('42#st#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hs,
         |  CAST(CAST('0x' || substr(md5('42#rdelay#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hd
         |FROM g)
         |SELECT transaction_id,
         |  CAST(hc % 1000 + 1 AS VARCHAR) AS customer_id,
         |  (ha % 99900 + 100) / 100.0 AS amount,
         |  hd % 2400 AS delay_sec
         |FROM h
         |WHERE (['Success','Pending','Failed'])[CAST(hs % 3 + 1 AS INTEGER)] = 'Failed'
         |  AND hd % 2400 <= 1800""".stripMargin,

    // left outer: every transaction exactly once; delay only where the
    // refund exists AND fits the window, else NULL (the watermark-flushed
    // null-padded rows)
    "stream_stream_join_left" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |h AS (SELECT id,
         |  md5('42-' || CAST(id AS VARCHAR)) AS transaction_id,
         |  CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hc,
         |  CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS ha,
         |  CAST(CAST('0x' || substr(md5('42#st#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hs,
         |  CAST(CAST('0x' || substr(md5('42#rdelay#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hd
         |FROM g)
         |SELECT transaction_id,
         |  CAST(hc % 1000 + 1 AS VARCHAR) AS customer_id,
         |  (ha % 99900 + 100) / 100.0 AS amount,
         |  CASE WHEN (['Success','Pending','Failed'])[CAST(hs % 3 + 1 AS INTEGER)] = 'Failed'
         |    AND hd % 2400 <= 1800 THEN hd % 2400 END AS delay_sec
         |FROM h""".stripMargin,

    // full outer: the left-outer relation PLUS one right-only row per
    // refund whose window closed unmatched (Failed with delay > 1800)
    "stream_stream_join_full" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |h AS (SELECT id,
         |  md5('42-' || CAST(id AS VARCHAR)) AS transaction_id,
         |  CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hc,
         |  CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS ha,
         |  CAST(CAST('0x' || substr(md5('42#st#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hs,
         |  CAST(CAST('0x' || substr(md5('42#rdelay#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS hd
         |FROM g)
         |SELECT transaction_id,
         |  CAST(hc % 1000 + 1 AS VARCHAR) AS customer_id,
         |  (ha % 99900 + 100) / 100.0 AS amount,
         |  CASE WHEN (['Success','Pending','Failed'])[CAST(hs % 3 + 1 AS INTEGER)] = 'Failed'
         |    AND hd % 2400 <= 1800 THEN hd % 2400 END AS delay_sec
         |FROM h
         |UNION ALL
         |SELECT transaction_id, NULL, NULL, NULL FROM h
         |WHERE (['Success','Pending','Failed'])[CAST(hs % 3 + 1 AS INTEGER)] = 'Failed'
         |  AND hd % 2400 > 1800""".stripMargin,

    "stream_windowed_spend" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, w_start, w_start + 600 AS w_end,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         |FROM (
         |  SELECT customer_id, amount,
         |    CAST(floor(te / 300) * 300 AS BIGINT) - s.off AS w_start
         |  FROM t, (SELECT unnest([0, 300]) AS off) s)
         |GROUP BY customer_id, w_start""".stripMargin,

    // gap comparison is STRICT (> 900): Spark's session_window merges an
    // event landing exactly at the previous session's end (verified
    // empirically — with whole-second timestamps the boundary case occurs
    // 9 times in this feed; a7's >=-form oracle never sees it because the
    // events table's ns-grained timestamps can't hit an exact boundary)
    "stream_session_window" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)},
         |m AS (SELECT customer_id, te, amount,
         |  CASE WHEN lag(te) OVER (PARTITION BY customer_id ORDER BY te) IS NULL
         |    OR te - lag(te) OVER (PARTITION BY customer_id ORDER BY te) > 900
         |  THEN 1 ELSE 0 END AS new_sess
         |  FROM t),
         |s2 AS (SELECT customer_id, te, amount,
         |  sum(new_sess) OVER (PARTITION BY customer_id ORDER BY te
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT customer_id,
         |  CAST(min(te) AS BIGINT) AS sess_start,
         |  CAST(max(te) AS BIGINT) + 900 AS sess_end,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         |  count(*) AS n_events
         |FROM s2 GROUP BY customer_id, sid""".stripMargin,

    // identical to stream_session_window's oracle: the fmGWS implementation
    // is held to hash-identical sessions with the native operator
    "stream_session_fmgws" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)},
         |m AS (SELECT customer_id, te, amount,
         |  CASE WHEN lag(te) OVER (PARTITION BY customer_id ORDER BY te) IS NULL
         |    OR te - lag(te) OVER (PARTITION BY customer_id ORDER BY te) > 900
         |  THEN 1 ELSE 0 END AS new_sess
         |  FROM t),
         |s2 AS (SELECT customer_id, te, amount,
         |  sum(new_sess) OVER (PARTITION BY customer_id ORDER BY te
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT customer_id,
         |  CAST(min(te) AS BIGINT) AS sess_start,
         |  CAST(max(te) AS BIGINT) + 900 AS sess_end,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         |  count(*) AS n_events
         |FROM s2 GROUP BY customer_id, sid""".stripMargin,

    // identical again: the transformWithState implementation is the third
    // state API graded to hash-identical sessions with the native operator
    "stream_session_tws" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)},
         |m AS (SELECT customer_id, te, amount,
         |  CASE WHEN lag(te) OVER (PARTITION BY customer_id ORDER BY te) IS NULL
         |    OR te - lag(te) OVER (PARTITION BY customer_id ORDER BY te) > 900
         |  THEN 1 ELSE 0 END AS new_sess
         |  FROM t),
         |s2 AS (SELECT customer_id, te, amount,
         |  sum(new_sess) OVER (PARTITION BY customer_id ORDER BY te
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT customer_id,
         |  CAST(min(te) AS BIGINT) AS sess_start,
         |  CAST(max(te) AS BIGINT) + 900 AS sess_end,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         |  count(*) AS n_events
         |FROM s2 GROUP BY customer_id, sid""".stripMargin,

    // the streaming chunked running aggregate vs the plain SQL running
    // window over the same deterministic feed — exact long cents (the
    // decimal *100 cast reproduces Spark's round(amount*100) on 2-dp
    // money), te globally unique so the running order is total
    "stream_running_chunked" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, te,
         |  CAST(sum(CAST(CAST(amount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    OVER (PARTITION BY customer_id ORDER BY te
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
         |FROM t""".stripMargin,

    // restart recovery must be INVISIBLE in the answer — identical oracle
    "stream_running_chunked_restart" ->
      s"""WITH ${streamTxCte(streamN, streamEpoch)}
         |SELECT customer_id, te,
         |  CAST(sum(CAST(CAST(amount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    OVER (PARTITION BY customer_id ORDER BY te
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
         |FROM t""".stripMargin,

    // regenerate the feed with ids and merchant parity, split into the same
    // two streams, and replay the interval join as plain SQL
    "stream_interval_join" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |t AS (SELECT
         |  md5('42-' || CAST(id AS VARCHAR)) AS txid,
         |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS customer_id,
         |  CAST(CAST(CAST('0x' || substr(md5('42#merch#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 500 + 1 AS INTEGER) AS merchant_id,
         |  $streamEpoch + id AS te
         |FROM g),
         |v AS (SELECT customer_id, txid AS view_id, te FROM t WHERE merchant_id % 2 = 0),
         |p AS (SELECT customer_id, txid AS purchase_id, te FROM t WHERE merchant_id % 2 = 1)
         |SELECT p.purchase_id, v.view_id, p.customer_id,
         |  p.te - v.te AS secs_since_view
         |FROM p JOIN v ON p.customer_id = v.customer_id
         |  AND v.te <= p.te AND v.te >= p.te - 600""".stripMargin,

    // left-outer twin: unmatched purchases appear exactly once, null-padded
    "stream_interval_join_left" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |t AS (SELECT
         |  md5('42-' || CAST(id AS VARCHAR)) AS txid,
         |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS customer_id,
         |  CAST(CAST(CAST('0x' || substr(md5('42#merch#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 500 + 1 AS INTEGER) AS merchant_id,
         |  $streamEpoch + id AS te
         |FROM g),
         |v AS (SELECT customer_id, txid AS view_id, te FROM t WHERE merchant_id % 2 = 0),
         |p AS (SELECT customer_id, txid AS purchase_id, te FROM t WHERE merchant_id % 2 = 1)
         |SELECT p.purchase_id, v.view_id, p.customer_id,
         |  p.te - v.te AS secs_since_view
         |FROM p LEFT JOIN v ON p.customer_id = v.customer_id
         |  AND v.te <= p.te AND v.te >= p.te - 600""".stripMargin,

    // full-outer twin: unmatched rows on both sides appear exactly once,
    // the customer coming from whichever side is present
    "stream_interval_join_full" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |t AS (SELECT
         |  md5('42-' || CAST(id AS VARCHAR)) AS txid,
         |  CAST(CAST(CAST('0x' || substr(md5('42#cust#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 1000 + 1 AS VARCHAR) AS customer_id,
         |  CAST(CAST(CAST('0x' || substr(md5('42#merch#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 500 + 1 AS INTEGER) AS merchant_id,
         |  $streamEpoch + id AS te
         |FROM g),
         |v AS (SELECT customer_id, txid AS view_id, te FROM t WHERE merchant_id % 2 = 0),
         |p AS (SELECT customer_id, txid AS purchase_id, te FROM t WHERE merchant_id % 2 = 1)
         |SELECT p.purchase_id, v.view_id,
         |  coalesce(p.customer_id, v.customer_id) AS customer_id,
         |  p.te - v.te AS secs_since_view
         |FROM p FULL JOIN v ON p.customer_id = v.customer_id
         |  AND v.te <= p.te AND v.te >= p.te - 600""".stripMargin,

    // the streamed registers equal the batch build (update-in-place max is
    // order-insensitive and idempotent across the re-fed micro-batch)
    "stream_hll_registers" ->
      """WITH sh AS (SELECT unnest(list_distinct(
        |    [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)])) AS sh
        |  FROM (SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents)),
        |hx AS (SELECT
        |    CAST(CAST('0x' || substr(md5(sh || '#hll.b'), 1, 8) AS UBIGINT) AS BIGINT) % 1024 AS bucket,
        |    CAST(CAST('0x' || substr(md5(sh || '#hll.w'), 1, 8) AS UBIGINT) AS BIGINT) AS w
        |  FROM sh)
        |SELECT CAST(bucket AS INTEGER) AS bucket,
        |  CAST(max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS INTEGER) AS register
        |FROM hx GROUP BY bucket""".stripMargin,

    // the streamed counters equal the batch sketch build (exactly-once
    // delivery of additive counters; same md5 hash family as the
    // ext_countmin_topk rebuild)
    "stream_countmin_registers" ->
      """WITH toks AS (SELECT unnest(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |rb AS (SELECT tok, r,
        |    CAST(CAST('0x' || substr(md5(tok || '#cm' || CAST(r AS VARCHAR) || '.cm'), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 1024 AS bucket
        |  FROM toks CROSS JOIN rs)
        |SELECT CAST(r AS INTEGER) AS sketch_row, CAST(bucket AS INTEGER) AS bucket,
        |  count(*) AS cnt
        |FROM rb GROUP BY r, bucket""".stripMargin,

    // the streamed curation run equals the batch relation: compact to the
    // min-doc_id copy per fingerprint (the feed's batch-compaction step),
    // then one row per doc passing the quality floor (the re-fed duplicate
    // micro-batch is byte-identical rows the streaming dedup drops)
    // the streamed sample is the BATCH sample (membership is a pure
    // function of id), so the final complete-mode table equals the batch
    // rank selection — the sample half of ext_quantile_sample's oracle
    "stream_quantile_sample" ->
      """WITH li AS (SELECT l_extendedprice AS v,
        |    l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS id FROM lineitem),
        |s AS (SELECT * FROM li WHERE substr(md5(id || '#qsample'), 1, 8) < '10000000'),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS rnk FROM s),
        |sn AS (SELECT count(*) AS sample_n FROM s),
        |qv AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.01), (0.25),
        |    (0.5), (0.75), (0.9), (0.99)) t(q))
        |SELECT q, sample_n, CAST(floor(q * (sample_n - 1)) AS BIGINT) AS rank,
        |  sr.v AS value
        |FROM qv CROSS JOIN sn
        |JOIN sr ON floor(q * (sample_n - 1)) = sr.rnk""".stripMargin,

    // the streamed sharded-bloom dedup must equal the exact batch dedup
    // (first-wins = min doc_id per fingerprint; zero false positives at
    // the sized bitmaps)
    "stream_bloom_dedup" ->
      """SELECT min(doc_id) AS doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |ORDER BY doc_id""".stripMargin,

    "stream_doc_clean" ->
      ("""WITH compact AS (SELECT doc_id, text,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn FROM documents) t WHERE rn = 1)
        |SELECT doc_id, fingerprint, quality_score
        |FROM (SELECT doc_id, fingerprint, """.stripMargin + qualityScoreSql +
        """ AS quality_score FROM compact) d
        |WHERE quality_score >= 0.3""".stripMargin),

    // regenerate the feed with merchant ids and replay the static
    // enrichment + 30-min rollup (category = merchant_id % 7, the same
    // mapping the static dimension carries); the sentinel never appears in
    // the engine output — its window never finalizes under the watermark
    "stream_static_enrich" ->
      s"""WITH g AS (SELECT range AS id FROM range(0, $streamN)),
         |t AS (SELECT
         |  CAST(CAST(CAST('0x' || substr(md5('42#merch#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 500 + 1 AS INTEGER) AS merchant_id,
         |  (CAST(CAST('0x' || substr(md5('42#amt#' || CAST(id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) % 99900 + 100) / 100.0 AS amount,
         |  $streamEpoch + id AS te
         |FROM g)
         |SELECT CAST(merchant_id % 7 AS INTEGER) AS category,
         |  CAST(floor(te / 1800) * 1800 AS BIGINT) AS w_start,
         |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         |  count(*) AS n_tx
         |FROM t GROUP BY 1, 2""".stripMargin,

    "q3_join_revenue" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin
  )
}
