package graft.operators

import graft.functions.Exact
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The core spending-analytics operators: dedup, sliding-window aggregation,
  * daily rollup. Parameterized on column names so the same operators serve
  * the transaction stream (transaction_id/customer_id/timestamp/amount) and
  * the harness `events` table (event_id/user_id/ts/value).
  *
  * Semantics follow the reference pipeline
  * (/root/reference/src/main/scala/com/example/kafka/CustomerSpendingAnalysis.scala:63-98,
  * 103-119) with the documented fixes (SURVEY.md §4.3): daily totals are
  * computed from deduplicated events directly — not by re-summing
  * overlapping sliding windows, which double-counts — and streaming dedup is
  * watermark-bounded instead of unbounded.
  */
object Spend {

  final case class Cols(
      id: String = "transaction_id",
      key: String = "customer_id",
      ts: String = "timestamp",
      amount: String = "amount")

  val transactionCols: Cols = Cols()
  val eventCols: Cols = Cols(id = "event_id", key = "user_id", ts = "ts", amount = "value")

  /** Batch dedup by id, deterministic: keeps the first row per id ordered by
    * (ts, amount). The reference's `dropDuplicates` keeps an arbitrary row
    * (CustomerSpendingAnalysis.scala:105); a deterministic keep is required
    * for reproducible pipelines and for oracle comparison.
    */
  def dedupe(df: DataFrame, c: Cols = transactionCols): DataFrame =
    dedupeBy(df, Seq(c.id), Seq(c.ts, c.amount))

  /** Deterministic dedup on arbitrary keys: keeps the first row per key group
    * ordered by `order` (full row as the final tie-break, so the kept row is
    * deterministic even when `order` ties).
    *
    * Shape: a min AGGREGATION over struct(order, row), not a window. Both
    * shuffle on the keys, but the aggregate partial-combines duplicates
    * map-side (the shuffle carries at most one row per key per input
    * partition), where the window form shuffles EVERY row. Neither avoids
    * sorting: Spark 4.1 cannot hash-aggregate `min` over a struct buffer,
    * so it plans SortAggregate with a Sort on both sides of the exchange
    * (PlanSweep's `sort_aggregate` column counts them). min over the
    * combined struct rather than
    * min_by(row, struct(order, row)): identical lexicographic order, but
    * the aggregation buffer (and shuffle row) carries the payload ONCE —
    * min_by's separate ordering key duplicated the full row and nearly
    * doubled the dedup shuffle at the 20M soak scale. The struct is also
    * never null at the top level, so no row is ever ignored the way a bare
    * null min_by ordering key would be. */
  def dedupeBy(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val row = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min(struct((order.map(col) :+ row.as("__row")): _*)).as("__m"))
      .select(col("__m.__row.*"))
  }

  /** The windowed reference form of [[dedupeBy]] (same total order, so the
    * two are value-identical — asserted by spec; kept as the semantic
    * definition). */
  private[graft] def dedupeByWindow(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val row = struct(df.columns.toIndexedSeq.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((order.map(c => col(c).asc) :+ row.asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming dedup by id, state bounded by the watermark (fixes the
    * reference's unbounded dedup state, SURVEY.md §2.6 D1). Caller must have
    * applied `withWatermark` on `c.ts` first.
    */
  def dedupeStream(df: DataFrame, c: Cols = transactionCols): DataFrame =
    df.dropDuplicatesWithinWatermark(Seq(c.id))

  /** Sliding event-time window spend per key
    * (CustomerSpendingAnalysis.scala:76-88 semantics, grouped by key only —
    * the per-transaction group key there is flagged test-only).
    *
    * Output: key, window_start, window_end (timestamps), total_spent.
    * Scale note: this is a hash aggregate that shuffles on (key, window) —
    * partial aggregation happens map-side, so the shuffle carries one row
    * per key per window per input partition, not per event.
    */
  def windowedSpend(
      df: DataFrame,
      c: Cols = transactionCols,
      windowDuration: String = "10 minutes",
      slideDuration: String = "5 minutes"): DataFrame =
    df.groupBy(window(col(c.ts), windowDuration, slideDuration), col(c.key))
      .agg(Exact.dsum(col(c.amount)).as("total_spent"))
      .select(
        col(c.key),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("total_spent"))

  /** Streaming variant: watermark -> dedup -> sliding window agg. */
  def windowedSpendStream(
      df: DataFrame,
      c: Cols = transactionCols,
      windowDuration: String = "10 minutes",
      slideDuration: String = "5 minutes",
      watermark: String = "5 minutes",
      dedup: Boolean = true): DataFrame = {
    val marked = df.withWatermark(c.ts, watermark)
    val deduped = if (dedup) dedupeStream(marked, c) else marked
    deduped
      .groupBy(window(col(c.ts), windowDuration, slideDuration), col(c.key))
      .agg(Exact.dsum(col(c.amount)).as("total_spent"))
      .select(
        col(c.key),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("total_spent"))
  }

  /** True daily totals per key from (deduplicated) events — the intended
    * semantics pinned by the reference's golden data
    * (CustomerSpendingIntegrationTest.scala:444-449), computed directly
    * rather than by re-summing overlapping windows (SURVEY.md §4.3-3).
    * Output: key, date (yyyy-MM-dd string), total_spent.
    */
  def dailySpend(df: DataFrame, c: Cols = transactionCols): DataFrame =
    df.groupBy(col(c.key), date_format(col(c.ts), "yyyy-MM-dd").as("transaction_date"))
      .agg(Exact.dsum(col(c.amount)).as("total_spent"))

  /** Streaming daily totals: 1-day tumbling window. The caller must have
    * applied `withWatermark(c.ts, ...)` already (a second application is an
    * AnalysisException under multi-stateful-operator watermark propagation).
    */
  def dailySpendStream(df: DataFrame, c: Cols = transactionCols): DataFrame =
    df.groupBy(window(col(c.ts), "1 day"), col(c.key))
      .agg(Exact.dsum(col(c.amount)).as("total_spent"))
      .select(
        col(c.key),
        date_format(col("window.start"), "yyyy-MM-dd").as("transaction_date"),
        col("total_spent"))
}
