package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Bounded in-memory capture of streaming progress — the observability
  * surface a long-running pipeline needs: per-micro-batch input volume and
  * rate, state-store rows/bytes (the watermark-eviction health signal the
  * scale soak graphs), the current event-time watermark, and the batch's
  * time split into trigger, sink, WAL, commit and state-commit layers.
  *
  * Attach once per session ([[attach]]); every query's progress lands in
  * one bounded ring (oldest batches evicted past `maxBatches`, so a
  * months-long run holds constant memory). Read as a DataFrame ([[toDF]])
  * to alert on it with the same engine that runs the pipeline — e.g.
  * `monitor.toDF(spark).filter($"state_rows" > bound)` as a state-growth
  * alarm, or join against expected-throughput reference data.
  *
  * The driver-side footprint is `maxBatches` small records — no executor
  * cost; the listener bus delivers events asynchronously, so [[batches]]
  * immediately after `processAllAvailable()` may trail by a beat (tests
  * spin briefly; production readers don't care).
  */
class Monitor(maxBatches: Int = 256) extends StreamingQueryListener {
  import Monitor.Batch

  private val buf = new java.util.concurrent.ConcurrentLinkedDeque[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val so = p.stateOperators
    def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    record(Batch(
      query_name = Option(p.name).getOrElse(""),
      batch_id = p.batchId,
      timestamp = p.timestamp,
      input_rows = p.numInputRows,
      rows_per_sec = p.inputRowsPerSecond,
      state_rows = if (so == null) 0L else so.map(_.numRowsTotal).sum,
      state_bytes = if (so == null) 0L else so.map(_.memoryUsedBytes).sum,
      watermark = Option(p.eventTime.get("watermark")).getOrElse(""),
      trigger_ms = ms("triggerExecution"),
      add_batch_ms = ms("addBatch"),
      wal_commit_ms = ms("walCommit"),
      commit_offsets_ms = ms("commitOffsets"),
      state_commit_ms = if (so == null) 0L else so.map(_.commitTimeMs).sum))
  }

  private[streaming] def record(b: Batch): Unit = {
    buf.addLast(b)
    while (buf.size() > maxBatches) buf.pollFirst()
  }

  /** Oldest-first snapshot of the retained batches. */
  def batches: Seq[Batch] = {
    val it = buf.iterator()
    val b = Seq.newBuilder[Batch]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** The retained progress as a DataFrame (one row per micro-batch). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    batches.toDF()
  }

  /** The state-growth alarm from the class doc as a first-class helper:
    * queries whose state-store row count grew on EVERY one of their last
    * `lookback` recorded batches — the monotone climb a broken or missing
    * watermark produces (a healthy stateful pipeline plateaus or dips as
    * eviction fires). A fixed row bound can't express this — a big
    * pipeline has big-but-flat state; the TREND is the signal. Returns
    * `(query_name, batches, from_rows, to_rows)`, empty = healthy; queries
    * with fewer than `lookback` recorded batches are never flagged (too
    * little evidence — every pipeline's first batches grow from zero).
    * `lookback` recorded batches give `lookback - 1` real comparisons; the
    * window's oldest batch has no predecessor and is never counted as
    * growth — every observed step must grow for the alarm to fire. */
  def stateGrowthAlarm(spark: SparkSession, lookback: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(lookback >= 2, s"lookback must be >= 2 batches, got $lookback")
    val byQuery = Window.partitionBy(col("query_name"))
    val recent = toDF(spark)
      .withColumn("rn", row_number().over(byQuery.orderBy(col("batch_id").desc)))
      .filter(col("rn") <= lookback)
      .withColumn("prev_rows",
        lag(col("state_rows"), 1).over(byQuery.orderBy(col("batch_id"))))
    recent.groupBy(col("query_name")).agg(
        count(lit(1)).as("batches"),
        min(col("state_rows")).as("from_rows"),
        max(col("state_rows")).as("to_rows"),
        // only real comparisons count: the oldest batch in the window has
        // prev_rows null and must not be scored as growth
        sum(when(col("prev_rows").isNotNull && col("state_rows") > col("prev_rows"), 1)
          .otherwise(0)).as("grew"))
      .filter(col("batches") === lookback && col("grew") === col("batches") - 1)
      .select(col("query_name"), col("batches"), col("from_rows"), col("to_rows"))
  }

  def attach(spark: SparkSession): this.type = {
    spark.streams.addListener(this); this
  }

  def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
}

object Monitor {
  /** One micro-batch's health record. `rows_per_sec` is NaN on the first
    * batch (Spark reports no elapsed interval yet). The `*_ms` fields say
    * where the batch's time went: the whole trigger, the sink write
    * (`addBatch`), the offset-log (WAL) and commit-log writes from
    * `progress.durationMs` (0 when Spark reports no such phase), and
    * `state_commit_ms`, the state-store commit time summed over the
    * stateful operators. */
  case class Batch(
      query_name: String,
      batch_id: Long,
      timestamp: String,
      input_rows: Long,
      rows_per_sec: Double,
      state_rows: Long,
      state_bytes: Long,
      watermark: String,
      trigger_ms: Long,
      add_batch_ms: Long,
      wal_commit_ms: Long,
      commit_offsets_ms: Long,
      state_commit_ms: Long)
}
