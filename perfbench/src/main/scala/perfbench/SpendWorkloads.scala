package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.{Ingest, Spend}
import graft.sources.DataGen
import graft.streaming.SpendingPipeline
import graft.streaming.SpendingPipeline.{Config, Sink, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, struct, to_json}

/** The transaction payloads a spend workload delivers, in delivery order.
  * `late(i)` marks the planted late events: they carry event times two days
  * before the stream starts, so the watermark drops them whatever the batch
  * boundaries are, as long as they arrive after the first micro-batch. */
final case class Pool(lines: Array[String], late: Array[Boolean])

object Pool {
  /** Share of events re-sent as exact duplicates, and how many positions
    * later at most: far inside the 5-minute watermark (3,000 events of event
    * time at the generator's 10 events/s), so dedup state always holds the
    * original. */
  val resendShare = 0.02
  val resendWithin = 200
  val lateShare = 0.005

  /** `n` generated events plus the planted re-sends and, when `withLate`,
    * late events placed anywhere after the first `lateAfter` positions. */
  def generate(spark: SparkSession, n: Int, seed: Long, withLate: Boolean, lateAfter: Int): Pool = {
    val base = DataGen.transactionsJson(spark, n.toLong, seed).collect().map(_.getString(0))
    val rnd = new scala.util.Random(seed)
    val keyed = ArrayBuffer[(Double, String, Boolean)]()
    base.indices.foreach { i =>
      keyed += ((i.toDouble, base(i), false))
      if (rnd.nextDouble() < resendShare)
        keyed += ((i + 1 + rnd.nextInt(resendWithin) + 0.5, base(i), false))
    }
    if (withLate) {
      val nLate = (n * lateShare).toInt
      val twoDaysBefore = 1704067200L - 2 * 86400
      DataGen.transactions(spark, nLate.toLong, seed + 7919, startEpoch = twoDaysBefore)
        .select(to_json(struct(col("*")))).collect().map(_.getString(0))
        .foreach(l => keyed += ((lateAfter + rnd.nextDouble() * (n - lateAfter), l, true)))
    }
    val sorted = keyed.sortBy(_._1)
    Pool(sorted.map(_._2).toArray, sorted.map(_._3).toArray)
  }
}

/** Daily totals computed without Spark: each payload is decoded with
  * Jackson, duplicates collapse on `transaction_id`, and amounts are summed
  * as 2-dp decimals per (customer, UTC date), exactly as the engine's
  * decimal sum does before it casts to double. */
object Reference {
  private val json = new ObjectMapper()

  def dailyTotals(lines: Iterator[String]): Seq[Seq[Any]] = {
    val seen = new java.util.HashSet[String]()
    val sums = scala.collection.mutable.HashMap[(String, String), BigDecimal]()
    lines.foreach { l =>
      val n = json.readTree(l)
      if (n.hasNonNull("transaction_id") && n.hasNonNull("timestamp") &&
          seen.add(n.get("transaction_id").asText)) {
        val key = (n.get("customer_id").asText, n.get("timestamp").asText.take(10))
        val amt = BigDecimal(n.get("amount").asText).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        sums(key) = sums.getOrElse(key, BigDecimal(0)) + amt
      }
    }
    sums.toSeq.map { case ((c, d), v) => Seq(c, d, v.toDouble) }
  }
}

/** The canonical streaming pipeline fed by one generator thread. */
final class StreamWorkload(ctx: Ctx, pool: Pool) {
  import StreamWorkload._
  private val spark = ctx.spark

  /** Each append is spread over two partitions per core, so one append
    * is one micro-batch whose parsing still runs on every core. */
  private def source(): MemoryStream[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[String](2 * ctx.cores)
  }

  private def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json().trim.toLong

  /** One measured run: a primer batch sets the watermark, then repeated
    * drains of a fixed backlog for `drainSeconds`, then an open loop at
    * [[steadyRate]] for `steadySeconds` (none when it is 0). The drain
    * phase stops early when the pool runs short of events for the steady
    * phase. */
  def run(tag: String, drainSeconds: Double, steadySeconds: Double, parent: String,
      minDrains: Int = minDrains, check: Boolean = true): Map[String, Any] = {
    val ms = source()
    val table = s"perfbench_daily_$tag"
    val q = SpendingPipeline.run(spark, Source.Raw(ms.toDF()), Sink.Memory(table),
      Config(checkpointDir = s"${ctx.work}/checkpoints/$tag"))
    val chunkLog = ArrayBuffer[Seq[Any]]() // due, sent, offset, events
    val drains = ArrayBuffer[Map[String, Any]]()
    var pos = 0
    try {
      ctx.spans("stream.primer", parent) { _ =>
        ms.addData(pool.lines.take(primer).toIndexedSeq); pos = primer
        q.processAllAvailable()
      }
      val interval = steadySeconds * 1000.0 / steadyChunks
      val chunkEvents = math.max(1, math.round(steadyRate * interval / 1000.0).toInt)
      val steadyNeed = if (steadySeconds > 0) chunkEvents * steadyChunks else 0
      ctx.spans("stream.drain", parent) { phase =>
        val t0 = System.nanoTime()
        while ((drains.size < minDrains || (System.nanoTime() - t0) / 1e9 < drainSeconds) &&
            pos + backlog + steadyNeed <= pool.lines.length) {
          ctx.spans(s"drain[${drains.size}]", phase) { _ =>
            val from = pos
            val s0 = System.nanoTime()
            ms.addData(pool.lines.slice(from, from + backlog).toIndexedSeq)
            q.processAllAvailable()
            drains += Map("events" -> backlog, "seconds" -> (System.nanoTime() - s0) / 1e9)
            pos = from + backlog
          }
        }
      }
      val nSteady = if (steadySeconds > 0) steadyChunks else 0
      ctx.spans("stream.steady", parent) { _ =>
        val start = Clock.ms() + 5.0
        (0 until nSteady).foreach { i =>
          val due = start + i * interval
          while (Clock.ms() < due) java.util.concurrent.locks.LockSupport.parkNanos(100000L)
          val sent = Clock.ms()
          val off = offsetOf(ms.addData(pool.lines.slice(pos, pos + chunkEvents).toIndexedSeq))
          chunkLog += Seq(due, sent, off, chunkEvents)
          pos += chunkEvents
        }
      }
      q.processAllAvailable()
      val rows = if (!check) Array.empty[((String, String), Double)] else spark.table(table).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      // update mode appends a row per changed key per batch: the last one
      // written is the key's final total
      val last = scala.collection.mutable.LinkedHashMap[(String, String), Double]()
      rows.foreach { case (k, v) => last(k) = v }
      q.stop()
      ctx.batchLog.awaitTerminated(q.id)
      val delivered = pool.lines.indices.take(pos)
      val batches = ctx.batchLog.forQuery(q.id)
      Map(
        "drains" -> drains.toSeq, "chunks" -> chunkLog.toSeq,
        "steady_start_ms" -> chunkLog.headOption.map(_.head).getOrElse(0.0),
        "steady_end_ms" -> (chunkLog.headOption.map(_.head.asInstanceOf[Double]).getOrElse(0.0) +
          steadyChunks * interval),
        "batches" -> batches,
        "output" -> last.toSeq.map { case ((c, d), v) => Seq(c, d, v) },
        "expected" -> (if (!check) Nil
          else Reference.dailyTotals(delivered.iterator.filterNot(pool.late).map(pool.lines))),
        "late_delivered" -> delivered.count(pool.late),
        "dropped_by_watermark" -> batches.map(_("dropped").asInstanceOf[Long]).sum,
        "delivered" -> pos)
    } finally if (q.isActive) q.stop()
  }

  /** Drain throughput of the parse prefix alone (`SpendingPipeline.transactions`
    * into a no-op sink). */
  def parseDrains(n: Int): Seq[Map[String, Any]] = {
    val ms = source()
    val q = SpendingPipeline.transactions(spark, Source.Raw(ms.toDF()))
      .writeStream.format("noop").queryName("perfbench_parse")
      .option("checkpointLocation", s"${ctx.work}/checkpoints/parse").start()
    try {
      ms.addData(pool.lines.take(primer).toIndexedSeq)
      q.processAllAvailable()
      (0 until n).map { i =>
        val from = primer + i * backlog
        val s0 = System.nanoTime()
        ms.addData(pool.lines.slice(from, from + backlog).toIndexedSeq)
        q.processAllAvailable()
        Map("events" -> backlog, "seconds" -> (System.nanoTime() - s0) / 1e9)
      }
    } finally q.stop()
  }
}

object StreamWorkload {
  val primer = 4000
  val backlog = 25000
  val minDrains = 3
  val maxDrains = 8
  /** Open-loop input rate, events/s, fixed and low: the latency measured
    * here is set by the per-batch fixed cost. The drain rate on a 4-core
    * x86 box is 13k-20k events/s. At half of it (12k events/s) the backlog
    * grew for the whole steady phase. At 5k and 2.5k events/s a batch's
    * rows still made up enough of its time that runs a few percent slower
    * on drains were up to 40% slower on latency. */
  val steadyRate = 1000.0
  /** Chunks sent in the steady phase: enough that the p95 latency has at
    * least ten samples beyond it. */
  val steadyChunks = 250
  /** Share of `--seconds` spent in the steady phase; the drains take the
    * rest, and at least three drains always run. */
  val steadyShare = 0.5

  def poolSize(steadySeconds: Double): Int =
    primer + maxDrains * backlog + (steadyRate * steadySeconds).toInt + steadyChunks
}

/** The same computation as one batch job over a JSON-lines file. */
final class BulkWorkload(ctx: Ctx, path: String) {
  private val spark = ctx.spark
  private def text: DataFrame = spark.read.text(path)
  def parsed: DataFrame = Ingest.wellFormed(Ingest.parseTransactions(text))
  def deduped: DataFrame = Spend.dedupe(parsed)
  def daily: DataFrame = Spend.dailySpend(deduped)

  def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def output: Seq[Seq[Any]] =
    daily.collect().toSeq.map(r => Seq(r.getString(0), r.getString(1), r.getDouble(2)))
}

object BulkWorkload {
  val events = 200000

  def writeInput(pool: Pool, path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    try pool.lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def expected(path: String): Seq[Seq[Any]] = {
    val src = scala.io.Source.fromFile(path)
    try Reference.dailyTotals(src.getLines()) finally src.close()
  }
}
