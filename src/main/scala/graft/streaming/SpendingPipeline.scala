package graft.streaming

import graft.operators.{Ingest, Spend}
import graft.sinks.Sinks
import graft.sources.DataGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** The end-to-end streaming pipeline: source -> parse -> dedup -> windowed
  * spend -> daily rollup -> sink. This is the engine's equivalent of the
  * reference's CustomerSpendingAnalysis.main
  * (/root/reference/src/main/scala/com/example/kafka/CustomerSpendingAnalysis.scala:186-220),
  * with the SURVEY.md §4.3 fixes: watermark-bounded dedup state, true daily
  * totals, an idempotent upsert sink, and a checkpointLocation on every
  * query (the reference sets none — no recovery).
  *
  * Sources and sinks are data (case classes), not live connections, so the
  * whole pipeline compiles and unit-tests offline; the Kafka path emits the
  * same options the built-in `kafka` source takes and activates when the
  * connector jar is on the runtime classpath.
  */
object SpendingPipeline {

  sealed trait Source
  object Source {
    /** Kafka topic subscription (S1-S3). `maxOffsetsPerTrigger` is the real
      * backpressure control (the reference sets a legacy DStream flag that is
      * a no-op for Structured Streaming — SURVEY.md §2.7 T9). */
    final case class Kafka(
        bootstrapServers: String,
        topic: String,
        startingOffsets: String = "earliest",
        maxOffsetsPerTrigger: Option[Long] = None) extends Source
    /** Newline-delimited JSON files under a directory. */
    final case class JsonFiles(path: String) extends Source
    /** Deterministic synthetic stream (replaces the reference producer). */
    final case class Synthetic(rowsPerSecond: Long, seed: Long = 42L) extends Source
    /** A pre-built raw streaming DataFrame with a `value` column
      * (MemoryStream in tests). */
    final case class Raw(df: DataFrame) extends Source
  }

  sealed trait Sink
  object Sink {
    final case class Memory(queryName: String) extends Sink
    final case class Console(numRows: Int = 20) extends Sink
    final case class Parquet(path: String) extends Sink
    /** Idempotent JDBC upsert on `keyCols` via foreachBatch (K1/K2 fixed). */
    final case class JdbcUpsert(jdbc: Sinks.Jdbc, keyCols: Seq[String]) extends Sink
    /** Arbitrary per-micro-batch callback (K5 generalization). */
    final case class Foreach(f: (DataFrame, Long) => Unit) extends Sink
    /** Kafka producer sink (K6): rows are JSON-encoded into `value`. */
    final case class Kafka(bootstrapServers: String, topic: String) extends Sink
  }

  final case class Config(
      window: String = "10 minutes",
      slide: String = "5 minutes",
      watermark: String = "5 minutes",
      checkpointDir: String = sys.props("java.io.tmpdir") +
        "/graft-ckpt-" + java.util.UUID.randomUUID().toString,
      trigger: Option[Trigger] = None,
      outputMode: String = "update")

  /** Raw rows (with a `value` column) from a source description. */
  def readRaw(spark: SparkSession, source: Source): DataFrame = source match {
    case Source.Kafka(servers, topic, offsets, maxOffsets) =>
      val r = spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", offsets)
        .option("failOnDataLoss", "false")
      maxOffsets.foreach(n => r.option("maxOffsetsPerTrigger", n.toString))
      r.load()
    case Source.JsonFiles(path) =>
      spark.readStream.text(path) // text source yields a `value` column
    case Source.Synthetic(rps, seed) =>
      DataGen.stream(spark, rps, seed)
    case Source.Raw(df) => df
  }

  /** Parsed transaction stream from a source description. */
  def transactions(spark: SparkSession, source: Source): DataFrame =
    Ingest.parseTransactions(readRaw(spark, source))

  /** Sliding-window spend per customer (the canonical aggregate). */
  def windowedSpend(spark: SparkSession, source: Source, conf: Config = Config()): DataFrame =
    Spend.windowedSpendStream(
      transactions(spark, source), Spend.transactionCols,
      conf.window, conf.slide, conf.watermark)

  /** Daily totals per customer (1-day tumbling window under watermark). */
  def dailySpend(spark: SparkSession, source: Source, conf: Config = Config()): DataFrame = {
    val tx = transactions(spark, source)
    val marked = tx.withWatermark("timestamp", conf.watermark)
    Spend.dailySpendStream(Spend.dedupeStream(marked, Spend.transactionCols),
      Spend.transactionCols)
  }

  /** Start `df` into `sink`; always sets a checkpointLocation. */
  def start(df: DataFrame, sink: Sink, conf: Config = Config(), name: String = "graft"): StreamingQuery = {
    // FileStreamSink only supports append; honoring conf.outputMode there
    // would throw at start()
    val mode = sink match {
      case _: Sink.Parquet => "append"
      case _ => conf.outputMode
    }
    val w0: DataStreamWriter[Row] = df.writeStream
      .outputMode(mode)
      .queryName(name)
      .option("checkpointLocation", s"${conf.checkpointDir}/$name")
    val w1 = conf.trigger.fold(w0)(w0.trigger)
    (sink match {
      case Sink.Memory(q) => w1.format("memory").queryName(q)
      case Sink.Console(n) => w1.format("console").option("numRows", n.toString)
      case Sink.Parquet(path) => w1.format("parquet").option("path", path)
      case Sink.JdbcUpsert(jdbc, keys) =>
        w1.foreachBatch { (batch: DataFrame, _: Long) =>
          val values = batch.columns.filterNot(keys.contains).toSeq
          Sinks.upsert(batch, jdbc, keys, values)
        }
      case Sink.Foreach(f) =>
        w1.foreachBatch { (batch: DataFrame, id: Long) => f(batch, id) }
      case Sink.Kafka(servers, topic) =>
        w1.foreachBatch { (batch: DataFrame, _: Long) =>
          import org.apache.spark.sql.functions.{struct, to_json, col}
          batch.select(to_json(struct(col("*"))).as("value"))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("topic", topic)
            .save()
        }
    }).start()
  }

  /** Full canonical pipeline: source -> daily totals -> sink. */
  def run(spark: SparkSession, source: Source, sink: Sink, conf: Config = Config()): StreamingQuery =
    start(dailySpend(spark, source, conf), sink, conf, name = "daily_spend")
}
