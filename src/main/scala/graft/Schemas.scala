package graft

import org.apache.spark.sql.types._

/** Canonical schemas for the transaction stream.
  *
  * The reference declares two divergent schemas — a 7-field canonical one
  * (/root/reference/src/main/scala/com/example/kafka/CustomerSpendingAnalysis.scala:21-28)
  * and an 8-field variant that drops `merchant_id` and adds
  * `currency`/`category` (CustomerSpendingAnalysisTrail.scala:15-23). This
  * engine uses one superset schema with the variant fields nullable, so both
  * payload shapes parse with a single source of truth.
  */
object Schemas {

  /** Superset transaction schema (7 canonical + 2 optional variant fields). */
  val transaction: StructType = StructType(Seq(
    StructField("transaction_id", StringType, nullable = false),
    // produced as a JSON number; from_json coerces number -> string
    StructField("customer_id", StringType, nullable = true),
    StructField("merchant_id", IntegerType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("amount", DoubleType, nullable = true),
    StructField("payment_method", StringType, nullable = true),
    StructField("status", StringType, nullable = true),
    StructField("currency", StringType, nullable = true),
    StructField("category", StringType, nullable = true)
  ))

  /** Schema of the `events` harness table (the stream analog). */
  val event: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)
  ))

  /** Schema of the JSON `props` payload carried by `events`. */
  val eventProps: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = true)
  ))
}
