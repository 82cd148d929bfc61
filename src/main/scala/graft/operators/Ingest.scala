package graft.operators

import graft.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Payload decoding: raw source rows -> typed transaction rows.
  *
  * Works identically on batch and streaming DataFrames (the plan is the
  * same; only the source differs). Mirrors the reference semantics of
  * cast -> from_json -> flatten
  * (/root/reference/src/main/scala/com/example/kafka/CustomerSpendingAnalysis.scala:39-42)
  * as one parse projection under the flatten (CollapseProject will not copy
  * `from_json` into each of the nine field reads). A filter on
  * parsed fields downstream ([[wellFormed]]) is pushed below that
  * projection with the `from_json` inlined, one copy per field, each pruned
  * to that field by OptimizeJsonExprs but each tokenizing the whole
  * payload. [[graft.plans.ParseJsonOnce]] plans such a filter back over the
  * single full parse, so each payload is parsed once per row.
  */
object Ingest {

  /** Decode a `value: binary|string` column (Kafka wire shape) into flat
    * transaction columns. Malformed JSON yields null fields (PERMISSIVE),
    * matching `from_json` defaults in the reference.
    */
  def parseTransactions(raw: DataFrame, schema: StructType = Schemas.transaction): DataFrame =
    raw
      .select(from_json(col("value").cast("string"), schema).alias("data"))
      .select("data.*")

  /** Drop rows whose required fields failed to parse. */
  def wellFormed(parsed: DataFrame): DataFrame =
    parsed.filter(col("transaction_id").isNotNull && col("timestamp").isNotNull)
}
