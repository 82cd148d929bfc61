package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Pareto-frontier (skyline) queries: the rows no other row dominates.
  *
  * Design (reference computes only flat aggregates — this is capability the
  * engine adds for catalog/curation work, e.g. "cheapest part at every size
  * tier"): the 2D skyline has a sort-based O(n log n) form — order by the
  * minimized column, and a row survives iff no predecessor carries an equal-
  * or-better maximized value. The global pass expresses that as two
  * range-frame window maxes, never the quadratic dominance join the textbook
  * NOT-EXISTS formulation implies (the DuckDB oracle runs exactly that
  * quadratic form, which is what makes it an independent check).
  *
  * Scale shape — the divide-and-prune skyline plan: before the global pass,
  * each input partition is pruned IN PLACE (`sortWithinPartitions` + one
  * streaming pass holding two scalars of state — no exchange of any kind;
  * the windowed formulation of the same prune would hash-shuffle the whole
  * fact table just to group by partition id, measured at the full input
  * size in the 10M-point soak). Local dominance implies global dominance,
  * so the prune is lossless, and a random-order partition keeps only
  * O(log n) expected frontier points — the global range-partitioned sort
  * then sees roughly |frontier| x partitions rows, not n. This is one of
  * the few operators where `mapPartitions` beats every declarative
  * encoding: the semantics ARE per-partition-streaming with constant state.
  */
object Skyline {

  /** Rows of `df` not dominated under (minimize `minCol`, maximize
    * `maxCol`): B is dominated iff some A has `A.min <= B.min` and
    * `A.max >= B.max` with at least one strict. Ties that are equal on
    * BOTH columns dominate neither way — all such duplicates survive.
    * Both columns must be non-null integral numerics.
    */
  def frontier2d(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pruned = localPrune(df, minCol, maxCol)
    // global pass over the pruned remainder: one range-partitioned sort
    val strictlyBelow = Window.orderBy(col(minCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    val equalCost = Window.orderBy(col(minCol))
      .rangeBetween(Window.currentRow, Window.currentRow)
    pruned
      .withColumn("__sky_lt", max(col(maxCol)).over(strictlyBelow))
      .withColumn("__sky_eq", max(col(maxCol)).over(equalCost))
      .filter((col("__sky_lt").isNull || col("__sky_lt") < col(maxCol)) &&
        col("__sky_eq") === col(maxCol))
      .drop("__sky_lt", "__sky_eq")
  }

  /** Shuffle-free partition-local dominance prune: sort each partition by
    * (min asc, max desc) without exchange, then stream it keeping a row iff
    * it tops its equal-`min` group (the group's first row under the desc
    * secondary sort) and beats the best `max` among strictly-cheaper groups
    * seen so far. Only removes rows the global pass would remove anyway. */
  private def localPrune(df: DataFrame, minCol: String,
      maxCol: String): DataFrame = {
    val schema = df.schema
    val iMin = schema.fieldIndex(minCol)
    val iMax = schema.fieldIndex(maxCol)
    val sorted = df.sortWithinPartitions(col(minCol).asc, col(maxCol).desc)
    sorted.mapPartitions { it =>
      var strictMax = Long.MinValue  // best max among groups with smaller min
      var curMin = 0L
      var curGroupMax = 0L
      var inGroup = false
      it.flatMap { row =>
        val mn = row.getAs[Number](iMin).longValue
        val mx = row.getAs[Number](iMax).longValue
        if (!inGroup || mn != curMin) {
          // entering a new min-group: the previous group's top becomes
          // part of the strictly-cheaper history
          if (inGroup) strictMax = math.max(strictMax, curGroupMax)
          curMin = mn
          curGroupMax = mx // first row of the group is its max (desc sort)
          inGroup = true
        }
        // survives locally iff it tops its group and beats all cheaper
        if (mx == curGroupMax && mx > strictMax) Some(row) else None
      }
    }(Encoders.row(schema))
  }
}
