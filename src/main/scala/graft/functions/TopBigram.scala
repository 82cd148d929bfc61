package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Occurrence count of the most frequent adjacent-token bigram of a token
  * array, in one imperative pass (hash-count of the n-1 adjacent pairs —
  * O(n), no sort, no per-element Catalyst lambda dispatch).
  *
  * Value-identical to the higher-order-function definition
  * (the specs' `Twins.topBigramCountHof`: run-length fold over array_sort
  * of the concat_ws bigrams), the reference implementation asserted equal
  * by spec — same contract as
  * [[MinHashMd5]] / [[SimHash64]]. HOF folds are interpreted per element in
  * Spark 4, and the repetition metrics are a full-corpus scan in any
  * Gopher-style quality pipeline, so the fused form is the hot path.
  *
  * Null-element handling mirrors concat_ws (nulls are skipped, so a bigram
  * with a null side degenerates to the other side); a null ARRAY yields
  * null — callers wanting the HOF's 0-for-null-text behavior coalesce.
  */
case class TopBigramCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"top_bigram_count needs array<string>, got ${child.dataType}")
  }

  override def nullable: Boolean = child.nullable

  private val Space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return 0L
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](
      Math.min(n * 2, 1 << 16))
    var best = 0L
    var prev = if (arr.isNullAt(0)) null else arr.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val cur = if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)
      val bg =
        if (prev == null && cur == null) UTF8String.EMPTY_UTF8
        else if (prev == null) cur
        else if (cur == null) prev
        else UTF8String.concat(prev, Space, cur)
      val seen = counts.get(bg)
      val c = if (seen == null) 1L else seen + 1L
      counts.put(bg, c)
      if (c > best) best = c
      prev = cur
      i += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression): TopBigramCount =
    copy(child = c)
}
