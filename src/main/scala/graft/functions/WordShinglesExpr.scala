package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a token array, in one pass.
  *
  * Value-identical to the column formulation
  * `when(size(toks) >= n, array_distinct(transform(sequence(0, size-n),
  * i => array_join(slice(toks, i+1, n), " "))))` (the specs' `Twins.wordShinglesHof` —
  * the agreement is spec-pinned), including first-occurrence order and the
  * null result for docs shorter than `n` tokens. The HOF form interprets
  * its lambda per element and copies each length-`n` slice — O(tokens x n)
  * allocations per document and the dominant cost of every shingle-based
  * operator (minhash, n-gram dedup, decontamination); this loop builds each
  * shingle with one byte-copy concat and dedups through a hash set.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingles needs array<string>, got $t")
  }

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return null // matches the HOF's when(size >= n) guard
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    // LinkedHashSet: dedup preserving first occurrence, like array_distinct
    val out = new java.util.LinkedHashSet[UTF8String](len * 2)
    // null tokens are SKIPPED inside a shingle (array_join semantics — the
    // HOF reference emits "a" for window [a, null], "" for all-null), so
    // the window assembles only present tokens with single separators
    val pieces = new Array[UTF8String](2 * n - 1)
    i = 0
    while (i <= len - n) {
      var m = 0
      var k = 0
      while (k < n) {
        val t = toks(i + k)
        if (t != null) {
          if (m > 0) { pieces(m) = sep; m += 1 }
          pieces(m) = t; m += 1
        }
        k += 1
      }
      // common no-null path fills every slot — concat copies synchronously,
      // so the reused array is safe to pass directly
      out.add(
        if (m == pieces.length) UTF8String.concat(pieces: _*)
        else UTF8String.concat(java.util.Arrays.copyOf(pieces, m): _*))
      i += 1
    }
    val res = new Array[AnyRef](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}
