package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 60-bit SimHash of a token array: per-bit majority vote over md5-derived
  * token hashes, folded in one pass.
  *
  * The token hash is the first 15 hex digits (60 bits) of md5(token) — an
  * engine-portable definition (DuckDB: `CAST('0x'||substr(md5(t),1,15) AS
  * UBIGINT)`), so SimHash dedup is checkable against an external SQL
  * oracle, unlike an xxhash64-based variant. Value-identical to the column
  * formulation `conv(substr(md5(t),1,15),16,10)` + 60 per-bit vote folds
  * (the specs' `Twins.simhashHof`), but one O(tokens) loop per row.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash needs array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(arr.getUTF8String(i).getBytes)
      val d = md.digest()
      // first 60 bits of the digest, big-endian (== first 15 hex digits)
      var u = 0L
      var bi = 0
      while (bi < 8) { u = (u << 8) | (d(bi) & 0xffL); bi += 1 }
      val h = u >>> 4
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}
