package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives as pure Catalyst expressions (no UDFs):
  * codegen'd expressions and built-in array functions stay inside the
  * optimized expression tree, so vector math runs without serialization
  * overhead and survives whole-stage codegen boundaries.
  *
  * All arithmetic is double-precision and index-ordered, which makes results
  * deterministic across engines (validated bit-identical against DuckDB's
  * list_dot_product) — at 100 TB, nondeterministic float reductions make
  * dedup/top-k results unreproducible, so ordering is a design requirement,
  * not a test convenience.
  */
object Vectors {

  import org.apache.spark.sql.graft.ColumnBridge

  /** Index-ordered dot product of two float/double array columns, backed by
    * the codegen'd [[DotProduct]] expression (bit-identical to the
    * interpreted `aggregate(zip_with(...))` form, ~100x faster per pair). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, recomputing both norms (one-off use). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine given precomputed norms — the form every scale path should use:
    * norm is computed once per corpus row, not once per candidate pair. */
  def cosinePrenormed(a: Column, normA: Column, b: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  // ------------------------------------------------ int8 quantization
  // Storage-scale lever: a 100 TB float corpus stores 4x smaller as int8 +
  // one scale per vector, and cosine on the dequantized vectors tracks the
  // original closely (error bound spec'd). Symmetric per-vector scheme
  // (FAISS SQ8-style): scale = max|x|/127, q_i = round(x_i/scale).

  /** Per-vector quantization scale (epsilon-floored so all-zero vectors
    * quantize to zeros instead of dividing by zero). */
  def quantScale(a: Column): Column =
    greatest(array_max(transform(a, x => abs(x.cast("double")))), lit(1e-30)) / lit(127.0)

  /** Quantize to int8-range ints given a [[quantScale]] scale. */
  def quantizeInt8(a: Column, scale: Column): Column =
    transform(a, x => round(x.cast("double") / scale).cast("int"))

  /** Dequantize back to doubles. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Squared L2 distance (monotone with L2; avoids the sqrt per pair),
    * backed by the codegen'd [[L2Squared]] expression — bit-identical to
    * the interpreted `aggregate(zip_with(...))` fold, no per-element
    * allocation. */
  def l2Squared(a: Column, b: Column): Column =
    ColumnBridge.column(
      L2Squared(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
