package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with a
  * typed metadata struct. The Spark-side plumbing — schema, partitioning,
  * batch shape, explode semantics — is real and tested; the actual codec
  * work is STUBBED deterministically (media libraries are not in this
  * container). Each stub is marked; a production deployment swaps the stub
  * body for the codec call without touching the pipeline shape.
  */
object Multimodal {

  /** media(media_id long, kind string, bytes binary,
    *       meta struct(width int, height int, format string, duration_ms long)) */
  final case class MediaMeta(width: Int, height: Int, format: String, duration_ms: Long)
  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)

  private val kinds = Seq("image", "audio", "video")

  /** Deterministic fake media table derived from `documents` (text bytes as
    * the opaque payload) — exercises the real schema end-to-end. */
  def synthesizeFromDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(kinds.map(lit): _*), (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        .as("kind"),
      col("text").cast("binary").as("bytes"),
      struct(
        (pmod(col("doc_id"), lit(16)) * 64 + 256).cast("int").as("width"),
        (pmod(col("doc_id"), lit(9)) * 64 + 256).cast("int").as("height"),
        lit("raw").as("format"),
        (pmod(col("doc_id"), lit(30)) * 1000 + 1000).as("duration_ms")).as("meta"))

  /** STUB decode: derives `dim` pseudo-features in [0,1) from md5 slices of
    * the payload (12 hex digits = 48 bits, exact in a double). A real
    * deployment replaces the hash with the codec's feature extractor; the
    * signature, schema and per-row batch shape stay identical. */
  def decodeFeaturesStub(bytes: Column, dim: Int = 8): Column =
    array((0 until dim).map { j =>
      conv(substring(md5(concat(bytes, lit(s"/f$j").cast("binary"))), 1, 12), 16, 10)
        .cast("double") / lit(281474976710656.0) // 2^48
    }: _*)

  /** Feature extraction over the media table (scan-parallel, no shuffle). */
  def withFeatures(media: DataFrame, dim: Int = 8): DataFrame =
    media.withColumn("features", decodeFeaturesStub(col("bytes"), dim))

  /** Frame sampling for video rows: one output row per sampled frame at
    * `intervalMs`. explode() keeps this distributed — a 2-hour video fans
    * out to rows within its partition, no driver involvement. */
  def frameSample(media: DataFrame, intervalMs: Long = 1000L): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(intervalMs)))
          .as("frame_ts_ms"))
      .withColumn("frame_stub",
        md5(concat(col("media_id").cast("string"), lit("@"),
          col("frame_ts_ms").cast("string")).cast("binary")))

  /** STUB resize: rewrites metadata; payload untouched (codec call here). */
  def resizeStub(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("meta",
      struct(lit(w).as("width"), lit(h).as("height"),
        col("meta.format").as("format"), col("meta.duration_ms").as("duration_ms")))
}
