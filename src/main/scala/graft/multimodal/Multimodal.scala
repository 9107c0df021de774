package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Q

/** one multimodal asset: opaque binary payload + typed metadata.
  * The decoded representation never lives in the table — only bytes
  * and metadata do; decode happens inside partition-local batches. */
case class MediaRecord(
    media_id: Long,
    content: Array[Byte],
    mime: String,
    width: Int,
    height: Int,
    duration_ms: Long)

/** deterministic stand-in for a decoded frame (see `decodeStub`). */
case class DecodedFrame(
    media_id: Long,
    frame_idx: Int,
    width: Int,
    height: Int,
    mean_intensity: Double)

/** Multimodal columns for a training-data pipeline: image/audio/video
  * as opaque `BinaryType` columns with typed metadata, processed by
  * partition-local batch decoders.
  *
  * The actual codec step is STUBBED (`decodeStub` — no image/audio
  * libraries in this environment): it derives deterministic fake
  * pixels from the payload bytes. Everything around it is the real
  * Spark shape: schema, `mapPartitions` iterator-to-iterator batch
  * decode (the JVM analog of a vectorized Python UDF: amortize codec
  * init per partition, stream batches, never materialize a partition
  * in memory), frame-offset expansion with `sequence`+`explode`, and
  * byte-level metadata derivation as codegen'd expressions.
  *
  * Scale notes: payloads stay opaque until the last moment, so scans
  * prune to metadata columns unless pixels are needed; decode
  * parallelism is partition-count; oversized assets should be
  * repartitioned by `media_id` before decode to balance skew.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** build a media table from `documents` (text bytes as stand-in
    * payloads — the harness has no real assets; schema and plumbing
    * are what's under test). */
  def mediaFromDocuments(s: SparkSession, dir: String): DataFrame =
    Q.t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      concat(lit("image/fake-"), col("lang")).as("mime"),
      (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("width"),
      (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("height"),
      (col("n_chars") * 100).as("duration_ms"))

  /** byte-level metadata — pure codegen'd expressions, no decode. */
  def byteMetadata(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("content")).cast("long").as("n_bytes"),
      md5(col("content")).as("content_md5"),
      col("mime"), col("width"), col("height"))

  /** STUB decoder: a real implementation would invoke an image codec
    * here (e.g. via JNI/TwelveMonkeys); this derives a deterministic
    * "mean intensity" from the raw bytes so the pipeline shape is
    * testable end-to-end. Partition-local: one "codec init" per
    * partition, iterator-to-iterator (no materialization). */
  def decodeStub(media: Dataset[MediaRecord]): Dataset[DecodedFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // codec initialization would happen once per partition here
      it.map { m =>
        val bytes = Option(m.content).getOrElse(Array.emptyByteArray)
        val mean =
          if (bytes.isEmpty) 0.0
          else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
        DecodedFrame(m.media_id, 0, m.width, m.height, mean)
      }
    }
  }

  /** resize plumbing: metadata transform + (stub) pixel transform —
    * the pixel step would run inside the same partition-local batch
    * as `decodeStub`. */
  def resizeStub(frames: Dataset[DecodedFrame], maxDim: Int): Dataset[DecodedFrame] = {
    import frames.sparkSession.implicits._
    frames.map { f =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(f.width, f.height))
      f.copy(width = math.max(1, (f.width * scale).toInt),
        height = math.max(1, (f.height * scale).toInt))
    }
  }

  /** frame sampling: expand each asset into capped 1-fps frame
    * offsets — `sequence` + `explode`, no decode needed to plan. */
  def frameOffsets(media: DataFrame, maxFrames: Int = 5): DataFrame =
    media.select(col("media_id"), col("duration_ms"),
      explode(sequence(lit(0L),
        least(floor(col("duration_ms") / 1000), lit(maxFrames.toLong - 1)),
        lit(1L))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * 1000).as("frame_ts_ms"))
}
