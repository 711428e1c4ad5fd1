package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary`
  * columns with a typed metadata struct. The Spark-side mechanics — schema
  * and binary ingest — are real and tested; the decode is a DETERMINISTIC
  * FAKE (graft depends on no image/audio libraries).
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("byte_size", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a source column into (media binary, meta struct). */
  def ingest(df: DataFrame, idCol: String, payload: Column, mediaType: String): DataFrame =
    df.select(
      col(idCol),
      payload.cast(BinaryType).as("media"),
      struct(
        lit(mediaType).as("media_type"),
        octet_length(payload.cast(BinaryType)).cast(LongType).as("byte_size"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))

  /** FAKE DECODE (stand-in for an image codec): a meta struct with plausible
    * dimensions derived from the byte size — a pure function of the payload,
    * so tests and oracles reproduce it. Real impl: decode header bytes. */
  def decodeImageMeta(media: Column, meta: Column): Column = {
    val size = meta.getField("byte_size")
    struct(
      meta.getField("media_type").as("media_type"),
      size.as("byte_size"),
      ((size * 37L) % 1920L + 16L).cast(IntegerType).as("width"),
      ((size * 91L) % 1080L + 16L).cast(IntegerType).as("height"),
      meta.getField("duration_ms").as("duration_ms"))
  }
}
