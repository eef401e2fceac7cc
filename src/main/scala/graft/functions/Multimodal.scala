package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One multimodal asset: opaque payload + typed metadata. The engine treats
  * media as `BinaryType` + a metadata struct; real decoders plug in at the
  * `decodeBatch` seam.
  */
final case class MediaRow(
    media_id: Long,
    format: String,
    payload: Array[Byte])

/** Deterministic stand-in features for a decoded asset. */
final case class MediaFeatures(
    media_id: Long,
    format: String,
    n_bytes: Long,
    digest: String,
    mean_byte: Double,
    histogram4: Array[Long])

/** Multimodal (image/audio/video) column support.
  *
  * Media is carried as an opaque `binary` column plus a typed metadata
  * struct; decode / feature-extract runs per-partition in batch shape
  * (`mapPartitions` over `Dataset[MediaRow]` — the Scala analogue of a
  * batched pandas UDF: one iterator in, one iterator out, no per-row
  * serialization round-trips).
  *
  * NOTE: this container has no image/audio codecs, so `decodeBatch`'s
  * feature extraction is a clearly-marked DETERMINISTIC FAKE (byte
  * statistics standing in for pixel statistics). The Spark-side plumbing —
  * schema, batching, partition parallelism — is real and is what the tests
  * certify; a real decoder replaces only the `features` function body.
  */
object Multimodal {

  /** Metadata columns derivable without decoding: size, digest, sniffed kind. */
  def withMeta(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn(
      "media_meta",
      struct(
        length(col(payloadCol)).as("n_bytes"),
        sha2(col(payloadCol), 256).as("digest"),
        // magic-byte sniff (PNG/JPEG/RIFF), else unknown
        when(hex(substring(col(payloadCol), 1, 4)) === "89504E47", "png")
          .when(hex(substring(col(payloadCol), 1, 2)) === "FFD8", "jpeg")
          .when(hex(substring(col(payloadCol), 1, 4)) === "52494646", "riff")
          .otherwise("unknown")
          .as("sniffed")))

  /** FAKE decode: byte statistics in place of codec output. Deterministic. */
  private def features(r: MediaRow): MediaFeatures = {
    val bytes = r.payload
    val hist  = new Array[Long](4)
    var sum   = 0L
    var i     = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      hist(b >> 6) += 1
      sum += b
      i += 1
    }
    MediaFeatures(
      media_id = r.media_id,
      format = r.format,
      n_bytes = bytes.length.toLong,
      digest = java.security.MessageDigest
        .getInstance("SHA-256")
        .digest(bytes)
        .map("%02x".format(_))
        .mkString,
      mean_byte = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length,
      histogram4 = hist)
  }

  /** Batched decode: one partition = one batch; iterator-in/iterator-out so
    * a real codec can amortize per-batch setup (model load, JNI init).
    */
  def decodeBatch(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(features))
  }

  /** Frame sampling on an opaque payload: every `stride`-th byte window —
    * the plumbing shape of video frame-sampling (offset arithmetic + slice)
    * without a codec.
    */
  def sampleWindows(df: DataFrame, payloadCol: String, stride: Int, window: Int, nSamples: Int): DataFrame =
    df.withColumn(
      "samples",
      transform(
        sequence(lit(0), lit(nSamples - 1)),
        i => hex(substr(col(payloadCol), i * stride + 1, lit(window)))))
}
