package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support.
  *
  * Media is carried as an opaque `binary` column plus a typed metadata
  * struct derived without decoding (this engine ships no image/audio
  * codecs); frame sampling is offset arithmetic over the payload.
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
