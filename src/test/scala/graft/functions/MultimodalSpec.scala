package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Multimodal plumbing: metadata derivation, magic-byte sniffing, window
  * sampling shape.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val pngMagic  = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  private val jpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)

  test("withMeta sniffs formats from magic bytes and derives size/digest") {
    import spark.implicits._
    val df = Seq(
      (1L, pngMagic ++ Array[Byte](1, 2, 3)),
      (2L, jpegMagic ++ Array[Byte](9)),
      (3L, "RIFFxxxxWAVE".getBytes("ASCII")),
      (4L, Array[Byte](0, 1, 2)))
      .toDF("media_id", "payload")
    val got = Multimodal
      .withMeta(df, "payload")
      .select(col("media_id"), col("media_meta.sniffed"), col("media_meta.n_bytes"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    assert(got === Array((1L, "png", 11), (2L, "jpeg", 5), (3L, "riff", 12), (4L, "unknown", 3)))
  }

  test("sampleWindows: stride/window offsets over the opaque payload") {
    import spark.implicits._
    val payload = (0 until 64).map(_.toByte).toArray
    val df = Seq((1L, payload)).toDF("media_id", "payload")
    val got = Multimodal
      .sampleWindows(df, "payload", stride = 16, window = 2, nSamples = 3)
      .select("samples")
      .head()
      .getAs[scala.collection.Seq[String]](0)
    assert(got === Seq("0001", "1011", "2021"))
  }
}
