package graft.perfbench

import java.nio.file.{Files, Path}

/** Small statistics and formatting helpers for the result line. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  /** A JSON number with every digit as measured (`null` when undefined). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Recorded per-cell result digests: `{"cell": {"rows": n, "sha256": "..."}}`. */
object Digests {
  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper()

  def load(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else mapper.readTree(Files.readString(p)).fields().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("sha256").asText())
    }.toMap
}
