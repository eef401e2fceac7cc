package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Compares a `graft.Jobs` work directory against the generator's expected outputs:
  * every landing document's tick and autopilot-sample count, and every
  * Stationary and Autopilot day document, value for value. Returns one
  * line per mismatch (empty = correct).
  */
object CanCheck {

  private val mapper = new ObjectMapper()

  /** `device/name` (without `.json`) -> parsed document, for one doc tree. */
  private def docs(root: Path): Map[String, JsonNode] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith("."))
        .map { p =>
          val rel = root.relativize(p).toString.stripSuffix(".json")
          rel -> mapper.readTree(Files.readString(p))
        }
        .toMap
      finally s.close()
    }

  private def diffKeys[A, B](what: String, got: Map[String, A], want: Map[String, B]): Seq[String] =
    (got.keySet -- want.keySet).toSeq.sorted.map(k => s"$what: unexpected $k") ++
      (want.keySet -- got.keySet).toSeq.sorted.map(k => s"$what: missing $k")

  def landing(workDir: Path, exp: Truth.Expected): Seq[String] = {
    val got  = docs(workDir.resolve("landing_json"))
    val want = exp.landing
    diffKeys("landing", got, want) ++ want.toSeq.sortBy(_._1).flatMap { case (k, (n, a)) =>
      got.get(k).toSeq.flatMap { doc =>
        val gn = doc.path("speed").size()
        val ga = doc.path("ap_status").size()
        if (gn == n && ga == a) Nil
        else Seq(s"landing $k: speed/ap samples $gn/$ga, expected $n/$a")
      }
    }
  }

  def stationary(workDir: Path, exp: Truth.Expected): Seq[String] = {
    val got  = docs(workDir.resolve("events/Stationary"))
    val want = exp.stationary
    diffKeys("stationary", got, want) ++ want.toSeq.sortBy(_._1).flatMap { case (k, ivs) =>
      got.get(k).toSeq.flatMap { doc =>
        val g = doc.path("IMU-telematics").path("stationary-state").elements().asScala
          .map(n => (n.path("start").asDouble(), n.path("end").asDouble())).toSeq
        if (g == ivs) Nil else Seq(s"stationary $k: got $g, expected $ivs")
      }
    }
  }

  def autopilot(workDir: Path, exp: Truth.Expected): Seq[String] = {
    val got  = docs(workDir.resolve("events/Autopilot"))
    val want = exp.autopilot
    diffKeys("autopilot", got, want) ++ want.toSeq.sortBy(_._1).flatMap { case (k, byStatus) =>
      got.get(k).toSeq.flatMap { doc =>
        val aud = doc.path("auditory")
        val g = aud.fieldNames().asScala.map { s =>
          s -> aud.path(s).elements().asScala
            .map(n => (n.path("timestamp").asDouble(), n.path("canbus_state").asInt())).toSeq
        }.toMap
        if (g == byStatus) Nil else Seq(s"autopilot $k: got $g, expected $byStatus")
      }
    }
  }

  def all(workDir: Path, exp: Truth.Expected): Seq[String] =
    landing(workDir, exp) ++ stationary(workDir, exp) ++ autopilot(workDir, exp)
}
