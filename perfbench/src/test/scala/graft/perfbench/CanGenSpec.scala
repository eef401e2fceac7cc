package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Jobs

class CanGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.GraftSession.local("2", 2)

  override def afterAll(): Unit = spark.stop()

  /** The regular files under `dir`. */
  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** relative path -> bytes of every file under `dir`. */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    files(dir).map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private val smallPlan = (seed: Long) => CanGen.plan(seed, 2, 2, 1, 2, 20)

  test("the generator is byte-identical for a given seed") {
    val a = Files.createTempDirectory("cangen-a")
    val b = Files.createTempDirectory("cangen-b")
    val c = Files.createTempDirectory("cangen-c")
    val ea = PerfBench.stagePlan(7L, smallPlan(7L), a)
    val eb = PerfBench.stagePlan(7L, smallPlan(7L), b)
    PerfBench.stagePlan(8L, smallPlan(8L), c)
    assert(contents(a).nonEmpty)
    assert(contents(a) == contents(b))
    assert(ea == eb)
    assert(contents(a) != contents(c), "another seed must give other inputs")
  }

  test("the truth covers noise, truncated tails, the invalid header and the late segment") {
    val dir  = Files.createTempDirectory("cangen-truth")
    val plan = smallPlan(3L)
    val exps = PerfBench.stagePlan(3L, plan, dir)
    assert(plan.head.exists(_.invalidHeader) && plan.head.exists(_.truncateTail) && plan.head.exists(_.noise))
    // the late segments add no tick: the landing counts only grow by the fresh segments
    val ticks = exps.map(_.landing.values.map(_._1).sum)
    val fresh = plan.tail.map(_.filterNot(_.name.startsWith("late")).map(_.durMs / 100).sum.toInt)
    assert(ticks.zip(ticks.tail).map { case (x, y) => y - x } == fresh)
    assert(exps.last.stationary.nonEmpty && exps.last.autopilot.nonEmpty)
  }

  test("the check accepts the pipeline's documents and rejects one interval shifted by 1 s") {
    val dir  = Files.createTempDirectory("cangen-jobs")
    val plan = smallPlan(5L)
    val exps = PerfBench.stagePlan(5L, plan, dir.resolve("stage"))
    val raw  = dir.resolve("raw")
    val work = dir.resolve("work")
    plan.indices.foreach { k =>
      PerfBench.copyTree(dir.resolve(f"stage/step$k%03d"), raw)
      Jobs.parse(spark, raw.toString, work.toString)
      Jobs.infer(spark, work.toString)
      assert(CanCheck.all(work, exps(k)) == Nil, s"step $k")
    }
    // shift the first stationary interval's start by one second
    val doc = files(work.resolve("events/Stationary"))
      .find(p => p.toString.endsWith(".json") && !p.getFileName.toString.startsWith(".")).get
    val text  = Files.readString(doc)
    val start = """"start":([0-9.E]+)""".r.findFirstMatchIn(text).get
    val moved = BigDecimal(start.group(1)) + 1
    Files.writeString(doc, text.replace(start.matched, s""""start":${moved.toDouble}"""))
    val errs = CanCheck.all(work, exps.last)
    assert(errs.size == 1 && errs.head.startsWith("stationary"), errs)
  }
}
