package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

/** The sweep runner end to end at fixture scale: the record parses, every
  * cell's statistics are ordered, and the phase split accounts for the
  * wall time of each rep.
  */
class RepeatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf         = "/root/testdata/sf0.001"
  private val names      = Seq("q02_tpch_q1", "q106_link_pagerank")

  private lazy val cells = Repeat.sweep(spark, sf, names, 2)

  test("a 2-rep sweep gives a record line spark.read.json parses, phase fields per cell") {
    import spark.implicits._
    val line = Repeat.record(cells, 1, sf, 0L, 0L, 2, 0.5, 0.5, 0)
    val rec  = spark.read.json(Seq(line).toDS())
    assert(!rec.columns.contains("_corrupt_record"), line)
    assert(rec.count() == 1)
    for (n <- names; f <- Seq("times", "min", "med", "max", "construct_ms", "plan_ms",
                              "execute_ms", "jobs", "stages", "tasks", "task_ms",
                              "codegen_compiles", "jit_ms"))
      assert(!rec.select(col(s"queries.$n.$f")).head().isNullAt(0), s"$n.$f missing")
    for (n <- names; f <- Seq("codegen_compiles", "jit_ms"))
      assert(rec.select(col(s"queries.$n.$f")).head().getLong(0) >= 0, s"$n.$f negative")
    assert(rec.select("failed").head().getSeq[String](0).isEmpty)
  }

  test("every cell: min <= med <= max, jobs > 0, phases sum to the rep's wall within 10%") {
    cells.foreach { c =>
      assert(c.reps.size == 2 && c.reps.forall(_.wall >= 0), c)
      assert(c.min <= c.med && c.med <= c.max, c)
      c.reps.foreach { r =>
        assert(r.jobs > 0, s"${c.name}: $r")
        val phases = (r.constructMs + r.planMs + r.executeMs) / 1000
        assert(math.abs(phases - r.wall) <= 0.1 * r.wall, s"${c.name}: $r")
      }
    }
  }

  test("the second rep of q02 compiles no more generated classes than the first") {
    val q02 = cells.find(_.name == "q02_tpch_q1").get
    assert(q02.reps(1).codegenCompiles <= q02.reps(0).codegenCompiles, q02)
  }

  test("an unknown query name fails before any Spark job") {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException](Repeat.sweep(spark, sf, Seq("q02_tpch_q1", "q_nope"), 2))
      assert(e.getMessage.contains("q_nope"))
      ListenerBridge.drain(spark.sparkContext, 10000L)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
