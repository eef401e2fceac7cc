package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.TimeLimits
import org.scalatest.concurrent.Signaler
import org.scalatest.time.{Span, Minutes}
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Regression stress for the round-8 driver deadlock: a LAZY
  * `localCheckpoint(false)` shared frame whose first materializer is a
  * broadcast-exchange thread deadlocks `RDD.doCheckpoint` (holds the
  * RDDCheckpointData$ class lock, wants the RDD monitor) against a
  * concurrent `DAGScheduler.getCacheLocs` plan walk (holds the RDD
  * monitor, wants RDDCheckpointData$) — a silent, permanent driver hang
  * observed under jstack. The fix makes every shared checkpoint EAGER
  * (materialized on the calling thread before any consumer job exists).
  *
  * This spec loops the three canonical multi-consumer shapes — winnowPairs
  * (checkpoint feeding a `broadcast(hot)` anti-join), jaccardPairs (four
  * consumers incl. two verify fetches), and lshIncrementalStep (the shape
  * that hung round 8's run) — 20x each in one session. The old race was
  * nondeterministic but reproduced within tens of iterations; with lazy
  * checkpoints this spec hangs, with eager ones it must finish well inside
  * the failAfter bound.
  */
class CheckpointSharingStressSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = SparkTestSession.spark
  // a monitor deadlock is not interruptible, but the test thread itself
  // blocks interruptibly on job completion — interrupting it surfaces the
  // hang as a test failure instead of a frozen JVM
  private implicit val signaler: Signaler = org.scalatest.concurrent.ThreadSignaler

  private def corpus(seed: Int) = {
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val rng   = new scala.util.Random(seed)
    (0L until 40L)
      .map(i => (i, Seq.fill(6 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("20x winnowPairs (checkpoint -> broadcast anti-join consumer) never hangs") {
    failAfter(Span(10, Minutes)) {
      (1 to 20).foreach { i =>
        val n = Dedup.winnowPairs(corpus(i), "doc_id", "text", k = 3, w = 4, minShared = 1).count()
        assert(n >= 0L)
      }
    }
  }

  test("20x jaccardPairs (four-consumer shared set table) never hangs") {
    failAfter(Span(10, Minutes)) {
      (1 to 20).foreach { i =>
        val n = Dedup.jaccardPairs(corpus(i), "doc_id", "text", n = 3, threshold = 0.5).count()
        assert(n >= 0L)
      }
    }
  }

  test("20x lshIncrementalStep folds (the shape that hung round 8) never hang") {
    failAfter(Span(10, Minutes)) {
      var store: Option[org.apache.spark.sql.DataFrame] = None
      (1 to 20).foreach { i =>
        val batch = corpus(i).withColumn("doc_id", col("doc_id") + lit(i * 100L))
        val (surv, next) = Dedup.lshIncrementalStep(batch, "doc_id", "text", store)
        assert(surv.count() >= 0L)
        store = Some(next)
      }
    }
  }

  test("20x triangles (persist + unpersist per call) never hang or leak cache") {
    // `triangles` caches its oriented edge frame — a DIFFERENT sharing
    // mechanism from the eager checkpoints this spec was built for: a
    // cached frame read by the wedge join's three legs. persist uses
    // block-level locks (no RDDCheckpointData$ class lock), so this must
    // be hang-free — loop it like the checkpoint shapes to keep that
    // property pinned, and assert the per-call unpersist keeps the cache
    // from accumulating across calls.
    failAfter(Span(10, Minutes)) {
      import spark.implicits._
      (1 to 20).foreach { i =>
        val edges = (1L to 120L).map(k => (k % (17 + i), (k * 7) % 23 + 1)).toDF("src", "dst")
        assert(LinkGraph.triangles(edges, "src", "dst").count() > 0L)
      }
      // count only the operator's persist() frames: localCheckpoint blocks
      // also show up in getPersistentRDDs but are reclaimed lazily by the
      // ContextCleaner on GC, not by the operator — they are not a leak.
      // unpersist(false) is async; poll until the removals drain (a real
      // leak stays flat at 1 per call = 20, lag clears in seconds).
      def operatorPersists(): Int = spark.sparkContext.getPersistentRDDs
        .values.count(r => !r.toString.contains("localCheckpoint"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var cached = operatorPersists()
      while (cached > 4 && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(500)
        cached = operatorPersists()
      }
      assert(cached <= 4, s"persisted RDDs accumulated across calls: $cached")
    }
  }
}
