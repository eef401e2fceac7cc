package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

class LinkGraphSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local()
  import spark.implicits._

  /** The recurrence re-spelled imperatively — the test's independent truth. */
  private def reference(
      edges: Seq[(Long, Long)],
      iters: Int,
      d: Long = 85,
      scale: Long = 1000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg   = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base  = (100 - d) * scale / 100
    var score = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = edges
        .groupBy(_._2)
        .view.mapValues(_.map { case (u, _) => score(u) / deg(u) }.sum)
        .toMap
      score = nodes.map(n => n -> (base + d * in.getOrElse(n, 0L) / 100)).toMap
    }
    score
  }

  /** Deterministic LPA re-spelled imperatively: symmetrized self-loop-free
    * edge list, synchronous rounds, most votes wins, ties to the min label. */
  private def lpaReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val dir = edges.filter { case (a, b) => a != b }
    val sym = dir ++ dir.map(_.swap)
    var label = sym.map(_._1).distinct.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      label = sym.groupBy(_._2).map { case (v, in) =>
        val votes = in.groupBy(e => label(e._1)).toSeq.map { case (l, es) => (l, es.size) }
        v -> votes.minBy { case (l, n) => (-n, l) }._1
      }
    }
    label
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    LinkGraph.propagate(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the imperative recurrence on a cyclic graph with a hub and a dangler") {
    // triangle 1->2->3->1, hub 4 -> {1,2,3}, dangler 5 (in-edges only),
    // multi-edge 4->1 twice (must count twice)
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (4, 1), (4, 2), (4, 3), (4, 1), (1, 5))
    (0 to 4).foreach { iters =>
      assert(run(edges, iters) === reference(edges, iters), s"iters=$iters")
    }
  }

  test("deterministic across partitioning; zero iters is the uniform base") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1))
    val df    = edges.toDF("src", "dst")
    val a = LinkGraph.propagate(df, "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = LinkGraph.propagate(df.repartition(13), "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    assert(run(edges, 0).values.toSet === Set(1000000000L))
  }

  test("rounds across the fixed checkpoint cadence match the imperative references (propagate + LPA)") {
    // rounds compose lazily with a lineage cut every 8 rounds; 8, 9 and 17
    // rounds end on, just past and two cuts past that boundary
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1))
    Seq(8, 9, 17).foreach { iters =>
      assert(run(edges, iters) === reference(edges, iters), s"iters=$iters")
    }
    val lpa = LinkGraph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa === lpaReference(edges, 9))
  }

  test("damping=100 on a 2-cycle conserves each node's mass exactly") {
    val scores = LinkGraph
      .propagate(Seq[(Long, Long)]((1, 2), (2, 1)).toDF("src", "dst"),
        "src", "dst", 5, dampingPct = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores === Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("hits: hand-computed 2-round hub/authority scores; pure roles score 0 on the other axis") {
    import spark.implicits._
    // hub 1 -> {10,11,12}, hub 2 -> {10}. Round 1: ar=(2,1,1)e6 ->
    // auth=(1e6, 5e5, 5e5); hr=(2e6, 1e6) -> hub=(1e6, 5e5).
    // Round 2: ar 10=1.5e6, 11=12=1e6 -> auth=(1e6, 666666, 666666);
    // hr 1=2333332, 2=1e6 -> hub=(1e6, 1e12//2333332=428571).
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = LinkGraph
      .hits(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((1000000L, 0L)), "the broad hub is the max hub; it has no in-links")
    assert(got(2L) === ((428571L, 0L)))
    assert(got(10L) === ((0L, 1000000L)), "the doubly-cited authority is the max authority")
    assert(got(11L) === ((0L, 666666L)))
    assert(got(12L) === ((0L, 666666L)))
  }

  test("personalized propagate: restart mass lands only on seeds; flow reaches the chain") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, seed {1}, d=85: s0 = (1e9, 0, 0);
    // iter1: s(1)=base=1.5e8, s(2)=85%*1e9=8.5e8, s(3)=0;
    // iter2: s(1)=1.5e8, s(2)=85%*1.5e8=1.275e8, s(3)=85%*8.5e8=7.225e8.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = LinkGraph
      .propagate(edges, "src", "dst", iters = 2, seed = Some(col("id") === 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 150000000L, 2L -> 127500000L, 3L -> 722500000L))
  }

  test("triangles: hand-computed counts; multi-edges collapse, self-loops drop") {
    import spark.implicits._
    // undirected simple graph after canonicalization:
    // {1-2, 2-3, 1-3, 3-4, 4-5, 3-5, 2-4}; (2,1) duplicates 1-2, (5,3)
    // duplicates 3-5, (6,6) is a self-loop -> node 6 vanishes (no edges).
    // Triangles: {1,2,3}, {2,3,4}, {3,4,5}.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (3L, 5L), (5L, 3L), (6L, 6L), (2L, 4L)).toDF("src", "dst")
    val got = LinkGraph
      .triangles(edges, "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 1000000L)),
      2L -> ((3L, 2L, 666666L)),
      3L -> ((4L, 3L, 500000L)),
      4L -> ((3L, 2L, 666666L)),
      5L -> ((2L, 1L, 1000000L))))
  }

  test("triangles: triangle-free star scores 0; partitioning-invariant") {
    import spark.implicits._
    val star = (2L to 40L).map(i => (1L, i)).toDF("src", "dst")
    val s = LinkGraph.triangles(star, "src", "dst").collect()
    assert(s.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
    assert(s.length == 40)
    val edges = (1L to 300L).map(i => (i % 23, (i * 7) % 23 + 1))
    val df    = edges.toDF("src", "dst")
    val a = LinkGraph.triangles(df, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = LinkGraph.triangles(df.repartition(13), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a === b)
  }

  test("cached repartition(col) partitioning is reused: probe join shuffles only the probe side") {
    // the planner law `triangles`' exchange-free wedge join rests on: a
    // plain-shuffle join against a repartition(col)+persist frame must not re-exchange
    // the cached side (a checkpointed frame would — LogicalRDD reports
    // UnknownPartitioning under AQE). Broadcast disabled so the shuffle
    // structure is visible.
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = (1L to 5000L).map(i => (i % 97, i)).toDF("k", "v")
        .repartition(col("k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count() // materialize the cache
      val probe  = (1L to 50L).map(i => (i, i * 2)).toDF("k", "p")
      val joined = big.join(probe, Seq("k"))
      joined.collect()
      // count ENSURE_REQUIREMENTS shuffles in the FINAL adaptive plan by
      // tree walk (the toString dump would double-count: it prints the
      // initial plan section too, and InMemoryTableScan is a leaf so the
      // walk never descends into the cached REPARTITION_BY_COL exchange)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ENSURE_REQUIREMENTS}
      var ensures = 0
      def walk(s: SparkPlan): Unit = s match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case st: QueryStageExec       => walk(st.plan)
        case ex: ShuffleExchangeExec =>
          if (ex.shuffleOrigin == ENSURE_REQUIREMENTS) ensures += 1
          walk(ex.child)
        case other => other.children.foreach(walk)
      }
      walk(joined.queryExecution.executedPlan)
      val plan = joined.queryExecution.executedPlan.toString
      assert(ensures == 1, s"expected exactly 1 ENSURE_REQUIREMENTS (probe side), plan:\n$plan")
      assert(plan.contains("InMemoryTableScan"), s"cache not used, plan:\n$plan")
      big.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("labelPropagation: two bridged triangles split into two communities (hand-traced rounds)") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10; traced by hand:
    // r1: 1->2 2->1 3->1 10->3 11->10 12->10
    // r2: 1->1 2->1 3->1 10->10 11->3 12->3
    // r3: 1->1 2->1 3->1 10->3 11->3 12->3
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)).toDF("src", "dst")
    val got = LinkGraph.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: multi-edges vote multiply, ties break to min label, self-loops dropped") {
    import spark.implicits._
    // node 2 hears label 1 twice (duplicated edge) vs label 3 once -> 1;
    // node 1 hears {2} only; node 3 hears {2} only; 5's self-loop vanishes
    val edges = Seq((1L, 2L), (1L, 2L), (3L, 2L), (5L, 5L)).toDF("src", "dst")
    val got = LinkGraph.labelPropagation(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    assert(!got.contains(5L))
    // tie case: node 2 hears 1 and 3 once each -> min label 1
    val tie = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val t = LinkGraph.labelPropagation(tie, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(2L) === 1L)
  }
}
