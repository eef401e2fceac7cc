package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The imperative references, shared with `GraphGateProps`, the two
  * sides of the `DriverGate` size gate the hand-checked cases run on, and
  * the Spark job counter `BpeSpec` shares. */
object LinkGraphSpec {

  /** One side of the size gate: the graph loops over a (src, dst) frame. */
  sealed abstract class Side(val name: String) {
    def propagate(e: DataFrame, iters: Int, dampingPct: Int = 85,
        seed: Option[Column] = None): DataFrame
    def hits(e: DataFrame, iters: Int): DataFrame
    def labelPropagation(e: DataFrame, iters: Int): DataFrame
  }

  /** The public entries: on these specs' graphs (far under the gate) the
    * driver recurrence. */
  object Driver extends Side("driver") {
    def propagate(e: DataFrame, iters: Int, dampingPct: Int, seed: Option[Column]) =
      LinkGraph.propagate(e, "src", "dst", iters, dampingPct, seed = seed)
    def hits(e: DataFrame, iters: Int) = LinkGraph.hits(e, "src", "dst", iters)
    def labelPropagation(e: DataFrame, iters: Int) =
      LinkGraph.labelPropagation(e, "src", "dst", iters)
  }

  /** The package-private distributed rounds, at any size. */
  object Distributed extends Side("distributed") {
    def propagate(e: DataFrame, iters: Int, dampingPct: Int, seed: Option[Column]) =
      LinkGraph.propagateDistributed(e, "src", "dst", iters, dampingPct, seed = seed)
    def hits(e: DataFrame, iters: Int) = LinkGraph.hitsDistributed(e, "src", "dst", iters)
    def labelPropagation(e: DataFrame, iters: Int) =
      LinkGraph.labelPropagationDistributed(e, "src", "dst", iters)
  }

  val sides: Seq[Side] = Seq(Driver, Distributed)

  /** Spark jobs `body` starts, counted after the listener bus drained. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val sc = graft.SparkTestSession.spark.sparkContext
    ListenerBridge.drain(sc, 60000L)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener { override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet() }
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc, 60000L) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** The recurrence re-spelled imperatively — the test's independent truth. */
  def reference(
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

  /** HITS re-spelled imperatively: each half-round sums the counterpart
    * score over edges (multi-edges count multiply), then max-normalizes
    * back to `scale` with the max clamped at 1. Returns (hub, auth). */
  def hitsReference(
      edges: Seq[(Long, Long)],
      iters: Int,
      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def norm(sums: Map[Long, Long]): Map[Long, Long] = {
      val mx = (sums.values ++ Seq(1L)).max
      nodes.map(n => n -> sums.getOrElse(n, 0L) * scale / mx).toMap
    }
    var hub  = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      auth = norm(edges.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap)
      hub  = norm(edges.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum).toMap)
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  /** Deterministic LPA re-spelled imperatively: symmetrized self-loop-free
    * edge list, synchronous rounds, most votes wins, ties to the min label. */
  def lpaReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
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
}

class LinkGraphSpec extends AnyFunSuite {
  import LinkGraphSpec._
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def longMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(side: Side, edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    longMap(side.propagate(edges.toDF("src", "dst"), iters))

  // every case below runs on both sides of the size gate: the public entry
  // (the driver recurrence on these small graphs) and the distributed rounds

  test("matches the imperative recurrence on a cyclic graph with a hub and a dangler") {
    // triangle 1->2->3->1, hub 4 -> {1,2,3}, dangler 5 (in-edges only),
    // multi-edge 4->1 twice (must count twice)
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (4, 1), (4, 2), (4, 3), (4, 1), (1, 5))
    for (side <- sides; iters <- 0 to 4)
      assert(run(side, edges, iters) === reference(edges, iters), s"${side.name} iters=$iters")
  }

  test("deterministic across partitioning; zero iters is the uniform base") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1))
    val df    = edges.toDF("src", "dst")
    sides.foreach { side =>
      val a = side.propagate(df, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = side.propagate(df.repartition(13), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a === b, side.name)
      assert(run(side, edges, 0).values.toSet === Set(1000000000L), side.name)
    }
  }

  test("rounds across the fixed checkpoint cadence match the imperative references (propagate + LPA)") {
    // the distributed rounds compose lazily with a lineage cut every 8
    // rounds; 8, 9 and 17 rounds end on, just past and two cuts past that
    // boundary (the driver side has no cut: the same counts must agree)
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1))
    for (side <- sides; iters <- Seq(8, 9, 17)) {
      assert(run(side, edges, iters) === reference(edges, iters), s"${side.name} iters=$iters")
      assert(longMap(side.labelPropagation(edges.toDF("src", "dst"), iters)) ===
        lpaReference(edges, iters), s"${side.name} lpa iters=$iters")
    }
  }

  test("damping=100 on a 2-cycle conserves each node's mass exactly") {
    sides.foreach { side =>
      val scores = longMap(side.propagate(
        Seq[(Long, Long)]((1, 2), (2, 1)).toDF("src", "dst"), 5, dampingPct = 100))
      assert(scores === Map(1L -> 1000000000L, 2L -> 1000000000L), side.name)
    }
  }

  test("hits: hand-computed 2-round hub/authority scores; pure roles score 0 on the other axis") {
    import spark.implicits._
    // hub 1 -> {10,11,12}, hub 2 -> {10}. Round 1: ar=(2,1,1)e6 ->
    // auth=(1e6, 5e5, 5e5); hr=(2e6, 1e6) -> hub=(1e6, 5e5).
    // Round 2: ar 10=1.5e6, 11=12=1e6 -> auth=(1e6, 666666, 666666);
    // hr 1=2333332, 2=1e6 -> hub=(1e6, 1e12//2333332=428571).
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    sides.foreach { side =>
      val got = side.hits(edges, iters = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got(1L) === ((1000000L, 0L)),
        s"${side.name}: the broad hub is the max hub; it has no in-links")
      assert(got(2L) === ((428571L, 0L)), side.name)
      assert(got(10L) === ((0L, 1000000L)),
        s"${side.name}: the doubly-cited authority is the max authority")
      assert(got(11L) === ((0L, 666666L)), side.name)
      assert(got(12L) === ((0L, 666666L)), side.name)
    }
  }

  test("personalized propagate: restart mass lands only on seeds; flow reaches the chain") {
    import spark.implicits._
    // chain 1 -> 2 -> 3, seed {1}, d=85: s0 = (1e9, 0, 0);
    // iter1: s(1)=base=1.5e8, s(2)=85%*1e9=8.5e8, s(3)=0;
    // iter2: s(1)=1.5e8, s(2)=85%*1.5e8=1.275e8, s(3)=85%*8.5e8=7.225e8.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    sides.foreach { side =>
      val got = longMap(side.propagate(edges, iters = 2, seed = Some(col("id") === 1)))
      assert(got === Map(
        1L -> 150000000L, 2L -> 127500000L, 3L -> 722500000L), side.name)
    }
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
    sides.foreach { side =>
      val got = longMap(side.labelPropagation(edges, iters = 3))
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L), side.name)
    }
  }

  test("labelPropagation: multi-edges vote multiply, ties break to min label, self-loops dropped") {
    import spark.implicits._
    // node 2 hears label 1 twice (duplicated edge) vs label 3 once -> 1;
    // node 1 hears {2} only; node 3 hears {2} only; 5's self-loop vanishes
    val edges = Seq((1L, 2L), (1L, 2L), (3L, 2L), (5L, 5L)).toDF("src", "dst")
    val tie   = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    sides.foreach { side =>
      val got = longMap(side.labelPropagation(edges, iters = 1))
      assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 2L), side.name)
      assert(!got.contains(5L), side.name)
      // tie case: node 2 hears 1 and 3 once each -> min label 1
      val t = longMap(side.labelPropagation(tie, iters = 1))
      assert(t(2L) === 1L, side.name)
    }
  }

  test("size gate: one job on either side; the driver side runs no per-round job") {
    // edge frames over 8 partitions, one just under and one just over the gate
    def edges(n: Long) = spark.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))
      .repartition(8).localCheckpoint(true)
    val (under, over) = (edges(DriverGate.MaxRows.toLong), edges(DriverGate.MaxRows + 1L))
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { got = DriverGate.collect(under) } === 1)
    assert(got.map(_.length) === Some(DriverGate.MaxRows))
    assert(jobsOf { got = DriverGate.collect(over) } === 1)
    assert(got === None)
    // the whole driver-side call: the edge checkpoint and the gate, for any
    // number of rounds
    val small = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    Seq(1, 9).foreach { iters =>
      assert(jobsOf(LinkGraph.propagate(small, "src", "dst", iters)) === 2, s"iters=$iters")
      assert(jobsOf(LinkGraph.labelPropagation(small, "src", "dst", iters)) === 2, s"iters=$iters")
      assert(jobsOf(LinkGraph.hits(small, "src", "dst", iters)) === 2, s"iters=$iters")
    }
  }

  test("a long overflow raises the same exception class on both sides of the gate") {
    import org.apache.spark.SparkThrowable
    def same(driver: => org.apache.spark.sql.DataFrame, distributed: => org.apache.spark.sql.DataFrame) = {
      val a = intercept[ArithmeticException](driver.collect())
      val b = intercept[ArithmeticException](distributed.collect())
      assert(a.getClass === b.getClass)
      assert(a.getClass.getName === "org.apache.spark.SparkArithmeticException")
      assert(a.asInstanceOf[SparkThrowable].getCondition === b.asInstanceOf[SparkThrowable].getCondition)
    }
    // propagate: five in-edges each carrying a whole 2^61 score overflow
    // the in-mass sum
    val star = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
    val big  = Long.MaxValue / 4
    same(LinkGraph.propagate(star, "src", "dst", 1, scale = big),
      LinkGraph.propagateDistributed(star, "src", "dst", 1, scale = big))
    // hits: the sum 3 * 2^40 fits, the normalizing product with 2^40 does not
    same(LinkGraph.hits(star.limit(3), "src", "dst", 1, scale = 1L << 40),
      LinkGraph.hitsDistributed(star.limit(3), "src", "dst", 1, scale = 1L << 40))
    // labelPropagation does no long arithmetic (labels are ids, votes are
    // counts): its overflow is the endpoint cast to long, shared by both sides
    val wide = spark.sql(
      "SELECT CAST('10000000000000000000' AS DECIMAL(20,0)) AS src, CAST(1 AS DECIMAL(20,0)) AS dst")
    same(LinkGraph.labelPropagation(wide, "src", "dst", 1),
      LinkGraph.labelPropagationDistributed(wide, "src", "dst", 1))
    // with ANSI off a long wraps on both sides, to the same rows
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(rows(LinkGraph.propagate(star, "src", "dst", 1, scale = big)) ===
        rows(LinkGraph.propagateDistributed(star, "src", "dst", 1, scale = big)))
      assert(rows(LinkGraph.hits(star.limit(3), "src", "dst", 1, scale = 1L << 40)) ===
        rows(LinkGraph.hitsDistributed(star.limit(3), "src", "dst", 1, scale = 1L << 40)))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("when the overflow raises: the driver side at the call, the distributed side by its last lazy round") {
    // propagate: the distributed rounds end on an eager checkpoint, so both
    // sides raise at the call
    val star = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
    val big  = Long.MaxValue / 4
    intercept[ArithmeticException](LinkGraph.propagate(star, "src", "dst", 1, scale = big))
    intercept[ArithmeticException](LinkGraph.propagateDistributed(star, "src", "dst", 1, scale = big))
    // hits on 1 -> {2, 3} at scale 2^31: every sum fits and the authority
    // products are 2^62, but the last hub product 2^32 * 2^31 overflows.
    // The distributed rounds checkpoint each half-round's sums and leave
    // the last normalization lazy, so only the action meets it; the driver
    // side has run every round before it returns.
    val fan = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    intercept[ArithmeticException](LinkGraph.hits(fan, "src", "dst", 1, scale = 1L << 31))
    val pending = LinkGraph.hitsDistributed(fan, "src", "dst", 1, scale = 1L << 31)
    // both sides read ANSI at the call: turning it off before the action
    // does not make the pending product wrap
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try intercept[ArithmeticException](pending.collect())
    finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
