package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Link-graph score propagation (PageRank family) for corpus curation:
  * propagate a quality/authority score over a directed link graph — domain
  * reputation from the web graph, part importance from co-purchase chains —
  * so a document's keep/drop decision can use its NEIGHBORHOOD's quality,
  * not just its own text (the Common-Crawl-style "good domains link to good
  * domains" prior).
  *
  * FIXED-POINT INTEGER arithmetic throughout: scores live as long
  * micro-units (`scale` = 1.0), per-edge contributions are integer
  * divisions, and the damping step is `d * sum div 100`. Every operation is
  * exact and order-free (long sums commute — no float-accumulation-order
  * sensitivity), so ANY engine repeating the recurrence reproduces the
  * byte-identical result: the DuckDB oracle unrolls the same iterations and
  * hash-matches, certifying the whole loop cross-engine. The cost of the
  * quantization is bounded by iters ULPs of `scale` — invisible at
  * scale=1e9 for ranking purposes.
  *
  * Semantics per iteration (the standard simplified PageRank step):
  *   contrib(u)  = score(u) div outdeg(u)          (u has out-edges)
  *   score'(v)   = (100-d)*scale div 100  +  d * Σ_{u→v} contrib(u) div 100
  * Multi-edges count multiply (a page linking twice sends twice the mass);
  * dangling nodes (no out-edges) leak their mass — the usual simplification,
  * documented rather than redistributed, so the oracle stays a pure join.
  *
  * Scale posture: each round is one join of edges to the score table on the
  * EDGE SOURCE (shuffle ∝ |edges|) and one partial-agg shuffle on the edge
  * destination — O(iters × |edges|), the cost of any synchronous graph
  * recurrence. r16: rounds compose LAZILY — the recurrence references the
  * previous round's frame exactly ONCE (the node list is a loop-invariant
  * checkpointed frame, not a re-projection of the score frame), so the plan
  * grows linearly and the whole loop executes as ONE job; lineage is
  * truncated by an eager localCheckpoint every `CkptEvery` rounds and at
  * loop end (`lazyRounds`). The former per-round eager checkpoint cost one
  * driver job barrier + block materialization per round and bought nothing
  * at any scale (measured: the barrier latency, not the compute, dominated
  * the iterative family's bench cells).
  *
  * Size gate (`DriverGate`, shared with `Dedup.connectedComponents` and
  * `Bpe.train`):
  * `propagate`, `hits` and `labelPropagation` checkpoint their edge frame,
  * and when it has at most `DriverGate.MaxRows` (2^17) rows the gate's
  * one job collects it and the same integer recurrence runs in plain Scala
  * on the driver, with no per-round job, returning a local DataFrame with
  * the distributed path's columns, types and rows (nulls included; under
  * ANSI a long overflow raises SparkArithmeticException on both sides).
  * The driver side does all its work when the operator is called, so its
  * overflow raises at the call; the distributed side raises at the call
  * too when the overflow is in a checkpointed round, but `hits` leaves its
  * last normalization lazy, so an overflow there waits for the action.
  * Both sides read `spark.sql.ansi.enabled` at the call. Above the gate
  * the distributed rounds below run, and the node count never
  * materializes on the driver.
  */
object LinkGraph {

  /** Run `iters` propagation rounds over `edges(srcCol, dstCol)`; returns
    * (id, score) for every node in the graph, score in `scale` micro-units.
    * dampingPct is the integer damping percentage (85 = the classic 0.85).
    *
    * `seed`: None = classic PageRank (uniform restart — every node gets the
    * (100−d)% base and starts at `scale`). Some(pred) = PERSONALIZED
    * PageRank: the restart mass lands ONLY on nodes satisfying `pred`
    * (a predicate over the node id column, named "id" — e.g.
    * `col("id") % 97 === 0`), and only seeds start charged — scores then
    * measure proximity to the seed set along link structure, the
    * crawl-frontier / trusted-domain prioritization signal (TrustRank).
    * Same integer recurrence, so the unrolled oracle stays exact.
    *
    * The loop-invariant edge frame is an eager localCheckpoint: when the
    * node-score frame fits the broadcast threshold, AQE turns every
    * iteration's e⋈scores join into a runtime broadcast and the edge frame
    * streams straight from its checkpoint blocks, no per-round exchange.
    */
  def propagate(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85,
      scale: Long = 1000000000L,
      seed: Option[Column] = None): DataFrame =
    propagateWith(edges, srcCol, dstCol, iters, dampingPct, scale, seed, DriverGate.collect)

  /** `propagate`'s distributed rounds at any graph size. */
  private[operators] def propagateDistributed(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85,
      scale: Long = 1000000000L,
      seed: Option[Column] = None): DataFrame =
    propagateWith(edges, srcCol, dstCol, iters, dampingPct, scale, seed, DriverGate.never)

  private def propagateWith(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int,
      scale: Long,
      seed: Option[Column],
      gate: DriverGate.Gate): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    // long-sum headroom: total mass is ~|nodes|*scale and a single hub can
    // receive a large share of it; keep |nodes|*scale under 2^62
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true) // reused every round: materialize once
    val base = (100L - dampingPct) * scale / 100L
    // the driver side needs the seed predicate on each endpoint: the gate
    // evaluates it in the same job that collects the edges
    val tagged = seed.fold(e) { p =>
      e.withColumn("id", col("src")).withColumn("__sp", p)
        .withColumn("id", col("dst")).withColumn("__dp", p)
        .select("src", "dst", "__sp", "__dp")
    }
    gate(tagged) match {
      case Some(rows) =>
        DriverGate.frame(edges, Seq("id", "score"),
          propagateLocal(rows, iters, dampingPct, scale, base, seed.isDefined, DriverGate.longs(edges)))
      case None =>
        propagateRounds(e, iters, dampingPct, scale, base, seed)
    }
  }

  private def propagateRounds(
      e: DataFrame,
      iters: Int,
      dampingPct: Int,
      scale: Long,
      base: Long,
      seed: Option[Column]): DataFrame = {
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // r15 optimization: fold the loop-INVARIANT degree onto the edge frame
    // ONCE (one co-partitioned/hash-keyed join at setup) instead of
    // re-joining deg every round — each iteration drops from two joins to
    // one, same integers (every src in e has exactly one deg row, so
    // e⋈deg is a row-preserving widening). Cost: +8 bytes per edge in the
    // materialized frame; the former separate deg materialization goes
    // away, so setup job count is unchanged.
    val eDeg = e.join(deg0, Seq("src"))
      .select(col("src"), col("dst"), col("__deg"))
      .localCheckpoint(true)
    // per-node restart mass / initial charge: uniform, or seed-gated
    val baseCol  = seed.map(p => when(p, lit(base)).otherwise(lit(0L))).getOrElse(lit(base))
    val scoreCol = seed.map(p => when(p, lit(scale)).otherwise(lit(0L))).getOrElse(lit(scale))
    // loop-invariant node list, checkpointed once: every round's result
    // frame left-joins inMass onto THIS frame (identical to the former
    // re-projection of the previous score frame — scores always carries
    // exactly the node set), so the previous round is referenced exactly
    // once and lazy rounds never recompute each other
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    lazyRounds(nodes.select(col("id"), scoreCol.as("score")), iters) { scores =>
      val inMass = eDeg
        .join(scores.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("score div __deg").as("__c"))
        .groupBy("id")
        .agg(sum(col("__c")).as("__m"))
      nodes
        .join(inMass, Seq("id"), "left")
        .select(col("id"),
          (baseCol + expr(s"$dampingPct * coalesce(__m, 0L) div 100"))
            .as("score"))
    }
  }

  /** `propagateRounds` on collected (src, dst[, src seed, dst seed]) rows,
    * with Spark's null semantics: a null src sends nothing (the src join
    * drops it), a null dst receives nothing (the node join never matches
    * it), and a null endpoint is one node with a null id. `longs` overflows
    * as Spark's `sum` and `*` do.
    */
  private def propagateLocal(
      rows: Array[Row],
      iters: Int,
      dampingPct: Int,
      scale: Long,
      base: Long,
      seeded: Boolean,
      longs: DriverGate.Longs): Seq[Row] = {
    val nodes = new DriverGate.Nodes
    val src   = rows.map(nodes(_, 0))
    val dst   = rows.map(nodes(_, 1))
    val n     = nodes.size
    // a predicate's null counts as false, as in `when(p, ..)`; slot n is
    // the null node
    val isSeed = new Array[Boolean](n + 1)
    if (seeded) rows.indices.foreach { k =>
      def tag(i: Int) = !rows(k).isNullAt(i) && rows(k).getBoolean(i)
      isSeed(if (src(k) < 0) n else src(k)) = tag(2)
      isSeed(if (dst(k) < 0) n else dst(k)) = tag(3)
    }
    def charged(i: Int, v: Long) = if (!seeded || isSeed(i)) v else 0L
    val deg = new Array[Long](n)
    src.foreach(s => if (s >= 0) deg(s) += 1)
    var score = Array.tabulate(n + 1)(charged(_, scale))
    (1 to iters).foreach { _ =>
      val mass = new Array[Long](n)
      rows.indices.foreach { k =>
        val s = src(k); val d = dst(k)
        if (s >= 0 && d >= 0) mass(d) = longs.add(mass(d), score(s) / deg(s))
      }
      score = Array.tabulate(n + 1) { i =>
        val m = if (i < n) mass(i) else 0L
        longs.add(charged(i, base), longs.mul(dampingPct.toLong, m) / 100L)
      }
    }
    val hasNull = src.contains(-1) || dst.contains(-1)
    (0 until n).map(i => Row(nodes.id(i), score(i))) ++
      (if (hasNull) Seq(Row(null, score(n))) else Nil)
  }

  /** HITS hub/authority scores (Kleinberg) — the bipartite companion to
    * `propagate`: an AUTHORITY is pointed at by good hubs, a HUB points at
    * good authorities, the two reinforcing mutually. For corpus curation
    * this separates aggregator/index pages (hubs) from canonical content
    * (authorities) where PageRank conflates both into one centrality.
    *
    * Fixed-point integer arithmetic like `propagate`: each half-round sums
    * the counterpart score over edges (multi-edges count multiply, same
    * rule as propagate), then max-normalizes back to `scale` with ONE
    * integer multiply-divide — all operands non-negative, so Spark `div`
    * mirrors DuckDB `//` bit for bit and the q128 oracle replays the
    * recurrence unrolled. Long headroom: deg_max * scale^2 must stay
    * under 2^63 — the 1e6 default scale allows in/out-degrees to 9e6;
    * raise scale only with DECIMAL edges.
    *
    * Per half-round: one shuffle join + one partial-agg on edges, a one-
    * row max broadcast, checkpointed flat. Output: id, hub, auth — both
    * in [0, scale], max node = scale.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame =
    hitsWith(edges, srcCol, dstCol, iters, scale, DriverGate.collect)

  /** `hits`' distributed rounds at any graph size. */
  private[operators] def hitsDistributed(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame =
    hitsWith(edges, srcCol, dstCol, iters, scale, DriverGate.never)

  private def hitsWith(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long,
      gate: DriverGate.Gate): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1, s"scale must be positive, got $scale")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true)
    gate(e) match {
      case Some(rows) =>
        DriverGate.frame(edges, Seq("id", "hub", "auth"),
          hitsLocal(rows, iters, scale, DriverGate.longs(edges)))
      case None       => hitsRounds(e, iters, scale)
    }
  }

  private def hitsRounds(e: DataFrame, iters: Int, scale: Long): DataFrame = {
    val nodes = e
      .select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    // r15 optimization (half the eager jobs per half-round): checkpoint the
    // RAW edge-join aggregate once — the only edge-sized work — and leave
    // the node-sized fill + normalize LAZY, absorbed into the consumer's
    // job. max over the filled frame equals max over raw clamped at 1:
    // missing nodes fill with 0, and raw values are sums of non-negative
    // scores, so greatest(max(raw), 1) is identical (LinkGraphSpec + the
    // q128 oracle certify the integers bit for bit). The former spelling
    // eagerly checkpointed both the filled frame and the normalized result
    // — two extra materialization jobs per half-round that bench as pure
    // driver latency and buy nothing at scale (the recomputed fill is one
    // node-sized broadcast join per consumer).
    def norm(raw0: DataFrame, valCol: String, outCol: String): DataFrame = {
      val raw = raw0.localCheckpoint(true)
      val mx  = raw.agg(greatest(max(col(valCol)), lit(1L)).as("__m"))
      nodes
        .join(raw, Seq("id"), "left")
        .select(col("id"), coalesce(col(valCol), lit(0L)).as("__v"))
        .crossJoin(broadcast(mx))
        .select(col("id"), expr(s"__v * ${scale}L div __m").as(outCol))
    }
    var hub  = nodes.select(col("id"), lit(scale).as("hub"))
    var auth = nodes.select(col("id"), lit(scale).as("auth"))
    var iter = 0
    while (iter < iters) {
      val ar = e
        .join(hub.select(col("id").as("src"), col("hub").as("__h")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("__h")).as("__ar"))
      auth = norm(ar, "__ar", "auth")
      val hr = e
        .join(auth.select(col("id").as("dst"), col("auth").as("__a")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("__a")).as("__hr"))
      hub = norm(hr, "__hr", "hub")
      iter += 1
    }
    nodes.join(hub, Seq("id")).join(auth, Seq("id"))
  }

  /** `hitsRounds` on collected (src, dst) rows, with Spark's null
    * semantics: an edge with a null end still sums into the null group,
    * whose total counts toward the max that normalizes the half-round (the
    * aggregate is checkpointed whole), and the final id joins drop a null
    * node. `longs` overflows as Spark's `sum` and `*` do.
    */
  private def hitsLocal(rows: Array[Row], iters: Int, scale: Long, longs: DriverGate.Longs): Seq[Row] = {
    val nodes = new DriverGate.Nodes
    val src   = rows.map(nodes(_, 0))
    val dst   = rows.map(nodes(_, 1))
    val n     = nodes.size
    // one half-round: `from` scores flow along each edge whose `from` end
    // is a node into its `to` end (slot n: the null group)
    def half(from: Array[Int], to: Array[Int], score: Array[Long]): Array[Long] = {
      val sums  = new Array[Long](n + 1)
      val group = new Array[Boolean](n + 1)
      rows.indices.foreach { k =>
        if (from(k) >= 0) {
          val t = if (to(k) < 0) n else to(k)
          sums(t) = longs.add(sums(t), score(from(k)))
          group(t) = true
        }
      }
      val mx = (0 to n).filter(group).map(sums).foldLeft(1L)(math.max)
      Array.tabulate(n)(i => longs.mul(sums(i), scale) / mx)
    }
    var hub  = Array.fill(n)(scale)
    var auth = Array.fill(n)(scale)
    (1 to iters).foreach { _ =>
      auth = half(src, dst, hub)
      hub = half(dst, src, auth)
    }
    (0 until n).map(i => Row(nodes.id(i), hub(i), auth(i)))
  }

  /** Per-node triangle count + local clustering coefficient — the standard
    * link-spam / community-cohesion signal (a page farm is a near-clique;
    * organic link neighborhoods are sparse). Directed multi-edges collapse
    * to a simple undirected graph first: `least/greatest` canonicalization,
    * self-loops dropped, `distinct`.
    *
    * Scale posture — DEGREE-ORDERED orientation (Ortmann/Brandes "compact
    * forward"): every undirected edge is oriented from its lower-(deg, id)
    * endpoint to the higher, so wedges are generated at each triangle's
    * LOWEST-degree corner and the wedge count is bounded by O(m^1.5)
    * regardless of hubs — a 10^6-degree hub generates no wedges unless its
    * neighbors are equally hot, where an id-ordered or naive enumeration
    * would emit deg^2 ≈ 10^12 from that one node. The wedge self-join runs
    * EXCHANGE-FREE over one cached hash-partitioned copy of the oriented
    * edges (r16); the closure probe and the aggregations are bounded
    * equi-join shuffles, no driver state; each triangle found exactly once, so
    * per-node counts are exact integers and the id-ordered DuckDB oracle
    * (same once-per-triangle invariant, different traversal order)
    * hash-matches without any float tolerance.
    *
    * `clust_x1e6 = (2 * tri * scale) div (deg * (deg - 1))` — all operands
    * non-negative longs, so Spark `div` mirrors DuckDB `//` exactly; nodes
    * with deg < 2 report 0.
    *
    * The result is materialized before returning (eager localCheckpoint,
    * the `propagate` posture) so the cached oriented frame is released
    * inside the call instead of staying pinned in the session's cache.
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      scale: Long = 1000000L): DataFrame = {
    val und = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true) // reused: degrees, orientation, closure probe
    // r16: one scan of und (explode both endpoints) instead of a two-scan
    // self-union — same multiset of ids, half the checkpoint reads
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient each edge low-rank -> high-rank, rank = (deg, id); carry the
    // head's rank so the wedge join can order the two heads without a
    // second degree lookup
    val oriented = und
      .join(deg.select(col("id").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("__dv")), Seq("v"))
      .select(
        when(col("__du") < col("__dv") ||
          (col("__du") === col("__dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("__du") < col("__dv") ||
          (col("__du") === col("__dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"),
        greatest(col("__du"), col("__dv")).as("__db"))
      // r16 (guide §2.4): hash-partition on the wedge corner `a` and CACHE
      // (a cached plan keeps its HashPartitioning visible to
      // EnsureRequirements; a checkpointed LogicalRDD reports
      // UnknownPartitioning) — both legs of the wedge self-join below then
      // read the SAME cached partitioning and join with ZERO exchanges.
      // Explicit partition count (the session's configured shuffle
      // parallelism — cluster-sized in production, core count locally)
      // because AQE would coalesce a byte-small frame to a handful of
      // partitions and serialize the wedge explosion, the operator's
      // dominant CPU: partition count here must track the JOIN's output,
      // which AQE cannot see from the input bytes.
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the cache eagerly (one job — replaces the former eager
    // checkpoint job) so the three concurrent consumers below never race
    // to compute the same partition
    oriented.count()
    // wedges at the lowest-rank corner: (a->b, a->c) with rank(b) < rank(c);
    // closed iff the oriented edge b->c exists (it is oriented b->c by
    // transitivity of the rank order). Distinct column names per leg — the
    // three legs share the checkpointed `oriented` lineage.
    val e1 = oriented
      .select(col("a").as("ta"), col("b").as("tb"), col("__db").as("__rb"))
    val e2 = oriented
      .select(col("a").as("ua"), col("b").as("tc"), col("__db").as("__rc"))
    val wedges = e1
      .join(e2,
        col("ta") === col("ua") &&
          (col("__rb") < col("__rc") ||
            (col("__rb") === col("__rc") && col("tb") < col("tc"))))
      .select(col("ta"), col("tb"), col("tc"))
    val tris = wedges
      .join(oriented.select(col("a").as("tb"), col("b").as("tc")), Seq("tb", "tc"))
      .select(col("ta"), col("tb"), col("tc"))
    // r16: count all three corners in ONE pass over tris (explode of the
    // corner array) — the former three-branch self-union re-ran the
    // closure-join probe once per branch (the exchanges below it were
    // reused, the join itself was not)
    val perNode = tris
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("tri"))
    val out = deg
      .join(perNode, Seq("id"), "left")
      .select(
        col("id"),
        col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr(s"(2 * coalesce(tri, 0L) * ${scale}L) div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).as("clust_x1e6"))
      .localCheckpoint(true)
    oriented.unpersist(false)
    out
  }

  /** Synchronous label propagation — community detection for corpus
    * curation: connected components (q136) answer "which pages are
    * REACHABLE from each other", LPA answers the finer "which pages vote
    * each other into the same neighborhood" — the clusters a link-farm /
    * mirror-network excision acts on, where CC would fuse everything one
    * stray hyperlink touches.
    *
    * Deterministic variant (the only kind an oracle can replay): labels
    * start as node ids; each round every node adopts the MOST FREQUENT
    * label among its neighbors, ties broken by SMALLEST label. Multi-edges
    * count as multiple votes (the `propagate` rule); the graph is
    * symmetrized internally so "neighbor" means either endpoint. Fixed
    * `iters` rounds, synchronous (all nodes update from the previous
    * round's labels) — convergence detection would cost a per-round
    * driver probe and makes the result load-order-dependent in the
    * asynchronous form every textbook warns about.
    *
    * All-integer (labels are ids, votes are counts) — every engine
    * replays the recurrence bit for bit. The per-round argmax is
    * `min(struct(-votes, label))` — a partial-aggregable struct-min, NOT
    * a per-node row_number window: the vote table collapses map-side and
    * no per-node sort materializes.
    *
    * Scale shape per round: one shuffle join (edges × labels on src — the
    * label frame is node-sized, the edge frame is checkpointed once up
    * front) + one (node, label) partial agg + one node partial agg.
    * iters·3 bounded shuffles total, the inherent cost of any synchronous
    * graph recurrence (the `propagate` posture).
    *
    * Output: id, label (the community representative after `iters`
    * rounds).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame =
    labelPropagationWith(edges, srcCol, dstCol, iters, DriverGate.collect)

  /** `labelPropagation`'s distributed rounds at any graph size. */
  private[operators] def labelPropagationDistributed(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame =
    labelPropagationWith(edges, srcCol, dstCol, iters, DriverGate.never)

  private def labelPropagationWith(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      gate: DriverGate.Gate): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // `=!=` is null on a null endpoint, so the filter drops those edges too
    val dir = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true) // reused every round
    gate(dir) match {
      case Some(rows) => DriverGate.frame(edges, Seq("id", "label"), labelPropagationLocal(rows, iters))
      case None       => labelPropagationRounds(dir, iters)
    }
  }

  private def labelPropagationRounds(dir: DataFrame, iters: Int): DataFrame = {
    val e = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
    // after symmetrization every node appears as a src. r16: each round
    // references the previous round's frame exactly once (the e-join), so
    // rounds compose lazily (`lazyRounds`, the `propagate` posture — the
    // former per-round eager checkpoint was pure driver-barrier latency).
    val labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    lazyRounds(labels, iters) { prev =>
      e.join(prev.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__v"))
        .groupBy(col("id"))
        .agg(min(struct((-col("__v")).as("nv"), col("label").as("l"))).as("__w"))
        .select(col("id"), col("__w.l").as("label"))
    }
  }

  /** `labelPropagationRounds` on the collected self-loop-free, null-free
    * directed edge rows: each node hears every neighbor's label once per
    * edge between them, in either direction. */
  private def labelPropagationLocal(rows: Array[Row], iters: Int): Seq[Row] = {
    val nodes = new DriverGate.Nodes
    val src   = rows.map(nodes(_, 0))
    val dst   = rows.map(nodes(_, 1))
    val n     = nodes.size
    val heard = Array.fill(n)(ArrayBuffer.empty[Int])
    rows.indices.foreach { k => heard(dst(k)) += src(k); heard(src(k)) += dst(k) }
    var label = Array.tabulate(n)(nodes.id)
    (1 to iters).foreach { _ =>
      label = Array.tabulate(n) { v =>
        // most votes wins, ties to the smallest label: scan the sorted
        // labels and keep a run only when it is strictly longer
        val ls = heard(v).iterator.map(label).toArray
        java.util.Arrays.sort(ls)
        var best = ls(0); var bestN = 0; var i = 0
        while (i < ls.length) {
          var j = i
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i > bestN) { best = ls(i); bestN = j - i }
          i = j
        }
        best
      }
    }
    (0 until n).map(i => Row(nodes.id(i), label(i)))
  }

  /** Rounds between lineage cuts in `lazyRounds`. */
  private val CkptEvery = 8

  /** The loop posture of `propagate` and `labelPropagation`: apply `step`
    * `iters` times, composing rounds lazily (each round references the
    * previous frame exactly once, so the plan grows linearly and runs as
    * one job), truncate lineage with an eager localCheckpoint every
    * `CkptEvery` rounds, and materialize the final round. Fixed-round
    * recurrences only: the cut points never change the integers.
    */
  private def lazyRounds(init: DataFrame, iters: Int)(step: DataFrame => DataFrame): DataFrame = {
    var cur  = init
    var iter = 0
    while (iter < iters) {
      cur = step(cur)
      iter += 1
      if (iter % CkptEvery == 0 && iter < iters) cur = cur.localCheckpoint(true)
    }
    cur.localCheckpoint(true)
  }
}
