package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Jobs
import graft.contract.Contract
import graft.core.GraftSession
import graft.decode.CanDecode
import graft.pipelines.CanPipelines

/** The repo benchmark: one workload per invocation, a closed loop with one
  * client, every output checked outside the timed region.
  *
  *   PerfBench --workload <can_backfill_trickle|contract_iterative>
  *             --seed <n> --seconds <s> --trace <0|1> --work <dir> --fixture <dir>
  *             [--spans <file>]
  *
  * A workload repeats a fixed episode of calls until `--seconds` passed:
  *   - can_backfill_trickle: a `Jobs.parse` + `Jobs.infer` invocation over a
  *     seeded backlog, then `TrickleSteps` invocations that each land a few
  *     short new segments plus one late segment;
  *   - contract_iterative: one pass over the iterative contract cells at
  *     sf0.01 into the `noop` sink, the first in the JVM.
  *
  * The last stdout line is one JSON object: `correct`, `attempted`, `failed`
  * and `metrics` — the end-to-end metrics with `--trace 0`, the per-layer
  * metrics with `--trace 1`. Details go to stderr. Exit code 1 when any
  * output check failed.
  */
object PerfBench {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: Path,
      fixture: Path,
      spans: Option[Path])

  final case class Metric(name: String, value: Double, unit: String)

  /** One timed call of an episode (a Jobs invocation or a contract cell):
    * its wall time, the CPU time the whole process spent during it, and, in
    * traced episodes, the collectors' deltas.
    */
  final case class Call(name: String, wallS: Double, cpuS: Double, d: Map[String, Long])

  final case class Episode(traced: Boolean, calls: Seq[Call]) {
    def wallS: Double = calls.map(_.wallS).sum
    def cpuS: Double  = calls.map(_.cpuS).sum
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of the process so far, in seconds. Time the
    * host stole from the virtual CPUs is not counted.
    */
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** What a workload hands back: its episodes, its own per-layer metrics,
    * and the attempted/failed operation counts.
    */
  final case class Run(episodes: Seq[Episode], layer: Seq[Metric], attempted: Int, failed: Int)

  val Workloads: Seq[String] = Seq("can_backfill_trickle", "contract_iterative")

  /** The cells built on hand-written iterative loops (ROADMAP item 2). */
  val IterativeCells: Seq[String] = Seq(
    "q106_link_pagerank", "q128_hits", "q136_personalized_pagerank", "q208_label_propagation",
    "q48_neardup_cc", "q81_neardup_cc_star", "q45_ivf_kmeans", "q197_bpe_train")

  // episode shape of can_backfill_trickle (stated in BENCHMARK.json and the README)
  val Devices        = 3
  val BacklogHours   = 2
  val BacklogMinutes = 3
  val TrickleSteps   = 3
  val TrickleSegSec  = 30

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(
      need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("fixture")).toAbsolutePath,
      kv.get("spans").map(Paths.get(_)))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val o        = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // half the machine's cores: on a shared host, the JIT and GC threads and
    // the driver thread then do not queue behind the task threads
    val cores    = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    // graft.Bench's session: the engine defaults, shuffle partitions = cores
    val spark = GraftSession.local(cores.toString, cores)
    graft.Bench.quietBenignNoise()
    val trace = new Trace(spark)
    val setup = new Setup((System.currentTimeMillis() - jvmStart) / 1000.0)
    val run =
      try o.workload match {
        case "can_backfill_trickle" => canBackfillTrickle(spark, o, trace, setup)
        case "contract_iterative"   => contractIterative(spark, o, trace, setup)
      } finally spark.stop()
    o.spans.foreach(trace.writeSpans)

    run.episodes.foreach { e =>
      log(f"episode${if (e.traced) " (traced)" else ""} ${e.wallS}%.3f s, cpu ${e.cpuS}%.3f s: " +
        e.calls.map(c => f"${c.name} ${c.wallS}%.3f").mkString(", "))
    }
    val plain = run.episodes.filterNot(_.traced)
    val metrics =
      if (!o.trace)
        Seq(
          Metric("setup_s", setup.total, "s"),
          Metric("episode_cpu_s", Stats.median(plain.map(_.cpuS)), "s"),
          Metric("peak_rss_mb", Stats.peakRssMb(), "MB"))
      else {
        val traced = run.episodes.filter(_.traced)
        sparkLayer(traced, trace) ++ run.layer :+
          Metric("trace.overhead_frac", Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1.0,
            "ratio")
      }
    val body = metrics
      .map(m => s""""${m.name}": {"value": ${Stats.num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$body}}""")
    if (run.failed > 0) sys.exit(1)
  }

  /** Set-up time: session start, the median of three input preparations,
    * and the warm-up with its untimed output check.
    */
  final class Setup(sessionS: Double) {
    private val preps = mutable.ArrayBuffer.empty[Double]
    private var warmS = 0.0
    private def timed[A](sink: Double => Unit)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally sink((System.nanoTime() - t0) / 1e9)
    }
    def prep[A](body: => A): A = timed(preps += _)(body)
    def warm[A](body: => A): A = timed(warmS += _)(body)
    def total: Double = {
      val prepS = if (preps.isEmpty) 0.0 else Stats.median(preps.toSeq)
      log(f"setup: session $sessionS%.3f s, prep median $prepS%.3f s of ${preps.size}, warm-up $warmS%.3f s")
      sessionS + prepS + warmS
    }
  }

  // ------------------------------------------------------------- closed loop

  /** Runs episodes back to back until `seconds` have passed (at least one).
    * A traced run alternates: untraced, traced, untraced, ... so the
    * untraced episodes give the tracing-overhead baseline.
    */
  private def closedLoop(o: Opts, trace: Trace)(episode: Boolean => Episode): Seq[Episode] = {
    val out   = mutable.ArrayBuffer.empty[Episode]
    val start = System.nanoTime()
    val need  = if (o.trace) 2 else 1
    while (out.size < need || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val traced = o.trace && out.size % 2 == 1
      trace.attach(traced)
      out += episode(traced)
    }
    trace.attach(false)
    out.toSeq
  }

  /** Clears caches and persisted blocks between calls (untimed). */
  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private[perfbench] def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  /** (file count, total bytes) of the regular files under `p` ending in `suffix`. */
  private def treeStats(p: Path, suffix: String): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
        (fs.size, fs.map(Files.size).sum)
      } finally s.close()
    }

  private def report(what: String, errs: Seq[String]): Boolean = {
    errs.take(5).foreach(e => log(s"CHECK FAILED ($what): $e"))
    errs.isEmpty
  }

  // ------------------------------------------------------------------- CAN

  /** One `Jobs.parse` + `Jobs.infer` invocation; only the two calls are
    * timed. The call's deltas carry the collectors plus the work dir's file
    * facts after it (`Jobs.infer` writes no landing file, so the landing
    * count after it is the count it read).
    */
  private def invoke(spark: SparkSession, trace: Trace, name: String, raw: Path, work: Path): Call = {
    val before = trace.snapshot()
    val c0     = processCpuS()
    val t0     = System.nanoTime()
    trace.span("parse")(Jobs.parse(spark, raw.toString, work.toString))
    trace.span("infer")(Jobs.infer(spark, work.toString))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu  = processCpuS() - c0
    trace.drain()
    Call(name, wall, cpu, Trace.delta(trace.snapshot(), before) ++ Map(
      "landing_files_read" -> treeStats(work.resolve("landing_json"), ".json")._1.toLong,
      "docs_written"       -> treeStats(work.resolve("events"), ".json")._1.toLong,
      "checkpoint_bytes"   -> treeStats(work.resolve("ckpt"), "")._2))
  }

  /** Writes every step's files under `stage/stepNNN` and returns each step's
    * expected outputs (the truth after that step).
    */
  private[perfbench] def stagePlan(seed: Long, plan: Seq[Seq[CanGen.FileSpec]], stage: Path): Seq[Truth.Expected] = {
    deleteTree(stage)
    val truth = new Truth
    val sched = mutable.Map.empty[String, CanGen.Schedule]
    plan.zipWithIndex.map { case (files, k) =>
      truth.beginInvocation()
      val w = files.map(CanGen.write(stage.resolve(f"step$k%03d"), _,
        d => sched.getOrElseUpdate(d, new CanGen.Schedule(seed, d)), truth, seed))
        .foldLeft(CanGen.Empty)(_ + _)
      log(s"step $k: ${w.files} files, ${w.bytes} bytes, ${w.frames} frames")
      truth.expected
    }
  }

  private def canBackfillTrickle(spark: SparkSession, o: Opts, trace: Trace, setup: Setup): Run = {
    val plan = CanGen.plan(o.seed, Devices, BacklogHours, BacklogMinutes, TrickleSteps, TrickleSegSec)
    // three identical preparations; the median is the set-up share
    val stage    = o.work.resolve("stage")
    val expected = (0 until 3).map(_ => setup.prep(stagePlan(o.seed, plan, stage))).last

    var attempted, failed = 0
    var lastRaw: Path = null
    /** Step k of the plan arrives (untimed copy), runs, and is checked. */
    def episode(tag: String, stg: Path, exps: Seq[Truth.Expected]): Seq[Call] = {
      val root = o.work.resolve(s"ep-$tag")
      deleteTree(root)
      val calls = exps.indices.flatMap { k =>
        copyTree(stg.resolve(f"step$k%03d"), root.resolve("raw"))
        attempted += 1
        val name = if (k == 0) "backfill" else s"trickle$k"
        val call =
          try Some(invoke(spark, trace, name, root.resolve("raw"), root.resolve("work")))
          catch { case e: Exception => log(s"episode $tag $name threw: $e"); failed += 1; None }
        if (call.nonEmpty && !report(s"episode $tag $name", CanCheck.all(root.resolve("work"), exps(k))))
          failed += 1
        settle(spark)
        call
      }
      if (lastRaw != null) deleteTree(lastRaw.getParent)
      lastRaw = root.resolve("raw")
      calls
    }
    // warm-up: the backfill of the same plan, which pays the JVM's cold
    // parse and infer (about three times a warm backfill)
    setup.warm(episode("warm", stage, expected.take(1)))
    var n = 0
    val eps = closedLoop(o, trace) { traced =>
      n += 1
      Episode(traced, episode(n.toString, stage, expected))
    }
    val layer = if (o.trace) canLayer(spark, trace, lastRaw, eps.filter(_.traced)) else Nil
    Run(eps, layer, attempted, failed)
  }

  // -------------------------------------------------------------- contract

  /** Canonical digest of a result: row strings sorted, then SHA-256. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md   = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def contractIterative(spark: SparkSession, o: Opts, trace: Trace, setup: Setup): Run = {
    val sf = o.fixture.toString
    // the inputs are the fixed sf0.01 tables the recorded digests belong
    // to, so the seed does not apply; the cells run in a fixed order
    val cells  = IterativeCells
    val wanted = (0 until 3).map(_ => setup.prep(Digests.load(o.fixture.resolve("digests.json")))).last
    var attempted, failed = 0

    /** construct (`q.run`), plan, execute into `noop` — timed; then the
      * result digest against the recorded one — untimed. Collecting re-runs
      * only the final plan: construction-time jobs already materialized.
      */
    def cell(n: String): Option[Call] = {
      attempted += 1
      val s0 = trace.snapshot()
      val r =
        try {
          val c0 = processCpuS()
          val t0 = System.nanoTime()
          val df = trace.span(s"cell.$n")(Contract.byName(n).run(spark, sf))
          trace.drain()
          val s1 = trace.snapshot(); val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          val cpu = processCpuS() - c0
          trace.drain()
          val call = Call(n, (t3 - t0) / 1e9, cpu, Trace.delta(trace.snapshot(), s0) ++ Map(
            "construct_us"   -> (t1 - t0) / 1000L,
            "plan_us"        -> (t2 - t1) / 1000L,
            "execute_us"     -> (t3 - t2) / 1000L,
            "construct_jobs" -> (s1.getOrElse("jobs", 0L) - s0.getOrElse("jobs", 0L))))
          val got = digest(df)
          if (!wanted.get(n).contains(got)) {
            log(s"CHECK FAILED ($n): got $got, recorded ${wanted.get(n)}")
            failed += 1
          }
          Some(call)
        } catch { case e: Exception => log(s"$n threw: $e"); failed += 1; None }
      settle(spark)
      r
    }
    // warm-up: open the fixture tables, so the first cell does not pay for
    // the session's first jobs. The timed pass is the JVM's first pass over
    // the cells, JIT and code generation included, as in a freshly started
    // job. A traced run warms a whole pass instead, so its untraced and
    // traced passes compare like with like.
    setup.warm {
      Seq("lineitem", "documents", "embeddings").foreach(t => graft.core.Tables.parquet(spark, sf, t).count())
      if (o.trace) cells.foreach(cell)
    }
    val eps = closedLoop(o, trace)(traced => Episode(traced, cells.flatMap(cell)))
    val layer =
      if (!o.trace) Nil
      else {
        val calls = eps.filter(_.traced).flatMap(_.calls)
        val n     = math.max(eps.count(_.traced), 1).toDouble
        val tot   = Trace.sum(calls.map(_.d))
        def per(k: String): Double = tot.getOrElse(k, 0L) / n
        val wallMs = calls.map(_.wallS).sum * 1000.0 / n
        Seq(
          Metric("contract.construct_ms", per("construct_us") / 1000.0, "ms"),
          Metric("contract.plan_ms", per("plan_us") / 1000.0, "ms"),
          Metric("contract.execute_ms", per("execute_us") / 1000.0, "ms"),
          Metric("contract.construct_jobs", per("construct_jobs"), "count"),
          Metric("contract.jobs", per("jobs"), "count"),
          Metric("contract.effective_cores", per("task_ms") / wallMs, "cores")) ++
          IterativeCells.flatMap { c =>
            val ds = calls.filter(_.name == c)
            Seq(
              Metric(s"contract.$c.wall_ms", Stats.median(ds.map(_.wallS * 1000.0)), "ms"),
              Metric(s"contract.$c.construct_jobs",
                Stats.median(ds.map(_.d.getOrElse("construct_jobs", 0L).toDouble)), "count"))
          } ++ CanLayerNames.map { case (k, u) => Metric(k, 0.0, u) } // no CAN layer runs here
      }
    Run(eps, layer, attempted, failed)
  }

  // ------------------------------------------------------- layer metrics

  /** `spark.*`: per traced episode, from the SparkListener. */
  private def sparkLayer(traced: Seq[Episode], trace: Trace): Seq[Metric] = {
    val n   = math.max(traced.size, 1).toDouble
    val tot = Trace.sum(traced.flatMap(_.calls).map(_.d))
    def per(k: String): Double = tot.getOrElse(k, 0L) / n
    val wallMs = traced.map(_.wallS).sum * 1000.0 / n
    Seq(
      Metric("spark.jobs", per("jobs"), "count"),
      Metric("spark.stages", per("stages"), "count"),
      Metric("spark.tasks", per("tasks"), "count"),
      Metric("spark.task_ms", per("task_ms"), "ms"),
      Metric("spark.cpu_ms", per("cpu_ns") / 1e6, "ms"),
      Metric("spark.shuffle_read_bytes", per("shuffle_read_bytes"), "bytes"),
      Metric("spark.shuffle_write_bytes", per("shuffle_write_bytes"), "bytes"),
      Metric("spark.spill_bytes", per("spill_bytes"), "bytes"),
      Metric("spark.peak_exec_mem_bytes", trace.snapshot().getOrElse("peak_exec_mem_bytes", 0L).toDouble, "bytes"),
      Metric("spark.effective_cores", per("task_ms") / wallMs, "cores"))
  }

  val CanLayerNames: Seq[(String, String)] = Seq(
    "decode.ms" -> "ms", "decode.frames" -> "count", "decode.frames_per_s" -> "1/s",
    "decode.noise_bytes" -> "bytes", "decode.truncated_bytes" -> "bytes", "decode.invalid_headers" -> "count",
    "pipelines.pivot.ms" -> "ms", "pipelines.pivot.rows" -> "count",
    "streaming.parse_ms" -> "ms", "streaming.triggers" -> "count", "streaming.input_rows" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms", "streaming.offset_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.checkpoint_bytes" -> "bytes", "streaming.merge_ms" -> "ms", "sources.landing_json_ms" -> "ms",
    "jobs.backfill_ms" -> "ms", "jobs.infer_ms" -> "ms", "jobs.infer_growth" -> "ratio",
    "sources.landing_files_read" -> "count", "sources.doc_write_ms" -> "ms", "sources.docs_written" -> "count")

  val ContractLayerNames: Seq[(String, String)] =
    Seq("construct_ms" -> "ms", "plan_ms" -> "ms", "execute_ms" -> "ms", "construct_jobs" -> "count",
      "jobs" -> "count", "effective_cores" -> "cores").map { case (k, u) => s"contract.$k" -> u } ++
      IterativeCells.flatMap(c => Seq(s"contract.$c.wall_ms" -> "ms", s"contract.$c.construct_jobs" -> "count"))

  /** The CAN layers: streaming and Jobs counters of the traced episodes'
    * trickle steps (the backfill step reports its own latency), plus decode
    * and pivot probes over the episode's raw logs.
    */
  private def canLayer(spark: SparkSession, trace: Trace, raw: Path, traced: Seq[Episode]): Seq[Metric] = {
    val steps = traced.flatMap(_.calls).filter(_.name != "backfill")
    val n     = math.max(steps.size, 1).toDouble
    val tot   = Trace.sum(steps.map(_.d))
    def per(k: String): Double = tot.getOrElse(k, 0L) / n
    // decode and decode+pivot probes: median of three, pivot = difference
    def timedMs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val rawS      = raw.toString
    val decodeMs  = Stats.median((1 to 3).map(_ => timedMs(noop(trace.span("decodeFiles")(CanDecode.decodeFiles(spark, rawS))))))
    val bothMs    = Stats.median((1 to 3).map(_ => timedMs(noop(
      trace.span("pivot")(CanPipelines.pivot(CanDecode.decodeFiles(spark, rawS)))))))
    val pivotRows = CanPipelines.pivot(CanDecode.decodeFiles(spark, rawS)).count()
    val stats     = trace.span("scanStats")(CanDecode.scanStats(spark, rawS)).collect()
    def col(name: String): Long = stats.map(r => r.getAs[Long](name)).sum
    val frames    = col("n_frames")
    val infer     = steps.map(_.d.getOrElse("span.infer", 0L) / 1000.0)
    val q         = math.max(infer.size / 4, 1)
    val m = Map(
      "decode.ms"                  -> decodeMs,
      "decode.frames"              -> frames.toDouble,
      "decode.frames_per_s"        -> frames / (decodeMs / 1000.0),
      "decode.noise_bytes"         -> col("noise_bytes").toDouble,
      "decode.truncated_bytes"     -> col("truncated_tail_bytes").toDouble,
      "decode.invalid_headers"     -> stats.count(r => !r.getAs[Boolean]("valid_header")).toDouble,
      "pipelines.pivot.ms"         -> (bothMs - decodeMs),
      "pipelines.pivot.rows"       -> pivotRows.toDouble,
      "streaming.parse_ms"         -> per("span.parse") / 1000.0,
      "streaming.triggers"         -> per("triggers"),
      "streaming.input_rows"       -> per("input_rows"),
      "streaming.add_batch_ms"     -> per("add_batch_ms"),
      "streaming.planning_ms"      -> per("planning_ms"),
      "streaming.offset_ms"        -> per("offset_ms"),
      "streaming.wal_commit_ms"    -> per("wal_commit_ms"),
      "streaming.state_rows"       -> per("state_rows"),
      "streaming.state_bytes"      -> per("state_bytes"),
      "streaming.checkpoint_bytes" -> steps.lastOption.flatMap(_.d.get("checkpoint_bytes")).getOrElse(0L).toDouble,
      "streaming.merge_ms"         -> per("task_ms.merge.parse"),
      "sources.landing_json_ms"    -> per("task_ms.landingio.parse"),
      "jobs.backfill_ms"           -> Stats.median(traced.flatMap(_.calls).filter(_.name == "backfill").map(_.wallS * 1000.0)),
      "jobs.infer_ms"              -> per("span.infer") / 1000.0,
      "jobs.infer_growth"          -> Stats.median(infer.takeRight(q)) / Stats.median(infer.take(q)),
      "sources.landing_files_read" -> per("landing_files_read"),
      "sources.doc_write_ms"       -> per("task_ms.landingio.infer"),
      "sources.docs_written"       -> per("docs_written"))
    CanLayerNames.map { case (k, u) => Metric(k, m(k), u) } ++
      ContractLayerNames.map { case (k, u) => Metric(k, 0.0, u) } // no contract cell runs here
  }
}
