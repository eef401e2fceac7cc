package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.DataFrame

import graft.pipelines.CanPipelines
import graft.Measure.fmt

/** Deterministic synthetic CANServer log for the domain-pipeline bench:
  * one hour of 10 Hz frames across all 5 channels (~180k frames, ~1.6 MB)
  * — the parse-class workload BASELINE.md's envelope is defined against.
  */
object BenchLog {
  def write(dir: String): String = {
    val t0  = 1700000000L * 1000000L
    val out = new java.io.ByteArrayOutputStream(2 << 20)
    out.write("CANSERVER_v2_CANSERVER".getBytes("ASCII"))
    def sync(m: Long): Unit = { out.write(0xce); (0 until 8).foreach(i => out.write(((m >>> (8 * i)) & 0xff).toInt)) }
    def frame(off: Int, id: Int, p: Array[Byte]): Unit = {
      out.write(0xcf); out.write(off & 0xff); out.write((off >> 8) & 0xff)
      out.write(id & 0xff); out.write((id >> 8) & 0xff); out.write(p.length); out.write(p)
    }
    var sec = 0
    while (sec < 3600) {
      sync(t0 + sec.toLong * 1000000L) // new sync each second (offset is u16 ms)
      var tick = 0
      while (tick < 10) {
        val off = tick * 100
        val v   = sec % 120 // alternating 60 s stationary / 60 s moving
        val spd = if (v < 60) 0.0 else 50.0
        val u   = math.round((spd + 40.0) / 0.08).toInt
        frame(off, 599, Array[Byte](0, ((u & 0xf) << 4).toByte, (u >> 4).toByte))
        frame(off, 273, Array[Byte]((sec % 251).toByte, 1, (tick * 17).toByte, 2, 3, 4))
        frame(off, 257, Array[Byte](5, 6, (sec % 13).toByte, 7, 8, 9))
        frame(off, 79, Array[Byte](1, 2, 3, 4, 5, 6, 7))
        if (tick == 0) frame(off, 921, Array[Byte](if (v < 60) 2 else 3))
        tick += 1
      }
      sec += 1
    }
    val p = Paths.get(dir, "bench.log")
    Files.write(p, out.toByteArray)
    dir
  }
}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds.
  *
  * A single JVM running every query inflates individual timings 2-26x
  * (GC/heap churn across 100+ queries), so the run is a PARENT that splits
  * the cell list into chunks of 12 and runs each chunk in a FRESH FORKED
  * JVM (same classpath, same JVM flags — including build.sbt's --add-opens
  * and -Xmx), then concatenates the per-chunk results into one JSON line.
  * Cross-chunk interference is structurally impossible; each chunk pays
  * one warmup so JIT/codegen cost is not billed to its first query. The
  * pipeline cells share one chunk because they share the landing build.
  *
  * Environment:
  *   SPARK_GRAFT_SF_DIR      data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        cores per chunk JVM (default 32)
  *   SPARK_GRAFT_BENCH_REPS  reps per cell, median reported (default 3)
  *   SPARK_GRAFT_BENCH_ONLY  comma list of name prefixes: bench only the
  *                           matching cells (still forked)
  *   SPARK_GRAFT_BENCH_OUT   full-detail record file (default bench.json)
  *   SPARK_GRAFT_CALIB_DIR   calibration scale dir (default sf0.01)
  *
  * Each chunk JVM calibrates (`Measure.calibrateOrWait`) before measuring:
  * a loaded host makes it wait 60 s and re-calibrate, drawing on one
  * global budget of 8 waits the parent hands down, so a permanently
  * loaded host bounds the run at +8 min instead of hanging. Per cell, the
  * query goes through the `noop` sink SPARK_GRAFT_BENCH_REPS times and the
  * MEDIAN is reported; a failure records -1 and the name in "failed". A
  * chunk that does not finish within `ChunkTimeoutMs` is killed and all
  * its cells fail. Child stdout/stderr go to a per-chunk log, so the
  * parent's stdout tail holds the JSON line, not stack traces.
  */
object Bench {

  /** Domain-pipeline cells (not in SparkEntry.queries); they share the
    * synthetic log and cached landing, so the parent keeps them in one chunk.
    */
  private val pipelineNames = Seq("pipeline_parse_1h_log", "pipeline_stationary", "pipeline_autopilot")

  private val ChunkSize       = 12
  private val CalibWaitBudget = 8

  /** A chunk JVM still running after this long is killed (its cells fail). */
  private val ChunkTimeoutMs = 30L * 60 * 1000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args match {
      // a chunk child: <calibration waits left> <exact names, comma-joined>
      case Array(waits, names) => childMain(sfDir, names.split(",").toSeq, waits.toInt)
      case _                   => parentMain(sfDir)
    }
  }

  /** What one chunk reports: results in the parent's order, failed names,
    * its calibration median (absent when calibration could not run) and
    * the calibration waits it spent.
    */
  private[graft] final case class Chunk(
      results: Seq[(String, Double)],
      failed: Seq[String],
      calib: Option[Double],
      calibWaits: Int)

  // ---------------------------------------------------------------- parent

  private def parentMain(sfDir: String): Unit = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(name: String) = only.forall(_.exists(name.startsWith))
    val chunks = (SparkEntry.queries.keys.toSeq.sorted.filter(wanted).grouped(ChunkSize).toSeq :+
      pipelineNames.filter(wanted)).filter(_.nonEmpty)
    require(chunks.nonEmpty, s"SPARK_GRAFT_BENCH_ONLY=${only.getOrElse(Nil).mkString(",")} matches no bench cell")
    var waitsLeft = CalibWaitBudget
    val done = chunks.map { names =>
      val c = runChunkForked(names, sfDir, waitsLeft)
      waitsLeft -= c.calibWaits
      c
    }
    val failed = done.flatMap(_.failed)
    emit(done.flatMap(_.results), failed, sfDir, done.flatMap(_.calib), CalibWaitBudget - waitsLeft)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Runs one chunk in a fresh JVM that mirrors this one (classpath + input
    * args reproduce sbt's forked-run flags: --add-opens, -Xmx). A child
    * that dies, times out or writes no parseable record fails every cell.
    */
  private def runChunkForked(names: Seq[String], sfDir: String, waitsLeft: Int): Chunk = {
    import scala.jdk.CollectionConverters._
    val out     = Files.createTempFile("bench-chunk", ".json")
    val log     = Files.createTempFile("bench-chunk", ".log")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench", waitsLeft.toString, names.mkString(","))): _*)
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectOutput(log.toFile)
    pb.redirectError(ProcessBuilder.Redirect.appendTo(log.toFile))
    val finished =
      try awaitOrKill(pb.start(), ChunkTimeoutMs)
      catch { case e: java.io.IOException => System.err.println(s"[bench] cannot fork: ${e.getMessage}"); false }
    if (!finished) System.err.println(s"[bench] chunk ${names.mkString(",")} did not finish; killed")
    val chunk = parseChunk(if (finished) Files.readString(out) else "", names)
    if (chunk.failed.nonEmpty) {
      val tail = Files.readString(log)
      System.err.println(s"[bench] chunk with failures ${chunk.failed.mkString(",")}, child log tail:\n" +
        tail.substring(math.max(0, tail.length - 1500)))
    }
    Files.deleteIfExists(out)
    Files.deleteIfExists(log)
    chunk
  }

  /** Waits up to `timeoutMs` for `p` to exit. On expiry kills it and
    * returns false once it is dead (or after a further bounded 10 s).
    */
  private[graft] def awaitOrKill(p: Process, timeoutMs: Long): Boolean =
    p.waitFor(timeoutMs, TimeUnit.MILLISECONDS) || {
      p.destroyForcibly().waitFor(10, TimeUnit.SECONDS)
      false
    }

  /** Parses a child's full-detail record (a flat "queries" object of
    * name->seconds and a "calibration" block). A name the child never
    * reported, because it crashed mid-chunk or wrote nothing, is -1 and
    * failed, not a silent omission.
    */
  private[graft] def parseChunk(raw: String, names: Seq[String]): Chunk = {
    val pair = """"([^"]+)":(-?\d+(?:\.\d+)?)""".r
    val got = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(raw).toSeq
      .flatMap(m => pair.findAllMatchIn(m.group(1)).map(p => p.group(1) -> p.group(2).toDouble))
      .toMap
    val res = names.map(n => n -> got.getOrElse(n, -1.0))
    Chunk(
      res,
      res.collect { case (n, v) if v < 0 => n },
      """"median":(\d+(?:\.\d+)?)""".r.findFirstMatchIn(raw).map(_.group(1).toDouble),
      """"calib_waits":(\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt).getOrElse(0))
  }

  // ----------------------------------------------------------------- child

  /** Measures the named cells in THIS JVM and writes the chunk record. */
  private def childMain(sfDir: String, names: Seq[String], maxWaits: Int): Unit = {
    val reps   = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val wanted = names.toSet
    val spark  = Measure.session()
    Measure.warmup(spark)
    val (calib, waits) = Measure.calibrateOrWait(spark, maxWaits, "bench")

    // median of `reps` runs; any failing rep fails the cell (-1)
    def timed(name: String)(df: => DataFrame): (String, Double) = {
      val times = (1 to reps).map(_ => Measure.noop("bench", name)(df))
      name -> (if (times.exists(_ < 0)) -1.0 else times.sorted.apply(reps / 2))
    }

    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if wanted(name) =>
        val r = timed(name)(fn(spark, sfDir))
        Measure.settle(spark)
        r
    }

    // The domain pipelines over a synthetic 1-hour 10 Hz log (~180k
    // frames), the parse-class / inference-class workloads of BASELINE.md.
    // The parse cell runs the FULL read+decode each rep (no cache, so the
    // median measures the parse, not a cache readback); the cached landing
    // below is built outside any timer for the downstream pipelines.
    lazy val logDir = BenchLog.write(Files.createTempDirectory("benchlog").toString)
    def landing = CanPipelines.parseToLanding(graft.decode.CanDecode.decodeFiles(spark, logDir))
    val parseResults =
      if (wanted("pipeline_parse_1h_log")) Seq(timed("pipeline_parse_1h_log")(landing)) else Nil
    val downstream = Seq(
      "pipeline_stationary" -> ((l: DataFrame) => CanPipelines.stationaryIntervals(CanPipelines.speedSeries(l))),
      "pipeline_autopilot" -> ((l: DataFrame) =>
        CanPipelines.autopilotDaily(CanPipelines.autopilotTransitions(CanPipelines.apSeries(l)))))
      .filter { case (n, _) => wanted(n) }
    val downstreamResults =
      if (downstream.isEmpty) Nil
      else {
        val cached = landing.cache()
        cached.write.format("noop").mode("overwrite").save() // materialize, untimed
        val r = downstream.map { case (n, f) => timed(n)(f(cached)) }
        cached.unpersist()
        r
      }
    spark.stop()

    val results = queryResults ++ parseResults ++ downstreamResults
    val failed  = results.collect { case (n, v) if v < 0 => n }
    emit(results, failed, sfDir, Seq(calib).filter(_ >= 0), waits)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The eager localCheckpoint loops (star CC, k-means) race the
    * ContextCleaner into benign "attempted to access non-existent
    * accumulator" ERROR traces that bury the bench's one JSON line; those
    * loggers go to FATAL — real failures still surface through the
    * "failed" list and the [bench] stderr lines.
    */
  private[graft] def quietBenignNoise(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Seq(
        "org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.scheduler.TaskSchedulerImpl",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.executor.Executor",
        "org.apache.spark.ContextCleaner")
        .foreach(Configurator.setLevel(_, Level.FATAL))
    } catch { case _: Throwable => () } // logging must never kill the bench

  // ----------------------------------------------------------------- emit

  private def emit(
      results: Seq[(String, Double)],
      failed: Seq[String],
      sfDir: String,
      calibs: Seq[Double],
      calibWaits: Int): Unit = {
    val total    = results.map(_._2).filter(_ >= 0).sum
    val failedJs = Measure.jsonList(failed)
    // Self-normalization: the pinned calibration median/max across chunk
    // JVMs (README "Reading the bench record" gives the reading rule).
    val calibJs =
      if (calibs.isEmpty) ""
      else {
        val s = calibs.sorted
        s""""calibration":{"pinned":"q02_tpch_q1@sf0.01","median":${fmt(s(s.size / 2))},"max":${fmt(s.last)},"n":${s.size},"calib_waits":$calibWaits},"""
      }
    def line(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$extra$calibJs"loadavg":${Measure.loadavg()},"sf":"$sfDir","n_queries":${results.size},"failed":$failedJs}"""
    def cells(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Full per-query detail -> the OUT file, ALWAYS written (default
    // ./bench.json): a failing run's stdout tail can be consumed by stack
    // traces, and the file survives any exit code.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try Files.writeString(Paths.get(outPath), line(cells(results), "") + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] cannot write $outPath: ${e.getMessage}")
    }
    // The harness records only the LAST 2000 chars of stdout, and sbt
    // appends its own "[success] Total time..." line after ours — so the
    // stdout JSON must fit ~1800 chars or its head gets truncated away.
    // Emit entries slowest-first (failures always included) until the
    // budget is spent; the omitted fast tail is summed into "rest" so
    // value still equals the sum of everything reported.
    val budget  = 1100 // leave tail room for the compact headline LAST line
    val ordered = results.sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
    val picked  = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var used    = 0
    ordered.foreach { case (k, v) =>
      val entryLen = k.length + fmt(v).length + 4
      if (used + entryLen <= budget || v < 0) { picked += ((k, v)); used += entryLen }
    }
    val rest = total - picked.map(_._2).filter(_ >= 0).sum
    val restJs =
      if (picked.size == results.size) ""
      else s""""rest":${fmt(rest)},"omitted":${results.size - picked.size},"""
    println(line(cells(picked.toSeq), restJs))
    // COMPACT HEADLINE, ALWAYS THE LAST LINE: ~350 chars of complete JSON
    // (the 5 worst queries + the calibration facts), so a 2000-char tail
    // capture can never truncate the headline, and it parses on its own.
    val worst5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${cells(worst5)},""" +
        s""""rest":${fmt(total - worst5.map(_._2).sum)},""" + calibJs +
        s""""sf":"$sfDir","n_queries":${results.size},"failed":$failedJs}""")
  }
}
