package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkTestSession}
import graft.core.DirSwap
import graft.decode.CanFixture._
import graft.pipelines.CanPipelines

/** Landing/event JSON document contract: exact file naming, channel
  * round-trip, and the full raw -> landing -> events chain through the Jobs
  * driver (the reference DAG end-to-end), which infers from the landing
  * table and only exports the landing documents.
  */
class LandingIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A document tree read back with `spark.read.json`. */
  private def jsonDocs(dir: String) = spark.read.option("recursiveFileLookup", "true").json(dir)

  /** Every event document under `work`: path relative to events/ -> bytes. */
  private def eventDocs(work: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(work, "events")
    if (!Files.exists(root)) Map.empty
    else {
      val b = Map.newBuilder[String, Seq[Byte]]
      Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".json")) b += root.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }
      b.result()
    }
  }

  test("Jobs: raw binary -> landing parquet+JSON -> event documents, exact names") {
    val t0 = 1700000000L * 1000000L // 2023-11-14 22:13:20 UTC
    val raw  = Files.createTempDirectory("jobs_raw").toString
    val work = Files.createTempDirectory("jobs_work").toString
    val log =
      file(
        timesync(t0),
        // 20 s stationary run then movement
        (0 to 20).flatMap(i => frame(i * 1000, 599, 0, speedPayload(0.0))).toArray,
        frame(21000, 599, 0, speedPayload(60.0)),
        // AP engagement + disengagement
        frame(22000, 921, 0, Array[Byte](2)),
        frame(23000, 921, 0, Array[Byte](3)),
        frame(24000, 921, 0, Array[Byte](0)))
    Files.write(Paths.get(raw, "trip.log"), log)

    Jobs.parse(spark, raw, work)
    Jobs.infer(spark, work)

    // landing JSON: exact end-hour filename under the device (= parent dir
    // of the log, the reference's org prefix), read back as JSON
    def jsonNames(dir: String): Seq[String] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      java.nio.file.Files.walk(Paths.get(dir)).forEach { p =>
        if (p.toString.endsWith(".json")) b += p.getFileName.toString
      }
      b.toSeq.sorted
    }
    assert(jsonNames(s"$work/landing_json") === Seq("canserver_2023-11-14_23-00-00.json"))
    val deviceDir = new java.io.File(s"$work/landing_json").list().toSeq
    assert(deviceDir === Seq(new java.io.File(raw).getName)) // per-device subdir
    val landing = jsonDocs(s"$work/landing_json")
    assert(landing.count() === 1)
    val speeds = landing.select(explode(col("speed")).as("s")).select("s.value")
      .collect().map(_.getDouble(0))
    assert(speeds.length === 22 && speeds.count(_ == 0.0) === 21)

    // stationary day document: ISO name + trimmed interval content, under
    // the device prefix
    val dev   = new java.io.File(raw).getName
    val stDir = s"$work/events/Stationary"
    assert(jsonNames(stDir) === Seq("canserver-events_2023-11-14.json"))
    val st = new String(Files.readAllBytes(Paths.get(stDir, dev, "canserver-events_2023-11-14.json")), "UTF-8")
    assert(st.contains("\"IMU-telematics\""))
    assert(st.contains("\"stationary-state\""))
    assert(st.contains("1.700000003E9")) // start = t0 + 3 s trim
    assert(st.contains("1.700000017E9")) // end   = t0 + 20 - 3 s trim

    // incremental invocation: a later file in a NEW hour must add its doc
    // and leave the old hour's doc intact (only dirty hours re-channelized)
    val t1 = 1700003600L * 1000000L // 23:13:20 -> doc canserver_2023-11-15_00-00-00
    Files.write(Paths.get(raw, "trip2.log"), file(timesync(t1), frame(0, 599, 0, speedPayload(25.0))))
    Jobs.parse(spark, raw, work)
    assert(jsonNames(s"$work/landing_json") ===
      Seq("canserver_2023-11-14_23-00-00.json", "canserver_2023-11-15_00-00-00.json"))
    val oldDoc = jsonDocs(s"$work/landing_json")
    assert(oldDoc.count() === 2)

    // autopilot day document: both transitions kept, under the device prefix
    val apDir = s"$work/events/Autopilot"
    assert(jsonNames(apDir) === Seq("canserver-events_2023-11-14.json"))
    val ap = new String(Files.readAllBytes(Paths.get(apDir, dev, "canserver-events_2023-11-14.json")), "UTF-8")
    assert(ap.contains("\"engagement\"") && ap.contains("\"disengagement\""))
    assert(ap.contains("\"canbus_state\":3") && ap.contains("\"canbus_state\":0"))
  }

  test("Jobs: an AP edge and a stationary run spanning two files and two invocations") {
    val raw  = Files.createTempDirectory("xfile_raw").toString
    val work = Files.createTempDirectory("xfile_work").toString
    val dev  = new java.io.File(raw).getName

    CrossFile.writeA(raw)
    Jobs.parse(spark, raw, work)
    Jobs.infer(spark, work)
    assert(eventDocs(work).isEmpty, s"one file alone produced events: ${eventDocs(work).keys}")

    // file B, a later invocation
    CrossFile.writeB(raw)
    Jobs.parse(spark, raw, work)
    Jobs.infer(spark, work)

    val docs = eventDocs(work)
    val name = s"$dev/canserver-events_2023-11-14.json"
    assert(docs.keySet === Set(s"Autopilot/$name", s"Stationary/$name"))
    def text(k: String) = new String(docs(k).toArray, "UTF-8").trim
    // exactly one interval, spanning both files, trimmed 3 s on each side
    assert(text(s"Stationary/$name") ===
      """{"IMU-telematics":{"stationary-state":[{"start":1.700000003E9,"end":1.700000017E9}]}}""")
    // the 2 -> 3 edge sits at file B's first frame
    assert(text(s"Autopilot/$name") ===
      """{"auditory":{"engagement":[{"timestamp":1.700000011E9,"canbus_state":3}]}}""")

    // replay: a further infer over the same landing rewrites every event
    // document byte for byte
    Jobs.infer(spark, work)
    assert(eventDocs(work) === docs)
  }

  /** Spark jobs `body` starts, counted after the listener bus drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc, 60000L)
    val n = new AtomicInteger
    val l = new SparkListener { override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet() }
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc, 60000L) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("Jobs: infer reads the landing table; the JSON export is not an input") {
    val raw  = Files.createTempDirectory("export_raw").toString
    val kept = Files.createTempDirectory("export_kept").toString
    val gone = Files.createTempDirectory("export_gone").toString
    // both work dirs parse the same raw dir, so both see the same device;
    // one keeps its landing documents, the other deletes them before infer
    def invocation(): Unit = {
      Seq(kept, gone).foreach(Jobs.parse(spark, raw, _))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$gone/landing_json"))
      Seq(kept, gone).foreach(Jobs.infer(spark, _))
    }
    CrossFile.writeA(raw)
    invocation()
    CrossFile.writeB(raw)
    invocation()
    assert(eventDocs(kept).size === 2)
    assert(eventDocs(gone) === eventDocs(kept))
  }

  test("Jobs: infer heals a landing partition a killed parse left parked") {
    val raw    = Files.createTempDirectory("heal_raw").toString
    val parked = Files.createTempDirectory("heal_parked").toString
    val twin   = Files.createTempDirectory("heal_twin").toString
    CrossFile.writeA(raw)
    CrossFile.writeB(raw)
    Seq(parked, twin).foreach(Jobs.parse(spark, raw, _))
    // a parse killed between a partition's two renames: the hour that holds
    // the stationary run and the AP edge sits at its parked path
    val landing = s"$parked/landing"
    val hours   = DirSwap.leaves(spark, landing, 2)
    assert(hours.size === 1, s"fixture spans one hour, got $hours")
    val live = Paths.get(landing, hours.head)
    val aside = Paths.get(DirSwap.parked(landing, hours.head))
    Files.createDirectories(aside.getParent)
    Files.move(live, aside)
    Seq(parked, twin).foreach(Jobs.infer(spark, _))
    assert(eventDocs(twin).size === 2)
    assert(eventDocs(parked) === eventDocs(twin))
    assert(Files.exists(live) && !Files.exists(aside))
  }

  test("Jobs: each invocation of the cross-file fixture runs a fixed job count") {
    val raw  = Files.createTempDirectory("jobs_count_raw").toString
    val work = Files.createTempDirectory("jobs_count_work").toString
    def invocation(): (Int, Int) = (jobsOf(Jobs.parse(spark, raw, work)), jobsOf(Jobs.infer(spark, work)))
    CrossFile.writeA(raw)
    val first = invocation()
    CrossFile.writeB(raw)
    val second = invocation()
    // parse: the micro-batch's one partition collect (which also carries
    // the batch's largest ts for the watermark), the landing write (first
    // write, then merge), the dirty-hour re-channelize. No emptiness job, no
    // parquet schema inference, no second collect, and no trailing no-data
    // micro-batch: the query keeps no state. infer: per document type one
    // landing scan to the window shuffle and one document write.
    assert((first, second) === ((3, 4), (3, 4)))
  }

  /** Janino compiles (Spark's generated classes) while `body` runs. */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("Jobs: a repeated invocation compiles no class the previous one compiled") {
    val raw  = Files.createTempDirectory("compiles_raw").toString
    val work = Files.createTempDirectory("compiles_work").toString
    def invocation(): (Long, Long) = (compilesOf(Jobs.parse(spark, raw, work)), compilesOf(Jobs.infer(spark, work)))
    CrossFile.writeA(raw)
    invocation()
    // a later file before each invocation, so the merge branch runs twice
    CrossFile.writeB(raw)
    invocation()
    val t0 = 1700000000L * 1000000L
    Files.write(Paths.get(raw, "c.log"),
      file(timesync(t0), (22 to 30).flatMap(i => frame(i * 1000, 599, 0, speedPayload(30.0))).toArray))
    // Every invocation restarts the stream on a clone of the session: the
    // clone must share the class loader the codegen cache is keyed by, and
    // the cache must hold an invocation's classes; otherwise this
    // invocation compiles 75 classes in parse and 35 in infer. The late
    // filter reads the advanced watermark as data, so no literal changes
    // the generated code.
    val (parse, infer) = invocation()
    assert(infer === 0L && parse === 0L, s"parse $parse, infer $infer compiles")
  }

  test("Jobs: ticks older than the previous invocation's watermark never land") {
    val t0   = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("late_raw").toString
    val work = Files.createTempDirectory("late_work").toString
    // a 20 s stationary run, then moving: one interval t0+3..t0+17 s, and
    // a watermark of t0+21 s - 1.2 s after this invocation
    Files.write(Paths.get(raw, "on_time.log"),
      file(timesync(t0), (0 to 20).flatMap(i => frame(i * 1000, 599, 0, speedPayload(0.0))).toArray,
        frame(21000, 599, 0, speedPayload(30.0))))
    Jobs.parse(spark, raw, work)
    Jobs.infer(spark, work)
    val docs = eventDocs(work)
    assert(docs.size === 1)

    // a later invocation brings moving ticks inside the stationary run,
    // all older than the watermark: admitted, they would split the run
    Files.write(Paths.get(raw, "late.log"),
      file(timesync(t0), (5 to 15).flatMap(i => frame(i * 1000 + 500, 599, 0, speedPayload(50.0))).toArray))
    Jobs.parse(spark, raw, work)
    Jobs.infer(spark, work)
    val landed = spark.read.parquet(s"$work/landing")
    assert(landed.count() === 22)
    assert(landed.filter(col("speed") === 50.0).isEmpty)
    val exported = jsonDocs(s"$work/landing_json").select(explode(col("speed")).as("s")).select("s.value")
      .collect().map(_.getDouble(0))
    assert(exported.length === 22 && !exported.contains(50.0))
    assert(eventDocs(work) === docs)
  }

  test("Jobs: a log whose mtime is a month old still lands") {
    val t0   = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("old_mtime_raw").toString
    val work = Files.createTempDirectory("old_mtime_work").toString
    Files.write(Paths.get(raw, "new.log"),
      file(timesync(t0), (0 to 4).flatMap(i => frame(i * 1000, 599, 0, speedPayload(10.0))).toArray))
    Jobs.parse(spark, raw, work)
    // later ticks, but the file was last modified 30 days before the newest
    // file the stream has seen (a device uploading an old recording)
    val old = Paths.get(raw, "old.log")
    Files.write(old,
      file(timesync(t0 + 60000000L), (0 to 4).flatMap(i => frame(i * 1000, 599, 0, speedPayload(20.0))).toArray))
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
    Jobs.parse(spark, raw, work)
    val landed = spark.read.parquet(s"$work/landing")
    assert(landed.count() === 10)
    assert(landed.filter(col("speed") === 20.0).count() === 5)
  }

  test("Jobs: the source offset a trickle invocation writes does not grow with the files seen") {
    val t0   = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("growth_raw").toString
    val work = Files.createTempDirectory("growth_work").toString
    val offsets = Paths.get(work, "ckpt", "parse", "offsets")
    // the newest offset-log entry after each invocation of one new small log
    val sizes = (0 until 12).map { i =>
      Files.write(Paths.get(raw, f"trickle_$i%02d.log"),
        file(timesync(t0 + i * 10000000L), (0 to 2).flatMap(s => frame(s * 1000, 599, 0, speedPayload(10.0))).toArray))
      Jobs.parse(spark, raw, work)
      val newest = Files.list(offsets).iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      Files.size(newest)
    }
    // an offset that listed every file seen would add a path per invocation;
    // a log index adds one byte, when it reaches 10
    assert(sizes(11) <= sizes(1) + 1, s"offset bytes per invocation: $sizes")
    assert(spark.read.parquet(s"$work/landing").count() === 36)
    // the parse keeps no streaming state, so no state store snapshots
    assert(!Files.exists(Paths.get(work, "ckpt", "parse", "state")))
  }

  test("Jobs: a missing raw dir fails with PATH_NOT_FOUND and writes nothing") {
    val base = Files.createTempDirectory("missing_raw").toString
    val work = Files.createTempDirectory("missing_work").toString
    val e = intercept[org.apache.spark.SparkThrowable](Jobs.parse(spark, s"$base/nope", work))
    assert(e.getCondition === "PATH_NOT_FOUND")
    assert(new java.io.File(work).list().isEmpty)
  }

  test("landing write -> JSON read-back preserves channel structure") {
    import spark.implicits._
    val t0 = 1700000000L * 1000000L
    val dir = Files.createTempDirectory("landrt").toString
    Files.write(
      Paths.get(dir, "in.log"),
      file(
        timesync(t0),
        frame(100, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0)),
        frame(200, 79, 0, Array[Byte](0x15, 0x26, 0x37, 0x04, 0x59, 0x6a, 0x0b))))
    val landing = CanPipelines.channelize(CanPipelines.pivot(graft.decode.CanDecode.decodeFiles(spark, dir)))
    val out = Files.createTempDirectory("landout").toString
    LandingIO.writeLandingDocs(landing, out)
    val back = jsonDocs(out)
    val row  = back.head()
    val accel = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("accel")
    val loc   = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("location")
    assert(accel.length === 1 && loc.length === 1)
    assert(accel.head.getAs[scala.collection.Seq[Double]]("value") === Seq(0.00125, 0.0025, 0.00375))
    assert(row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("speed").isEmpty)
  }

  test("re-write overwrites atomically and sweeps stale .tmp leftovers") {
    import spark.implicits._
    val t0  = 1700000000L * 1000000L
    val dir = Files.createTempDirectory("landow").toString
    Files.write(
      Paths.get(dir, "in.log"),
      file(timesync(t0), frame(100, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0))))
    val landing = CanPipelines.channelize(CanPipelines.pivot(graft.decode.CanDecode.decodeFiles(spark, dir)))
    val out = Files.createTempDirectory("landowout").toString
    LandingIO.writeLandingDocs(landing, out)
    val files = java.nio.file.Files.walk(Paths.get(out)).iterator()
    val docs = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .filter(p => p.toString.endsWith(".json")).toSeq
    assert(docs.nonEmpty)
    // plant a stale crashed-run tmp next to a real document
    val stale = docs.head.getParent.resolve("." + docs.head.getFileName.toString + ".tmp")
    Files.write(stale, "partial".getBytes)
    LandingIO.writeLandingDocs(landing, out) // overwrite same names
    assert(!Files.exists(stale), "stale .tmp not swept")
    // document still present and readable after the overwrite
    assert(jsonDocs(out).count() >= 1)
  }

  test("empty inputs are guarded: no files written") {
    import spark.implicits._
    val out = Files.createTempDirectory("emptyout").toString
    LandingIO.writeStationaryDocs(
      Seq.empty[(Double, Double)].toDF("start", "end"), out)
    assert(new java.io.File(out).list() === null || new java.io.File(out).list().isEmpty)
  }
}
