package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement core `Bench`, `Repeat` and `PlanDump` share: one session
  * posture, one warmup, one between-cell settle, one host calibration and
  * one timed noop write, so the mains differ only in what they sweep and
  * what they record.
  */
object Measure {

  /** A pinned-calibration median above this (seconds) means the host is
    * loaded: measuring then records contention, not the engine.
    */
  val CalibGate = 0.7

  private val CalibWaitMs = 60000L

  /** An engine session on `SPARK_GRAFT_CPUS` cores (default 32), one
    * shuffle partition per core, with the benign cleaner-race logging
    * silenced. `GraftSession.local` installs `GraftExtensions`, so the
    * measured plans are the shipped plans.
    */
  def session(): SparkSession = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.local(cpus, cpus.toInt)
    Bench.quietBenignNoise()
    spark
  }

  /** Warms JIT, codegen and the parquet footer cache so the first timed
    * cell is not charged session startup.
    */
  def warmup(spark: SparkSession): Unit =
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

  /** Between-cell hygiene. Operators unpersist their own caches, but eager
    * checkpoint blocks and cached relations live until their RDD is GC'd;
    * left alone they pressure every later cell in the JVM. Clear cached
    * relations, drop surviving persisted RDDs, and give the ContextCleaner
    * a GC to collect dead references.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Seconds to build `df` and run it through the `noop` sink (full
    * execution of every projected expression; `count()` would let Catalyst
    * prune them), or -1 when it throws, logged as `[tag] name FAILED`.
    */
  def noop(tag: String, name: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
        -1.0
    }
  }

  /** The host-contention yardstick: median of 3 noop runs of the pinned
    * `q02_tpch_q1` at `SPARK_GRAFT_CALIB_DIR` (default sf0.01) in this JVM,
    * or -1 when it cannot run.
    */
  def calibration(spark: SparkSession): Double = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_CALIB_DIR", "/root/testdata/sf0.01")
    val q   = contract.Contract.byName("q02_tpch_q1")
    val ts  = (1 to 3).map(_ => noop("calibration", q.name)(q.run(spark, dir))).sorted
    if (ts.head < 0) -1.0 else ts(1)
  }

  /** Calibrates; while the median exceeds `CalibGate` and fewer than
    * `maxWaits` waits were spent, waits 60 s for the host to settle and
    * calibrates again. Returns (calibration, waits spent).
    */
  def calibrateOrWait(spark: SparkSession, maxWaits: Int, tag: String): (Double, Int) = {
    var calib = calibration(spark)
    var waits = 0
    while (calib > CalibGate && waits < maxWaits) {
      waits += 1
      System.err.println(f"[$tag] calibration $calib%.3f s > gate $CalibGate%.2f s; " +
        f"waiting 60 s ($waits/$maxWaits) before measuring")
      Thread.sleep(CalibWaitMs)
      calib = calibration(spark)
    }
    if (calib > CalibGate)
      System.err.println(f"[$tag] WARNING: measuring on a loaded host " +
        f"(calibration $calib%.3f s after $waits waits)")
    (calib, waits)
  }

  /** Seconds with millisecond precision; a failure (-1) stays `-1`. */
  def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  /** A JSON array of names. */
  def jsonList(names: Seq[String]): String = names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The 1/5/15-minute load averages as a JSON array (`[]` off Linux). */
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString("[", ",", "]")
    catch { case _: Exception => "[]" }
}
