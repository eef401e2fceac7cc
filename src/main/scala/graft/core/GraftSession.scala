package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * The reference pins TZ=UTC in every Lambda (reference serverless.yml:77,95,113) —
  * all time math here is session-TZ UTC. AQE is on for runtime re-planning
  * (shuffle coalescing, skew splitting) which is what makes the same plans hold
  * from local[32] test scale up to a real cluster.
  *
  * Two confs keep each generated class compiled once per JVM. Both are fixed
  * when the session is created, so `local` sets them in the builder and `tune`
  * cannot; a session created outside the engine must be given them at
  * creation (e.g. `--conf` on spark-submit):
  *  - `spark.sql.artifact.isolation.enabled=false`: each `Trigger.AvailableNow`
  *    invocation restarts its query on a clone of the session, and isolation
  *    would give the clone a fresh executor class loader. The codegen cache
  *    is keyed by (class loader, code), so every restart would miss it, and
  *    Janino and the JIT would compile the same classes again. The engine
  *    adds no session artifacts, so nothing needs isolating.
  *  - `spark.sql.codegen.cache.maxEntries=1000`: one CAN invocation cycles
  *    through about 130 distinct classes and a cold `contract_iterative`
  *    pass about 130 as well (about 210 compiles: in local mode a class
  *    compiles once under the driver thread's class loader and once under
  *    the executor task thread's); Spark's default of 100 (LRU) would evict
  *    each class before its next use.
  */
object GraftSession {

  /** Apply engine defaults to an externally-created session (e.g. the driver's). */
  def tune(spark: SparkSession): SparkSession = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark's TimestampType (µs)
    // cannot represent; read as raw Long ns and convert explicitly (Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def local(cores: String = "*", shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // r15: force the SORT-based shuffle writer even for small partition
      // counts. The default bypass writer (numPartitions <= 200) opens one
      // file PER REDUCE PARTITION per map task — 32 creates/opens/commits
      // per task here, and jstack sampling showed executor time dominated
      // by FileOutputStream.open0/DiskBlockObjectWriter under it on this
      // host class (the round-14 "3-6x per-cell noise" was largely this
      // metadata I/O contending). The sort-based writer emits ONE data
      // file + index per map task — which is also the only code path a
      // production shuffle (R >> 200) ever takes, so local runs now
      // exercise the at-scale writer instead of a small-R special case.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
