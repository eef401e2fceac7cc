package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.decode.{CanDecode, CanRecord, CanserverTokenizer}

// Dataset/state case classes must be TOP-LEVEL: nested ones capture an outer
// pointer and break whole-stage codegen ("no applicable constructor").
final case class ApSample(key: String, tsSec: Double, code: Int)
final case class ApState(lastCode: Int)
final case class SpeedSample(key: String, tsSec: Double, speed: Double)
final case class SpeedSampleWm(key: String, tsSec: Double, speed: Double, ts: java.sql.Timestamp)
final case class RunState(runStart: Double, lastZero: Double)

/** Structured Streaming twins of the batch pipelines (SURVEY §2.6): file
  * sources replace the SNS/SQS hops, the 1.2 s watermark replaces MAX_SR's
  * hand-rolled out-of-order buffer (reference
  * parse_canserver_filtered_log.py:117,272-282), flatMapGroupsWithState
  * carries prev-value state ACROSS files (fixing the reference's lost
  * cross-file edges, SURVEY §2.7-9), and every sink is an idempotent
  * partitioned merge (MergeSink).
  *
  * `Trigger.AvailableNow` is the serverless-style scheduling analogue: each
  * invocation drains whatever objects have landed and exits; checkpoints
  * carry source offsets and operator state between invocations.
  */
object CanStreams {

  /** binaryFile's fixed schema (streaming file sources need it up front). */
  val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Streaming tokenized records from a watched directory of CANServer logs.
    * @param maxFilesPerTrigger backpressure pacing (SURVEY §2.1): cap the
    *        objects drained per micro-batch so one invocation over a large
    *        backlog becomes several bounded batches (each committed to the
    *        checkpoint) instead of one unbounded one. Honored by
    *        Trigger.AvailableNow: the invocation still drains everything,
    *        in paced batches.
    */
  def recordStream(
      spark: SparkSession,
      rawDir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[CanRecord] = {
    import spark.implicits._
    val reader = spark.readStream
      .format("binaryFile")
      .schema(BinaryFileSchema)
      .option("recursiveFileLookup", "true")
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(rawDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => CanserverTokenizer.tokenize(bytes, p) }
  }

  /** Decoded signal stream (same columns as the batch CanDecode.decodeFiles),
    * read through the DSv2 `canserver` micro-batch stream — the same
    * chunked tokenizer + pushed frame-id filter as the batch scan (~3x the
    * throughput of the binaryFile+flatMap path, which `recordStream` keeps
    * for typed CanRecord consumers). maxFilesPerTrigger rides the source's
    * admission control.
    */
  def decodedStream(
      spark: SparkSession,
      rawDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("canserver")
    CanDecode.decodeRaw(
      maxFilesPerTrigger
        .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
        .load(rawDir))
  }

  /** Watermarked per-epoch pivot: the streaming form of CanPipelines.pivot.
    * State is one wide row per live epoch, evicted 1.2 s (event time) after
    * the epoch — exactly the reference's bounded out-of-order buffer.
    */
  def pivotStream(decoded: DataFrame): DataFrame = {
    val signals = Seq(
      "long_acc", "lat_acc", "vert_acc",
      "yaw_rate", "pitch_rate", "roll_rate",
      "lat", "long", "speed", "ap_status")
    decoded
      .withWatermark("ts", "1.2 seconds")
      .groupBy(col("device"), col("ts"), col("epoch_sec"))
      .agg(
        first(col(signals.head), ignoreNulls = true).as(signals.head),
        signals.tail.map(s => first(col(s), ignoreNulls = true).as(s)): _*)
      // same unit annotations as the batch pivot (landing schema parity)
      .withColumn("acc_unit", when(col("long_acc").isNotNull, "m/s^2"))
      .withColumn("gyro_unit", when(col("yaw_rate").isNotNull, "rad/s"))
      .withColumn("speed_unit", when(col("speed").isNotNull, "KPH"))
  }

  /** Parse stage as a runnable job: raw logs -> pivoted landing table
    * (parquet, partitioned by date/hour, merged idempotently on epoch).
    *
    * With `landingJsonDir` set, the hourly channelized JSON documents are
    * maintained INCREMENTALLY: after each upsert, only the (date, hour)
    * partitions touched by the batch are read back (partition-pruned scan)
    * and re-channelized — a full-history rescan per invocation would grow
    * with table age, not batch size.
    */
  def runParse(
      spark: SparkSession,
      rawDir: String,
      landingDir: String,
      checkpointDir: String,
      landingJsonDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    pivotStream(decodedStream(spark, rawDir, maxFilesPerTrigger))
      .withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val cached = batch.cache()
        try {
          MergeSink.upsert(
            ss, cached, landingDir,
            keyCols = Seq("device", "epoch_sec"),
            partitionCols = Seq("date", "hour"))
          landingJsonDir.foreach { jsonDir =>
            val dirty = cached.select(col("date"), col("hour")).distinct().collect()
            if (dirty.nonEmpty) {
              val pred = dirty
                .map(r => col("date") === lit(r.getDate(0)) && col("hour") === lit(r.getInt(1)))
                .reduce(_ || _)
              val touched = ss.read.parquet(landingDir).filter(pred) // pruned
              graft.sources.LandingIO.writeLandingDocs(
                graft.pipelines.CanPipelines.channelize(touched), jsonDir)
            }
          }
        } finally cached.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  // ------------------------------------------------- stateful inference ----

  /** Cross-batch autopilot transition stream: keyed prev-code state survives
    * file boundaries (the reference re-reads one document per invocation and
    * loses edges that span two files — SURVEY §2.7-9).
    *
    * Input: (key, tsSec, code) — within a micro-batch rows are sorted per
    * key (bounded by batch size); across batches the carried state provides
    * the `prev`.
    *
    * State-store envelope: one int per DEVICE — the fleet catalog, not a
    * data-driven key space — so NoTimeout is deliberate (evicting an idle
    * device would drop the edge spanning its next wake-up, the exact
    * reference defect this operator fixes).
    */
  def transitionsStream(samples: Dataset[(String, Double, Int)]): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .map { case (k, t, c) => ApSample(k, t, c) }
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[ApSample], state: GroupState[ApState]) =>
          val sorted = rows.toSeq.sortBy(_.tsSec)
          var prev   = state.getOption.map(_.lastCode)
          val out = sorted.flatMap { s =>
            val t = prev match {
              case Some(p) if p <= 2 && s.code == 3 => Some((key, s.tsSec, s.code, "engagement"))
              case Some(p) if p == 3 && s.code <= 2 => Some((key, s.tsSec, s.code, "disengagement"))
              case _                                 => None
            }
            prev = Some(s.code)
            t
          }
          prev.foreach(c => state.update(ApState(c)))
          out.iterator
      }
      .toDF("key", "ts_sec", "canbus_state", "status")
  }

  /** Cross-batch stationary-run stream with the reference thresholds: a run
    * closes when a nonzero sample arrives (possibly in a later file) and is
    * emitted iff its zero-span >= 13 s, trimmed ±3 s.
    *
    * END-OF-DATA CLOSURE: a device that parks and stops logging never sends
    * the closing nonzero sample. Open runs therefore carry an EVENT-TIME
    * TIMEOUT — when the watermark (advanced by ANY key's traffic) passes
    * `lastZero + closeAfterSec`, the run is emitted on timeout exactly as
    * if a nonzero had arrived then, and its state is dropped. No same-key
    * sample earlier than the watermark can still arrive, so the closure is
    * safe; the one documented divergence from the batch function is a
    * device that resumes logging ZEROS after a silence longer than
    * `closeAfterSec` with no nonzero in between — batch merges that into
    * one run, the stream emits two.
    *
    * Event time is derived from tsSec inside (10 s watermark, matching
    * stationarySessionStream's lateness bound).
    */
  def stationaryStream(
      samples: Dataset[(String, Double, Double)],
      closeAfterSec: Double = 30.0): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples
      .toDF("key", "ts_sec", "speed")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "10 seconds")
      .select(col("key"), col("ts_sec").as("tsSec"), col("speed"), col("ts"))
      .as[SpeedSampleWm]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[SpeedSampleWm], state: GroupState[RunState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastZero + closeAfterSec: the run can no
            // longer be extended or closed earlier by in-order data
            val emit = state.getOption.collect {
              case RunState(st, en) if en - st >= 13.0 => (key, st + 3.0, en - 3.0)
            }
            state.remove()
            emit.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.tsSec)
            var open   = state.getOption
            val out = sorted.flatMap { s =>
              if (s.speed == 0.0) {
                open = Some(open.fold(RunState(s.tsSec, s.tsSec))(r => r.copy(lastZero = s.tsSec)))
                None
              } else {
                val emit = open.collect {
                  case RunState(st, en) if en - st >= 13.0 => (key, st + 3.0, en - 3.0)
                }
                open = None
                emit
              }
            }
            open match {
              case Some(r) =>
                state.update(r)
                // must be strictly past the current watermark or Spark
                // rejects the registration
                state.setTimeoutTimestamp(math.max(
                  ((r.lastZero + closeAfterSec) * 1000).toLong,
                  state.getCurrentWatermarkMs + 1))
              case None => state.remove()
            }
            out.iterator
          }
      }
      .toDF("key", "start", "end")
  }

  /** `session_window` form of the stationary detector (SURVEY §2.6): filter
    * to zero-speed samples, group into gap-separated event-time sessions,
    * keep sessions spanning >= minDur. Built-in session state + watermark
    * eviction — the declarative alternative to stationaryStream's explicit
    * state machine (which stays the reference-exact form: a session here
    * closes on a GAP in zero samples, not on a nonzero sample, so
    * back-to-back zero readings across a brief nonzero blip can merge if the
    * blip is shorter than `gap`).
    *
    * Input columns: key (string), ts (TimestampType), speed (double).
    * Output: key, start, end (trimmed epoch seconds), emitted once the
    * watermark passes the session.
    */
  def stationarySessionStream(
      samples: DataFrame,
      gap: String = "5 seconds",
      minDurSec: Double = 13.0,
      trimSec: Double = 3.0): DataFrame =
    samples
      // watermark BEFORE the zero filter: nonzero samples must keep
      // advancing event time, else a finished session is withheld for as
      // long as the vehicle keeps moving
      .withWatermark("ts", "10 seconds")
      .filter(col("speed") === 0.0)
      .groupBy(col("key"), session_window(col("ts"), gap))
      .agg(
        (min(unix_micros(col("ts"))).cast("double") / 1e6).as("first_zero"),
        (max(unix_micros(col("ts"))).cast("double") / 1e6).as("last_zero"))
      .filter(col("last_zero") - col("first_zero") >= minDurSec)
      .select(
        col("key"),
        (col("first_zero") + trimSec).as("start"),
        (col("last_zero") - trimSec).as("end"))

  /** Streaming exact dedup — the stream-side twin of Dedup.exactDedupRows:
    * keeps the first arrival per key, with state bounded by the event-time
    * watermark (duplicates later than `lateness` can reappear; that is the
    * documented contract of watermarked dedup, not a bug).
    *
    * @param df       stream with an event-time column `ts`
    * @param keyCols  identity columns (e.g. a content digest)
    * @param lateness watermark delay bounding the dedup state
    */
  def streamingDedup(df: DataFrame, keyCols: Seq[String], lateness: String): DataFrame =
    df.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Inference stage runner: landing speed/ap series stream -> daily event
    * tables via the idempotent merge sink.
    */
  def runTransitions(
      samples: Dataset[(String, Double, Int)],
      outDir: String,
      checkpointDir: String): StreamingQuery =
    transitionsStream(samples)
      .withColumn("date", to_date(timestamp_seconds(col("ts_sec"))))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeSink.upsert(
          batch.sparkSession, batch, outDir,
          keyCols = Seq("key", "ts_sec", "status"),
          partitionCols = Seq("date"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
