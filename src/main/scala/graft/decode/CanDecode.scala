package graft.decode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Spark read path for CANServer-v2 logs: DSv2 `canserver` scan ->
  * columnar decode.
  *
  * The object boundary is contained to the tokenizer inside the scan
  * (SURVEY §4.4): downstream of it everything is DataFrame columns in
  * whole-stage codegen. Files parallelize across executors; within a file the
  * scan is sequential by construction (running sync-time state), matching the
  * reference's one-Lambda-per-object model (reference serverless.yml:79-83)
  * with Spark tasks as the unit of parallelism. `records` is the plain
  * binaryFile + tokenizer formulation of the same scan, kept as the
  * reference the DSv2 source is checked against.
  */
object CanDecode {

  /** The one binaryFile scan both `records` and the health census use — a
    * single definition so they can never scan different file sets.
    */
  private def binaryFiles(spark: SparkSession, path: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true") // logs live under per-org dirs
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
  }

  /** Tokenized frame records from every `.log`-like binary file under `path`. */
  def records(spark: SparkSession, path: String): Dataset[CanRecord] = {
    import spark.implicits._
    binaryFiles(spark, path).flatMap { case (p, bytes) => CanserverTokenizer.tokenize(bytes, p) }
  }

  /** Wide per-frame decode over the snake-case record surface (what the
    * DSv2 `canserver` format scans): one row per decoded frame with its
    * channel's signal columns populated and the rest null (the pivot stage
    * then merges frames sharing a timestamp — reference
    * parse_canserver_filtered_log.py:268-289). The column set mirrors the
    * reference's 14-column wide row (:141-142) minus the constant unit
    * strings, which are attached at the JSON edge. The frame-id filter sits
    * directly above the scan so the DSv2 path pushes it into the tokenize
    * loop.
    */
  def decodeRaw(recs: DataFrame): DataFrame = {
    import CanExpressions._
    val pay = col("payload_long")
    recs
      .filter(col("frame_id").isin(CanCodec.DecodedFrameIds.toSeq: _*))
      .select(
        col("path"),
        // device = parent directory of the log (the reference's org dir:
        // one S3 prefix per vehicle). Keeps multi-tenant scans from merging
        // different devices' epochs downstream.
        regexp_extract(col("path"), "([^/]+)/[^/]+$", 1).as("device"),
        col("frame_id"),
        col("bus_id"),
        timestamp_micros(col("frame_time_micros")).as("ts"),
        (col("frame_time_micros").cast("double") / 1e6).as("epoch_sec"),
        when(col("frame_id") === CanCodec.FrameAccel, accelLong(pay)).as("long_acc"),
        when(col("frame_id") === CanCodec.FrameAccel, accelLat(pay)).as("lat_acc"),
        when(col("frame_id") === CanCodec.FrameAccel, accelVert(pay)).as("vert_acc"),
        when(col("frame_id") === CanCodec.FrameGyro, gyroYaw(pay)).as("yaw_rate"),
        when(col("frame_id") === CanCodec.FrameGyro, gyroPitch(pay)).as("pitch_rate"),
        when(col("frame_id") === CanCodec.FrameGyro, gyroRoll(pay)).as("roll_rate"),
        when(col("frame_id") === CanCodec.FrameGps, gpsLat(pay)).as("lat"),
        when(col("frame_id") === CanCodec.FrameGps, gpsLong(pay)).as("long"),
        when(col("frame_id") === CanCodec.FrameSpeed, speedKph(pay)).as("speed"),
        when(col("frame_id") === CanCodec.FrameAp, apStateName(pay)).as("ap_status"))
  }

  /** THE batch decode entry point: the DSv2 `canserver` scan (chunked
    * bounded-memory reads, frame-id filter pushed into the tokenize loop).
    */
  def decodeFiles(spark: SparkSession, path: String): DataFrame =
    decodeRaw(spark.read.format("canserver").load(path))

  /** Per-file framing health (the bad-record channel): what each file's
    * tokenize pass skipped — noise bytes, truncated tails, embedded headers,
    * invalid-header rejections — as a DataFrame for monitoring/alerting.
    */
  def scanStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    binaryFiles(spark, path)
      .map { case (p, bytes) => CanserverTokenizer.stats(bytes, p) }
      .toDF()
  }
}
