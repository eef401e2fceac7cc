package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.decode.CanDecode
import graft.pipelines.CanPipelines
import graft.sources.LandingIO
import graft.sources.canserver.CanserverFileFormat

/** The parse stage as one Structured Streaming job (SURVEY §2.6): the file
  * source replaces the S3 -> SNS -> SQS hops, the 1.2 s watermark replaces
  * MAX_SR's hand-rolled out-of-order buffer (reference
  * parse_canserver_filtered_log.py:117,272-282), and the sink is the
  * idempotent partitioned merge (MergeSink), so replayable source +
  * checkpoint + idempotent sink give an exactly-once landing. Inference is
  * a batch recompute over the whole landing history (`graft.Jobs.infer`),
  * which is what keeps edges and runs that span two files (the reference's
  * per-object loss, SURVEY §2.7-9).
  *
  * `Trigger.AvailableNow` is the serverless-style scheduling analogue: each
  * invocation drains whatever objects have landed and exits; checkpoints
  * carry source offsets and pivot state between invocations.
  */
object CanStreams {

  /** Decoded signal stream (same columns as the batch CanDecode.decodeFiles),
    * read through Spark's file stream source over the `canserver` format:
    * the same chunked tokenizer and frame-id filter as the batch scan, and a
    * source log that Spark compacts, so each offset is a log index.
    * @param maxFilesPerTrigger backpressure pacing (SURVEY §2.1), Spark's
    *        own source option: one invocation over a large backlog becomes
    *        several bounded micro-batches, each committed to the checkpoint.
    *        Trigger.AvailableNow still drains everything.
    */
  def decodedStream(
      spark: SparkSession,
      rawDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .format("canserver")
      .schema(CanserverFileFormat.Schema)
      .option("recursiveFileLookup", "true") // logs live under per-device dirs
      // Spark's default (7 days) skips a file whose mtime is that much older
      // than the newest file seen; a device's week-old upload must still land
      .option("maxFileAge", "36500d")
    CanDecode.decodeRaw(
      maxFilesPerTrigger
        .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
        .load(rawDir))
  }

  /** Watermarked per-epoch pivot: CanPipelines.pivot over a 1.2 s event-time
    * watermark on `ts`. State is one wide row per live epoch, evicted 1.2 s
    * (event time) after the epoch — exactly the reference's bounded
    * out-of-order buffer.
    */
  def pivotStream(decoded: DataFrame): DataFrame =
    CanPipelines.pivot(decoded.withWatermark("ts", "1.2 seconds"))

  /** Parse stage as a runnable job: raw logs -> pivoted landing table
    * (parquet, partitioned by date/hour, merged idempotently on epoch), which
    * `graft.Jobs.infer` reads, and the hourly channelized JSON documents
    * under `landingJsonDir`, an export no stage reads.
    *
    * The JSON documents are maintained INCREMENTALLY: `MergeSink.upsert`
    * returns the (date, hour) partitions the batch touched, and only those
    * are read back (partition-pruned, with the batch's schema) and
    * re-channelized — a full-history rescan per invocation would grow with
    * table age, not batch size. An empty micro-batch returns no partitions
    * and writes nothing.
    *
    * The trailing no-data micro-batch each invocation commits (Spark's
    * default `spark.sql.streaming.noDataMicroBatches.enabled`) stays,
    * although its partition collect is one of the invocation's jobs: it
    * persists the advanced watermark, which the next invocation's late-data
    * drop relies on. Without it a restart admits ticks older than the
    * previous maximum minus 1.2 s.
    */
  def runParse(
      spark: SparkSession,
      rawDir: String,
      landingDir: String,
      checkpointDir: String,
      landingJsonDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    pivotStream(decodedStream(spark, rawDir, maxFilesPerTrigger))
      .withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss       = batch.sparkSession
        val partCols = Seq("date", "hour")
        val cached   = batch.cache()
        try {
          val dirty = MergeSink.upsert(
            ss, cached, landingDir,
            keyCols = Seq("device", "epoch_sec"),
            partitionCols = partCols)
          if (dirty.nonEmpty)
            LandingIO.writeLandingDocs(
              CanPipelines.channelize(MergeSink.readPartitions(ss, landingDir, cached.schema, partCols, dirty)),
              landingJsonDir)
        } finally cached.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
