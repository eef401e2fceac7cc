package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.decode.CanDecode
import graft.pipelines.CanPipelines
import graft.sources.LandingIO
import graft.sources.canserver.CanserverFileFormat

/** The parse stage as one Structured Streaming job (SURVEY §2.6): the file
  * source replaces the S3 -> SNS -> SQS hops, and the sink is the
  * idempotent per-column merge (MergeSink), so replayable source +
  * checkpoint + idempotent sink give an exactly-once landing. The query
  * keeps no state: each micro-batch is pivoted as a batch, and an epoch
  * whose frames arrive in two batches lands as one row because the merge
  * keeps what has landed and fills its nulls. Inference is a batch
  * recompute over the whole landing history (`graft.Jobs.infer`), which is
  * what keeps edges and runs that span two files (the reference's
  * per-object loss, SURVEY §2.7-9).
  *
  * The reference's MAX_SR buffer tolerates 1.2 s of disorder
  * (parse_canserver_filtered_log.py:117,272-282). Here a micro-batch drops
  * every tick at or below a watermark carried from the batches before it:
  * the largest `ts` they landed, less 1.2 s, counted in whole ms as Spark's
  * event-time watermark is. The first batch of an invocation drops against
  * every earlier batch; a later one, under `maxFilesPerTrigger`, against
  * all but the batch just before it, which is where Spark's stateful query
  * put the cut. The carry is one small file in the checkpoint.
  *
  * `Trigger.AvailableNow` is the serverless-style scheduling analogue: each
  * invocation drains whatever objects have landed and exits; the checkpoint
  * carries the source offsets and the watermark between invocations.
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

  /** MAX_SR, the disorder a tick may have, in ms. */
  private val MaxSrMs = 1200L

  /** The carry the last micro-batch wrote, four numbers: its batch id and
    * three watermarks in µs of `ts`. It dropped every tick at or below
    * `before`; `start` is the watermark it started with, the largest `ts` of
    * every batch before it less 1.2 s, and `after` is that with its own
    * ticks. A fresh checkpoint reads batch -1 and watermarks at 0, the
    * epoch, where Spark's event-time watermark starts.
    */
  private def lastCarry(fs: FileSystem, file: Path): Array[Long] =
    if (!fs.exists(file)) Array(-1L, 0L, 0L, 0L)
    else scala.util.Using.resource(fs.open(file))(in => new String(in.readAllBytes(), "UTF-8").trim.split(' ').map(_.toLong))

  /** Parse stage as a runnable job: raw logs -> pivoted landing table
    * (parquet, partitioned by date/hour, merged idempotently on epoch), which
    * `graft.Jobs.infer` reads, and the hourly channelized JSON documents
    * under `landingJsonDir`, an export no stage reads.
    *
    * Each micro-batch pivots, drops its late ticks, adds `date`/`hour` and
    * lands through `MergeSink.upsert`. The late filter reads the watermark
    * through a function call, not a literal, so a new watermark compiles no
    * new class. The batch's largest `ts` comes back with the dirty
    * partitions from the upsert's one partition collect, and the carry is
    * written to `<checkpointDir>/watermark` (`LandingIO.textWriter`,
    * write-then-rename) before Spark commits the batch. Deleting the
    * checkpoint resets it. With no stateful operator, Spark runs no
    * trailing no-data micro-batch.
    *
    * The JSON documents are maintained INCREMENTALLY: `MergeSink.upsert`
    * returns the (date, hour) partitions the batch touched, and only those
    * are read back (partition-pruned, with the batch's schema) and
    * re-channelized — a full-history rescan per invocation would grow with
    * table age, not batch size. An empty micro-batch returns no partitions
    * and writes nothing.
    */
  def runParse(
      spark: SparkSession,
      rawDir: String,
      landingDir: String,
      checkpointDir: String,
      landingJsonDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val carry = new Path(checkpointDir, "watermark")
    var ran   = false // this run has landed a micro-batch
    decodedStream(spark, rawDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (decoded: DataFrame, id: Long) =>
        val ss   = decoded.sparkSession
        val conf = ss.sessionState.newHadoopConf()
        // Spark keeps adaptive execution off for a stateful query, so each
        // of the batch's actions ran as one job; it stays off without state
        ss.conf.set("spark.sql.adaptive.enabled", "false")
        // Spark drops a micro-batch's late ticks against the watermark the
        // batch before it started with: inside one run the cut lags a batch,
        // and a run starts level. A replay reads what its first run read.
        val Array(last, lastBefore, lastStart, lastAfter) = lastCarry(carry.getFileSystem(conf), carry)
        val (before, start) =
          if (last == id) (lastBefore, lastStart) else (if (ran) lastStart else lastAfter, lastAfter)
        val partCols = Seq("date", "hour")
        // `ts` is a pivot key, so each pivoted row is late or not as a whole
        val cached = CanPipelines.pivot(decoded)
          .filter(unix_micros(col("ts")) > udf(() => before).asNondeterministic()())
          .withColumn("date", to_date(col("ts")))
          .withColumn("hour", hour(col("ts")))
          .cache()
        try {
          // the dirty hours, each with its largest `ts` in whole ms
          val dirty = MergeSink.upsert(ss, cached, landingDir, Seq("device", "epoch_sec"), partCols, Seq(max(unix_millis(col("ts")))))
          if (dirty.nonEmpty)
            LandingIO.writeLandingDocs(
              CanPipelines.channelize(MergeSink.readPartitions(ss, landingDir, cached.schema, partCols, dirty)),
              landingJsonDir)
          val after = dirty.map(r => (r.getLong(partCols.length) - MaxSrMs) * 1000).foldLeft(start)(math.max)
          LandingIO.textWriter(checkpointDir, conf)(carry, s"$id $before $start $after\n")
          ran = true
        } finally cached.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
