package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.pipelines.CanPipelines
import graft.sources.LandingIO

/** The parse as it ran with streaming state, kept as the reference
  * `ParseLawProps` compares `CanStreams.runParse` against: the batch pivot
  * under a 1.2 s event-time watermark on `ts`, run as a stateful aggregation
  * in Update mode, whose rows win every key collision in the landing. Spark
  * evicts an epoch's state once the watermark passes it and drops ticks at
  * or below the watermark; the trailing no-data micro-batch of each
  * invocation commits the advanced watermark for the next one.
  *
  * The sink is the batch-wins merge in its plainest form: the whole landing
  * is read, the batch's keys replace their landed rows, and the result
  * replaces the table. The hours the batch touched are re-channelized into
  * the JSON export, as the engine does.
  */
object StatefulParse {

  def pivotStream(decoded: DataFrame): DataFrame =
    CanPipelines.pivot(decoded.withWatermark("ts", "1.2 seconds"))

  /** One invocation over `<workDir>`'s `landing/`, `landing_json/` and
    * `ckpt/parse/`, the layout `graft.Jobs.parse` writes.
    */
  def parse(spark: SparkSession, rawDir: String, workDir: String, maxFilesPerTrigger: Option[Int] = None): Unit = {
    val landing = s"$workDir/landing"
    pivotStream(CanStreams.decodedStream(spark, rawDir, maxFilesPerTrigger))
      .withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss     = batch.sparkSession
        val cached = batch.cache()
        try {
          val dirty = cached.select("date", "hour").distinct().collect().toSeq
          if (dirty.nonEmpty) {
            batchWins(ss, cached, landing)
            LandingIO.writeLandingDocs(
              CanPipelines.channelize(MergeSink.readPartitions(ss, landing, cached.schema, Seq("date", "hour"), dirty)),
              s"$workDir/landing_json")
          }
        } finally cached.unpersist()
      }
      .option("checkpointLocation", s"$workDir/ckpt/parse")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  private def batchWins(spark: SparkSession, batch: DataFrame, landing: String): Unit = {
    val dir  = new Path(landing)
    val fs   = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val keys = Seq("device", "epoch_sec")
    val merged =
      if (!fs.exists(dir)) batch
      else batch.unionByName(
        spark.read.schema(batch.schema).parquet(landing).join(batch.select(keys.map(col): _*), keys, "left_anti"))
    val next = new Path(s"$landing.next")
    merged.write.mode("overwrite").partitionBy("date", "hour").parquet(next.toString)
    fs.delete(dir, true)
    fs.rename(next, dir)
  }
}
