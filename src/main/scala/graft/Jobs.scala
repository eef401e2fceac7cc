package graft

import org.apache.spark.sql.types._

import graft.core.{DirSwap, GraftSession}
import graft.pipelines.CanPipelines
import graft.sources.LandingIO
import graft.streaming.CanStreams

/** Serverless-style stage driver (SURVEY §7.6): each invocation drains
  * whatever has landed and exits, stages chained by directory convention —
  * the Spark analogue of the reference's SNS fan-out + bucket-name gates
  * (reference serverless.yml:143-177; gates parse_canserver_filtered_log.py:128,
  * infer_stationary_states.py:50, infer_autopilot_states.py:53).
  *
  * Layout under <workDir>:
  *   landing/   pivoted signal table (parquet, date/hour partitions):
  *              the one landing every stage reads
  *   landing_json/  hourly channelized documents, the reference's output
  *              contract: an export that no stage reads
  *   events/Stationary/  day documents of stationary intervals
  *   events/Autopilot/   day documents of autopilot transitions
  *   ckpt/      streaming checkpoints: the parse's source offsets plus its
  *              watermark carry (ckpt/parse/watermark); no operator state
  *   `DirSwap.staging`/`DirSwap.parked` of landing/  transient staged and
  *              parked partitions of a landing commit
  *
  * Each stage does each thing once. `parse` commits each micro-batch in one
  * pass (MergeSink's one partition collect names the hours to re-channelize);
  * `infer` scans the landing table once per document type, and an empty
  * landing writes no document.
  *
  * Usage: Jobs (parse|infer|all) <rawDir> <workDir>
  */
object Jobs {

  def parse(spark: org.apache.spark.sql.SparkSession, rawDir: String, workDir: String): Unit =
    CanStreams
      .runParse(
        spark,
        rawDir,
        s"$workDir/landing",
        s"$workDir/ckpt/parse",
        s"$workDir/landing_json")
      .awaitTermination()

  /** The landing columns infer uses. A given schema runs no inference job;
    * the date/hour partition columns still come from the directory names.
    */
  private val InferSchema = StructType(Seq(
    StructField("device", StringType),
    StructField("epoch_sec", DoubleType),
    StructField("speed", DoubleType),
    StructField("ap_status", StringType)))

  /** Runs after `parse` has returned, so it reads a quiesced sink (see
    * `MergeSink.upsert` on concurrent readers). It restores the landing
    * first: a parse killed mid-commit leaves a partition parked outside it.
    */
  def infer(spark: org.apache.spark.sql.SparkSession, workDir: String): Unit = {
    DirSwap.restore(spark, s"$workDir/landing", 2)
    val landing = spark.read.schema(InferSchema).parquet(s"$workDir/landing")
    LandingIO.writeStationaryDocs(
      CanPipelines.stationaryIntervals(CanPipelines.speedSeries(landing)),
      s"$workDir/events/Stationary")
    LandingIO.writeAutopilotDocs(
      CanPipelines.autopilotDaily(
        CanPipelines.autopilotTransitions(CanPipelines.apSeries(landing))),
      s"$workDir/events/Autopilot")
  }

  private val Usage = "usage: Jobs parse <rawDir> <workDir> | Jobs infer <workDir> | Jobs all <rawDir> <workDir>"

  def main(args: Array[String]): Unit = {
    val ok = args.headOption match {
      case Some("parse") | Some("all") => args.length == 3
      case Some("infer")               => args.length == 2
      case _                           => false
    }
    require(ok, Usage)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    args(0) match {
      case "parse" => parse(spark, args(1), args(2))
      case "infer" => infer(spark, args(1))
      case "all"   => parse(spark, args(1), args(2)); infer(spark, args(2))
    }
    spark.stop()
  }
}
