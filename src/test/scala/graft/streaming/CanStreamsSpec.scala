package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.decode.{CanDecode, CanFixture}
import graft.pipelines.CanPipelines

/** Batch ≡ stream equivalence (SURVEY §5.4) for the parse stream: the
  * landing over split inputs must equal the batch pivot over the
  * concatenated input, and re-processing must be idempotent (MergeSink
  * parquet upsert plus the dirty-hour JSON re-channelize). The cross-file
  * inference check runs through `graft.Jobs` (LandingIOSpec).
  */
class CanStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import CanFixture._

  /** Every landing document under `dir`: relative path -> its bytes. */
  private def jsonDocs(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".json"))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("streaming pivot over split files == batch pivot over all; re-run is idempotent") {
    val t0 = 1700000000L * 1000000L
    val fileA = file(
      timesync(t0),
      frame(1000, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0)),
      frame(1000, 599, 0, speedPayload(32.0)),
      frame(2000, 599, 0, speedPayload(0.0)))
    val fileB = file(
      timesync(t0),
      frame(2000, 921, 0, Array[Byte](3)), // merges into fileA's epoch t0+2s
      frame(3000, 599, 0, speedPayload(16.0)))

    val raw  = Files.createTempDirectory("canraw").toString
    val land = Files.createTempDirectory("canland").toString
    val json = Files.createTempDirectory("canjson").toString
    val ckpt = Files.createTempDirectory("canckpt").toString

    // invocation 1: only file A has landed
    Files.write(Paths.get(raw, "a.log"), fileA)
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()
    // invocation 2: file B lands; checkpoint carries source offsets
    Files.write(Paths.get(raw, "b.log"), fileB)
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()

    val sigCols = Seq(
      "epoch_sec", "long_acc", "lat_acc", "vert_acc", "yaw_rate", "pitch_rate",
      "roll_rate", "lat", "long", "speed", "ap_status")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(sigCols.map(col): _*).orderBy("epoch_sec").collect().toSeq

    val streamed = canon(spark.read.parquet(land))
    val batch    = canon(CanPipelines.pivot(CanDecode.decodeFiles(spark, raw)))
    assert(streamed === batch)
    // the epoch shared across files merged into ONE row with both signals
    val merged = spark.read.parquet(land).filter(col("ap_status").isNotNull).collect()
    assert(merged.length === 1 && merged.head.getAs[Double]("speed") === 0.0)

    // idempotence: fresh checkpoint reprocesses everything; upsert must not
    // dup, and the re-channelized hour documents come back byte-identical
    val docsBefore = jsonDocs(json)
    assert(docsBefore.nonEmpty)
    val ckpt2 = Files.createTempDirectory("canckpt2").toString
    CanStreams.runParse(spark, raw, land, ckpt2, json).awaitTermination()
    assert(canon(spark.read.parquet(land)) === batch)
    assert(jsonDocs(json) === docsBefore)
  }

  test("retry from checkpoint: a replayed batch (crash before commit) does not duplicate") {
    val t0 = 1700000000L * 1000000L
    val fileA = file(
      timesync(t0),
      frame(1000, 599, 0, speedPayload(32.0)),
      frame(2000, 599, 0, speedPayload(0.0)))

    val raw  = Files.createTempDirectory("crashraw").toString
    val land = Files.createTempDirectory("crashland").toString
    val json = Files.createTempDirectory("crashjson").toString
    val ckpt = Files.createTempDirectory("crashckpt").toString
    Files.write(Paths.get(raw, "a.log"), fileA)
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()
    val expect     = spark.read.parquet(land).orderBy("epoch_sec").collect().toSeq
    val expectDocs = jsonDocs(json)
    assert(expectDocs.nonEmpty)

    // simulate a crash AFTER the sink wrote but BEFORE the batch committed:
    // delete the latest commit marker, leaving offsets + sink output in
    // place — restart must re-run that batch against the already-written
    // target, and the idempotent merge must absorb the replay
    val commits = Paths.get(ckpt, "commits")
    val latest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(latest)
    // drop the manager's checksum sidecar too, or the restarted query sees a
    // checksum for a missing commit and refuses the checkpoint
    Files.list(commits).iterator().asScala.toSeq
      .filter(_.getFileName.toString.contains(latest.getFileName.toString))
      .foreach(Files.delete)
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()
    assert(spark.read.parquet(land).orderBy("epoch_sec").collect().toSeq === expect)
    assert(jsonDocs(json) === expectDocs)
  }

  test("maxFilesPerTrigger paces a backlog into multiple committed batches, same result") {
    val t0 = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("paceraw").toString
    val land = Files.createTempDirectory("paceland").toString
    val json = Files.createTempDirectory("pacejson").toString
    val ckpt = Files.createTempDirectory("paceckpt").toString
    (0 until 3).foreach { i =>
      Files.write(
        Paths.get(raw, s"f$i.log"),
        file(timesync(t0), frame(1000 * i, 599, 0, speedPayload(8.0 * i))))
    }
    val q = CanStreams.runParse(spark, raw, land, ckpt, json, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // one committed micro-batch per file (one frame each), not one
    // unbounded batch
    val inputRows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(inputRows === Seq(1L, 1L, 1L), s"expected 1 new file per batch, got $inputRows")
    val nCommits = Files.list(Paths.get(ckpt, "commits")).iterator().asScala
      .count(p => p.getFileName.toString.forall(_.isDigit))
    assert(nCommits >= 3 && nCommits <= q.recentProgress.length)
    val streamed = spark.read.parquet(land)
      .select("epoch_sec", "speed").orderBy("epoch_sec").collect().toSeq
    val batch = CanPipelines.pivot(CanDecode.decodeFiles(spark, raw))
      .select("epoch_sec", "speed").orderBy("epoch_sec").collect().toSeq
    assert(streamed === batch)
  }

  test("pivot watermark: events later than 1.2 s behind the max are dropped (MAX_SR parity)") {
    val raw  = Files.createTempDirectory("wmraw").toString
    val land = Files.createTempDirectory("wmland").toString
    val json = Files.createTempDirectory("wmjson").toString
    val ckpt = Files.createTempDirectory("wmckpt").toString
    // one speed tick at each time, in µs
    def ticks(name: String, at: (Long, Double)*): Unit =
      Files.write(Paths.get(raw, name), file(at.map { case (us, v) => timesync(us) ++ frame(0, 599, 0, speedPayload(v)) }: _*))
    ticks("a.log", (1000000000L, 10.0), (2000000000L, 20.0)) // watermark -> 1998.8 s
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()
    // 1500 s is ~500 s late; 1998.8 s sits on the watermark, 1998.801 s
    // just above it
    ticks("b.log", (1500000000L, 99.0), (2001000000L, 30.0), (1998800000L, 40.0), (1998801000L, 50.0))
    CanStreams.runParse(spark, raw, land, ckpt, json).awaitTermination()
    val epochs = spark.read.parquet(land).select("epoch_sec").collect().map(_.getDouble(0)).sorted
    // the in-watermark rows all surface; the late 1500 s row never does
    assert(epochs.contains(1000.0) && epochs.contains(2000.0) && epochs.contains(2001.0))
    assert(!epochs.contains(1500.0), "late event leaked past the 1.2 s watermark")
    assert(!epochs.contains(1998800000L / 1e6), "a tick on the watermark landed")
    assert(epochs.contains(1998801000L / 1e6), "a tick just above the watermark was dropped")
  }

}
