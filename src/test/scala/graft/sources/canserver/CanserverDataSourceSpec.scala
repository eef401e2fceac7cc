package graft.sources.canserver

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkThrowable
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, IsNotNull}
import org.apache.spark.sql.types.StructType

import graft.SparkTestSession
import graft.decode.{CanDecode, CanFixture}

/** The `canserver` file format: equivalence with the flatMap read path,
  * Spark's file index (globs, a missing path), frame-id pushdown reaching
  * the tokenize loop, and the path column per file.
  */
class CanserverDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import CanFixture._

  private def writeLogs(): String = {
    val dir = Files.createTempDirectory("canfmt").toString
    val t0  = 1700000000L * 1000000L
    Files.write(
      Paths.get(dir, "a.log"),
      file(
        timesync(t0),
        frame(1, 599, 0, Array[Byte](0, 0x50, 0x30)),
        frame(2, 273, 0, Array[Byte](1, 2, 3, 4, 5, 6)),
        frame(3, 1234, 0, Array[Byte](1))))
    Files.write(
      Paths.get(dir, "b.log"),
      file(timesync(t0 + 5000000L), frame(1, 921, 0, Array[Byte](3))))
    dir
  }

  private def condition(e: Throwable): String = e match {
    case s: SparkThrowable => s.getCondition
    case _                 => s"not a SparkThrowable: $e"
  }

  test("format(canserver) == binaryFile+flatMap read path") {
    val dir = writeLogs()
    val format = spark.read
      .format("canserver")
      .load(dir)
      .select("frame_id", "bus_id", "length", "payload_long", "frame_time_micros")
      .collect()
      .map(_.toSeq)
      .toSet
    val flatMapPath = CanDecode
      .records(spark, dir)
      .select(
        col("frameId").as("frame_id"),
        col("busId").as("bus_id"),
        col("length"),
        col("payloadLong").as("payload_long"),
        col("frameTimeMicros").as("frame_time_micros"))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(format === flatMapPath)
    assert(format.size === 4)
  }

  test("files below the 514-byte buffer floor: format == CanDecode.records") {
    val dir = Files.createTempDirectory("cansmall").toString
    Files.write(Paths.get(dir, "header.log"), file())
    Files.write(
      Paths.get(dir, "one.log"),
      file(timesync(1700000000L * 1000000L), frame(1, 599, 0, Array[Byte](0, 0x50, 0x30))))
    assert(new java.io.File(dir).listFiles().forall(_.length() < 2 * 257))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val format = rows(spark.read.format("canserver").load(dir)
      .select("frame_id", "bus_id", "length", "payload_long", "frame_time_micros"))
    val records = rows(CanDecode.records(spark, dir).select(
      col("frameId"), col("busId"), col("length"), col("payloadLong"), col("frameTimeMicros")))
    assert(format === records)
    assert(format.size === 1)
  }

  test("glob paths resolve like binaryFile; no match fails with a clear error") {
    val dir = writeLogs()
    val globbed = spark.read.format("canserver").load(s"$dir/*.log").count()
    assert(globbed === 4)
    val one = spark.read.format("canserver").load(s"$dir/a.log").count()
    assert(one === 3)
    val e = intercept[Exception] {
      spark.read.format("canserver").load(s"$dir/nope/*.log").count()
    }
    assert(condition(e) === "PATH_NOT_FOUND")
  }

  test("a missing path raises PATH_NOT_FOUND in batch and stream") {
    val missing = Paths.get(writeLogs(), "nope").toString
    val batch = intercept[Exception](spark.read.format("canserver").load(missing).count())
    assert(condition(batch) === "PATH_NOT_FOUND")
    val stream = intercept[Exception] {
      spark.readStream.format("canserver").schema(CanserverFileFormat.Schema).load(missing)
    }
    assert(condition(stream) === "PATH_NOT_FOUND")
  }

  test("frame_id filter is pushed into the scan") {
    val dir = writeLogs()
    val df  = spark.read.format("canserver").load(dir).filter(col("frame_id").isin(599, 921))
    val plan = df.queryExecution.executedPlan.toString
    assert(
      "PushedFilters: \\[[^\\]]*In\\(frame_id, \\[599,921\\]\\)".r.findFirstIn(plan).nonEmpty,
      s"pushdown missing from plan:\n$plan")
    assert(df.collect().map(_.getAs[Int]("frame_id")).sorted.toSeq === Seq(599, 921))
    // Spark re-applies the filter above the scan, so the reader's own drop
    // shows only when it is called directly
    val frameId = StructType(Seq(CanserverFileFormat.Schema("frame_id")))
    val read = new CanserverFileFormat().buildReader(
      spark, CanserverFileFormat.Schema, new StructType(), frameId,
      Seq(In("frame_id", Array(599, 921))), Map.empty, spark.sessionState.newHadoopConf())
    val kept = Seq("a.log", "b.log").flatMap { name =>
      val f = new java.io.File(dir, name)
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(f.toURI)), 0L, f.length())).map(_.getInt(0))
    }
    assert(kept === Seq(599, 921))
  }

  test("conjunctive frame_id filters INTERSECT (not union)") {
    val dir = writeLogs()
    val df = spark.read
      .format("canserver")
      .load(dir)
      .filter(col("frame_id") === 273 && col("frame_id").isin(599, 921))
    assert(df.count() === 0) // contradiction scans nothing
    val df2 = spark.read
      .format("canserver")
      .load(dir)
      .filter(col("frame_id").isin(273, 599) && col("frame_id").isin(599, 921))
    assert(df2.collect().map(_.getAs[Int]("frame_id")).toSeq === Seq(599))
    assert(CanserverFileFormat.frameIds(
      Seq(IsNotNull("frame_id"), EqualTo("frame_id", 273), In("frame_id", Array(599, 921)))) === Some(Set.empty))
    assert(CanserverFileFormat.frameIds(Seq(IsNotNull("frame_id"))) === None)
  }

  test("the path column distinguishes files") {
    val dir = writeLogs()
    val byPath = spark.read.format("canserver").load(dir)
      .groupBy("path").count().collect()
      .map(r => Paths.get(new java.net.URI(r.getString(0))).getFileName.toString -> r.getLong(1)).toMap
    assert(byPath === Map("a.log" -> 3L, "b.log" -> 1L))
  }
}
