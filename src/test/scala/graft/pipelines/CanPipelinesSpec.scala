package graft.pipelines

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestSession
import graft.decode.{CanDecode, CanFixture}

/** Golden semantics of the three domain pipelines, including the stationary
  * 12 s / 13 s boundary (reference infer_stationary_states.py:94-96), run at
  * end-of-data, pivot merging, hour partitioning, and the autopilot edge
  * rule (infer_autopilot_states.py:78-88).
  */
class CanPipelinesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import CanFixture._

  private def apPayload(code: Int): Array[Byte] = Array(code.toByte)

  /** The two-hour fixture: hour 1 holds a 15 s stationary run (speed 0 at
    * +0..15 s) then moving, with AP engagement mid-hour and an accel and a
    * gyro frame sharing one epoch; hour 2 holds the disengagement.
    */
  private def writeTwoHourLog(dir: String): Unit = {
    val t0 = 1700000000L * 1000000L // 2023-11-14 22:13:20 UTC, µs
    val t1 = 1700003000L * 1000000L // 23:03:20 UTC (next hour bucket)
    val hour1 =
      timesync(t0) ++
        (0 to 15).flatMap(i => frame(i * 1000, 599, 0, speedPayload(0.0))).toArray ++
        frame(16000, 599, 0, speedPayload(48.0)) ++
        frame(17000, 921, 0, apPayload(2)) ++
        frame(18000, 921, 0, apPayload(3)) ++
        frame(20000, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0)) ++
        frame(20000, 257, 0, Array[Byte](4, 0, 0, 0, 0, 0))
    val hour2 =
      timesync(t1) ++
        frame(0, 921, 0, apPayload(3)) ++
        frame(1000, 921, 0, apPayload(1))
    Files.write(Paths.get(dir, "trip.log"), file(hour1 ++ hour2))
  }

  private def seriesDF(rows: Seq[(Double, Double)]) = {
    import spark.implicits._
    rows.toDF("ts_sec", "speed")
  }

  test("stationaryIntervals: 13 s run emits trimmed; 12 s run ignored; (12,13) never emits") {
    // run A: zeros at t=100..113 (13 s span) then nonzero
    // run B: zeros at t=200..212 (12 s span) then nonzero
    // run C: zeros at t=300..312.5 (12.5 s span) then nonzero
    val rows =
      (0 to 13).map(i => (100.0 + i, 0.0)) ++ Seq((114.0, 30.0)) ++
        (0 to 12).map(i => (200.0 + i, 0.0)) ++ Seq((213.0, 25.0)) ++
        (0 to 25).map(i => (300.0 + i * 0.5, 0.0)) ++ Seq((313.0, 10.0))
    val got = CanPipelines
      .stationaryIntervals(seriesDF(rows))
      .orderBy("start")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got === Array((103.0, 110.0))) // only the 13 s run, +3/-3 trimmed
  }

  test("stationaryIntervals: run reaching end-of-data is emitted") {
    val rows = Seq((1.0, 55.0)) ++ (0 to 20).map(i => (10.0 + i, 0.0))
    val got = CanPipelines.stationaryIntervals(seriesDF(rows)).collect()
    assert(got.map(r => (r.getDouble(0), r.getDouble(1))).toSeq === Seq((13.0, 27.0)))
  }

  test("stationaryIntervals: no zero speed -> empty (reference crashes here, §2.7-10)") {
    val rows = (0 to 30).map(i => (i.toDouble, 20.0))
    assert(CanPipelines.stationaryIntervals(seriesDF(rows)).isEmpty)
  }

  test("autopilotTransitions: exact edge rule; active variants 4/5 ignored") {
    import spark.implicits._
    val s = Seq(
      (1.0, "AVAILABLE"),        // 2
      (2.0, "AVAILABLE"),        // 2
      (3.0, "ACTIVE_NOMINAL"),   // 3  <- engagement (2->3)
      (4.0, "ACTIVE_NOMINAL"),   // 3
      (5.0, "AVAILABLE"),        // 2  <- disengagement (3->2)
      (6.0, "ACTIVE_RESTRICTED"),// 4  (2->4: no edge)
      (7.0, "ACTIVE_NOMINAL"),   // 3  (4->3: no edge — prev must be <=2)
      (8.0, "DISABLED"))         // 0  <- disengagement (3->0)
      .toDF("ts_sec", "state")
    val got = CanPipelines
      .autopilotTransitions(s)
      .orderBy("ts_sec")
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getString(2)))
    assert(got === Array(
      (3.0, 3, "engagement"),
      (5.0, 2, "disengagement"),
      (8.0, 0, "disengagement")))
  }

  test("autopilotDaily keeps ALL transitions per day (no last-writer-wins)") {
    import spark.implicits._
    val t = Seq(
      (100.0, 3, "engagement"),
      (200.0, 2, "disengagement"),
      (300.0, 3, "engagement"))
      .toDF("ts_sec", "canbus_state", "status")
    val got = CanPipelines.autopilotDaily(t).collect()
    assert(got.length === 1)
    val m = got(0).getAs[Map[String, scala.collection.Seq[Row]]]("auditory")
    assert(m("engagement").map(_.getDouble(0)) === Seq(100.0, 300.0))
    assert(m("disengagement").map(_.getDouble(0)) === Seq(200.0))
  }

  test("two devices sharing an epoch do NOT merge (multi-tenant pivot)") {
    val t0 = 1700000000L * 1000000L
    val dir = Files.createTempDirectory("multidev")
    Files.createDirectory(dir.resolve("car-a"))
    Files.createDirectory(dir.resolve("car-b"))
    // same epoch, different devices, different speeds
    Files.write(dir.resolve("car-a/x.log"), file(timesync(t0), frame(0, 599, 0, speedPayload(0.0))))
    Files.write(dir.resolve("car-b/y.log"), file(timesync(t0), frame(0, 599, 0, speedPayload(80.0))))
    val pivoted = CanPipelines.pivot(graft.decode.CanDecode.decodeFiles(spark, dir.toString))
    val rows = pivoted
      .select("device", "epoch_sec", "speed")
      .collect()
      .map(r => (r.getString(0), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows === Array(("car-a", 0.0), ("car-b", 80.0))) // 2 rows, not 1 merged
    // and the hourly documents land under distinct device prefixes
    val landing = CanPipelines.channelize(pivoted)
    assert(landing.select("device").distinct().count() === 2)
  }

  test("end-to-end: binary log -> landing documents -> both inferences") {
    val dir = Files.createTempDirectory("canpipe").toString
    writeTwoHourLog(dir)

    val pivoted = CanPipelines.pivot(CanDecode.decodeFiles(spark, dir))
    val landing = CanPipelines.channelize(pivoted).cache()

    // two hourly documents with end-hour ISO filenames
    val names = landing.select("filename").orderBy("filename").collect().map(_.getString(0))
    assert(names === Array("canserver_2023-11-14_23-00-00", "canserver_2023-11-15_00-00-00"))

    val h1 = landing.filter(col("filename") === "canserver_2023-11-14_23-00-00").head()
    // pivot merged accel+gyro at one epoch; channel arrays sorted by time
    val accel = h1.getAs[scala.collection.Seq[Row]]("accel")
    val gyro  = h1.getAs[scala.collection.Seq[Row]]("gyro")
    assert(accel.length === 1 && gyro.length === 1)
    assert(accel.head.getDouble(0) === gyro.head.getDouble(0)) // same epoch
    assert(accel.head.getAs[scala.collection.Seq[Double]](1) === Seq(0.00125 * 1, 0.00125 * 2, 0.00125 * 3))
    val speeds = h1.getAs[scala.collection.Seq[Row]]("speed").map(_.getDouble(0))
    assert(speeds === speeds.sorted)
    assert(speeds.length === 17)

    // stationary: 15 s zero-run -> one trimmed interval (device-keyed now)
    val st = CanPipelines
      .stationaryIntervals(CanPipelines.speedSeries(pivoted))
      .collect()
      .map(r => (r.getAs[Double]("start"), r.getAs[Double]("end")))
    assert(st === Array((1700000000.0 + 3, 1700000015.0 - 3)))

    // autopilot: engagement in hour 1; hour-2 doc alone must show the
    // 3 -> 1 disengagement (state carried WITHIN the series, incl. across
    // documents when processed together)
    val tr = CanPipelines
      .autopilotTransitions(CanPipelines.apSeries(pivoted))
      .orderBy("ts_sec")
      .collect()
      .map(r => (r.getAs[Double]("ts_sec"), r.getAs[Int]("canbus_state"), r.getAs[String]("status")))
    assert(tr === Array(
      (1700000018.0, 3, "engagement"),
      (1700003001.0, 1, "disengagement")))
  }

  test("speedSeries/apSeries over pivot == the hourly documents' channel entries") {
    // the reference: an inline explode of channelize's speed/ap_status
    // channels, which is what infer read before it read the landing table
    def channelEntries(landing: DataFrame, channel: String) =
      landing
        .select(col("device"), explode(col(channel)).as("s"))
        .select(col("device"), col("s.timestamp"), col("s.value"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.groupBy(identity).map {
      case (r, n) => r -> n.size
    }
    val twoHour = Files.createTempDirectory("series_2h").toString
    writeTwoHourLog(twoHour)
    val crossFile = Files.createTempDirectory("series_xfile").toString
    CrossFile.writeA(crossFile)
    CrossFile.writeB(crossFile)
    for (dir <- Seq(twoHour, crossFile)) {
      val pivoted = CanPipelines.pivot(CanDecode.decodeFiles(spark, dir)).cache()
      val landing = CanPipelines.channelize(pivoted)
      val speed   = rows(CanPipelines.speedSeries(pivoted))
      val ap      = rows(CanPipelines.apSeries(pivoted))
      assert(speed.nonEmpty && ap.nonEmpty)
      assert(speed === rows(channelEntries(landing, "speed")), dir)
      assert(ap === rows(channelEntries(landing, "ap_status")), dir)
      pivoted.unpersist()
    }
  }
}
