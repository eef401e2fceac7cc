package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.decode.CanExpressions
import graft.operators.{Sessionize, Transitions}

/** The three reference domain computations as pure batch
  * DataFrame -> DataFrame functions (the oracle-testable surface; streaming
  * twins in graft.streaming reuse these shapes).
  *
  * Semantics follow SURVEY §2 with the documented clean-ups of §2.7: real
  * nulls instead of 'NA', ISO hour labels from the window end, all
  * transitions kept (no last-writer-wins), total AP code map.
  */
object CanPipelines {

  // ------------------------------------------------------------------ pivot

  /** Per-epoch pivot: frames sharing one epoch-second timestamp merge into a
    * single wide row, one `first(..., ignoreNulls)` per signal column
    * (reference parse_canserver_filtered_log.py:268-289 builds the same row
    * imperatively via epoch_dict). Each (epoch, signal) has at most one
    * source frame in well-formed logs, so `first` is deterministic; on
    * duplicates the reference keeps the LAST frame — a documented divergence.
    *
    * Input: CanDecode.decodeFiles output. One shuffle on epoch_sec; partial
    * aggregation makes the map-side combine absorb the per-file fan-in.
    */
  def pivot(decoded: DataFrame): DataFrame = {
    val signals = Seq(
      "long_acc", "lat_acc", "vert_acc",
      "yaw_rate", "pitch_rate", "roll_rate",
      "lat", "long", "speed", "ap_status")
    decoded
      .groupBy(col("device"), col("epoch_sec"))
      .agg(
        min(col("ts")).as("ts"),
        signals.map(s => first(col(s), ignoreNulls = true).as(s)): _*)
      // unit annotations, present iff the signal is (reference wide row
      // parse_canserver_filtered_log.py:154,165,169)
      .withColumn("acc_unit", when(col("long_acc").isNotNull, "m/s^2"))
      .withColumn("gyro_unit", when(col("yaw_rate").isNotNull, "rad/s"))
      .withColumn("speed_unit", when(col("speed").isNotNull, "KPH"))
  }

  // ------------------------------------------------------- hourly landing

  /** Channel array: elements only where the signal exists. `gate` must be a
    * SCALAR of the channel (an `array(...)` of nulls is itself non-null, so
    * gating on the value column would leak every epoch into every channel).
    */
  private def chan(tsCol: Column, valueCol: Column, gate: Column): Column =
    sort_array(collect_list(when(gate.isNotNull, struct(tsCol.as("timestamp"), valueCol.as("value")))))

  /** Hourly channelized landing document (reference
    * parse_canserver_filtered_log.py:311-325): per tumbling hour, five
    * channel arrays of {timestamp, value} in ascending time order
    * (`sort_array` replaces the reference's reliance on sequential scan
    * order). The `filename` column reproduces the
    * `canserver_YYYY-MM-DD_HH-00-00` end-hour naming (:42-52) with ISO
    * hour-24 handling (the reference literally writes hour "24" — §2.7).
    */
  def channelize(pivoted: DataFrame): DataFrame =
    pivoted
      .groupBy(col("device"), window(col("ts"), "1 hour"))
      .agg(
        chan(col("epoch_sec"), array(col("long_acc"), col("lat_acc"), col("vert_acc")), col("long_acc")).as("accel"),
        chan(col("epoch_sec"), array(col("yaw_rate"), col("pitch_rate"), col("roll_rate")), col("yaw_rate")).as("gyro"),
        chan(col("epoch_sec"), array(col("lat"), col("long")), col("lat")).as("location"),
        chan(col("epoch_sec"), col("speed"), col("speed")).as("speed"),
        chan(col("epoch_sec"), col("ap_status"), col("ap_status")).as("ap_status"))
      .select(
        col("device"),
        col("window.start").as("hour_start"),
        col("window.end").as("hour_end"),
        concat(lit("canserver_"), date_format(col("window.end"), "yyyy-MM-dd_HH"), lit("-00-00"))
          .as("filename"),
        col("accel"),
        col("gyro"),
        col("location"),
        col("speed"),
        col("ap_status"))

  /** Full parse stage: decoded frames -> hourly landing documents. */
  def parseToLanding(decoded: DataFrame): DataFrame = channelize(pivot(decoded))

  // ----------------------------------------------------- landing projections

  /** Carry the device through the channel explode when the doc has one. */
  private def devCols(landing: DataFrame): Seq[Column] =
    if (landing.columns.contains("device")) Seq(col("device")) else Seq.empty

  /** speed channel of a landing document -> flat (ts_sec, speed) series
    * (what infer_stationary_states.py:70-71 projects).
    */
  def speedSeries(landing: DataFrame): DataFrame =
    landing
      .select(devCols(landing) :+ explode(col("speed")).as("s"): _*)
      .select(devCols(landing) ++ Seq(col("s.timestamp").as("ts_sec"), col("s.value").as("speed")): _*)

  /** ap_status channel -> flat (ts_sec, state) series (infer_autopilot_states.py:71). */
  def apSeries(landing: DataFrame): DataFrame =
    landing
      .select(devCols(landing) :+ explode(col("ap_status")).as("s"): _*)
      .select(devCols(landing) ++ Seq(col("s.timestamp").as("ts_sec"), col("s.value").as("state")): _*)

  // ------------------------------------------------------------- stationary

  /** Stationary-state intervals — the reference's exact thresholds
    * (infer_stationary_states.py:81-106): a maximal run of speed==0 samples
    * is emitted iff (last zero ts - first zero ts) >= minDurSec (13 s; runs
    * <= 12 s ignored, the (12,13) open interval also never emits), trimmed
    * to {start + trimSec, end - trimSec} (3 s both sides).
    *
    * Gaps-and-islands form: one window shuffle on (partition keys), O(1)
    * state per row — the scan loop's prev/cur/next logic is subsumed by
    * lag + running sum (Sessionize.runs).
    *
    * @param series   (ts_sec: Double, speed: Double) [+ partition columns]
    * @param partCols names of per-device/user partition columns (kept in the
    *                 output); empty = one global series
    */
  def stationaryIntervals(
      series: DataFrame,
      partCols: Seq[String] = Nil,
      minDurSec: Double = 13.0,
      trimSec: Double = 3.0): DataFrame = {
    // default to per-device runs when the series carries a device column
    val keys =
      if (partCols.isEmpty && series.columns.contains("device")) Seq("device") else partCols
    val parts = if (keys.isEmpty) Seq(lit(1)) else keys.map(col)
    Sessionize
      .runs(series, parts, col("ts_sec"), col("speed") === 0.0)
      .filter(col("__flag"))
      .groupBy(parts :+ col("run_id"): _*)
      .agg(min(col("ts_sec")).as("run_start"), max(col("ts_sec")).as("run_end"))
      .filter(col("run_end") - col("run_start") >= minDurSec)
      .select(
        keys.map(col) ++ Seq(
          (col("run_start") + trimSec).as("start"),
          (col("run_end") - trimSec).as("end")): _*)
  }

  // -------------------------------------------------------------- autopilot

  /** Autopilot engagement/disengagement transitions
    * (infer_autopilot_states.py:78-88): state name -> code via the total
    * reverse map, then the exact edge rule — engagement when code becomes 3
    * from <= 2, disengagement on the reverse. ALL transitions are kept
    * (the reference's dict-update keeps only the last per status — §2.7-6).
    *
    * Output: ts_sec, canbus_state (code of the CURRENT row), status.
    */
  def autopilotTransitions(series: DataFrame, partCols: Seq[Column] = Seq(lit(1))): DataFrame = {
    // default to per-device sequences when the series carries a device
    val parts =
      if (partCols == Seq(lit(1)) && series.columns.contains("device")) Seq(col("device"))
      else partCols
    val out = devCols(series)
    Transitions
      .detect(
        series.withColumn("__code", CanExpressions.apCodeOfName(col("state"))),
        parts,
        col("ts_sec"),
        col("__code"))
      .select(
        out ++ Seq(
          col("ts_sec"),
          col("code").as("canbus_state"),
          col("transition").as("status")): _*)
  }

  /** Day-partitioned event document rows: all transitions of a day grouped as
    * {engagement: [...], disengagement: [...]} (flat, loss-free — fixes
    * §2.7-6/8).
    */
  def autopilotDaily(transitions: DataFrame): DataFrame = {
    val dev = devCols(transitions)
    transitions
      .withColumn("date", to_date(timestamp_seconds(col("ts_sec"))))
      .groupBy(dev ++ Seq(col("date"), col("status")): _*)
      .agg(sort_array(collect_list(struct(col("ts_sec").as("timestamp"), col("canbus_state")))).as("events"))
      .groupBy(dev :+ col("date"): _*)
      .agg(map_from_entries(sort_array(collect_list(struct(col("status"), col("events"))))).as("auditory"))
  }
}
