package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling for irregular time series — the telematics
  * normalization step (CAN channels arrive at device-dependent rates;
  * models and joins want one row per key per step, gaps carried forward).
  *
  * Scale shape: one (key, bin) aggregation for the per-bin last
  * observation, a per-key min/max aggregate whose `sequence()` explode
  * materializes only each key's OWN span (no global calendar join), and a
  * key-partitioned forward-fill window — nothing global, nothing
  * partitionless, grid volume = sum of per-key spans / step.
  */
object Resample {

  /** Resample `df` to a regular `step` grid per `keyCol`: one row per key
    * per step between that key's first and last observation.
    *
    *  - `value`: the bin's LAST observation — max of struct(ts, value), so
    *    same-timestamp ties resolve to the larger value, deterministically —
    *    forward-filled across empty bins (standard last-observation-
    *    carried-forward);
    *  - `observed`: false on carried-forward rows.
    *
    * `step` is any calendar-interval string `sequence()` accepts
    * ("1 hour", "15 minutes"). Output: keyCol, bin (timestamp), value,
    * observed.
    */
  def resampleFill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      step: String = "1 hour"): DataFrame = {
    val key = col(keyCol)
    val perBin = df
      .withColumn("__bin", window(col(tsCol), step).getField("start"))
      .groupBy(key, col("__bin"))
      .agg(max(struct(col(tsCol), col(valCol))).getField(valCol).as("__vobs"))
    // Segment spelling of LOCF: each OBSERVED bin owns the grid rows up to
    // (exclusive) the key's next observed bin — lead() hands every row its
    // successor, and the row explodes its own [bin, next) span carrying its
    // value with it. Two exchanges total ((key,bin) aggregate; key window)
    // versus the naive grid-join form's four (per-key lo/hi re-aggregate,
    // grid-to-observation join, fill window over the EXPLODED grid): no
    // join, and the only window runs over per-bin rows, not grid rows.
    // Same scale posture: the explode still materializes only each key's
    // own span, after the window. window() only accepts fixed-width steps,
    // so observed bins always sit on one arithmetic progression and the
    // per-segment sequences reproduce exactly sequence(lo, hi, step).
    val w = Window.partitionBy(key).orderBy(col("__bin"))
    perBin
      .withColumn("__next", lead(col("__bin"), 1).over(w))
      .select(
        key,
        col("__vobs"),
        col("__bin"),
        explode(expr(
          s"sequence(__bin, coalesce(__next - interval $step, __bin), interval $step)"))
          .as("bin"))
      .select(
        key,
        col("bin"),
        col("__vobs").as("value"),
        (col("bin") === col("__bin")).as("observed"))
  }
}
