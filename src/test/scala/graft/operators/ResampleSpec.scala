package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Resample semantics on a hand fixture: per-key grid bounds, bin-last
  * selection (ts ties -> larger value), LOCF across gaps, and observed
  * flags.
  */
class ResampleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("grid bounds per key, bin-last wins ties, gaps forward-fill with observed=false") {
    val df = Seq(
      // key A: observations at 00:10, 00:40 (same bin, later wins), then a
      // 2-hour gap to 03:05
      (1L, ts("2026-01-01 00:10:00"), 10.0),
      (1L, ts("2026-01-01 00:40:00"), 11.0),
      (1L, ts("2026-01-01 03:05:00"), 13.0),
      // key B: single bin — grid is exactly one row
      (2L, ts("2026-01-01 05:59:00"), 50.0),
      // key C: equal timestamps — the LARGER value wins deterministically
      (3L, ts("2026-01-01 07:30:00"), 1.0),
      (3L, ts("2026-01-01 07:30:00"), 2.0)
    ).toDF("k", "t", "v")

    val out = Resample.resampleFill(df, "k", "t", "v", "1 hour")
      .orderBy("k", "bin")
      .select(col("k"), date_format(col("bin"), "HH:mm").as("b"), col("value"), col("observed"))
      .as[(Long, String, Double, Boolean)]
      .collect()
      .toSeq

    assert(out === Seq(
      (1L, "00:00", 11.0, true),  // bin-last: 00:40's value, not 00:10's
      (1L, "01:00", 11.0, false), // carried forward
      (1L, "02:00", 11.0, false),
      (1L, "03:00", 13.0, true),
      (2L, "05:00", 50.0, true),
      (3L, "07:00", 2.0, true)    // equal ts -> larger value
    ))
  }
}
