package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for the 100 TB posture: salted joins and two-phase
  * distinct — the hand tools for when AQE's skew-join split isn't available
  * (non-shuffle-join plans, or aggregation skew).
  *
  * Results are provably identical to the unsalted forms (each left row gets
  * exactly one salt; the right side is replicated across ALL salts, so the
  * match set per row is unchanged) — certified by the q39 oracle entry.
  */
object Skew {

  /** Equi-join where `left` has hot keys: left rows get a per-row salt in
    * [0, buckets); `right` is replicated once per salt; the join key becomes
    * (key, salt), splitting each hot key's shuffle partition into `buckets`
    * parallel ones. Right-side replication costs |right| * buckets rows —
    * use for small-to-medium right sides that are still above the broadcast
    * threshold.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      buckets: Int = 8): DataFrame = {
    // xxhash64 of key + a per-row component: deterministic, well-spread
    val salted = left.withColumn(
      "__lsalt",
      pmod(xxhash64(leftKey, monotonically_increasing_id()), lit(buckets.toLong)))
    val replicated = right.withColumn(
      "__rsalt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted
      .join(replicated, leftKey === rightKey && col("__lsalt") === col("__rsalt"))
      .drop("__lsalt", "__rsalt")
  }

  /** Per-key frequency diagnostics — the measurement that DECIDES whether a
    * join needs salting or AQE skew handling: the `topN` heaviest keys with
    * their row share and skew factor (heaviest count / mean count per key;
    * ~1 means uniform, >> 1 means a hot key will dominate its shuffle
    * partition). One count shuffle + a single-row global aggregate joined
    * back as a broadcast; ties order by key so the cut is deterministic.
    *
    * Output: key, cnt, share, skew_factor (topN rows, heaviest first).
    */
  def keyStats(df: DataFrame, key: Column, topN: Int = 10): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).cast("double").as("__total"),
      count(lit(1)).cast("double").as("__nkeys"))
    counts
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
      .crossJoin(broadcast(totals))
      .select(
        col("key"), col("cnt"),
        (col("cnt") / col("__total")).as("share"),
        (col("cnt") * col("__nkeys") / col("__total")).as("skew_factor"))
  }
}
