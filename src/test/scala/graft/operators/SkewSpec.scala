package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** Salting must not change results, only shuffle layout. */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  test("saltedJoin == plain join (row multiset)") {
    val e = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderkey"))
    val plain = e.join(o, col("user_id") === col("o_custkey"))
      .select("event_id", "o_orderkey").collect().map(_.toSeq).toSeq.sorted(
        Ordering.by((s: Seq[Any]) => (s.head.asInstanceOf[Long], s(1).asInstanceOf[Long])))
    val salted = Skew.saltedJoin(e, o, col("user_id"), col("o_custkey"), buckets = 4)
      .select("event_id", "o_orderkey").collect().map(_.toSeq).toSeq.sorted(
        Ordering.by((s: Seq[Any]) => (s.head.asInstanceOf[Long], s(1).asInstanceOf[Long])))
    assert(salted === plain)
  }

  test("keyStats: hand-computed shares and skew factor on a planted hot key") {
    import spark.implicits._
    val df = ((1 to 90).map(_ => 1L) ++ (1 to 9).map(_ => 2L) ++ Seq(3L)).toDF("k")
    val got = Skew
      .keyStats(df, col("k"), topN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // 100 rows over 3 keys: mean 100/3 per key
    assert(got.length === 2)
    assert(got(0) === ((1L, 90L, 0.9, 90.0 * 3 / 100)))
    assert(got(1) === ((2L, 9L, 0.09, 9.0 * 3 / 100)))
  }

  test("salted join splits a hot key across buckets in the shuffle") {
    import spark.implicits._
    // one pathological key
    val hot   = (1 to 1000).map(i => (i.toLong, 7L)).toDF("event_id", "user_id")
    val right = Seq((7L, 100L)).toDF("o_custkey", "o_orderkey")
    val joined = Skew.saltedJoin(hot, right, col("user_id"), col("o_custkey"), buckets = 4)
    assert(joined.count() === 1000)
    // the salted key space actually uses multiple buckets
    val salts = hot
      .withColumn("__lsalt", pmod(xxhash64(col("user_id"), monotonically_increasing_id()), lit(4L)))
      .select("__lsalt").distinct().count()
    assert(salts > 1)
  }
}
