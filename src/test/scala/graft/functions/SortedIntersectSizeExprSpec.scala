package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.Dedup

/** SortedIntersectSizeExpr == size(array_intersect(...)) on sorted inputs
  * (set semantics: duplicates count once), for hand cases, seeded-random
  * arrays, and the SQL registration.
  */
class SortedIntersectSizeExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def viaSpark(a: Seq[Long], b: Seq[Long]): Int = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(Dedup.sortedIntersectSize(sort_array(col("a")), sort_array(col("b"))).as("n"))
      .collect().head.getInt(0)
  }

  test("hand cases: empty, disjoint, identical, duplicate runs, extremes") {
    assert(viaSpark(Nil, Nil) === 0)
    assert(viaSpark(Seq(1L, 2L), Nil) === 0)
    assert(viaSpark(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)) === 0)
    assert(viaSpark(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) === 3)
    // duplicates count once — array_intersect set semantics
    assert(viaSpark(Seq(1L, 1L, 2L, 2L, 2L), Seq(1L, 2L, 2L)) === 2)
    assert(viaSpark(Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)) === 2)
  }

  test("500 seeded-random cases == size(array_intersect), one batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (0 until 500).map { _ =>
      def arr = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong - 30L)
      (arr, arr)
    }
    val bad = cases.toDF("a", "b")
      .select(
        col("a"), col("b"),
        Dedup.sortedIntersectSize(sort_array(col("a")), sort_array(col("b"))).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(3).mkString("; ")}")
  }

  test("SQL registration + null array => NULL") {
    val r = spark.range(1)
      .select(
        Dedup.sortedIntersectSize(array(lit(1L), lit(2L), lit(3L)), array(lit(2L), lit(3L), lit(9L))),
        Dedup.sortedIntersectSize(lit(null).cast("array<bigint>"), array(lit(1L))))
      .collect().head
    assert(r.getInt(0) === 2)
    assert(r.isNullAt(1))
  }
}
