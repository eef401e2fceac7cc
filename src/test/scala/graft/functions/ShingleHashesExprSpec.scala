package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.Dedup

/** The native ShingleHashesExpr must equal the composed chain
  * array_distinct(transform(array_distinct(shingles(split(text," "),n)), polyHash))
  * element-for-element (values AND first-occurrence order) — including the
  * empty-token edge cases of a regex space split and the < n-token guard.
  */
class ShingleHashesExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def check(texts: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val rows = texts
      .toDF("t")
      .select(
        Dedup.shingleHashes(col("t"), n).as("native"),
        Dedup.shingleHashesComposed(col("t"), n).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(
        r.getAs[scala.collection.Seq[Long]]("native") ===
          r.getAs[scala.collection.Seq[Long]]("composed"))
    }
  }

  test("random word texts match the composed form (values and order)") {
    val rnd = new scala.util.Random(13)
    val words = Vector("the", "quick", "brown", "fox", "dog", "a", "of", "x1")
    val texts = Seq.fill(100)(Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" "))
    check(texts, 3)
  }

  test("edge cases: empty, short, repeated shingles, multiple spaces, non-ASCII") {
    check(
      Seq(
        "",
        "one",
        "one two",
        "one two three",
        "a b c a b c a b c", // repeated shingles -> distinct keeps first
        "double  space  here", // empty tokens from the regex split survive
        " leading and trailing ",
        "héllo wörld 日本 語 mix"),
      3)
  }

  test("n = 1 and n = 2") {
    check(Seq("a b c", "x", ""), 1)
    check(Seq("a b c", "x", ""), 2)
  }

  test("null propagates") {
    import spark.implicits._
    val r = Seq[(Int, String)]((1, null))
      .toDF("id", "t")
      .select(Dedup.shingleHashes(col("t"), 3))
      .head()
    assert(r.isNullAt(0))
  }

  test("registered as a SQL function via SparkSessionExtensions") {
    def hashes(n: Int) = spark.range(1)
      .select(Dedup.shingleHashes(lit("a b c d"), n).as("h"))
      .head()
      .getAs[scala.collection.Seq[Long]]("h")
    assert(hashes(3).length === 2)
    assert(hashes(2).length === 3)
  }
}
