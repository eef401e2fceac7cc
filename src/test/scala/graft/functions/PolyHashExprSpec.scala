package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** The native PolyHashExpr must equal the composed built-ins form (the
  * cross-engine reference formulation) on ASCII and non-ASCII input, via
  * both the interpreted and codegen paths.
  */
class PolyHashExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("native == composed on random ASCII strings (codegen path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val strs = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) :+ "" :+ "a"
    val rows = strs
      .toDF("s")
      .select(
        TextAnalysis.polyHash(col("s")).as("native"),
        TextAnalysis.polyHashComposed(col("s")).as("composed"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("non-ASCII falls back to codepoints, matching ascii()-based semantics") {
    import spark.implicits._
    val rows = Seq("héllo", "日本語", "mix€d")
      .toDF("s")
      .select(
        TextAnalysis.polyHash(col("s")).as("native"),
        TextAnalysis.polyHashComposed(col("s")).as("composed"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("registered as a SQL function via SparkSessionExtensions") {
    val got = spark.range(1).select(TextAnalysis.polyHash(lit("ab"))).head().getLong(0)
    val expect = "ab".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % TextAnalysis.P)
    assert(got === expect)
  }

  test("null propagates") {
    import spark.implicits._
    val r = Seq[(java.lang.Long, String)]((1L, null))
      .toDF("id", "s")
      .select(TextAnalysis.polyHash(col("s")))
      .head()
    assert(r.isNullAt(0))
  }

  test("inside a higher-order lambda (interpreted eval path)") {
    import spark.implicits._
    val r = Seq(Seq("ab", "cd"))
      .toDF("arr")
      .select(transform(col("arr"), s => TextAnalysis.polyHash(s)).as("h"))
      .head()
      .getAs[scala.collection.Seq[Long]]("h")
    val expect = Seq("ab", "cd").map { str =>
      str.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % TextAnalysis.P)
    }
    assert(r === expect)
  }
}
