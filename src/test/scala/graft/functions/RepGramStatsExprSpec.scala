package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** RepGramStatsExpr: hand-checked coverage numbers, the (count DESC, gram
  * ASC) tie rule, empty/short-doc zeros, empty-token handling (split on
  * single space keeps empties), and the SQL registration.
  */
class RepGramStatsExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def stats(text: String, n: Int): (Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val c = ColumnBridge.column(RepGramStatsExpr(ColumnBridge.expression(col("t")), n))
    val r = Seq(text).toDF("t")
      .select(c.getField("top_cov").as("a"), c.getField("dup_cov").as("b"))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("hand cases: counts x char length, dup coverage") {
    // bigrams of "a b a b c": "a b"(2) "b a"(1) "b c"(1); top = "a b" len 3
    assert(stats("a b a b c", 2) === ((2L * 3, 2L * 3)))
    // all distinct bigrams: top count 1, no dups
    assert(stats("x y z", 2) === ((3L, 0L)))  // "x y" len 3 count 1
    // trigram repeated: "a b a b a b a": "a b a"(x?) windows: aba,bab,aba,bab,aba -> "a b a"x3 "b a b"x2
    assert(stats("a b a b a b a", 3) === ((3L * 5, 3L * 5 + 2L * 5)))
  }

  test("tie rule: equal counts pick the binary-ascending gram") {
    // bigrams of "b a b a": "b a"(2)? windows: "b a","a b","b a" -> "b a"x2, "a b"x1
    assert(stats("b a b a", 2) === ((2L * 3, 2L * 3)))
    // all count-1: "z y x" -> bigrams "z y","y x"; tie -> "y x" ascending
    assert(stats("z y x", 2)._1 === 3L)
  }

  test("short docs and empties") {
    assert(stats("", 2) === ((0L, 0L)))       // split("") = [""] -> < 2 tokens
    assert(stats("one", 2) === ((0L, 0L)))
    // double space makes an empty token: "a  b" -> ["a","","b"]; bigrams "a "(len 2... "a "+""), " b"
    val (t, d) = stats("a  b", 2)
    assert(t === 2L && d === 0L) // top gram "a " or " b" joined len 2, count 1... ascending " b" len 2
  }

  test("SQL registration") {
    assert(stats("a b a b c", 2)._1 === 6L)
  }
}
