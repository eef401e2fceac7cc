package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.Dedup

/** WinnowExpr must be bit-identical to the composed built-ins form
  * (`Dedup.winnowingComposed` — the original, oracle-certified q140
  * definition) on every input class, including the adversarial ones: the
  * native path is a pure performance rewrite, not a semantics change.
  */
class WinnowExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val adversarial = Seq(
    // (id, text) — every degenerate shape the composed when-chain handles
    (1L, "a b c d e f g h i j"),                         // normal
    (2L, "a b c"),                                        // exactly k tokens -> 1 hash -> truncated window
    (3L, "a b"),                                          // < k tokens -> no fingerprints
    (4L, ""),                                             // empty string -> [""] 1 token -> none (k=3)
    (5L, "a  b c d e"),                                   // double space -> empty token kept
    (6L, " a b c d"),                                     // leading space -> leading empty token
    (7L, "a b c d "),                                     // trailing space
    (8L, "naïve café über straße 日本語 テスト 中文 emoji 🙂 end"), // non-ASCII codepoints
    (9L, "a​b c​d e f g h"),                    // zero-width spaces INSIDE tokens
    (10L, "x x x x x x x x x x"),                         // all-identical tokens (constant hashes)
    (11L, "z y x w v u t s r q p o n m l k j i h g"),     // strictly decreasing hash-ish
    (12L, (1 to 200).map(i => s"t${i % 7}").mkString(" ")) // long periodic doc
  )

  private def df = {
    import spark.implicits._
    adversarial.toDF("id", "text")
  }

  private def collectFps(res: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("native == composed on adversarial fixtures, across (k, w) grid") {
    for (k <- Seq(1, 2, 3, 5); w <- Seq(1, 2, 4, 7)) {
      val native   = collectFps(Dedup.winnowing(df, "id", "text", k, w))
      val composed = collectFps(Dedup.winnowingComposed(df, "id", "text", k, w))
      assert(native === composed, s"mismatch at k=$k w=$w")
    }
  }

  test("native == composed on random token streams (property sweep)") {
    import spark.implicits._
    val rnd  = new scala.util.Random(42)
    val docs = (1L to 300L).map { id =>
      val n = rnd.nextInt(40)
      (id, (0 until n).map(_ => s"w${rnd.nextInt(9)}").mkString(" "))
    }
    val d        = docs.toDF("id", "text")
    val native   = collectFps(Dedup.winnowing(d, "id", "text"))
    val composed = collectFps(Dedup.winnowingComposed(d, "id", "text"))
    assert(native === composed)
  }

  test("winnowing guarantee: shared run of length w+k-1 yields a shared fingerprint") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = w + k - 1 (k=3, w=4)
    val d = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"nine eight $shared seven")).toDF("id", "text")
    val fps = Dedup.winnowing(d, "id", "text", k = 3, w = 4)
      .groupBy("fp").agg(countDistinct("id").as("n"))
      .filter(col("n") === 2)
    assert(fps.count() >= 1)
  }

  test("null text yields no rows; array type is non-null long") {
    import spark.implicits._
    val d   = Seq((1L, null.asInstanceOf[String]), (2L, "a b c d e")).toDF("id", "text")
    val res = Dedup.winnowing(d, "id", "text")
    assert(res.collect().forall(_.getLong(0) == 2L))
    assert(res.schema("fp").dataType === org.apache.spark.sql.types.LongType)
  }

  test("PosShingleHashesExpr == composed positional shingle hashes; winnow fps are a subset") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.TextAnalysis
    for (k <- Seq(1, 2, 3, 5)) {
      val native = ColumnBridge.column(
        PosShingleHashesExpr(ColumnBridge.expression(col("text")), k))
      val composed = transform(
        Dedup.shingles(TextAnalysis.tokens(col("text")), k),
        s => TextAnalysis.polyHash(s))
      val rows = df
        .select(col("id"), native.as("a"), composed.as("b"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"positional hash mismatch at k=$k id=${r.getLong(0)}")
      }
    }
    // every winnowing fingerprint is one of the doc's positional hashes
    val pos = df.select(col("id"), ColumnBridge.column(
      PosShingleHashesExpr(ColumnBridge.expression(col("text")), 3)).as("hh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    Dedup.winnowing(df, "id", "text").collect().foreach { r =>
      assert(pos(r.getLong(0)).contains(r.getLong(1)))
    }
  }
}
