package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** TokenEntropyExpr: bit-identical to the aggregate micro-nat recipe it
  * replaced — hand cases, extremes (all-same vs all-distinct), and the
  * aggregate-spelling cross-check on a mixed fixture.
  */
class TokenEntropyExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ent(text: String): (Long, Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val c = ColumnBridge.column(TokenEntropyExpr(ColumnBridge.expression(col("t"))))
    val r = Seq(text).toDF("t")
      .select(
        c.getField("n_tokens"), c.getField("distinct_tokens"), c.getField("entropy_x1e6"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("extremes: one repeated token = 0 nats; all distinct = ln(n)") {
    assert(ent("x x x x") === ((4L, 1L, 0L)))
    val (n, d, e) = ent("a b c d")
    assert(n === 4L && d === 4L)
    assert(e === Math.round(Math.log(4.0) * 1e6)) // 4 * (1*round(ln 4 *1e6)) / 4
  }

  test("mixed distribution == aggregate spelling") {
    import spark.implicits._
    val texts = Seq(
      "a a b", "the quick the lazy the", "solo", "", "x y x y z z z",
      "naïve café naïve 日本語")
    val df = texts.toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val fast = graft.operators.Corpus.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ref = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("c")).as("__cs"), sum(col("c")).as("n"), count(lit(1)).as("d"))
      .select(col("doc_id"), col("n"), col("d"),
        expr("""aggregate(
               |  transform(__cs, c -> c * cast(round(
               |    ln(cast(n as double) / cast(c as double)) * 1000000) as bigint)),
               |  0L, (a, x) -> a + x) div n""".stripMargin).as("e"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fast === ref)
  }

  test("SQL registration") {
    assert(ent("x x x x")._3 === 0L)
  }
}
