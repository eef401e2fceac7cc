package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.operators.Similarity

/** The native VecDotExpr must be BIT-identical to the composed
  * aggregate(zip_with(...)) fold — same left-to-right association from a 0.0
  * seed — on both the codegen and interpreted (higher-order lambda) paths,
  * and must reproduce its null semantics (null element / length mismatch /
  * null array => NULL).
  */
class VecDotExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }

  test("native == composed fold, bit-exact, on random float vectors (codegen path)") {
    import spark.implicits._
    val pairs = randVecs(100, 64, 7).zip(randVecs(100, 64, 11))
    val rows = pairs
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotComposed(col("a"), col("b")).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("double arrays and empty arrays") {
    import spark.implicits._
    val rows = Seq(
      (Seq(1.5, -2.0, 3.25), Seq(0.5, 4.0, -1.0)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotComposed(col("a"), col("b")).as("composed"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    assert(rows(0).getDouble(0) === (1.5 * 0.5 + -2.0 * 4.0 + 3.25 * -1.0))
    assert(rows(1).getDouble(0) === 0.0)
  }

  test("length mismatch and null element => NULL (zip_with padding parity)") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotComposed(col("a"), col("b")).as("composed"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      assert(r.isNullAt(0))
    }
  }

  test("null array propagates") {
    import spark.implicits._
    val r = Seq((Seq(1.0f), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")))
      .head()
    assert(r.isNullAt(0))
  }

  test("inside a higher-order lambda (interpreted eval path)") {
    import spark.implicits._
    val r = Seq((Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)), Seq(10.0f, 100.0f)))
      .toDF("cands", "probe")
      .select(transform(col("cands"), c => Similarity.dot(c, col("probe"))).as("d"))
      .head()
      .getAs[scala.collection.Seq[Double]]("d")
    assert(r === Seq(210.0, 430.0))
  }

  test("registered as a SQL function via SparkSessionExtensions") {
    val got = spark.range(1)
      .select(Similarity.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))))
      .head().getDouble(0)
    assert(got === 11.0)
  }
}
