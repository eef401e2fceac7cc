package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** Count-min sketch laws: one-sided error (never undercounts), the
  * elementwise merge law (halves sum to the whole — the property every
  * incremental drain rides on), and batch-vs-driver estimate agreement.
  */
class CountMinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  private def tokens() = Tables.documents(spark, sfDir)
    .limit(200)
    .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))

  private def grid(df: org.apache.spark.sql.DataFrame): (Int, Int, Array[Long]) = {
    val r = df.head()
    (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray)
  }

  test("estimates never undercount, and beat the trivial bound on a real token column") {
    val toks = tokens().cache()
    try {
      val truth = toks.groupBy("tok").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = truth.values.sum
      val (w, d, counters) = grid(CountMin.sketch(toks, "tok", width = 4096, depth = 4))
      var over = 0L
      truth.foreach { case (k, c) =>
        val est = CountMin.estimate(w, d, counters, k)
        assert(est >= c, s"CMS undercounted '$k': $est < $c")
        over += est - c
      }
      // every row's counters sum to N (nothing lost in the grid)
      (0 until d).foreach { j =>
        val rowSum = counters.slice(j * w, (j + 1) * w).sum
        assert(rowSum === n, s"row $j mass $rowSum != $n")
      }
      // with N << width the average overcount must be far under eps*N
      assert(over.toDouble / truth.size < math.E / w * n,
        s"mean overcount ${over.toDouble / truth.size} above the eps*N bound")
    } finally toks.unpersist()
  }

  test("merge law: sketches of disjoint halves sum elementwise to the one-shot sketch") {
    val toks = tokens().cache()
    try {
      val (w, d, whole) = grid(CountMin.sketch(toks, "tok", width = 1024, depth = 4))
      val (_, _, a) = grid(CountMin.sketch(toks.filter(col("doc_id") % 2 === 0), "tok", 1024, 4))
      val (_, _, b) = grid(CountMin.sketch(toks.filter(col("doc_id") % 2 =!= 0), "tok", 1024, 4))
      assert(CountMin.merge(a, b).toSeq === whole.toSeq,
        "halves must merge exactly into the whole — the drain-fold law")
      assert(w === 1024 && d === 4)
    } finally toks.unpersist()
  }

  test("estimateCol == driver estimate for every distinct key; null key -> null estimate") {
    import spark.implicits._
    val toks = tokens()
    val (w, d, counters) = grid(CountMin.sketch(toks, "tok", width = 2048, depth = 4))
    val keys = toks.select(col("tok")).distinct()
    val batch = CountMin.estimateCol(keys, "tok", w, d, counters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    batch.foreach { case (k, est) =>
      assert(est === CountMin.estimate(w, d, counters, k),
        s"batch estimate for '$k' diverges from the driver path")
    }
    val withNull = Seq(Option("x"), None).toDF("tok")
    val nulls = CountMin.estimateCol(withNull, "tok", w, d, counters).collect()
    assert(nulls.exists(r => r.isNullAt(0) && r.isNullAt(1)), "null key must yield null estimate")
  }
}
