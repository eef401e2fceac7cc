package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck law for the distributed prefix sum: for ANY score
  * distribution (heavy ties, NULLs, NaN, infinities, any bucket count),
  * `Splits.rankedPrefix` equals the naive single-reducer ordering — rank
  * by (score DESC NULLS LAST via java.lang.Double.compare, id ASC) with an
  * inclusive running cost. Few cases (each is a real set of Spark jobs),
  * wide generators.
  */
object RankedPrefixProps extends Properties("RankedPrefix") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    graft.FixedSeed(p.withMinSuccessfulTests(8).withMaxDiscardRatio(10), 1L)

  private lazy val spark = graft.SparkTestSession.spark

  private val scoreGen: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.choose(0, 4).map(i => java.lang.Double.valueOf(i.toDouble)), // heavy ties
    3 -> Gen.chooseNum(-100.0, 100.0).map(java.lang.Double.valueOf),
    1 -> Gen.const(null.asInstanceOf[java.lang.Double]),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(java.lang.Double.valueOf))

  private val costGen: Gen[java.lang.Long] = Gen.frequency(
    8 -> Gen.choose(0L, 50L).map(java.lang.Long.valueOf),
    1 -> Gen.const(null.asInstanceOf[java.lang.Long]))

  private val rowsGen: Gen[List[(java.lang.Double, java.lang.Long)]] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, Gen.zip(scoreGen, costGen)))

  property("== naive single-reducer rank + running cost") =
    forAll(rowsGen, Gen.choose(2, 8)) { (pairs, buckets) =>
      val ss = spark
      import ss.implicits._
      val rows = pairs.zipWithIndex.map { case ((s, c), i) => (i.toLong, s, c) }
      val df   = rows.toDF("id", "score", "cost").repartition(5)

      val got = Splits
        .rankedPrefix(df, "score", "id", "cost", buckets = buckets)
        .select("id", "rnk", "cum_cost")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
        .toSeq

      val ordered = rows.sortWith { case ((ida, sa, _), (idb, sb, _)) =>
        (sa, sb) match {
          case (null, null) => ida < idb
          case (null, _)    => false
          case (_, null)    => true
          case (a, b) =>
            val c = java.lang.Double.compare(a.doubleValue, b.doubleValue)
            if (c != 0) c > 0 else ida < idb
        }
      }
      var cum = 0L
      val want = ordered.zipWithIndex.map { case ((id, _, c), i) =>
        cum += (if (c == null) 0L else c.longValue)
        (id, (i + 1).toLong, cum)
      }.sortBy(_._1)
      got == want
    }
}
