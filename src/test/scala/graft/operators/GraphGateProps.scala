package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink => forAll, propBoolean}

/** Both sides of the graph-loop size gate (`SmallGraph`) agree: on random
  * graphs under the gate, each operator's public entry (the driver
  * recurrence) returns the same columns, types and rows as its
  * package-private distributed entry (the Spark rounds). The graphs carry
  * multi-edges, self-loops, dangling nodes and null endpoints; null-free
  * seedless cases are also checked against `LinkGraphSpec`'s imperative
  * references. Few cases (each distributed side is a set of Spark jobs),
  * wide generators; `propagate` and `labelPropagation` rounds reach past
  * both of `lazyRounds`' lineage cuts at 8 and 16.
  */
object GraphGateProps extends Properties("GraphGate") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    graft.FixedSeed(p.withMinSuccessfulTests(6), 5L)

  private lazy val spark = graft.SparkTestSession.spark

  type Edges = List[(Option[Long], Option[Long])]

  // ids from a small range (so multi-edges, self-loops and dangling nodes
  // are common), one endpoint in ~12 null, and sometimes no nulls at all;
  // with nulls, up to 12 more edges into and out of null, so the null
  // group can be the largest sum (the max `hits` normalizes by)
  private val graphGen: Gen[Edges] =
    for {
      m     <- Gen.choose(0, 90)
      nulls <- Gen.oneOf(true, false)
      id     = Gen.frequency(
        11 -> Gen.choose(-2L, 30L).map(Option(_)),
        (if (nulls) 1 else 0) -> Gen.const(Option.empty[Long]))
      es    <- Gen.listOfN(m, Gen.zip(id, id))
      hub   <- Gen.choose(0, if (nulls) 12 else 0)
      ends  <- Gen.listOfN(hub, Gen.choose(-2L, 30L).map(Option(_)))
    } yield es ++ ends.map((_, None)) ++ ends.map((None, _))

  private val seedGen: Gen[Option[Column]] = Gen.oneOf(
    None, Some(col("id") % 3 === 0), Some(col("id").isNull || col("id") % 4 === 1))

  private def frame(es: Edges): DataFrame = {
    val ss = spark
    import ss.implicits._
    es.toDF("src", "dst")
  }

  /** Column names, types and the sorted rows: what both sides must share. */
  private def shape(df: DataFrame): (Seq[(String, String)], List[String]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString),
      df.collect().map(_.toString).sorted.toList)

  private def agree(driver: DataFrame, distributed: DataFrame): org.scalacheck.Prop = {
    val (d, s) = (shape(driver), shape(distributed))
    (d == s) :| s"driver $d != distributed $s"
  }

  private def nullFree(es: Edges): Option[Seq[(Long, Long)]] =
    if (es.forall { case (a, b) => a.isDefined && b.isDefined })
      Some(es.map { case (a, b) => (a.get, b.get) })
    else None

  private def longMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  property("propagate: driver == distributed (seeded or not); == reference") =
    forAll(graphGen, Gen.choose(0, 17), Gen.choose(0, 100), Gen.oneOf(1000000000L, 977L), seedGen) {
      (es, iters, d, scale, seed) =>
        val df  = frame(es)
        val drv = LinkGraph.propagate(df, "src", "dst", iters, d, scale, seed)
        val ref = nullFree(es).filter(_ => seed.isEmpty).forall { plain =>
          longMap(drv) == LinkGraphSpec.reference(plain, iters, d.toLong, scale)
        }
        agree(drv, LinkGraph.propagateDistributed(df, "src", "dst", iters, d, scale, seed)) &&
          (ref :| "driver != LinkGraphSpec.reference")
    }

  property("hits: driver == distributed; == reference") =
    forAll(graphGen, Gen.choose(1, 4), Gen.oneOf(1000000L, 13L)) { (es, iters, scale) =>
      val df  = frame(es)
      val drv = LinkGraph.hits(df, "src", "dst", iters, scale)
      val ref = nullFree(es).forall { plain =>
        drv.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
          LinkGraphSpec.hitsReference(plain, iters, scale)
      }
      agree(drv, LinkGraph.hitsDistributed(df, "src", "dst", iters, scale)) &&
        (ref :| "driver != LinkGraphSpec.hitsReference")
    }

  property("labelPropagation: driver == distributed; == reference") =
    forAll(graphGen, Gen.choose(1, 17)) { (es, iters) =>
      val df  = frame(es)
      val drv = LinkGraph.labelPropagation(df, "src", "dst", iters)
      val ref = nullFree(es).forall(plain => longMap(drv) == LinkGraphSpec.lpaReference(plain, iters))
      agree(drv, LinkGraph.labelPropagationDistributed(df, "src", "dst", iters)) &&
        (ref :| "driver != LinkGraphSpec.lpaReference")
    }

  property("connectedComponents: driver == distributed") =
    forAll(graphGen) { es =>
      val df = frame(es).toDF("id_a", "id_b")
      agree(Dedup.connectedComponents(df), Dedup.connectedComponentsDistributed(df))
    }
}
