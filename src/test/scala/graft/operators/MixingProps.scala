package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck laws for the round-9 mixing/batching family: for ANY group
  * layout, score distribution (heavy ties), weights, and rates, each
  * operator equals its naive single-reducer spelling / closed form. Few
  * cases (each is a real set of Spark jobs), wide generators.
  */
object MixingProps extends Properties("Mixing") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    graft.FixedSeed(p.withMinSuccessfulTests(6).withMaxDiscardRatio(10), 2L)

  private lazy val spark = graft.SparkTestSession.spark

  // groups g0..g4, heavy-tie integer scores, unique ids
  private val rowsGen: Gen[List[(Long, String, Long)]] =
    for {
      n  <- Gen.choose(1, 80)
      gs <- Gen.listOfN(n, Gen.choose(0, 4).map(i => s"g$i"))
      ss <- Gen.listOfN(n, Gen.choose(0L, 5L))
    } yield gs.zip(ss).zipWithIndex.map { case ((g, s), i) => (i.toLong, g, s * 7) }

  property("rankBuckets == naive per-group ROW_NUMBER buckets") =
    forAll(rowsGen, Gen.choose(2, 6), Gen.oneOf(true, false)) { (rows, nb, asc) =>
      val ss = spark
      import ss.implicits._
      val df = rows.toDF("id", "g", "s").repartition(5)
      val got = Splits
        .rankBuckets(df, "g", "s", "id", nBuckets = nb, ascending = asc)
        .select("id", "bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = rows.groupBy(_._2).values.flatMap { grp =>
        val ordered = grp.sortBy { case (id, _, s) => (if (asc) s else -s, id) }
        val n = ordered.size
        ordered.zipWithIndex.map { case ((id, _, _), r0) => id -> (nb.toLong * r0 / n) }
      }.toMap
      got == want
    }

  property("interleaveSchedule == naive virtual-time sort; pos dense from 1") =
    forAll(rowsGen, Gen.listOfN(5, Gen.choose(1L, 9L)), Gen.choose(1, 50)) {
      (rows, ws, limit) =>
        val ss = spark
        import ss.implicits._
        val weights = ws.zipWithIndex.map { case (w, i) => (s"g$i", w) }
        val df  = rows.toDF("id", "g", "s").repartition(4)
        val got = Splits
          .interleaveSchedule(df, "g", "id", weights, limit = limit)
          .select("pos", "id")
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val wMap = weights.toMap
        val want = rows
          .groupBy(_._2).toSeq
          .flatMap { case (g, grp) =>
            grp.map(_._1).sorted.zipWithIndex.map { case (id, r0) =>
              (((r0 + 1) * 1000000L) / wMap(g), g, id)
            }
          }
          .sorted
          .take(limit)
          .map(_._3)
        got.map(_._2).toSeq == want && got.map(_._1).toSeq == (1 to want.size)
    }

  property("epochUpsample == per-key closed form for any rates") =
    forAll(rowsGen, Gen.listOfN(5, Gen.choose(0, 420))) { (rows, rs) =>
      val ss = spark
      import ss.implicits._
      import org.apache.spark.sql.functions.col
      val rates = rs.zipWithIndex.map { case (r, i) => (s"g$i", r) }
      val df = rows.toDF("id", "g", "s").repartition(3)
      val got = Splits
        .epochUpsample(df, "id", "g", rates)
        .groupBy("id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val buckets = df
        .select(col("id"), Splits.bucketOf(col("id"), 10000).as("b"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val rMap = rates.toMap
      rows.forall { case (id, g, _) =>
        val rate = rMap(g)
        val want = rate / 100L + (if (buckets(id) < (rate % 100) * 100) 1L else 0L)
        got.getOrElse(id, 0L) == want
      }
    }

  property("lengthBucketBatches == naive bucket + deal; batch sizes full except the last") =
    forAll(rowsGen, Gen.choose(1, 7)) { (rows, bs) =>
      val ss = spark
      import ss.implicits._
      val df = rows.toDF("id", "g", "len").repartition(4)
      val got = Corpus
        .lengthBucketBatches(df, "id", "len", edges = Seq(10L, 25L), batchSize = bs)
        .select("id", "len_bucket", "batch")
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
      val want = rows
        .map { case (id, _, len) =>
          (id, len, (if (len >= 10) 1 else 0) + (if (len >= 25) 1 else 0))
        }
        .groupBy(_._3).toSeq
        .flatMap { case (b, grp) =>
          grp.sortBy { case (id, len, _) => (len, id) }.zipWithIndex.map {
            case ((id, _, _), r0) => id -> ((b, r0.toLong / bs))
          }
        }
        .toMap
      got == want
    }
}
