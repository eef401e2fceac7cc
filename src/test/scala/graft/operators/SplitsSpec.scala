package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** Deterministic splits: stability under repartition/re-run, total and
  * disjoint assignment, fractions roughly honored.
  */
class SplitsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"
  private val fr         = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))

  test("weightedSample: monotone in scale, partitioning-stable, weight-extreme exactness") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("w", org.apache.spark.sql.functions.col("n_chars").cast("double") / 1000.0)
    def kept(df: org.apache.spark.sql.DataFrame, scale: Double) =
      Splits.weightedSample(df, "doc_id", "w", scale)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = kept(docs, 0.5)
    val full = kept(docs, 1.0)
    assert(half.subsetOf(full), "raising scale must only add rows")
    assert(kept(docs.repartition(13), 1.0) === full, "kept set must be partitioning-stable")
    // weight >= 1 keeps everything; weight 0 (and null) keeps nothing
    import spark.implicits._
    val extremes = Seq((1L, 5.0), (2L, 0.0), (3L, 1.0)).toDF("doc_id", "w")
      .union(Seq((4L, Option.empty[Double])).toDF("doc_id", "w"))
    assert(kept(extremes, 1.0) === Set(1L, 3L))
  }

  test("alphaMixture: clamp-to-all, monotone in target, partition-stable, small-source upweight") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    def kept(df: org.apache.spark.sql.DataFrame, target: Long) =
      Splits.alphaMixture(df, "doc_id", "source", target)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // target >= total clamps every rate to 1 -> identity
    assert(kept(docs, total) === docs.select("doc_id").collect().map(_.getLong(0)).toSet)
    // monotone: raising the target only adds rows
    val t20 = kept(docs, total / 5)
    val t50 = kept(docs, total / 2)
    assert(t20.subsetOf(t50), "raising targetRows must only add rows")
    // stable under physical partitioning
    assert(kept(docs.repartition(17), total / 2) === t50)
    // alpha=0.5 upweights the smaller source: its kept FRACTION must be >=
    // the largest source's (rates scale as 1/sqrt(n) when unclamped)
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = bySrc.minBy(_._2)._1
    val largest  = bySrc.maxBy(_._2)._1
    if (smallest != largest) {
      val keptDf = Splits.alphaMixture(docs, "doc_id", "source", total / 3)
      val keptBySrc = keptDf.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fSmall = keptBySrc.getOrElse(smallest, 0L).toDouble / bySrc(smallest)
      val fLarge = keptBySrc.getOrElse(largest, 0L).toDouble / bySrc(largest)
      assert(fSmall >= fLarge,
        s"alpha<1 must upweight the small source: $fSmall vs $fLarge")
    }
    // rate table must BROADCAST back (no shuffle of the corpus for the join)
    val plan = Splits.alphaMixture(docs, "doc_id", "source", total / 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "rate join must broadcast")
  }

  test("prioritySample: exact n, partition-stable, equal weights = hash-desc top-n, bad weights excluded") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val total = docs.count().toInt
    def ids(df: org.apache.spark.sql.DataFrame, n: Int) =
      Splits.prioritySample(df, "doc_id", "n_chars", n)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(docs, 10).size === 10)
    assert(ids(docs, total + 50).size === total, "n beyond rows keeps everything eligible")
    assert(ids(docs.repartition(13), 10) === ids(docs, 10), "kept set must be partition-stable")
    // equal weights: u^(1/w) is monotone in u, so the sample is exactly the
    // top-n docs by the stable hash, descending
    val eq = Splits.prioritySample(docs.withColumn("w", lit(7)), "doc_id", "w", 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byHash = docs
      .withColumn("h", Splits.hashOrder(col("doc_id")))
      .orderBy(col("h").desc, col("doc_id")).limit(25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(eq === byHash)
    // zero/negative/null weights are never sampled
    val bad = Seq[(Long, Option[Long])]((1L, Some(0L)), (2L, Some(-3L)), (3L, None), (4L, Some(5L)))
      .toDF("doc_id", "w")
    assert(ids(bad.withColumnRenamed("w", "n_chars"), 10) === Set(4L))
    // plans as TakeOrdered, not a global sort
    val plan = Splits.prioritySample(docs, "doc_id", "n_chars", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan)
  }

  test("proportionalSample: per-stratum shares held, partition-stable, degenerate totals") {
    import org.apache.spark.sql.functions.col
    val docs  = Tables.documents(spark, sfDir).select("doc_id", "source")
    val total = docs.count()
    def run(df: org.apache.spark.sql.DataFrame, n: Long) =
      Splits.proportionalSample(df, "doc_id", "source", n)
    // every stratum contributes exactly round(n * share)
    val census = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run(docs, total / 4).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    census.foreach { case (src, n) =>
      val expect = math.round((total / 4).toDouble * n / total)
      assert(kept.getOrElse(src, 0L) === expect, s"stratum $src")
    }
    // stable under physical partitioning
    val a = run(docs, total / 4).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = run(docs.repartition(11), total / 4).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    // totalN >= rows keeps everything; 0 keeps nothing
    assert(run(docs, total).count() === total)
    assert(run(docs, 0).count() === 0L)
  }

  test("assignment is a pure function of the key: stable across partitioning and runs") {
    val docs = Tables.documents(spark, sfDir)
    def splits(df: org.apache.spark.sql.DataFrame) =
      Splits.assignSplit(df, "doc_id", fr)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(docs)
    val b = splits(docs.repartition(7, col("lang")))
    assert(a === b)
  }

  test("every row gets exactly one split; fractions approximately hold") {
    val docs = Tables.documents(spark, sfDir)
    val counts = Splits.assignSplit(docs, "doc_id", fr)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.values.sum === n)
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    val trainFrac = counts("train").toDouble / n
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
  }

  test("sampleGroup: exactly min(n, group size) rows per group, stable across partitioning") {
    val docs = Tables.documents(spark, sfDir)
    def sampled(df: org.apache.spark.sql.DataFrame) =
      Splits.sampleGroup(df, "doc_id", Seq("lang"), 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = sampled(docs)
    val b = sampled(docs.repartition(13))
    assert(a === b)
    val sizes = Splits.sampleGroup(docs, "doc_id", Seq("lang"), 3)
      .groupBy("lang").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 3) && sizes.nonEmpty)
  }

  test("sampleGroup == the window row_number spelling; plan has no Window/Sort") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "source")
    val w = Window.partitionBy(col("lang"))
      .orderBy(Splits.hashOrder(col("doc_id")), col("doc_id"))
    val naive = docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5).drop("__rn")
      .collect().map(_.toSeq).sortBy(_.toString)
    val heap = Splits.sampleGroup(docs, "doc_id", Seq("lang"), 5)
    assert(heap.columns.toSeq === Seq("doc_id", "lang", "source")) // order kept
    assert(heap.collect().map(_.toSeq).sortBy(_.toString).toSeq === naive.toSeq)
    val plan = heap.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort "), plan)
  }

  test("sampleExact: exactly n rows, partition-stable, plans TakeOrdered (no global sort)") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Splits.sampleExact(df, "doc_id", 50).select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    val b = ids(docs.repartition(17))
    assert(a === b && a.size === 50)
    val plan = Splits.sampleExact(docs, "doc_id", 50).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("negative keys bucket safely into range") {
    import spark.implicits._
    val df = Seq(-5L, -1L, 0L, 1L, Long.MinValue + 7, Long.MaxValue).toDF("k")
    val buckets = df.select(Splits.bucketOf(col("k"), 100).as("b"))
      .collect().map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b < 100))
  }

  test("rankedPrefix == naive global window, incl. ties, NULL/NaN/Inf scores, NULL cost") {
    import spark.implicits._
    // 200 rows, few distinct scores (heavy ties), NULL scores/costs, and
    // the double ordering edge cases: NaN (sorts LARGEST in Spark) and
    // +/-Infinity
    val rows = (1L to 200L).map { i =>
      val score: java.lang.Double =
        if (i % 17 == 0) null
        else if (i % 31 == 0) Double.NaN
        else if (i % 37 == 0) Double.PositiveInfinity
        else if (i % 41 == 0) Double.NegativeInfinity
        else (i % 7).toDouble
      val cost: java.lang.Long = if (i % 23 == 0) null else i % 10 + 1
      (i, score, cost)
    }
    val df = rows.toDF("id", "score", "cost").repartition(7)

    val got = Splits
      .rankedPrefix(df, "score", "id", "cost", buckets = 4)
      .select("id", "rnk", "cum_cost")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

    // naive single-reducer reference: Spark's DESC NULLS LAST over doubles
    // is java.lang.Double.compare reversed (NaN greatest), nulls last
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
    assert(got.toSeq === want)
  }

  test("rankedPrefixGrouped == naive per-group window, incl. ties, NULL/NaN scores, NULL group") {
    import spark.implicits._
    val rows = (1L to 300L).map { i =>
      val g: String =
        if (i % 29 == 0) null else s"g${i % 4}"
      val score: java.lang.Double =
        if (i % 17 == 0) null
        else if (i % 31 == 0) Double.NaN
        else (i % 5).toDouble
      val cost: java.lang.Long = if (i % 23 == 0) null else i % 10 + 1
      (i, g, score, cost)
    }
    val df = rows.toDF("id", "src", "score", "cost").repartition(7)
    val got = Splits
      .rankedPrefixGrouped(df, "src", "score", "id", "cost", buckets = 4)
      .select("id", "rnk", "cum_cost")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val want = rows
      .groupBy(_._2)
      .values
      .flatMap { grp =>
        val ordered = grp.sortWith { case ((ida, _, sa, _), (idb, _, sb, _)) =>
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
        ordered.zipWithIndex.map { case ((id, _, _, c), i) =>
          cum += (if (c == null) 0L else c.longValue)
          (id, (i + 1).toLong, cum)
        }
      }
      .toSeq
      .sortBy(_._1)
    assert(got.toSeq === want)
  }

  test("mixtureToBudget: per-source exact cuts; sources without a budget drop") {
    import spark.implicits._
    val df = (1L to 60L)
      .map(i => (i, s"s${i % 3}", (i % 6).toDouble, 10L))
      .toDF("id", "src", "score", "cost")
    val out = graft.operators.Corpus
      .mixtureToBudget(df, "src", "score", "id", "cost",
        budgets = Map("s0" -> 50L, "s1" -> 95L))
      .select("id", "src", "cum_cost")
      .collect()
    val bySrc = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!bySrc.contains("s2"))        // unbudgeted source dropped
    assert(bySrc("s0") === 5)            // 5 docs x 10 tokens = 50
    assert(bySrc("s1") === 9)            // 9 x 10 = 90 <= 95, 10th would be 100
    assert(out.forall(r => r.getLong(2) <= (if (r.getString(1) == "s0") 50L else 95L)))
  }

  test("rankedPrefix constant-score degeneracy: id sub-buckets restore balance, ranks exact") {
    import spark.implicits._
    val n  = 4000
    val df = (1L to n.toLong).map(i => (i, 1.0, 1L)).toDF("id", "score", "cost").repartition(13)
    val out = Splits.rankedPrefix(df, "score", "id", "cost", buckets = 8)

    // semantics unchanged: constant score ties break id ASC, so rnk == id
    // and cum_cost == id exactly
    val got = out.select("id", "rnk", "cum_cost").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (id, rnk, cum) => rnk === id && cum === id })

    // balance restored: without the remedy every row shares one quantile
    // bucket -> ONE window partition holds all n rows; with id sub-buckets
    // the biggest partition carries ~n/8, never a majority
    val sizes = out
      .groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    assert(sizes.max <= n / 2,
      s"degenerate window partition: max ${sizes.max} of $n rows in one partition")
    assert(sizes.count(_ > 0) >= 4, s"expected spread, got ${sizes.toSeq}")
  }

  test("rankedPrefix: a higher score sharing a heavy tie value's bucket still ranks first") {
    import spark.implicits._
    // cuts at buckets=4 are all 1.0, so 1.0 is split into id sub-buckets and
    // 23.9 falls into 1.0's primary bucket; it must rank above every tie
    val df = Seq((0L, 1.0, 20L), (1L, 1.0, 45L), (2L, 1.0, 33L), (3L, 23.9, 27L))
      .toDF("id", "score", "cost").repartition(5)
    val want = Seq((0L, 2L, 47L), (1L, 3L, 92L), (2L, 4L, 125L), (3L, 1L, 27L))
    def ranks(out: org.apache.spark.sql.DataFrame) = out.select("id", "rnk", "cum_cost")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(ranks(Splits.rankedPrefix(df, "score", "id", "cost", buckets = 4)) === want)
    assert(ranks(Splits.rankedPrefixGrouped(
      df.withColumn("g", lit("a")), "g", "score", "id", "cost", buckets = 4)) === want)
  }

  test("leakFreeSplit: connected rows share a split; isolated rows match assignSplit") {
    import spark.implicits._
    val docs  = (1L to 50L).map(i => (i, s"row$i")).toDF("doc_id", "payload")
    // two components: {1,2,3} (a chain - transitivity must hold) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val fr    = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Splits
      .leakFreeSplit(docs, pairs, "doc_id", fr)
      .select(col("doc_id"), col("group_key"), col("split"))
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(Set(got(1L), got(2L), got(3L)).size === 1,
      "a near-dup chain must land in ONE split with one group key")
    assert(got(1L)._1 === 1L, "the component representative is its minimum id")
    assert(got(10L) === got(11L))
    val baseline = Splits
      .assignSplit(docs, "doc_id", fr)
      .select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    (4L to 9L) ++ (12L to 50L) foreach { i =>
      assert(got(i) === ((i, baseline(i))),
        s"isolated row $i must hash exactly like assignSplit")
    }
  }

  test("scorePercentileGrouped: ==naive window percentile; best=1e6, worst=0, singleton=0") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars")
    val got = Splits.scorePercentileGrouped(docs, "source", "n_chars", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pct_x1e6")).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc_nulls_last, col("doc_id"))
    val naive = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .withColumn("pct", expr("(n - rn) * 1000000 div greatest(n - 1, 1)"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pct")).toMap
    assert(got === naive, "two-phase percentile must equal the naive window form")
    assert(got.values.max === 1000000L && got.values.min === 0L)
    // singleton group has no distribution: pct = 0 by the documented rule
    val single = Seq((1L, "only", 10L), (2L, "both", 5L), (3L, "both", 7L))
      .toDF("doc_id", "source", "n_chars")
    val sgot = Splits.scorePercentileGrouped(single, "source", "n_chars", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pct_x1e6")).toMap
    assert(sgot === Map(1L -> 0L, 2L -> 0L, 3L -> 1000000L))
  }

  test("stratifiedShards: ==naive window deal, per-shard mixture within ±1, partition-stable") {
    val nShards = 8
    val docs = Tables.documents(spark, sfDir).select("source", "doc_id")
    val got = Splits
      .stratifiedShards(docs, "source", "doc_id", nShards)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(got.values.forall(s => s >= 0 && s < nShards), "shard out of range")
    // the round-robin deal IS the naive per-group window, replayed
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(Splits.hashOrder(col("doc_id")).desc, col("doc_id"))
    val naive = docs
      .withColumn("shard", ((row_number().over(w) - 1) % nShards).cast("int"))
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(got === naive, "two-phase deal must equal the naive window deal")
    // the guarantee the operator exists for: every shard holds every
    // source within +-1 row of n_source / nShards (count absent cells as 0)
    val srcOf = docs.collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    got.toSeq.groupBy { case (id, _) => srcOf(id) }.foreach { case (src, rows) =>
      val counts = (0 until nShards).map(sh => rows.count(_._2 == sh))
      assert(counts.max - counts.min <= 1,
        s"source $src shard counts $counts not a round-robin deal")
    }
    // deterministic under physical layout
    val reGot = Splits
      .stratifiedShards(docs.repartition(13), "source", "doc_id", nShards)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(reGot === got, "shard assignment must be partitioning-stable")
  }

  test("rankBuckets: exact tercile populations, tie order, descending flip") {
    import spark.implicits._
    // group a: 7 rows with a 3-way score tie straddling the 1st cut;
    // group b: 4 rows; group c: singleton
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 20L),
      ("a", 5L, 30L), ("a", 6L, 40L), ("a", 7L, 50L),
      ("b", 11L, 5L), ("b", 12L, 4L), ("b", 13L, 3L), ("b", 14L, 2L),
      ("c", 21L, 9L)
    ).toDF("g", "id", "s")
    val got = Splits.rankBuckets(df, "g", "s", "id", nBuckets = 3)
      .select("g", "id", "bucket")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    // group a ascending (s, id) order: 1,2,3,4,5,6,7 -> ranks 1..7,
    // buckets (3*(r-1)) div 7 = 0,0,0,1,1,2,2
    assert(got(("a", 1L)) === 0L && got(("a", 2L)) === 0L && got(("a", 3L)) === 0L)
    assert(got(("a", 4L)) === 1L && got(("a", 5L)) === 1L)
    assert(got(("a", 6L)) === 2L && got(("a", 7L)) === 2L)
    // group b ascending s order: ids 14,13,12,11 -> buckets 0,0,1,2
    assert(got(("b", 14L)) === 0L && got(("b", 13L)) === 0L)
    assert(got(("b", 12L)) === 1L && got(("b", 11L)) === 2L)
    // singleton -> bucket 0
    assert(got(("c", 21L)) === 0L)
    // per-group bucket populations differ by at most one row
    val pops = Splits.rankBuckets(df, "g", "s", "id", nBuckets = 3)
      .groupBy("g", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(pops("a").max - pops("a").min <= 1)
    // descending flips the order: group b's best (s=5, id=11) -> bucket 0
    val desc = Splits.rankBuckets(df, "g", "s", "id", nBuckets = 3, ascending = false)
      .select("g", "id", "bucket")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(desc(("b", 11L)) === 0L && desc(("b", 14L)) === 2L)
    // partitioning-stable
    val re = Splits.rankBuckets(df.repartition(7), "g", "s", "id", nBuckets = 3)
      .select("g", "id", "bucket")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(re === got)
  }

  test("interleaveSchedule: hand-computed weighted deal, prefix mixture, scoping") {
    import spark.implicits._
    // a (w=2): ids 1..6; b (w=1): ids 101..103; z unweighted -> excluded
    val df = (Seq.tabulate(6)(i => ("a", i + 1L)) ++
      Seq.tabulate(3)(i => ("b", 101L + i)) ++ Seq(("z", 999L)))
      .toDF("g", "id")
    val got = Splits.interleaveSchedule(df, "g", "id", Seq(("a", 2L), ("b", 1L)), limit = 9)
      .select("pos", "g", "id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    // vt: a -> r*1e6 div 2 = 500000,1000000,...,3000000
    //     b -> r*1e6     = 1000000,2000000,3000000
    // ties (a2,b1) at 1e6, (a4,b2) at 2e6, (a6,b3) at 3e6 break by group asc
    val want = Seq(
      (1, "a", 1L), (2, "a", 2L), (3, "b", 101L), (4, "a", 3L), (5, "a", 4L),
      (6, "b", 102L), (7, "a", 5L), (8, "a", 6L), (9, "b", 103L))
    assert(got.toSeq === want)
    // every prefix carries each group within its fair share +- 1 deal round
    val prefixCounts = got.scanLeft(Map.empty[String, Int].withDefaultValue(0)) {
      case (m, (_, g, _)) => m.updated(g, m(g) + 1)
    }.drop(1)
    prefixCounts.zipWithIndex.foreach { case (m, i) =>
      val n = i + 1
      assert(math.abs(m("a") - 2.0 * n / 3) <= 2, s"prefix $n skewed: $m")
    }
    // partitioning-stable
    val re = Splits.interleaveSchedule(
      df.repartition(5), "g", "id", Seq(("a", 2L), ("b", 1L)), limit = 9)
      .select("pos", "g", "id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(re.toSeq === want)
  }

  test("epochUpsample: per-key copy law from bucketOf, epoch indexing, scoping, stability") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, if (i <= 20) "a" else if (i <= 35) "b" else "zz"))
      .toDF("id", "g")
    val rates = Seq(("a", 250), ("b", 100), ("c", 0))
    val got = Splits.epochUpsample(df, "id", "g", rates)
      .select("g", "id", "epoch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exact per-key law: copies = rate div 100 + [bucket < (rate mod 100)*100]
    val buckets = df
      .withColumn("b", Splits.bucketOf(org.apache.spark.sql.functions.col("id"), 10000))
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byKey = got.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    (1L to 20L).foreach { i =>
      val want = 2L + (if (buckets(i) < 5000) 1L else 0L)
      assert(byKey(("a", i)) === (0L until want), s"key $i bucket ${buckets(i)}")
    }
    // rate 100: exactly one copy, epoch 0, regardless of bucket
    (21L to 35L).foreach(i => assert(byKey(("b", i)) === Seq(0L)))
    // unlisted group and rate-0 group are dropped
    assert(!got.exists(_._1 == "zz"))
    // partition-stable
    val re = Splits.epochUpsample(df.repartition(7), "id", "g", rates)
      .select("g", "id", "epoch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(re.sorted.toSeq === got.sorted.toSeq)
  }

  test("round-9 rank family == naive window spellings on a 400-row mixed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic mixed fixture: 7 groups of uneven sizes, scores with
    // heavy ties (i % 6), ids unique
    val rows = (1L to 400L).map(i => (i, s"s${i % 7}", (i % 6).toDouble * 10))
    val df = rows.toDF("id", "g", "score").repartition(9)

    // rankBuckets(ascending) == bucket from ROW_NUMBER over (score, id)
    val rb = Splits.rankBuckets(df, "g", "score", "id", nBuckets = 4)
      .select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wRb = Window.partitionBy(col("g")).orderBy(col("score"), col("id"))
    val naiveRb = df
      .withColumn("rn", row_number().over(wRb))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("b", expr("(4 * (rn - 1)) div n"))
      .select("id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rb === naiveRb)

    // interleaveSchedule == naive global sort of the vt order
    val weights = Seq(("s0", 3L), ("s1", 1L), ("s2", 2L), ("s3", 5L))
    val il = Splits.interleaveSchedule(df, "g", "id", weights, limit = 150)
      .select("pos", "id").collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val wIl = Window.partitionBy(col("g")).orderBy(col("id"))
    val naiveIl = df
      .join(broadcast(weights.toDF("g", "w")), "g")
      .withColumn("rn", row_number().over(wIl))
      .withColumn("vt", expr("(rn * 1000000) div w"))
      .orderBy(col("vt"), col("g"), col("id"))
      .limit(150)
      .select("id").collect().map(_.getLong(0))
    assert(il.map(_._2).toSeq === naiveIl.toSeq)
    assert(il.map(_._1).toSeq === (1 to 150))

    // lengthBucketBatches == naive bucket + ROW_NUMBER deal
    val lb = graft.operators.Corpus
      .lengthBucketBatches(df.withColumnRenamed("score", "len"), "id", "len", Seq(20L, 40L), 8)
      .select("id", "len_bucket", "batch")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    val naiveLb = df
      .withColumn("lb",
        when(col("score") >= 40, 2).when(col("score") >= 20, 1).otherwise(0))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lb")).orderBy(col("score"), col("id"))))
      .withColumn("b", expr("(rn - 1) div 8"))
      .select("id", "lb", "b")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(lb === naiveLb)

    // epochUpsample == per-row closed form
    val up = Splits.epochUpsample(df, "id", "g", Seq(("s0", 230), ("s1", 99)))
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bks = df.withColumn("b", Splits.bucketOf(col("id"), 10000))
      .select("id", "g", "b").collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    rows.foreach { case (i, g, _) =>
      val want = g match {
        case "s0" => 2L + (if (bks(i)._2 < 3000) 1L else 0L)
        case "s1" => if (bks(i)._2 < 9900) 1L else 0L
        case _    => 0L
      }
      assert(up.getOrElse(i, 0L) === want, s"id $i g $g bucket ${bks(i)._2}")
    }
  }

  test("sqrtTemperatureBudgets: exact isqrt weights flatten the mixture; tail upsamples; null group excluded") {
    import spark.implicits._
    // groups a:100 (w=10), b:9 (w=3), c:2 (w=1); N=111, W=14
    val df = (Seq.fill(100)("a") ++ Seq.fill(9)("b") ++ Seq.fill(2)("c") ++
      Seq(null.asInstanceOf[String])).toDF("g")
    val got = Splits.sqrtTemperatureBudgets(df, "g", totalBudget = 1400L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === Map(
      "a" -> ((100L, 10L, 900900L, 714285L, 1000L)),
      "b" -> ((9L, 3L, 81081L, 214285L, 300L)),
      "c" -> ((2L, 1L, 18018L, 71428L, 100L))), s"unexpected: $got")
    // the smoothing direction is the POINT: head share falls, tail rises,
    // and the tail's budget EXCEEDS its population (the upsampling signal)
    assert(got("a")._4 < got("a")._3 && got("c")._4 > got("c")._3)
    assert(got("c")._5 > got("c")._1)
    // isqrt exactness at non-squares: 99 -> 9, 101 -> 10 (floor, corrected)
    val w = Splits
      .sqrtTemperatureBudgets(
        (Seq.fill(99)("x") ++ Seq.fill(101)("y")).toDF("g"), "g", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(w === Map("x" -> 9L, "y" -> 10L))
    val e = intercept[IllegalArgumentException] {
      Splits.sqrtTemperatureBudgets(df, "g", 0L)
    }
    assert(e.getMessage.contains("totalBudget"))
  }
}
