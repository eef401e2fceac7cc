package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Profiling semantics: histogram binning (edges clamp, nulls excluded,
  * totals account for every non-null row) and the one-pass numeric profile
  * against hand-computed values.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("histogram: bins, clamped edges, null exclusion, full accounting") {
    import spark.implicits._
    val df = Seq(
      Some(-5.0), // below lo -> clamped to bin 0
      Some(0.0), Some(9.9),  // bin 0
      Some(10.0),            // bin 1
      Some(25.0),            // bin 2
      Some(99.0), Some(150.0), // at/above hi -> clamped to bin 9
      None)
      .toDF("v")
    val got = Profile
      .histogram(df, "v", lo = 0.0, hi = 100.0, nBins = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      0L -> ((0.0, 10.0, 3L)),
      1L -> ((10.0, 20.0, 1L)),
      2L -> ((20.0, 30.0, 1L)),
      9L -> ((90.0, 100.0, 2L))))
    assert(got.values.map(_._3).sum === 7L) // everything non-null accounted
  }

  test("numericProfile: hand-computed count/nulls/min/max/sum over two columns") {
    import spark.implicits._
    val df = Seq(
      (1.0, Some(10.5)),
      (2.0, None),
      (4.0, Some(-3.25)))
      .toDF("a", "b")
    val got = Profile
      .numericProfile(df, Seq("a", "b"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getDouble(5))))
      .toMap
    assert(got("a") === ((3L, 0L, Some(1.0), Some(4.0), 7.0)))
    assert(got("b")._1 === 3L && got("b")._2 === 1L)
    assert(got("b")._3 === Some(-3.25) && got("b")._4 === Some(10.5))
    assert(math.abs(got("b")._5 - 7.25) < 1e-12)
  }

  test("madOutliers: median/MAD flag the far point; a constant column flags nothing") {
    import spark.implicits._
    // values 10,11,12,13,100: med=12, devs 2,1,0,1,88, mad=1 -> only 100
    // exceeds 3*mad. The mean/stddev version would be dragged toward 100.
    val df = Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 13L), (5L, 100L)).toDF("id", "v")
    val got = Profile
      .madOutliers(df, "v", k = 3.0)
      .select(col("id"), col("med"), col("dev"), col("mad"), col("is_outlier"))
      .as[(Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(3L)._2 === 12.0 && got(3L)._4 === 1.0)
    assert(got.filter(_._2._5).keySet === Set(5L), s"only the far point flags: $got")
    assert(got(5L)._3 === 88.0)

    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("id", "v")
    val cg = Profile.madOutliers(const, "v").filter(col("is_outlier")).count()
    assert(cg === 0L, "dev 0 is not > 3*mad(=0): constant columns flag nothing")
  }

  test("weightedPercentile: hand-computed reach, duplicate collapse, unit-weight == plain median rank") {
    import spark.implicits._
    // group a: values 10(w=1), 20(w=2), 30(w=6): tot=9, half-reach at cum*2>=9
    //   cum: 10->1, 20->3, 30->9 => first reach 30
    // group b: values 5(w=3), 7(w=1): tot=4, cum: 5->3 (6>=4 reach) => 5
    val df = Seq(
      ("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 3L), ("a", 30L, 3L), // 30 split in two rows: collapse sums to 6
      ("b", 5L, 3L), ("b", 7L, 1L))
      .toDF("g", "v", "w")
    val got = Profile
      .weightedPercentile(df, Seq("g"), col("v"), col("w"), 1, 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map("a" -> ((30L, 9L)), "b" -> ((5L, 4L))))

    // unit weights: wp(1/2) is the ceil(n/2)-th smallest value
    val u = (1 to 7).map(i => ("g", i.toLong, 1L)).toDF("g", "v", "w")
    val m = Profile.weightedPercentile(u, Seq("g"), col("v"), col("w"), 1, 2)
      .head().getLong(1)
    assert(m === 4L, "7 unit weights: first value with cum*2 >= 7 is the 4th")
  }

  test("groupedTrend: hand-computed slope, constant series, degenerate n=1") {
    import spark.implicits._
    // y = 3x + 5 exactly: slope numerator/denominator reduce to exactly 3
    val lin = (1 to 5).map(i => ("a", i.toLong, 3L * i + 5)).toDF("g", "ord", "y")
    val r = Profile.groupedTrend(lin, Seq("g"), Seq(col("ord")), col("y")).head()
    assert(r.getLong(1) === 5L)
    assert(r.getDouble(4) === 3.0, "exact linear series recovers the exact slope")

    val const = (1 to 4).map(i => ("c", i.toLong, 9L)).toDF("g", "ord", "y")
    val rc = Profile.groupedTrend(const, Seq("g"), Seq(col("ord")), col("y")).head()
    assert(rc.getDouble(2) === 0.0 && rc.getDouble(4) === 0.0, "constant series: zero slope")

    val one = Seq(("d", 1L, 42L)).toDF("g", "ord", "y")
    val ro = Profile.groupedTrend(one, Seq("g"), Seq(col("ord")), col("y")).head()
    assert(ro.isNullAt(4), "n=1: denominator 0 -> NULL slope, not a crash")
    assert(ro.getDouble(3) === 0.0)
  }

  test("psiDrift: identical halves score exactly 0; a shifted distribution scores the closed form") {
    import spark.implicits._
    // baseline bins {0:5, 1:5}; current identical -> every ratio is 1
    val same = (1 to 5).map(_ => ("e", 5.0, false)) ++ (1 to 5).map(_ => ("e", 15.0, false)) ++
      (1 to 5).map(_ => ("e", 5.0, true)) ++ (1 to 5).map(_ => ("e", 15.0, true))
    val psi0 = Profile
      .psiDrift(same.toDF("g", "v", "cur"), Seq("g"), col("v"), col("cur"), binWidth = 10.0)
      .select("psi_x1e6").head().getLong(0)
    assert(psi0 === 0L)

    // shifted: baseline {0:5, 1:5}, current {0:2, 1:8} — closed form with
    // add-1 smoothing over nb=2 observed bins, replayed in plain scala
    val shifted = (1 to 5).map(_ => ("e", 5.0, false)) ++ (1 to 5).map(_ => ("e", 15.0, false)) ++
      (1 to 2).map(_ => ("e", 5.0, true)) ++ (1 to 8).map(_ => ("e", 15.0, true))
    def term(cb: Long, cc: Long, tb: Long, tc: Long, nb: Long): Long = {
      val pB = (cb + 1).toDouble / (tb + nb)
      val pC = (cc + 1).toDouble / (tc + nb)
      math.round((pC - pB) * math.log(((cc + 1) * (tb + nb)).toDouble / ((cb + 1) * (tc + nb))) * 1e6)
    }
    val expected = term(5, 2, 10, 10, 2) + term(5, 8, 10, 10, 2)
    val got = Profile
      .psiDrift(shifted.toDF("g", "v", "cur"), Seq("g"), col("v"), col("cur"), binWidth = 10.0)
      .select("n_bins", "n_base", "n_cur", "psi_x1e6").head()
    assert(got.getLong(0) === 2L && got.getLong(1) === 10L && got.getLong(2) === 10L)
    assert(got.getLong(3) === expected)
    assert(got.getLong(3) > 0L)
  }

  test("psiDrift: a bin observed on one side only still contributes (smoothed), never divides by zero") {
    import spark.implicits._
    val rows = Seq(("e", 5.0, false), ("e", 5.0, false), ("e", 25.0, true), ("e", 25.0, true))
    val got = Profile
      .psiDrift(rows.toDF("g", "v", "cur"), Seq("g"), col("v"), col("cur"), binWidth = 10.0)
      .select("n_bins", "psi_x1e6").head()
    assert(got.getLong(0) === 2L)
    assert(got.getLong(1) > 0L) // total disagreement -> large positive PSI
  }

  test("ewmaLevel: hand-computed fold, event-order seed, null exclusion, singleton key") {
    import spark.implicits._
    // key a: values 10, 20, 40 in ts order (ts deliberately unsorted in
    // the input); alpha=0.5 -> seed 10, then 0.5*20+0.5*10=15, then
    // 0.5*40+0.5*15=27.5. key b: single observation -> ewma == value.
    // key c: only null values -> no output row.
    val df = Seq(
      ("a", 3L, 3L, Some(40.0)),
      ("a", 1L, 1L, Some(10.0)),
      ("a", 2L, 2L, Some(20.0)),
      ("b", 1L, 4L, Some(7.0)),
      ("c", 1L, 5L, None)
    ).toDF("k", "t", "eid", "v")
    val got = Profile
      .ewmaLevel(df, Seq("k"), Seq("t", "eid"), col("v"), alpha = 0.5)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got === Map("a" -> ((3L, 27.5)), "b" -> ((1L, 7.0))))
  }

  test("ewmaLevel: order ties broken by the full order-column struct, alpha bounds enforced") {
    import spark.implicits._
    // same ts, distinct eid: eid decides the fold order
    val df  = Seq(("a", 1L, 2L, 100.0), ("a", 1L, 1L, 0.0)).toDF("k", "t", "eid", "v")
    val got = Profile.ewmaLevel(df, Seq("k"), Seq("t", "eid"), col("v"), alpha = 0.25)
    assert(got.head().getDouble(2) === 25.0) // seed 0, then 0.25*100
    intercept[IllegalArgumentException] {
      Profile.ewmaLevel(df, Seq("k"), Seq("t"), col("v"), alpha = 0.0)
    }
  }

  test("classifierMetrics: hand-computed confusion integers, incl. pred-only and label-only classes") {
    import spark.implicits._
    val scored = Seq(
      ("en", "en"), ("en", "en"), ("en", "unk"),
      ("es", "en"), ("es", "es"),
      ("de", "unk"), ("de", "es"),
      ("fr", null) // null prediction: excluded, never a class
    ).toDF("label", "pred")
    val got = Profile.classifierMetrics(scored, "label", "pred")
      .collect()
      .map(r => (r.getString(0), (
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    assert(got.keySet === Set("en", "es", "de", "unk"))
    // en: support 3, predicted 3, tp 2 -> P = R = F1 = 2e6 div 3
    assert(got("en") === ((3L, 3L, 2L, 1L, 1L, 666666L, 666666L, 666666L)))
    // es: support 2, predicted 2, tp 1
    assert(got("es") === ((2L, 2L, 1L, 1L, 1L, 500000L, 500000L, 500000L)))
    // de: labeled but never predicted -> zero precision denominator scores 0
    assert(got("de") === ((2L, 0L, 0L, 0L, 2L, 0L, 0L, 0L)))
    // unk: predicted but never labeled -> zero support scores 0
    assert(got("unk") === ((0L, 2L, 0L, 2L, 0L, 0L, 0L, 0L)))
  }

  test("classifierMetrics: a perfect classifier scores 1e6 across every class") {
    import spark.implicits._
    val scored = Seq(("a", "a"), ("b", "b"), ("b", "b")).toDF("label", "pred")
    Profile.classifierMetrics(scored, "label", "pred").collect().foreach { r =>
      assert(r.getAs[Long]("precision_x1e6") === 1000000L)
      assert(r.getAs[Long]("recall_x1e6") === 1000000L)
      assert(r.getAs[Long]("f1_x1e6") === 1000000L)
      assert(r.getAs[Long]("fp") === 0L && r.getAs[Long]("fn") === 0L)
    }
  }

  test("aucExact: separation=1e6, inversion=0, ties at half credit, hand-mixed value, null guard") {
    import spark.implicits._
    def auc(rows: Seq[(Boolean, Long)]): Option[Long] = {
      val r = Profile
        .aucExact(rows.toDF("y", "s"), "y", "s")
        .collect().head
      if (r.isNullAt(2)) None else Some(r.getLong(2))
    }
    // perfect separation and its inversion
    assert(auc(Seq((true, 10L), (true, 9L), (false, 2L), (false, 1L))) === Some(1000000L))
    assert(auc(Seq((false, 10L), (false, 9L), (true, 2L), (true, 1L))) === Some(0L))
    // every score tied: all pairs at half credit -> exactly 0.5
    assert(auc(Seq((true, 5L), (false, 5L), (true, 5L), (false, 5L))) === Some(500000L))
    // hand-mixed: pos {3, 1}, neg {2, 2}. pairs: (3 vs 2,2) concordant x2;
    // (1 vs 2,2) discordant x2 -> auc = 2/4 = 0.5... make it asymmetric:
    // pos {3, 2}, neg {2, 1}: (3>2),(3>1),(2>1) concordant=3, (2,2) tie=1
    // -> (2*3 + 1) * 500000 / 4 = 875000
    assert(auc(Seq((true, 3L), (true, 2L), (false, 2L), (false, 1L))) === Some(875000L))
    // one class absent -> unmeasurable, NULL (never a division by zero)
    assert(auc(Seq((true, 3L), (true, 1L))) === None)
    // null labels and scores are excluded before counting
    val withNulls = Seq(
      (Option(true), Option(10L)), (Option(true), None),
      (Option(false), Option(1L)), (None, Option(99L))).toDF("y", "s")
    val r = Profile.aucExact(withNulls, "y", "s").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 1L, 1000000L)))
  }

  test("aucByGroup: per-group separation/inversion, one-class group NULL, null group excluded") {
    import spark.implicits._
    val rows = Seq(
      // g1: perfect separation
      (Option("g1"), true, 10L), (Option("g1"), true, 9L),
      (Option("g1"), false, 2L), (Option("g1"), false, 1L),
      // g2: perfect inversion
      (Option("g2"), false, 10L), (Option("g2"), true, 1L),
      // g3: one class only -> unmeasurable
      (Option("g3"), true, 5L), (Option("g3"), true, 4L),
      // null group -> excluded entirely
      (None, true, 7L), (None, false, 3L))
      .toDF("g", "y", "s")
    val got = Profile.aucByGroup(rows, "g", "y", "s").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(got === Map(
      "g1" -> ((2L, 2L, Some(1000000L))),
      "g2" -> ((1L, 1L, Some(0L))),
      "g3" -> ((2L, 0L, None))))
  }

  test("thresholdSweep: hand-computed confusion at every cut, tie grouping, totals") {
    import spark.implicits._
    // pos scores {5, 3}, neg scores {4, 1}: cuts at each distinct score desc
    val rows = Seq((true, 5L), (false, 4L), (true, 3L), (false, 1L)).toDF("y", "s")
    val got = Profile.thresholdSweep(rows, "y", "s").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got === Map(
      5L -> ((1L, 0L, 1L, 2L, 1000000L, 500000L, 666666L)),
      4L -> ((1L, 1L, 1L, 1L, 500000L, 500000L, 500000L)),
      3L -> ((2L, 1L, 0L, 1L, 666666L, 1000000L, 800000L)),
      1L -> ((2L, 2L, 0L, 0L, 500000L, 1000000L, 666666L))))
    // ties collapse to ONE candidate cut carrying both rows
    val tied = Seq((true, 5L), (false, 5L), (true, 2L)).toDF("y", "s")
    val tg = Profile.thresholdSweep(tied, "y", "s").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(tg === Map(5L -> ((1L, 1L)), 2L -> ((2L, 1L))))
  }

  test("averagePrecision: sklearn step value, perfect=1e6, ties at group boundary, no-pos NULL") {
    import spark.implicits._
    def ap(rows: Seq[(Boolean, Long)]): (Long, Long, Option[Long]) = {
      val r = Profile.averagePrecision(rows.toDF("y", "s"), "y", "s").collect().head
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    // pos {5,3}, neg {4,1}: AP = (0.5*1 + 0.5*(2/3)) = 0.8333 -> 833333
    // (term1: 1*(1e6 div 1)=1000000; term2: 1*(2e6 div 3)=666666; div 2)
    assert(ap(Seq((true, 5L), (false, 4L), (true, 3L), (false, 1L)))
      === ((2L, 4L, Some(833333L))))
    // perfect ranking
    assert(ap(Seq((true, 9L), (true, 8L), (false, 2L))) === ((2L, 3L, Some(1000000L))))
    // tie group: pos and neg share the top score -> precision at the
    // group BOUNDARY (1 of 2), AP = 500000
    assert(ap(Seq((true, 5L), (false, 5L))) === ((1L, 2L, Some(500000L))))
    // no positives -> unmeasurable
    assert(ap(Seq((false, 5L), (false, 1L))) === ((0L, 2L, None)))
  }

  test("liftGains: hand-computed deciles, tie deal straddles buckets, no-positives NULL") {
    import spark.implicits._
    // n=4, 2 buckets. scores 40/30/20/10, y 1/1/0/1 (3 positives):
    // bucket 0 = {40,30} pos 2 -> gain 2e6 div 3 = 666666,
    //   pop 500000 -> lift 666666*1e6 div 500000 = 1333332
    // bucket 1 cumulative: gain 1e6, lift 1e6
    val rows = Seq((1L, 40L, true), (2L, 30L, true), (3L, 20L, false), (4L, 10L, true))
      .toDF("id", "s", "y")
    val got = Profile.liftGains(rows, "y", "s", "id", nBuckets = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map(
      0L -> ((2L, 2L, 666666L, 1333332L)),
      1L -> ((2L, 1L, 1000000L, 1000000L))))
    // tied scores deal by id ascending: the two 30s straddle the bucket
    // boundary deterministically (id 2 into bucket 0, id 3 into bucket 1)
    val tied = Seq((1L, 40L, true), (2L, 30L, false), (3L, 30L, true), (4L, 10L, false))
      .toDF("id", "s", "y")
    val tg = Profile.liftGains(tied, "y", "s", "id", nBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tg === Map(0L -> 1L, 1L -> 1L))
    // no positives -> unmeasurable gain/lift, NULL (never a div by zero)
    val nopos = Seq((1L, 9L, false), (2L, 3L, false)).toDF("id", "s", "y")
    assert(Profile.liftGains(nopos, "y", "s", "id", nBuckets = 2)
      .collect().forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("cohenKappa: textbook 0.4, chance-floor negative, degenerate NULL, joint-class marginals, null exclusion") {
    import spark.implicits._
    // the classic 2x2: (yes,yes)=20 (yes,no)=5 (no,yes)=10 (no,no)=15
    // n=50 agree=35, S = 25*30 + 25*20 = 1250, kappa = 500/1250 = 0.4
    val classic =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
        Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val r1 = Profile.cohenKappa(classic.toDF("a", "b"), "a", "b").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((50L, 35L, 400000L)))
    // systematic disagreement with symmetric marginals -> kappa = -1
    // (exercises the sign-split truncating division on a negative value)
    val anti = (Seq.fill(3)(("x", "y")) ++ Seq.fill(3)(("y", "x"))).toDF("a", "b")
    assert(Profile.cohenKappa(anti, "a", "b").collect().head.getLong(2) === -1000000L)
    // both columns constant -> n^2 == S, chance agreement is total: NULL
    val const = Seq.fill(4)(("k", "k")).toDF("a", "b")
    assert(Profile.cohenKappa(const, "a", "b").collect().head.isNullAt(2))
    // class present on one side only: marginal product coalesces to 0,
    // kappa exactly 0 here ((6-6)/(9-6))
    val oneSided = Seq(("a", "a"), ("a", "a"), ("c", "a")).toDF("a", "b")
    val r2 = Profile.cohenKappa(oneSided, "a", "b").collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((3L, 2L, 0L)))
    // null on either side drops the row
    val withNulls = Seq(
      (Option("p"), Option("p")), (Option("p"), None), (None, Option("q")),
      (Option("q"), Option("q")))
      .toDF("a", "b")
    assert(Profile.cohenKappa(withNulls, "a", "b").collect().head.getLong(0) === 2L)
  }

  test("continuous-score guard: maxScoreSupport bounds the serial window; sweep counts stay EXACT at surviving thresholds") {
    import spark.implicits._
    // 600 distinct raw float scores — the corpus-sized-window shape the
    // guard exists for (every score unique, so the exact path's window
    // input is 600 rows; the guarded path must cap it).
    val rows = (0 until 600).map { i =>
      (if (i % 7 < 3) 1 else 0, math.sin(i * 1.7) * 100.0 + i * 0.01)
    }
    val df = rows.toDF("y", "s")

    // exact path: one sweep row per distinct score (the unguarded shape)
    assert(Profile.thresholdSweep(df, "y", "s").count() === 600L)

    // guarded sweep: at most 16 candidate thresholds survive...
    val sweep = Profile.thresholdSweep(df, "y", "s", maxScoreSupport = 16).collect()
    assert(sweep.length <= 16 && sweep.length > 1)
    // ...and the confusion counts at EACH surviving threshold are exact
    // (bin lower edge => every bin member scores >= it): brute force.
    sweep.foreach { r =>
      val t  = r.getDouble(0)
      val tp = rows.count { case (y, s) => s >= t && y == 1 }.toLong
      val fp = rows.count { case (y, s) => s >= t && y == 0 }.toLong
      assert(r.getLong(1) === tp, s"tp at threshold $t")
      assert(r.getLong(2) === fp, s"fp at threshold $t")
    }

    // guarded AUC: within-bin pairs become half-credit ties — lands near
    // the exact value and converges as bins grow
    val exact = Profile.aucExact(df, "y", "s").collect().head.getLong(2)
    val a64   = Profile.aucExact(df, "y", "s", maxScoreSupport = 64).collect().head.getLong(2)
    val a256  = Profile.aucExact(df, "y", "s", maxScoreSupport = 256).collect().head.getLong(2)
    assert(math.abs(exact - a64) < 30000L)
    assert(math.abs(exact - a256) < 30000L)

    // guarded AP: same shape
    val apE = Profile.averagePrecision(df, "y", "s").collect().head.getLong(2)
    val apA = Profile.averagePrecision(df, "y", "s", maxScoreSupport = 64).collect().head.getLong(2)
    assert(math.abs(apE - apA) < 40000L)

    // degenerate: constant score collapses to one bin, nothing divides by zero
    val const = Seq((1, 5.0), (0, 5.0), (1, 5.0)).toDF("y", "s")
    val cs = Profile.thresholdSweep(const, "y", "s", maxScoreSupport = 8).collect()
    assert(cs.length === 1 && cs.head.getLong(1) === 2L && cs.head.getLong(2) === 1L)
    assert(Profile.aucExact(const, "y", "s", maxScoreSupport = 8)
      .collect().head.getLong(2) === 500000L) // all ties at half credit
  }

  test("calibrationBins: hand-computed bins, clamping, fixed edges, null exclusion") {
    import spark.implicits._
    // micro-unit confidences against boolean labels, nBins = 4 (edges at
    // 250k/500k/750k):
    //  bin 0: (100000, true) (200000, false)  -> conf (300000/2)=150000, acc 500000, gap 350000
    //  bin 3: (900000, true) (800000, true)   -> conf 850000, acc 1000000, gap 150000
    //  clamps: (-50, false) -> bin 0 at 0; (2000000, true) -> bin 3 at 1e6
    //  exact edge: 250000 lands in bin 1 (250000*4 div 1e6 = 1)
    //  score 1e6 exactly: bin = min(3, 4) = 3
    val rows = Seq(
      (Some(true), Some(100000L)), (Some(false), Some(200000L)),
      (Some(true), Some(900000L)), (Some(true), Some(800000L)),
      (Some(false), Some(-50L)), (Some(true), Some(2000000L)),
      (Some(false), Some(250000L)), (Some(true), Some(1000000L)),
      (None, Some(500000L)), (Some(true), None)) // nulls excluded
      .toDF("y", "s")
    val got = Profile.calibrationBins(rows, "y", "s", nBins = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === Map(
      0L -> ((3L, 1L, 100000L, 333333L, 233333L)), // {1e5 T, 2e5 F, clamp-0 F}
      1L -> ((1L, 0L, 250000L, 0L, 250000L)),      // the exact-edge row
      // {9e5, 8e5, clamp->1e6, 1e6}: conf (3.7e6/4)=925000, acc 1e6, gap 75000
      3L -> ((4L, 4L, 925000L, 1000000L, 75000L))
    ), s"unexpected bins: $got")
    val e = intercept[IllegalArgumentException] {
      Profile.calibrationBins(rows, "y", "s", nBins = 1)
    }
    assert(e.getMessage.contains("nBins"))
  }

  test("expectedCalibrationError: exact fold from raw sums; perfect calibration scores 0; NULL on empty") {
    import spark.implicits._
    // one bin (nBins=2, all scores < 500000): scores {200000 x5}, 1 of 5
    // positive -> |pos*1e6 - conf_sum| = |1e6 - 1e6| = 0 -> ECE 0: a score
    // that says 20% and delivers 20% is perfectly calibrated
    val perfect = (Seq((true, 200000L)) ++ Seq.fill(4)((false, 200000L))).toDF("y", "s")
    val p = Profile.expectedCalibrationError(perfect, "y", "s", nBins = 2).collect().head
    assert((p.getLong(0), p.getLong(1), p.getLong(2)) === ((5L, 1L, 0L)))
    // overconfident: {900000 x4}, 1 positive -> |1e6 - 3.6e6| = 2.6e6 over
    // n=4 -> 650000 (the fold is exact even though acc=250000/conf=900000
    // per-bin readouts would give the same here)
    val over = (Seq((true, 900000L)) ++ Seq.fill(3)((false, 900000L))).toDF("y", "s")
    assert(Profile.expectedCalibrationError(over, "y", "s").collect().head.getLong(2) === 650000L)
    // all rows null -> unmeasurable (0 rows in 0 bins, NULL ece)
    val empty = Seq((Option.empty[Boolean], Option.empty[Long])).toDF("y", "s")
    val r = Profile.expectedCalibrationError(empty, "y", "s").collect().head
    assert(r.getLong(0) === 0L && r.isNullAt(2))
  }

  test("mcnemar: hand-computed discordance, continuity correction, null exclusion, undefined case") {
    import spark.implicits._
    // y, predA, predB: 4 concordant-right, 1 concordant-wrong,
    // b = 3 (A right, B wrong), c = 1 (A wrong, B right), + null rows
    val rows: Seq[(Option[Int], Option[Int], Option[Int])] =
      Seq.fill(4)((Some(1), Some(1), Some(1))) ++
        Seq((Some(1), Some(0), Some(0))) ++
        Seq.fill(3)((Some(1), Some(1), Some(0))) ++
        Seq((Some(0), Some(1), Some(0))) ++
        Seq((None, Some(1), Some(1)), (Some(1), None, Some(1)), (Some(1), Some(1), None))
    val df = rows.toDF("y", "pa", "pb")
    val r = Profile.mcnemar(df, "y", "pa", "pb").collect().head
    assert(r.getLong(0) === 9L) // nulls excluded
    assert(r.getLong(1) === 3L && r.getLong(2) === 1L)
    // chi2 = (3-1)^2/(3+1) = 1.0 ; corrected = (|3-1|-1)^2/4 = 0.25
    assert(r.getLong(3) === 1000000L)
    assert(r.getLong(4) === 250000L)
    // no discordant rows -> both statistics NULL, not zero
    val conc = Seq((1, 1, 1), (0, 0, 0)).toDF("y", "pa", "pb")
    val u = Profile.mcnemar(conc, "y", "pa", "pb").collect().head
    assert(u.getLong(1) === 0L && u.getLong(2) === 0L)
    assert(u.isNullAt(3) && u.isNullAt(4))
  }

  test("mcnemar: |b-c| past the all-Long x1e6 envelope stays exact (DECIMAL carry)") {
    // 4M rows all discordant in A's favor: b = 4e6, c = 0. An all-Long
    // (b-c)^2 * 1e6 = 1.6e19 wraps past Long.Max (~9.2e18) and would
    // report a garbage statistic; the DECIMAL(38,0) carry yields the
    // exact chi2 = n^2 * 1e6 div n = n * 1e6.
    val n  = 4000000L
    val df = spark.range(n).select(lit(1).as("y"), lit(1).as("pa"), lit(0).as("pb"))
    val r  = Profile.mcnemar(df, "y", "pa", "pb").collect().head
    assert(r.getLong(1) === n && r.getLong(2) === 0L)
    assert(r.getLong(3) === n * 1000000L)
    assert(r.getLong(4) ===
      ((BigInt(n - 1) * BigInt(n - 1) * BigInt(1000000)) / BigInt(n)).toLong)
  }

  test("bootstrapDeltaCI: point estimate bracketed, significant gap excludes zero, degenerate tie collapses") {
    import spark.implicits._
    // pa perfect, pb right on even ids only: point delta = 1e6 - 5e5
    val rows = (1L to 200L).map(i => (i, 1, 1, if (i % 2 == 0) 1 else 0))
    val df = rows.toDF("id", "y", "pa", "pb")
    val r = Profile.bootstrapDeltaCI(df, "id", "y", "pa", "pb", b = 64).collect().head
    assert(r.getLong(0) === 200L)
    assert(r.getLong(1) === 64L)
    assert(r.getLong(2) === 500000L)
    val (lo, hi) = (r.getLong(3), r.getLong(4))
    assert(lo <= 500000L && 500000L <= hi, s"CI [$lo,$hi] must bracket the point estimate")
    assert(lo > 0L, s"a 50-point accuracy gap at n=200 must exclude zero, got lo=$lo")
    assert(hi < 1000000L)
    // identical predictors: every resample delta is exactly 0 -> CI [0,0]
    val same = (1L to 50L).map(i => (i, 1, 1, 1)).toDF("id", "y", "pa", "pb")
    val s0 = Profile.bootstrapDeltaCI(same, "id", "y", "pa", "pb", b = 64).collect().head
    assert(s0.getLong(2) === 0L && s0.getLong(3) === 0L && s0.getLong(4) === 0L)
    // null id/label/pred rows are excluded from n and from every resample
    val withNulls = ((1L to 50L).map(i => (Some(i), Some(1), Some(1), Some(1))) ++
      Seq((None, Some(1), Some(1), Some(1)), (Some(99L), None, Some(1), Some(1))))
      .toDF("id", "y", "pa", "pb")
    assert(Profile.bootstrapDeltaCI(withNulls, "id", "y", "pa", "pb", b = 8)
      .collect().head.getLong(0) === 50L)
  }

  test("eval exact path refuses a corpus-sized float score support; bucketed path stays bounded") {
    // 1.5M distinct raw doubles: the exact path's one serial window would
    // be corpus-sized — the HLL support probe must refuse with the fix in
    // the message; passing maxScoreSupport bounds the window and succeeds.
    val big = spark.range(1500000L).select(
      (col("id") % 2 === 0).as("y"),
      (col("id").cast("double") / 7.0).as("s"))
    val e = intercept[IllegalArgumentException](Profile.aucExact(big, "y", "s"))
    assert(e.getMessage.contains("maxScoreSupport"))
    intercept[IllegalArgumentException](Profile.thresholdSweep(big, "y", "s"))
    intercept[IllegalArgumentException](Profile.averagePrecision(big, "y", "s"))
    val r = Profile.aucExact(big, "y", "s", maxScoreSupport = 1000).collect().head
    assert(r.getLong(0) === 750000L && r.getLong(1) === 750000L)
    assert(!r.isNullAt(2))
    // micro-unit scores (the engine's own convention) stay under the
    // bound — the exact path still serves them unguarded
    val micro = spark.range(10000L).select(
      (col("id") % 2 === 0).as("y"), (col("id") % 100L).as("s"))
    assert(Profile.aucExact(micro, "y", "s").collect().head.getLong(0) === 5000L)
  }

  test("bootstrapDeltaCI: rank rule replayed — BOTH ranks derive from the retained count") {
    import spark.implicits._
    // A 2-row frame makes zero-total-weight resamples certain (for ids
    // {5, 9} at b = 64, exactly 4 of the 64 drop — cnt = 60), exercising
    // the documented contract on a frame WITH drops: over the cnt sorted
    // retained deltas, rank_lo = ceil(cnt*25/1000) and
    // rank_hi = cnt + 1 - rank_lo — the rule is replayed independently
    // here (same hash, same pmf quantization, same truncating divisions)
    // and must match the operator output element for element.
    def w(id: Long, r: Long): Long = {
      val u = ((((id % 1000000007L) + 1000000007L) % 1000000007L) * 2654435761L +
        r * 40503L) % 1000000007L % 10000L
      if (u < 3679) 0L else if (u < 7358) 1L else if (u < 9197) 2L
      else if (u < 9810) 3L else 4L
    }
    // a = (id 5 right, id 9 wrong) for predictor A; reversed for B
    val deltas = (0L until 64L).flatMap { r =>
      val (w5, w9) = (w(5L, r), w(9L, r))
      val nw = w5 + w9
      if (nw == 0L) None
      else Some(w5 * 1000000L / nw - w9 * 1000000L / nw)
    }.sorted
    val cnt = deltas.size
    assert(cnt < 64, "construction must drop at least one zero-weight resample")
    val rlo = (cnt * 25 + 999) / 1000
    val df = Seq((5L, 1L, 1L, 0L), (9L, 1L, 0L, 1L)).toDF("id", "y", "pa", "pb")
    val r = Profile.bootstrapDeltaCI(df, "id", "y", "pa", "pb", b = 64).collect().head
    assert(r.getLong(1) === cnt.toLong)
    assert(r.getLong(3) === deltas(rlo - 1))
    assert(r.getLong(4) === deltas(cnt - rlo))
  }

  test("krippendorffAlpha: ragged panels hand-computed, drops, perfect/worse-than-chance/degenerate") {
    import spark.implicits._
    // i1 {a,a} (m=2, contributes 0 disagreement), i2 {a,b,b} (m=3,
    // m²−Σn² = 4 → O = L·4/2 = 2L), i3 {c} (m=1 → dropped), i5 has 18
    // votes (> maxRaters → dropped, a data error under the panel cap).
    // Kept: n=5 votes, margins a:3 b:2 → E = 25 − 13 = 12.
    // D_o = 2L·... = 2/5, D_e = 12/20 = 0.6, alpha = 1 − (2L·4)/(L·12) = 1/3.
    val votes = (Seq(
      (1, "r1", "a"), (1, "r2", "a"),
      (2, "r1", "a"), (2, "r2", "b"), (2, "r3", "b"),
      (3, "r1", "c")) ++ (1 to 18).map(k => (5, s"r$k", "a")))
      .toDF("item", "rater", "cat")
    val r = Profile.krippendorffAlpha(votes, "item", "rater", "cat").collect().head
    assert(r.getLong(0) === 2L) // kept items
    assert(r.getLong(1) === 5L) // kept votes
    assert(r.getLong(2) === 2L) // i3 (m=1) and i5 (m>16)
    assert(r.getLong(3) === 400000L) // D_o = 2/5
    assert(r.getLong(4) === 600000L) // D_e = 12/20
    assert(r.getLong(5) === 333333L) // alpha = 1/3 truncated
    // perfect agreement across two categories -> alpha exactly 1
    val perfect = Seq(
      (1, "r1", "a"), (1, "r2", "a"),
      (2, "r1", "b"), (2, "r2", "b")).toDF("item", "rater", "cat")
    assert(Profile.krippendorffAlpha(perfect, "item", "rater", "cat")
      .collect().head.getLong(5) === 1000000L)
    // systematic disagreement -> negative (the sign-split path):
    // two items each {a,b}: O = 4L, E = 8, alpha = 1 − 12/8 = −1/2
    val worse = Seq(
      (1, "r1", "a"), (1, "r2", "b"),
      (2, "r1", "a"), (2, "r2", "b")).toDF("item", "rater", "cat")
    assert(Profile.krippendorffAlpha(worse, "item", "rater", "cat")
      .collect().head.getLong(5) === -500000L)
    // every vote one category -> E = 0 -> alpha undefined (NULL)
    val mono = Seq((1, "r1", "a"), (1, "r2", "a")).toDF("item", "rater", "cat")
    assert(Profile.krippendorffAlpha(mono, "item", "rater", "cat")
      .collect().head.isNullAt(5))
  }

  test("krippendorffAlphaInterval: squared-distance weighting hand-computed, differs from nominal") {
    import spark.implicits._
    // i1 {0,3}: P = 1·1·(3−0)² = 9 → term (L div 1)·2·9 = 18L; i2 {1,1}:
    // P = 0; i3 single vote dropped; i4 has 18 votes (> cap) dropped.
    // Kept n = 4. D_o = O/(L·n) = 18/4. Margins 0:1, 1:2, 3:1 →
    // E = 2·(1·2·1 + 1·1·9 + 2·1·4) = 38, D_e = 38/12.
    // alpha = 1 − 18·3·L/(38L) = −16/38 → −421052 (sign-split truncation).
    val votes = (Seq(
      (1, "r1", 0L), (1, "r2", 3L),
      (2, "r1", 1L), (2, "r2", 1L),
      (3, "r1", 0L)) ++ (1 to 18).map(k => (4, s"r$k", 2L)))
      .toDF("item", "rater", "rating")
    val r = Profile.krippendorffAlphaInterval(votes, "item", "rater", "rating")
      .collect().head
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 2L)
    assert(r.getLong(3) === 4500000L)
    assert(r.getLong(4) === 3166666L)
    assert(r.getLong(5) === -421052L)
    // the NOMINAL coefficient on the same table reads +400000: the
    // distance weighting is a genuinely different statistic (a 0-vs-3
    // split is 9x a 1-step near-miss, not "one disagreement")
    assert(Profile.krippendorffAlpha(votes, "item", "rater", "rating")
      .collect().head.getLong(5) === 400000L)
    // perfect agreement with two rating levels present: alpha = 1e6 exact
    val perfect = Seq((1, "a", 0L), (1, "b", 0L), (2, "a", 3L), (2, "b", 3L))
      .toDF("item", "rater", "rating")
    assert(Profile.krippendorffAlphaInterval(perfect, "item", "rater", "rating")
      .collect().head.getLong(5) === 1000000L)
    // every vote the same value -> E = 0 -> alpha undefined (NULL)
    val mono = Seq((1, "a", 1L), (1, "b", 1L), (2, "a", 1L), (2, "b", 1L))
      .toDF("item", "rater", "rating")
    assert(Profile.krippendorffAlphaInterval(mono, "item", "rater", "rating")
      .collect().head.isNullAt(5))
  }

  test("krippendorffAlphaOrdinal: mass-between-ranks distance hand-computed, differs from interval") {
    import spark.implicits._
    // i1 {0,2}, i2 {1,1}, i3 {1,2} (+ dropped single-vote i4 and
    // oversized i5). Kept margins 0:1, 1:3, 2:2 (n=6), cum 1/4/6 →
    // (2δ)²: (0,1)=16, (0,2)=81, (1,2)=25.
    // O = 2L·81 (i1) + 2L·25 (i3) = 212L → do = 212e6 div 6 = 35333333.
    // E = 2·(3·16 + 2·81 + 6·25) = 720 → de = 720e6 div 30 = 24000000.
    // alpha = (720 − 212·5)/720 = −340/720 → −472222 (sign-split).
    val votes = (Seq(
      (1, "r1", 0L), (1, "r2", 2L),
      (2, "r1", 1L), (2, "r2", 1L),
      (3, "r1", 1L), (3, "r2", 2L),
      (4, "r1", 0L)) ++ (1 to 18).map(k => (5, s"r$k", 2L)))
      .toDF("item", "rater", "rating")
    val r = Profile.krippendorffAlphaOrdinal(votes, "item", "rater", "rating")
      .collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 6L)
    assert(r.getLong(2) === 2L)
    assert(r.getLong(3) === 35333333L)
    assert(r.getLong(4) === 24000000L)
    assert(r.getLong(5) === -472222L)
    // the INTERVAL coefficient on the same table reads −470588
    // (−16/34): ordinal charges crossing the populated middle rank
    // more, so the two metrics genuinely diverge on mixed-mass panels
    assert(Profile.krippendorffAlphaInterval(votes, "item", "rater", "rating")
      .collect().head.getLong(5) === -470588L)
    // perfect agreement across two ranks: alpha = 1e6 exact
    val perfect = Seq((1, "a", 0L), (1, "b", 0L), (2, "a", 3L), (2, "b", 3L))
      .toDF("item", "rater", "rating")
    assert(Profile.krippendorffAlphaOrdinal(perfect, "item", "rater", "rating")
      .collect().head.getLong(5) === 1000000L)
    // every vote one rank -> E = 0 -> NULL
    val mono = Seq((1, "a", 1L), (1, "b", 1L), (2, "a", 1L), (2, "b", 1L))
      .toDF("item", "rater", "rating")
    assert(Profile.krippendorffAlphaOrdinal(mono, "item", "rater", "rating")
      .collect().head.isNullAt(5))
  }

  test("fleissKappa: textbook table, partial panels dropped, degenerate marginal NULL") {
    import spark.implicits._
    // 4 items x 3 raters, 2 categories; n_ic tables:
    //  i1: a=3        -> P_i contribution 3*2       = 6
    //  i2: a=2, b=1   ->                  2*1 + 0   = 2
    //  i3: a=1, b=2   ->                  0   + 2*1 = 2
    //  i4: b=3        ->                  3*2       = 6
    // A = 16, N = 4, n = 3 -> B = N*n*(n-1) = 24, Pbar = 16/24
    // marginals: a = 6, b = 6 -> C = 72, D = (12)^2 = 144, Pe = 1/2
    // kappa = (A*D - C*B)/(B*(D - C)) = (2304-1728)/(24*72) = 576/1728 = 1/3
    val votes = Seq(
      (1, "r1", "a"), (1, "r2", "a"), (1, "r3", "a"),
      (2, "r1", "a"), (2, "r2", "a"), (2, "r3", "b"),
      (3, "r1", "a"), (3, "r2", "b"), (3, "r3", "b"),
      (4, "r1", "b"), (4, "r2", "b"), (4, "r3", "b"),
      (5, "r1", "a"), (5, "r2", "a") // partial panel -> dropped
    ).toDF("item", "rater", "cat")
    val r = Profile.fleissKappa(votes, "item", "rater", "cat", nRaters = 3).collect().head
    assert(r.getLong(0) === 4L) // kept items
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === 1L) // item 5 dropped
    assert(r.getLong(3) === 666666L) // Pbar = 2/3 truncated
    assert(r.getLong(4) === 500000L) // Pe = 1/2
    assert(r.getLong(5) === 333333L) // kappa = 1/3 truncated
    // every vote one category -> D == C -> kappa undefined (NULL), Pbar = 1
    val mono = Seq(
      (1, "r1", "a"), (1, "r2", "a"), (1, "r3", "a"),
      (2, "r1", "a"), (2, "r2", "a"), (2, "r3", "a")).toDF("item", "rater", "cat")
    val m = Profile.fleissKappa(mono, "item", "rater", "cat", nRaters = 3).collect().head
    assert(m.getLong(3) === 1000000L && m.isNullAt(5))
    // worse-than-chance panel goes NEGATIVE (the sign-split division path):
    // 2 items, 2 raters... nRaters=3 with perfect disagreement impossible at
    // 2 cats; use 3 raters, cats a/b/c all distinct per item -> Pbar = 0
    val dis = Seq(
      (1, "r1", "a"), (1, "r2", "b"), (1, "r3", "c"),
      (2, "r1", "a"), (2, "r2", "b"), (2, "r3", "c")).toDF("item", "rater", "cat")
    val dv = Profile.fleissKappa(dis, "item", "rater", "cat", nRaters = 3).collect().head
    // Pbar = 0, Pe = 3*(2/6)^2 = 1/3, kappa = (0 - 1/3)/(2/3) = -1/2
    assert(dv.getLong(3) === 0L)
    assert(dv.getLong(4) === 333333L)
    assert(dv.getLong(5) === -500000L)
  }

  test("gwetAC1: ragged panels hand-computed, sign-split, prevalence resistance vs alpha") {
    import spark.implicits._
    // i1 {a,a} (pa term = 1), i2 {a,b,b} (pa term = 2/6 = 1/3), i3 single
    // vote dropped, i4 oversized dropped. n = 2, K = 2.
    // pa = (1 + 1/3)/2 = 2/3; π_a = (1 + 1/3)/2 = 2/3, π_b = 1/3;
    // pe = π_a(1−π_a) + π_b(1−π_b) = 4/9; AC1 = (2/3 − 4/9)/(1 − 4/9) = 2/5.
    val votes = (Seq(
      (1, "r1", "a"), (1, "r2", "a"),
      (2, "r1", "a"), (2, "r2", "b"), (2, "r3", "b"),
      (3, "r1", "c")) ++ (1 to 18).map(k => (4, s"r$k", "a")))
      .toDF("item", "rater", "cat")
    val r = Profile.gwetAC1(votes, "item", "rater", "cat").collect().head
    assert(r.getLong(0) === 2L)  // kept items
    assert(r.getLong(1) === 5L)  // kept votes
    assert(r.getLong(2) === 2L)  // i3 (m=1) and i4 (m>16)
    assert(r.getLong(3) === 2L)  // categories among kept votes
    assert(r.getLong(4) === 666666L)
    assert(r.getLong(5) === 444444L)
    assert(r.getLong(6) === 400000L) // 2/5 exact
    // systematic disagreement -> AC1 = −1 (sign-split path):
    // two items each {a,b}: pa = 0, π = 1/2 each, pe = 1/2
    val worse = Seq(
      (1, "r1", "a"), (1, "r2", "b"),
      (2, "r1", "a"), (2, "r2", "b")).toDF("item", "rater", "cat")
    assert(Profile.gwetAC1(worse, "item", "rater", "cat")
      .collect().head.getLong(6) === -1000000L)
    // perfect agreement, two categories -> exactly 1
    val perfect = Seq(
      (1, "r1", "a"), (1, "r2", "a"),
      (2, "r1", "b"), (2, "r2", "b")).toDF("item", "rater", "cat")
    assert(Profile.gwetAC1(perfect, "item", "rater", "cat")
      .collect().head.getLong(6) === 1000000L)
    // single observed category -> chance is total -> NULL
    val mono = Seq((1, "r1", "a"), (1, "r2", "a")).toDF("item", "rater", "cat")
    assert(Profile.gwetAC1(mono, "item", "rater", "cat")
      .collect().head.isNullAt(6))
    // THE PARADOX CASE the coefficient exists for: 99 unanimous-"keep"
    // items + 1 split item. Agreement is near-total, but alpha's chance
    // term is built from the 99.5% "keep" margin and reads ~0 — AC1 stays
    // high. (alpha = 1 − do·(n−1)/de: do = 1/200·2 per the split item.)
    val skew = ((1 to 99).flatMap(i => Seq((i, "r1", "keep"), (i, "r2", "keep")))
      :+ ((100, "r1", "keep")) :+ ((100, "r2", "drop")))
      .toDF("item", "rater", "cat")
    val a  = Profile.krippendorffAlpha(skew, "item", "rater", "cat")
      .collect().head.getLong(5)
    val g  = Profile.gwetAC1(skew, "item", "rater", "cat")
      .collect().head.getLong(6)
    assert(a < 100000L, s"alpha collapses under prevalence skew, got $a")
    assert(g > 950000L, s"AC1 resists prevalence skew, got $g")
  }

  test("krippendorffAlphaLeaveOneOut: per-rater rows obey the law vs direct filtered alpha") {
    import spark.implicits._
    // three clean raters + one contrarian (r4 inverts every vote) over 8
    // items; removing r4 must RAISE alpha enough to flag it, removing a
    // clean rater must not.
    val votes = (1 to 8).flatMap { i =>
      val cat = if (i % 2 == 0) "keep" else "drop"
      val inv = if (i % 2 == 0) "drop" else "keep"
      Seq((i, "r1", cat), (i, "r2", cat), (i, "r3", cat), (i, "r4", inv))
    }.toDF("item", "rater", "cat")
    val out = Profile
      .krippendorffAlphaLeaveOneOut(votes, "item", "rater", "cat",
        maxRaters = 16, flagDeltaX1e6 = 20000L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size === 4)
    val full = Profile.krippendorffAlpha(votes, "item", "rater", "cat")
      .collect().head.getLong(5)
    // law: every LOO row equals the scalar alpha on the filtered frame
    for (ex <- Seq("r1", "r2", "r3", "r4")) {
      val direct = Profile
        .krippendorffAlpha(
          votes.filter(col("rater") =!= ex), "item", "rater", "cat")
        .collect().head
      val row = out(ex)
      assert(row.getLong(2) === direct.getLong(0), s"$ex n_items")
      assert(row.getLong(3) === direct.getLong(1), s"$ex n_votes")
      assert(row.getLong(4) === direct.getLong(5), s"$ex alpha_loo")
      assert(row.getLong(5) === full, s"$ex alpha_full")
      assert(row.getLong(6) === direct.getLong(5) - full, s"$ex delta")
      assert(row.getBoolean(7) === (direct.getLong(5) - full >= 20000L), s"$ex flag")
    }
    // the contrarian is the one flagged rater (its removal yields perfect
    // agreement), and every clean rater's removal lowers alpha
    assert(out("r4").getBoolean(7) && out("r4").getLong(4) === 1000000L)
    for (ex <- Seq("r1", "r2", "r3")) assert(!out(ex).getBoolean(7))
    // degenerate remainder: two raters only — excluding either leaves
    // single-vote items everywhere, alpha NULL, flagged false
    val two = Seq((1, "a", "x"), (1, "b", "y"), (2, "a", "x"), (2, "b", "x"))
      .toDF("item", "rater", "cat")
    val t = Profile
      .krippendorffAlphaLeaveOneOut(two, "item", "rater", "cat")
      .collect()
    assert(t.length === 0, "no kept items after either exclusion -> no rows")
  }
}
