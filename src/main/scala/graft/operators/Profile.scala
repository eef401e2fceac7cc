package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling operators — the first pass a pipeline runs over an
  * unfamiliar 100 TB table: fixed-width histograms and per-column summary
  * stats. Both are single-shuffle aggregations with map-side partials;
  * neither collects anything driver-side beyond the summary rows.
  */
object Profile {

  /** Fixed-width histogram of `valueCol` over [lo, hi), `nBins` bins,
    * optionally per group. Out-of-range rows are counted in the clamped
    * edge bins (bin 0 / bin nBins-1) so the histogram always accounts for
    * every non-null row — silent drops misread as missing data.
    *
    * Bin arithmetic is floor((v - lo) / width) with double ops in a fixed
    * order, so any engine computes identical bin ids. One hash shuffle on
    * (group, bin), partial-aggregated map-side.
    *
    * Output: groupCols..., bin, bin_lo, bin_hi, cnt.
    */
  def histogram(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val width = (hi - lo) / nBins
    val bin = least(
      greatest(floor((col(valueCol) - lo) / width), lit(0L)),
      lit(nBins.toLong - 1))
    val keys = groupCols.map(col) :+ bin.as("bin")
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bin_lo", lit(lo) + col("bin") * width)
      .withColumn("bin_hi", lit(lo) + (col("bin") + 1) * width)
      .select(groupCols.map(col) ++ Seq(col("bin"), col("bin_lo"), col("bin_hi"), col("cnt")): _*)
  }

  /** Robust (median/MAD) outlier annotation of a numeric column — the
    * distribution-free quality gate a pipeline runs over embedding norms,
    * doc lengths, or feature magnitudes, where mean/stddev is itself
    * dragged by the outliers it should catch. A row is an outlier when
    * |v - median| > k * MAD (MAD = median absolute deviation; k=3 by
    * convention ~ 2σ for normal data).
    *
    * Cross-engine exactness: feed an INTEGER-quantized value column. Both
    * medians ride the exact `percentile` aggregate at p=0.5 — on integers
    * (and on the half-integer deviations) the interpolation lower +
    * 0.5*(upper-lower) is an exact power-of-two multiply, bit-equal to
    * DuckDB's quantile_cont (the q49 convention) — and k*MAD is exact for
    * integral k against half-integer MADs.
    *
    * Scale shape: two single-group percentile aggregates (partial-merged
    * value maps — bounded by DISTINCT quantized values, not rows; quantize
    * coarser or switch to Splits.rankedPrefix's two-phase rank if the
    * value domain itself explodes) and two one-row broadcast joins — the
    * data never shuffles.
    *
    * Output: input columns + dev (|v - med|), med, mad, is_outlier.
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val stats = df.agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val dev = df
      .crossJoin(broadcast(stats))
      .withColumn("dev", abs(col(valueCol) - col("med")))
    val madT = dev.agg(expr("percentile(dev, 0.5)").as("mad"))
    dev
      .crossJoin(broadcast(madT))
      .withColumn("is_outlier", col("dev") > lit(k) * col("mad"))
  }

  /** EXACT weighted percentile per group: the smallest value v whose
    * cumulative weight reaches fraction pNum/pDen of the group's total —
    * the "token-weighted median document length" class of question, where
    * an unweighted median misreads a corpus whose long documents carry
    * most of the mass. The fraction is a RATIONAL (pNum/pDen), and the
    * reach test is cross-multiplied (cum * pDen >= tot * pNum), so there
    * is no floating-point boundary anywhere — any engine picks the same
    * row. Weights must be non-negative integers (integer-scaled).
    *
    * Plan shape: duplicates collapse first (groupBy (group, value) with
    * map-side partial sums — the cumulative window then runs over DISTINCT
    * values, not rows), then cumulative/total sums and the pick are
    * windows over the same group key: one hash shuffle on the group, one
    * sort per group of its distinct values. No driver-side anything.
    *
    * Output: groupCols..., wp_value (BIGINT), total_w (BIGINT).
    */
  def weightedPercentile(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      weightCol: Column,
      pNum: Int,
      pDen: Int): DataFrame = {
    require(pDen > 0 && pNum > 0 && pNum <= pDen, s"need 0 < pNum <= pDen, got $pNum/$pDen")
    import org.apache.spark.sql.expressions.Window
    val collapsed = df
      .groupBy(groupCols.map(col) :+ valueCol.cast("long").as("__v"): _*)
      .agg(sum(weightCol.cast("long")).as("__w"))
    val wg  = Window.partitionBy(groupCols.map(col): _*)
    val wo  = wg.orderBy(col("__v"))
    val cum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    collapsed
      .withColumn("__cum", sum(col("__w")).over(cum))
      .withColumn("__tot", sum(col("__w")).over(wg))
      .groupBy(groupCols.map(col): _*)
      .agg(
        min(when(col("__cum") * pDen >= col("__tot") * pNum, col("__v"))).as("wp_value"),
        first(col("__tot")).as("total_w"))
  }

  /** Grouped OLS trend over an ordered series: per group, the least-
    * squares slope of y against the series POSITION x = 1..n (rank under
    * `orderCols`) — the drift-direction number a monitoring pipeline
    * wants per metric. Emitted as the EXACT integer numerator/denominator
    * pair of the closed form
    *   slope = (n*Σxy − Σx*Σy) / (n*Σx² − (Σx)²)
    * accumulated in DECIMAL(38,0) (n*Σxy overflows int64 ~1e9 rows/group
    * earlier than any 100 TB table stops growing), cast to double only at
    * the edge — both engines round the same exact integer to the same
    * nearest double, so the quotient is bit-identical too. `yInt` must be
    * an integer-scaled column (e.g. cents).
    *
    * Plan shape: one hash shuffle on the group key for the rank window,
    * and the final aggregate reuses that partitioning — map-side partial
    * sums collapse each group to one row.
    *
    * Output: groupCols..., n, slope_num, slope_den, slope (doubles; slope
    * is NULL for degenerate groups with n < 2 where the denominator is 0).
    */
  def groupedTrend(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      yInt: Column): DataFrame = {
    require(orderCols.nonEmpty, "groupedTrend needs at least one ordering column")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val wo  = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    val xy = df
      .withColumn("__y", yInt.cast("long"))
      .withColumn("__x", row_number().over(wo).cast("long"))
    val agg = xy
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x") * col("__y")).cast(dec)).as("__sxy"),
        sum((col("__x") * col("__x")).cast(dec)).as("__sxx"))
    agg.select(
      groupCols.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double").as("slope_num"),
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double").as("slope_den"),
        when(
          col("__n") > 1,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
          .as("slope")): _*)
  }

  /** Per-column summary of the named NUMERIC columns: row count, null
    * count, min, max, decimal-exact sum (the engine's cross-engine-stable
    * sum form). One pass, one aggregate row per column via explode of a
    * per-row struct array — no N-pass scan per column.
    *
    * Output: col_name, n, n_null, min_v, max_v, sum_v. ("column" itself is
    * a reserved word in several engines, which would break the oracle
    * mirror.)
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val entries = array(cols.map { c =>
      struct(lit(c).as("col_name"), col(c).cast("double").as("v"))
    }: _*)
    df.select(explode(entries).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("v").isNull, 1)).as("n_null"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        sum(col("v").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)))
          .cast("double").as("sum_v"))
  }

  /** Population Stability Index between a baseline and a current slice of
    * the same numeric column, per group — the standard "did this feature's
    * distribution move" monitor a training pipeline runs between corpus
    * versions or time windows. PSI = Σ_bins (p_cur − p_base)·ln(p_cur/p_base)
    * over fixed-width value bins; < 0.1 stable, > 0.25 action.
    *
    * Cross-engine exactness: counts bin on floor(v/binWidth) (one double
    * divide in a fixed order). Each bin's term is add-1-smoothed over the
    * group's OBSERVED bin union B: p = (c+1)/(tot+|B|) — zero bins on one
    * side cost mass instead of dividing by zero. The term is computed as
    * round(1e6·(pC−pB)·ln((cC+1)(totB+|B|) / ((cB+1)(totC+|B|)))) — the
    * ratio is ONE divide of exact sub-2^53 integer products, ln/multiply
    * are deterministic per-row IEEE ops, and the per-group PSI is an exact
    * integer sum of the quantized terms (same micro-nat convention as the
    * DSIR / bigram-NLL ops).
    *
    * Scale shape: one (group, bin, period) count shuffle with map-side
    * partials, then one (group) aggregate over ≤ bins rows per group —
    * the heavy pass touches each input row once.
    *
    * Output: groupCols..., n_bins, n_base, n_cur, psi_x1e6.
    */
  def psiDrift(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      isCurrent: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val gs = groupCols.map(col)
    val binned = df
      .filter(valueCol.isNotNull)
      .select(
        gs :+ floor(valueCol.cast("double") / binWidth).cast("long").as("__bin")
           :+ when(isCurrent, 1L).otherwise(0L).as("__cur"): _*)
    val counts = binned
      .groupBy(gs :+ col("__bin"): _*)
      .agg(
        sum(when(col("__cur") === 0L, 1L).otherwise(0L)).as("__cb"),
        sum(col("__cur")).as("__cc"))
    // group totals ride a window over the COLLAPSED counts table
    // (≤ observed-bins rows per group, not input rows — cheap by design)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(gs: _*)
    val withTot = counts
      .withColumn("__nb", count(lit(1)).over(wg))
      .withColumn("__tb", sum(col("__cb")).over(wg))
      .withColumn("__tc", sum(col("__cc")).over(wg))
    val pB   = (col("__cb") + 1).cast("double") / (col("__tb") + col("__nb")).cast("double")
    val pC   = (col("__cc") + 1).cast("double") / (col("__tc") + col("__nb")).cast("double")
    val lnArg = ((col("__cc") + 1) * (col("__tb") + col("__nb"))).cast("double") /
      ((col("__cb") + 1) * (col("__tc") + col("__nb"))).cast("double")
    val term = round((pC - pB) * log(lnArg) * 1000000d).cast("long")
    withTot
      .withColumn("__term", term)
      .groupBy(gs: _*)
      .agg(
        first(col("__nb")).as("n_bins"),
        first(col("__tb")).as("n_base"),
        first(col("__tc")).as("n_cur"),
        sum(col("__term")).as("psi_x1e6"))
  }

  /** Final exponentially-weighted moving average (EWMA) level of
    * `valueCol` per key — the smoothed "current level" a drift monitor
    * compares fresh batches against (the exponential-decay companion of
    * groupedTrend's OLS slope and psiDrift's distribution diff). Seeded
    * at the key's first observation in event order, then folded:
    * level = alpha * x + (1 - alpha) * level.
    *
    * The recurrence is inherently sequential, so it runs INSIDE one row:
    * sort_array(collect_list(struct(order..., value))) per key, then a
    * single `aggregate` fold over the sorted array — one hash shuffle on
    * the key, per-key state bounded by that key's event count (the same
    * envelope as the landing pivot's channel-array build; a key with
    * pathological cardinality caps with windowed sub-sampling upstream).
    * No window function, no per-row pow() decay chain (whose (1-a)^i
    * factors under/overflow on long series).
    *
    * The fold order (a*x, then (1-a)*level, then add; first element as
    * the seed) is exactly the left fold of a SQL list_reduce, so results
    * are bit-identical cross-engine when alpha is an exact binary
    * fraction (0.25, 0.5, 0.75, ...).
    *
    * Output: keyCols..., n (observations folded), ewma.
    */
  def ewmaLevel(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val ks    = keyCols.map(col)
    val entry = struct(orderCols.map(col) :+ valueCol.cast("double").as("__v"): _*)
    df.filter(valueCol.isNotNull)
      .groupBy(ks: _*)
      .agg(sort_array(collect_list(entry)).as("__s"), count(lit(1)).as("n"))
      .select(
        ks :+ col("n") :+
          aggregate(
            slice(col("__s"), lit(2), size(col("__s")) - 1),
            element_at(col("__s"), 1).getField("__v"),
            (acc, e) => lit(alpha) * e.getField("__v") + lit(1 - alpha) * acc)
            .as("ewma"): _*)
  }

  /** Per-class classifier evaluation — precision / recall / F1 against a
    * label column, the quality loop for every model-shaped filter in the
    * pipeline (langid, quality classifier, blocklist): one row per class
    * in the UNION of labels and predictions, with the raw confusion
    * counts (tp / fp / fn / support / predicted) alongside.
    *
    * ALL outputs are integers (the q135 micro-unit discipline): the
    * counts are exact, and precision = tp*1e6 div predicted, recall =
    * tp*1e6 div support, F1 = 2*tp*1e6 div (2*tp + fp + fn) — the
    * algebraic identity 2PR/(P+R) = 2tp/(2tp+fp+fn), so F1 needs no
    * intermediate ratio and the whole row is hash-exact cross-engine.
    * Zero denominators (a class never predicted / never labeled) score 0.
    *
    * Scale shape: two partial-aggregated groupBys on the class key over
    * one projected pass of the scored frame + a class-cardinality outer
    * join — never a corpus-sized shuffle. Rows with a NULL label or
    * prediction are excluded up front (a null class is a data defect to
    * fix upstream, not a class to score).
    */
  def classifierMetrics(
      scored: DataFrame,
      labelCol: String,
      predCol: String): DataFrame = {
    val base = scored
      .filter(col(labelCol).isNotNull && col(predCol).isNotNull)
      .select(col(labelCol).as("__l"), col(predCol).as("__p"))
    val byLabel = base
      .groupBy(col("__l").as("class"))
      .agg(
        count(lit(1)).as("support"),
        sum(when(col("__p") === col("__l"), 1L).otherwise(0L)).as("tp"))
    val byPred = base
      .groupBy(col("__p").as("class"))
      .agg(count(lit(1)).as("predicted"))
    byLabel
      .join(byPred, Seq("class"), "full_outer")
      .select(
        col("class"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("predicted") - col("tp"))
      .withColumn("fn", col("support") - col("tp"))
      .select(
        col("class"), col("support"), col("predicted"),
        col("tp"), col("fp"), col("fn"),
        when(col("predicted") > 0, expr("(tp * 1000000L) div predicted"))
          .otherwise(lit(0L)).as("precision_x1e6"),
        when(col("support") > 0, expr("(tp * 1000000L) div support"))
          .otherwise(lit(0L)).as("recall_x1e6"),
        when(expr("2 * tp + fp + fn") > 0,
          expr("(2 * tp * 1000000L) div (2 * tp + fp + fn)"))
          .otherwise(lit(0L)).as("f1_x1e6"))
  }

  /** The continuous-score guard shared by `aucExact` / `thresholdSweep` /
    * `averagePrecision`: when `maxScoreSupport > 0`, replace `__s` with
    * the LOWER EDGE of its fixed-width bin over [min, max] — at most
    * `maxScoreSupport` distinct values, order-preserving (edge is
    * monotone in score), so the downstream per-score shuffle and the one
    * serial window are bounded at `maxScoreSupport` rows no matter how
    * continuous the caller's score is. One extra min/max probe broadcast
    * back (the established bounded 1-row bnlj pattern). A constant score
    * collapses to a single bin.
    *
    * `maxScoreSupport <= 0` is the EXACT path (types and values
    * untouched) — but no longer a blind one (round 15, closing the last
    * eval-tier footgun): one cheap HLL probe (`approx_count_distinct`,
    * partial-agg only — never a shuffle of the frame) estimates the
    * score support and REFUSES past ~1e6 distinct values (1.1e6 with
    * the sketch's ~2–5% slack priced in), because the exact path's one
    * serial window runs over |distinct scores| rows — bounded by
    * construction for the engine's own micro-unit scores, CORPUS-SIZED
    * for a raw float score a caller might feed. The refusal message
    * names the fix; the probe is one extra scan of the projected
    * 2-column frame — the price of exact-by-default staying safe.
    */
  private val ExactScoreSupportBound = 1100000L
  private def quantizeScore(base: DataFrame, maxScoreSupport: Int): DataFrame =
    if (maxScoreSupport <= 0) {
      val est = base.agg(approx_count_distinct(col("__s")).as("__d")).head().getLong(0)
      require(est <= ExactScoreSupportBound,
        s"exact eval path: ~$est distinct score values (HLL estimate) exceed " +
          "the 1e6 serial-window bound — the exact path builds ONE " +
          "single-partition window over |distinct scores| rows; pass " +
          "maxScoreSupport > 0 (order-preserving fixed-width pre-bucketing, " +
          "counts stay exact per surviving threshold) or pre-quantize the score")
      base
    } else {
      val m  = maxScoreSupport
      val mm = base.agg(
        min(col("__s").cast("double")).as("__lo"),
        max(col("__s").cast("double")).as("__hi"))
      base
        .crossJoin(broadcast(mm))
        .withColumn("__s",
          when(col("__hi") <= col("__lo"), col("__lo"))
            .otherwise(
              col("__lo") + (col("__hi") - col("__lo")) / m *
                least(
                  lit(m - 1).cast("long"),
                  floor(
                    (col("__s").cast("double") - col("__lo")) * m /
                      (col("__hi") - col("__lo"))).cast("long"))))
        .drop("__lo", "__hi")
    }

  /** Exact ROC-AUC of a score against a boolean label — the
    * THRESHOLD-FREE companion of `classifierMetrics`: precision/recall
    * grade one chosen cut; AUC grades the score's whole ranking (the
    * probability a random positive outscores a random negative, ties at
    * half credit — the Mann-Whitney U form), which is what a pipeline
    * reads BEFORE it picks a gate threshold (a score with AUC ~0.5 has no
    * usable cut; the q178→q179 arc chose its precision floor only after
    * the measurement said one existed).
    *
    * Exactness: concordant/tied pair counts are integers; the single
    * division is one truncating `div` into micro-units (q135 rule) —
    * auc_x1e6 = (2·concordant + ties)·500000 div (n_pos·n_neg).
    * Envelope: the numerator needs n_pos·n_neg ≤ 9.2e12 (the
    * tClosenessAudit envelope) — an eval set of 3M balanced rows; past
    * it, sample or pre-bucket the score.
    *
    * Scale shape: NEVER pairwise — one partial-agg shuffle groups rows by
    * score value into (pos, neg) counts, then the cumulative-negative
    * window runs over |distinct scores| rows (bounded by the score's
    * support, not the corpus; an unpartitioned window is safe at that
    * cardinality and the plan's only serial point). Null labels/scores
    * are excluded. Output: one row (n_pos, n_neg, auc_x1e6; auc null
    * when either class is empty — an unmeasurable ranking, the
    * tClosenessAudit unscoreable rule).
    *
    * Continuous-score guard: the serial window's cardinality is |distinct
    * scores| — bounded for the engine's own quantized micro-unit scores,
    * but CORPUS-SIZED for a raw float score a caller might feed. Pass
    * `maxScoreSupport > 0` to pre-bucket the score into at most that many
    * fixed-width bins (order-preserving, one broadcast min/max probe), so
    * the single-partition window can never exceed `maxScoreSupport` rows.
    * AUC then treats within-bin pairs as ties at half credit (the
    * Mann-Whitney tie rule — the exact value as bin width → 0). Default 0
    * = exact — guarded: a cheap HLL support probe refuses past ~1e6
    * distinct scores instead of silently serializing the corpus (see
    * quantizeScore).
    */
  def aucExact(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      maxScoreSupport: Int = 0): DataFrame = {
    val base = quantizeScore(
      scored
        .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
        .select(
          col(scoreCol).as("__s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y")),
      maxScoreSupport)
    val perScore = base
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__pos"), (count(lit(1)) - sum(col("__y"))).as("__neg"))
    val w = Window.orderBy(col("__s")).rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__cumneg", coalesce(sum(col("__neg")).over(w), lit(0L)))
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum(col("__pos") * col("__cumneg")).as("__conc"),
        sum(col("__pos") * col("__neg")).as("__ties"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("((2 * __conc + __ties) * 500000L) div (n_pos * n_neg)"))
          .as("auc_x1e6"))
  }

  /** `aucExact` sliced per group — the fairness/debugging form: a score
    * can rank well corpus-wide yet be at-chance INSIDE one source (the
    * global AUC is then partly "which source is this?" rather than the
    * property being scored), and a per-source gate threshold is only
    * defensible if the within-source ranking carries signal. Same
    * Mann-Whitney fold as `aucExact`, with the per-score grouping keyed
    * (group, score) and the cumulative-negative window PARTITIONED by the
    * group — so the serial point is |distinct scores WITHIN a group|, and
    * groups rank in parallel. One partial-agg shuffle; groups with an
    * empty class report NULL (unmeasurable, the aucExact rule).
    *
    * Output: group, n_pos, n_neg, auc_x1e6 — one row per group value.
    */
  def aucByGroup(
      scored: DataFrame,
      groupCol: String,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val base = scored
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull && col(groupCol).isNotNull)
      .select(
        col(groupCol).as("group"),
        col(scoreCol).as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val perScore = base
      .groupBy(col("group"), col("__s"))
      .agg(sum(col("__y")).as("__pos"), (count(lit(1)) - sum(col("__y"))).as("__neg"))
    val w = Window.partitionBy(col("group")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__cumneg", coalesce(sum(col("__neg")).over(w), lit(0L)))
      .groupBy(col("group"))
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum(col("__pos") * col("__cumneg")).as("__conc"),
        sum(col("__pos") * col("__neg")).as("__ties"))
      .select(
        col("group"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("((2 * __conc + __ties) * 500000L) div (n_pos * n_neg)"))
          .as("auc_x1e6"))
  }

  /** Full threshold sweep — the table a pipeline reads to CHOOSE its gate
    * cut once `aucExact` says a usable ranking exists: one row per
    * candidate threshold t (every distinct score value; the classifier
    * "predict positive" rule is score >= t), carrying the exact confusion
    * counts and integer precision/recall/F1 at that cut. q179's 0.40
    * precision floor was picked from exactly this view of q178; this op
    * generalizes it to any scored frame, so threshold choice is a
    * measurement, not a guess.
    *
    * Exactness: tp/fp at cut t are cumulative (pos, neg) counts over
    * scores >= t — integer window sums in DESCENDING score order; the
    * ratios are the classifierMetrics micro-unit forms (F1 via
    * 2tp/(2tp+fp+fn), no intermediate ratio). Scale shape: identical to
    * aucExact — one partial-agg shuffle to |distinct scores| rows, then
    * the one serial window at that bounded cardinality. Output rows =
    * |distinct scores| (score support, not corpus size).
    *
    * Output: threshold, tp, fp, fn, tn, precision_x1e6, recall_x1e6,
    * f1_x1e6 — sorted consumers pick argmax F1 (or the recall at a
    * precision floor) downstream.
    *
    * Continuous-score guard (`maxScoreSupport > 0`): pre-buckets the
    * score into at most that many fixed-width bins, each represented by
    * its LOWER EDGE — and since every row in a bin scores >= its edge,
    * the confusion counts at each surviving threshold stay EXACT; the
    * bucketing subsamples the candidate thresholds, it does not
    * approximate the counts. Bounds the serial window at
    * `maxScoreSupport` rows for raw float scores. Default 0 = every
    * distinct score — guarded by the quantizeScore HLL support probe
    * (refuses past ~1e6 distinct scores).
    */
  def thresholdSweep(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      maxScoreSupport: Int = 0): DataFrame = {
    val base = quantizeScore(
      scored
        .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
        .select(
          col(scoreCol).as("__s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y")),
      maxScoreSupport)
      .withColumnRenamed("__s", "threshold")
    val perScore = base
      .groupBy(col("threshold"))
      .agg(sum(col("__y")).as("__pos"), (count(lit(1)) - sum(col("__y"))).as("__neg"))
    val cum = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perScore
      .withColumn("tp", sum(col("__pos")).over(cum))
      .withColumn("fp", sum(col("__neg")).over(cum))
      .withColumn("fn", sum(col("__pos")).over(all) - col("tp"))
      .withColumn("tn", sum(col("__neg")).over(all) - col("fp"))
      .select(
        col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0, expr("(tp * 1000000L) div (tp + fp)"))
          .otherwise(lit(0L)).as("precision_x1e6"),
        when(col("tp") + col("fn") > 0, expr("(tp * 1000000L) div (tp + fn)"))
          .otherwise(lit(0L)).as("recall_x1e6"),
        when(expr("2 * tp + fp + fn") > 0,
          expr("(2 * tp * 1000000L) div (2 * tp + fp + fn)"))
          .otherwise(lit(0L)).as("f1_x1e6"))
  }

  /** Exact average precision (area under the precision-recall curve, step
    * form) — ROC-AUC's companion for the IMBALANCED case, which is the
    * normal case for a corpus filter (the class being gated for is rare):
    * ROC-AUC is dominated by the plentiful negatives and can read high
    * while precision is unusable at every cut; AP weights each point by
    * recall gained, so it answers "of what the gate keeps, how much is
    * right" across all cuts at once.
    *
    * Definition (the sklearn step convention, tie-aware): over distinct
    * scores in DESCENDING order, AP = Σ_t (ΔR_t · P_t) where P_t, R_t are
    * precision/recall with all rows scoring >= t predicted positive —
    * algebraically Σ_t pos_t · (cumpos_t / cumall_t) / n_pos with
    * INCLUSIVE cumulative counts, so ties contribute at their group
    * boundary. Exactness: integer counts; per-term precision is one
    * truncating div into micro-units, the final division by n_pos a
    * second (documented two-div form — each replayed identically by the
    * oracle). Scale shape: the aucExact plan — one partial-agg shuffle,
    * one serial window over |distinct scores| rows. NULL when no
    * positives exist (unmeasurable). `maxScoreSupport > 0` applies the
    * aucExact continuous-score guard (order-preserving fixed-width
    * pre-bucketing bounding the serial window; within-bin rows then share
    * a threshold group — the tie-aware step formula absorbs them at the
    * bin boundary); the default exact path carries the quantizeScore HLL
    * support probe (refuses past ~1e6 distinct scores).
    *
    * Output: one row — n_pos, n, ap_x1e6.
    */
  def averagePrecision(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      maxScoreSupport: Int = 0): DataFrame = {
    val base = quantizeScore(
      scored
        .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
        .select(
          col(scoreCol).as("__s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y")),
      maxScoreSupport)
    val perScore = base
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__n"))
    val cum = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("__cumpos", sum(col("__pos")).over(cum))
      .withColumn("__cumall", sum(col("__n")).over(cum))
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__n")).as("n"),
        sum(col("__pos") * expr("(__cumpos * 1000000L) div __cumall")).as("__apnum"))
      .select(
        col("n_pos"), col("n"),
        when(col("n_pos") > 0, expr("__apnum div n_pos")).as("ap_x1e6"))
  }

  /** Cohen's kappa — chance-corrected agreement between two label columns
    * (rater form: two classifiers over the same rows, or a classifier vs
    * the truth). Raw accuracy flatters any pair that shares a majority
    * class (two filters that both say "keep" 95% of the time agree 90%+
    * by luck alone); kappa subtracts the agreement their marginals would
    * produce by chance, which is the honest way to compare a cheap
    * heuristic against a trained replacement before swapping one for the
    * other in a gate.
    *
    * Exact integer form: with n rows, `agree` diagonal count, and
    * S = Σ_c rowtotal_c · coltotal_c (the chance-agreement numerator over
    * the joint class set), kappa = (n·agree − S) / (n² − S). Both
    * numerator and denominator are exact integers; the single scaled
    * division truncates TOWARD ZERO on |numerator| with the sign applied
    * after (Spark `div` truncates, DuckDB `//` floors — they disagree on
    * negatives, and kappa is legitimately negative for worse-than-chance
    * agreement, so the sign-split form is the cross-engine-stable one).
    * NULL when n² == S (a degenerate marginal — e.g. either column
    * constant — makes chance agreement total and kappa undefined).
    *
    * Integer envelope: the chance terms square n in Long arithmetic, so
    * exactness holds to n ≤ ~3.04e9 rows (√Long.MaxValue) — TIGHTER than
    * the n ≤ 9.2e12 envelope the single-multiply micro-unit ops document.
    * Past it, non-ANSI Spark wraps silently where DuckDB errors; shard
    * the frame (kappa over a uniform sample is the production posture at
    * that scale) rather than trusting the wrapped value.
    *
    * Scale shape: one partial-agg shuffle to the |classes|² confusion
    * matrix, then marginal folds over that tiny frame. Null rows in
    * either column are excluded (the classifierMetrics rule).
    *
    * Output: one row — n, agree, kappa_x1e6.
    */
  def cohenKappa(frame: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = frame
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val aTot = cells.groupBy(col("__a").as("__k")).agg(sum(col("__c")).as("__at"))
    val bTot = cells.groupBy(col("__b").as("__k")).agg(sum(col("__c")).as("__bt"))
    val chance = aTot
      .join(bTot, Seq("__k"), "full_outer")
      .agg(sum(coalesce(col("__at"), lit(0L)) * coalesce(col("__bt"), lit(0L))).as("__s"))
    cells
      .agg(
        sum(col("__c")).as("n"),
        sum(when(col("__a") === col("__b"), col("__c")).otherwise(lit(0L))).as("agree"))
      .crossJoin(broadcast(chance))
      .select(
        col("n"), col("agree"),
        when(expr("n * n - __s") =!= 0L,
          expr("""CASE WHEN n * agree >= __s
                 |  THEN ((n * agree - __s) * 1000000L) div (n * n - __s)
                 |  ELSE -(((__s - n * agree) * 1000000L) div (n * n - __s))
                 |END""".stripMargin))
          .as("kappa_x1e6"))
  }

  /** Reliability diagram (calibration bins) — the eval-tier step AFTER
    * ranking quality: q191 (AUC) says whether the score ORDERS documents
    * usefully and q193 where to cut it; this asks whether the score's
    * VALUE means what it claims — among docs scored "~0.8 probability",
    * do ~80% actually carry the label? A gate that consumes the score as
    * a probability (expected-cost thresholds, mixture weighting by
    * confidence, abstention rules) is only sound if this table is near
    * the diagonal; a miscalibrated-but-well-ranked score needs q193's
    * empirical cut instead of its face value.
    *
    * The score is a pseudo-probability in MICRO-UNITS [0, 1e6] (the
    * engine's probability convention); values outside clamp to the edge
    * bins. Bins are `nBins` equal-width slices of that range: bin =
    * min(nBins−1, score·nBins div 1e6) — fixed edges (never data-sized),
    * so bins are comparable across corpora and releases. Per bin:
    * population, positives, mean confidence (integer sum of micro-unit
    * scores, one truncating div), empirical accuracy (pos·1e6 div n), and
    * the |acc − conf| gap on those truncated values. Null labels/scores
    * excluded (the classifierMetrics rule).
    *
    * Scale shape: one partial-agg shuffle to nBins rows — sums collapse
    * map-side; no window anywhere. Envelope: Σ scores per bin ≤ 9.2e18
    * needs n_bin ≤ 9.2e12 (each score ≤ 1e6).
    *
    * Output: bin, n, n_pos, conf_x1e6, acc_x1e6, gap_x1e6.
    */
  def calibrationBins(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"calibrationBins: nBins must be >= 2, got $nBins")
    calibrationBase(scored, labelCol, scoreCol, nBins)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        sum(col("__s")).as("__conf_sum"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        expr("__conf_sum div n").as("conf_x1e6"),
        expr("(n_pos * 1000000L) div n").as("acc_x1e6"),
        abs(expr("(n_pos * 1000000L) div n") - expr("__conf_sum div n")).as("gap_x1e6"))
  }

  /** Expected calibration error — `calibrationBins` folded to the one
    * number a release gate thresholds: ECE = Σ_b (n_b/n)·|acc_b − conf_b|.
    * Computed EXACTLY from the raw per-bin sums, not the truncated
    * per-bin readouts: n_b·|acc_b − conf_b| = |pos_b·1e6 − Σ_b scores| /
    * 1e6 identically (both terms over the same n_b denominator), so
    * ece_x1e6 = (Σ_b |pos_b·1e6 − conf_sum_b|) div n — integer end to
    * end, ONE truncating division total (the per-bin table truncates for
    * display; the fold must not inherit nBins rounding errors). NULL when
    * no rows survive the null filter (unmeasurable). Same plan shape as
    * calibrationBins plus a one-row fold.
    *
    * Output: one row — n, n_bins_used, ece_x1e6.
    */
  def expectedCalibrationError(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"expectedCalibrationError: nBins must be >= 2, got $nBins")
    calibrationBase(scored, labelCol, scoreCol, nBins)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__y")).as("__pos"),
        sum(col("__s")).as("__conf_sum"))
      .agg(
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(abs(col("__pos") * lit(1000000L) - col("__conf_sum"))).as("__gap"))
      .select(
        col("n"), col("n_bins_used"),
        when(col("n") > 0, expr("__gap div n")).as("ece_x1e6"))
  }

  /** Shared prep for the calibration pair: null exclusion, micro-unit
    * clamp to [0, 1e6], the fixed-edge bin index.
    */
  private def calibrationBase(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int): DataFrame =
    scored
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        greatest(lit(0L), least(lit(1000000L), col(scoreCol).cast("long"))).as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .withColumn("bin",
        least(lit(nBins - 1).cast("long"), expr(s"(__s * $nBins) div 1000000L")))

  /** Lift/gains table — the population view of a score's usefulness, the
    * one a budgeted pipeline reads: "if the gate can only afford the top
    * 10% / 20% / … of the corpus, what share of the positives does each
    * prefix capture, and how much better than random is that?" Buckets
    * are equal-population deciles of the score RANKING (ROW_NUMBER
    * semantics via `Splits.rankBuckets` — descending score, id-ascending
    * tie deal, so ties can't swallow a bucket and the table is
    * partition-stable); cumulative gain = captured-positive share at
    * each prefix, lift = that share over the prefix's population share.
    *
    * Exactness: all counts integer; gain is one truncating micro-unit
    * division, lift the documented TWO-division form lift_x1e6 =
    * (gain_x1e6 · 1e6) div pop_x1e6 (the averagePrecision rule — the
    * cross-multiplied single-div form cum_pos·n·1e6 overflows past
    * n ≈ 3e6, this form is safe to n ≤ 9.2e12). NULL gain/lift when no
    * positives exist (unmeasurable). Scale shape: the rank-only
    * rankedGrouped pass (no global window sort), one partial-agg fold to
    * nBuckets rows, the serial window over those nBuckets rows only.
    *
    * Output: bucket (0 = best-scored), n_rows, n_pos, cum_gain_x1e6,
    * lift_x1e6.
    */
  def liftGains(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      idCol: String,
      nBuckets: Int = 10): DataFrame = {
    val base = scored
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        col(idCol).as("__id"),
        col(scoreCol).as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"),
        lit(0).as("__lg_all"))
    val bucketed = graft.operators.Splits
      .rankBuckets(base, "__lg_all", "__s", "__id", nBuckets, ascending = false)
    val perBucket = bucketed
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__y")).as("n_pos"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perBucket
      .withColumn("__cumn", sum(col("n_rows")).over(cum))
      .withColumn("__cump", sum(col("n_pos")).over(cum))
      .withColumn("__totn", sum(col("n_rows")).over(all))
      .withColumn("__totp", sum(col("n_pos")).over(all))
      .select(
        col("bucket"), col("n_rows"), col("n_pos"),
        when(col("__totp") > 0, expr("(__cump * 1000000L) div __totp"))
          .as("cum_gain_x1e6"),
        when(col("__totp") > 0,
          expr("""(((__cump * 1000000L) div __totp) * 1000000L)
                 |  div ((__cumn * 1000000L) div __totn)""".stripMargin))
          .as("lift_x1e6"))
  }

  /** McNemar's test — PAIRED comparison of two binary classifiers over the
    * same rows: does model A beat model B, or do they just disagree
    * randomly? Accuracy deltas (even kappa) ignore the pairing; McNemar
    * looks only at the DISCORDANT cells — b = rows A got right and B got
    * wrong, c = the reverse — because concordant rows carry no evidence
    * either way. The statistic (b−c)²/(b+c) is the gate-swap decision
    * number: "replace the shipped heuristic with the trained filter" is
    * only defensible when it clears a χ²₁ cut (3.84 at p=0.05 — the
    * caller compares against micro-units of that).
    *
    * Exact integer form: correctness is a boolean equality per row
    * (pred == label), b and c are plain counts, and both reported
    * statistics are single truncating divisions of non-negative integers
    * (Spark `div` == DuckDB `//` on non-negatives):
    * chi2_x1e6 = (b−c)²·1e6 div (b+c), and the continuity-corrected
    * chi2cc_x1e6 = max(|b−c|−1, 0)²·1e6 div (b+c). Both NULL when
    * b + c == 0 (no discordant rows — the test is undefined, not "zero").
    *
    * Integer envelope: the ×1e6 carry rides ON TOP of the square, so an
    * all-Long form would wrap once |b−c| exceeds ~3.0e6 (√(Long.Max/1e6)) —
    * a few million asymmetric discordant rows, realistic at corpus scale.
    * The squared term is therefore carried in DECIMAL(38,0) (the
    * fleissKappa/krippendorffAlpha posture; oracle side HUGEINT):
    * (b−c)²·1e6 fits 38 digits to |b−c| ≤ ~3.1e15 with b+c any Long
    * count — effectively unbounded for a paired eval frame.
    *
    * Scale shape: one partial-agg shuffle collapsing to a single row —
    * the 2×2 discordance table folds map-side. Rows with a null label or
    * either null prediction are excluded (the classifierMetrics rule).
    *
    * Output: one row — n, b, c, chi2_x1e6, chi2cc_x1e6.
    */
  def mcnemar(
      frame: DataFrame,
      labelCol: String,
      predACol: String,
      predBCol: String): DataFrame = {
    val aOk = col(predACol) === col(labelCol)
    val bOk = col(predBCol) === col(labelCol)
    frame
      .filter(col(labelCol).isNotNull && col(predACol).isNotNull && col(predBCol).isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(aOk && !bOk, 1L).otherwise(0L)).as("b"),
        sum(when(!aOk && bOk, 1L).otherwise(0L)).as("c"))
      .select(
        col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          expr("""(cast(b - c as decimal(38,0)) * (b - c) * 1000000L)
                 |   div (b + c)""".stripMargin)).as("chi2_x1e6"),
        when(col("b") + col("c") > 0,
          expr("""(cast(greatest(abs(b - c) - 1, 0L) as decimal(38,0))
                 |   * greatest(abs(b - c) - 1, 0L) * 1000000L) div (b + c)""".stripMargin))
          .as("chi2cc_x1e6"))
  }

  /** Poisson-bootstrap confidence interval for a PAIRED accuracy delta —
    * the uncertainty bar on "filter A beats filter B by X points":
    * mcnemar answers IS there a difference, this answers HOW BIG with
    * what spread. The Poisson bootstrap (Chamandy et al., Google — the
    * streaming-scale resampling method) replaces "draw n rows with
    * replacement" with an independent per-row Poisson(1) weight, so ALL
    * `b` resamples fold in ONE corpus pass with B-bounded state — the
    * only bootstrap shape that survives 100 TB (a classic resample would
    * re-shuffle the corpus B times).
    *
    * Deterministic and oracle-replayable: the per-(row, resample) weight
    * derives from a multiplicative hash of (idCol, resample), quantized
    * to the Poisson(1) pmf in 1e-4 steps (P(0)=P(1)=.3679, P(2)=.1839,
    * P(3)=.0613, tail mass at 4) — hash arithmetic stays under 2^63 for
    * any Long id by reducing mod 1e9+7 first. Per resample: weighted
    * accuracy of each predictor (micro-units, one truncating division
    * each), delta = accA − accB. CI = the empirical [2.5%, 97.5%]
    * interval via fixed integer ranks over the cnt sorted RETAINED
    * deltas: rank_lo = ⌈cnt·25/1000⌉, rank_hi = cnt+1−rank_lo, where
    * cnt ≤ b is the count of resamples that survive the zero-weight
    * drop — BOTH ranks derive from the same base, so the interval stays
    * symmetric even when resamples are dropped (cnt == b in practice
    * past a handful of rows; at b = 64, ranks 2 and 63). The rank rule
    * is part of the contract, replayed verbatim by the oracle.
    *
    * Scale shape: one corpus pass with an in-row explode to B weighted
    * copies, partial-aggregated map-side to B rows; every later step
    * (point estimate, rank window) runs over ≤ B rows. A resample with
    * zero total weight (vanishing probability past a few rows) is
    * dropped from the CI rather than read as delta 0.
    *
    * Output: one row — n, b_resamples, delta_x1e6 (full-sample point
    * estimate), ci_lo_x1e6, ci_hi_x1e6.
    */
  def bootstrapDeltaCI(
      frame: DataFrame,
      idCol: String,
      labelCol: String,
      predACol: String,
      predBCol: String,
      b: Int = 64): DataFrame = {
    require(b >= 8 && b <= 1024, s"b must be in [8,1024], got $b")
    import org.apache.spark.sql.expressions.Window
    val base = frame
      .filter(col(labelCol).isNotNull && col(predACol).isNotNull &&
        col(predBCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(idCol).cast("long").as("__id"),
        when(col(predACol) === col(labelCol), 1L).otherwise(0L).as("__a"),
        when(col(predBCol) === col(labelCol), 1L).otherwise(0L).as("__b2"))
    val point = base.agg(
      count(lit(1)).as("n"),
      sum(col("__a")).as("__sa"),
      sum(col("__b2")).as("__sb"))
      .select(
        col("n"),
        when(col("n") > 0,
          expr("(__sa * 1000000L) div n - (__sb * 1000000L) div n"))
          .as("delta_x1e6"))
    val deltas = base
      .select(col("__id"), col("__a"), col("__b2"),
        explode(sequence(lit(0), lit(b - 1))).as("__r"))
      // quantized Poisson(1) weight from the (id, resample) hash
      .withColumn("__u",
        expr("""((((__id % 1000000007L) + 1000000007L) % 1000000007L)
               |  * 2654435761L + __r * 40503L) % 1000000007L % 10000L""".stripMargin))
      .withColumn("__w",
        when(col("__u") < 3679, 0L)
          .when(col("__u") < 7358, 1L)
          .when(col("__u") < 9197, 2L)
          .when(col("__u") < 9810, 3L)
          .otherwise(4L))
      .groupBy(col("__r"))
      .agg(
        sum(col("__w")).as("__nw"),
        sum(col("__w") * col("__a")).as("__wa"),
        sum(col("__w") * col("__b2")).as("__wb"))
      .filter(col("__nw") > 0)
      .select(expr("(__wa * 1000000L) div __nw - (__wb * 1000000L) div __nw")
        .as("__d"))
    val ranked = deltas
      // both windows run over the <= B delta rows — bounded by contract;
      // both CI ranks derive from the RETAINED count __cnt (not the
      // requested b), so a dropped zero-weight resample shifts lo and hi
      // symmetrically instead of mixing a b-based lo with a cnt-based hi
      .withColumn("__rn", row_number().over(Window.orderBy(col("__d"))))
      .withColumn("__cnt", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__rlo", expr("(__cnt * 25 + 999) div 1000"))
      .agg(
        max(col("__cnt")).as("b_resamples"),
        max(when(col("__rn") === col("__rlo"), col("__d"))).as("ci_lo_x1e6"),
        max(when(col("__rn") === col("__cnt") + 1 - col("__rlo"), col("__d")))
          .as("ci_hi_x1e6"))
    point.crossJoin(broadcast(ranked))
      .select(col("n"), col("b_resamples"), col("delta_x1e6"),
        col("ci_lo_x1e6"), col("ci_hi_x1e6"))
  }

  /** Krippendorff's alpha (nominal) — agreement for the panels Fleiss
    * REFUSES: fleissKappa requires a fixed panel size and drops partial
    * panels, but real labeling campaigns are ragged (raters time out,
    * overlap sets differ). Alpha keeps every item with ≥ 2 votes, weighs
    * each by its own panel size, and reduces to the chance-corrected
    * disagreement ratio 1 − D_o/D_e over the coincidence matrix.
    *
    * EXACT integer form — the trick is that the per-item denominator
    * (m_u − 1) is bounded by the panel cap: with L = lcm(1 .. maxRaters−1)
    * every item's coincidence contribution
    * L·(m_u² − Σ_c n_uc²)/(m_u − 1) is an exact integer (the division is
    * always even), so O = Σ_u of that is exact, the margins n_c and
    * E = n² − Σ_c n_c² are plain counts, and
    * alpha = 1 − O·(n−1)/(L·E) needs one sign-split ×1e6 division in
    * DECIMAL(38,0). NULL when E == 0 (every vote one category) or
    * n < 2. Items with fewer than 2 votes — or more than `maxRaters`
    * (a data error under a declared panel cap; folding it in would
    * change L) — are EXCLUDED and counted in n_items_dropped.
    *
    * Integer envelope: O·(n−1)·1e6 stays inside DECIMAL(38,0) to ~1e9
    * total votes at the default cap (maxRaters = 16 → L = lcm(1..15) =
    * 360360) — the fleissKappa envelope; shard by campaign past it.
    *
    * Scale shape: one (item, cat) partial-agg shuffle, item-sized panel
    * stats, category-margin folds — the fleissKappa pipeline with the
    * per-item scaled division replacing the fixed-n filter.
    *
    * Output: one row — n_items, n_votes, n_items_dropped, do_x1e6,
    * de_x1e6, alpha_x1e6.
    */
  def krippendorffAlpha(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      maxRaters: Int = 16): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 17,
      s"maxRaters must be in [2,17] (L = lcm(1..maxRaters-1) must stay small), got $maxRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val lcm: Long = (1 until maxRaters).foldLeft(1L) { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(catCol).as("__cat"))
    val cells = votes.groupBy(col("__i"), col("__cat")).agg(count(lit(1)).as("__c"))
    val items = cells
      .groupBy(col("__i"))
      .agg(sum(col("__c")).as("__m"), sum(col("__c") * col("__c")).as("__sq"))
    val dropped = items.agg(
      sum(when(col("__m") < 2 || col("__m") > maxRaters, 1L).otherwise(0L))
        .as("n_items_dropped"))
    val keptItems = items.filter(col("__m") >= 2 && col("__m") <= maxRaters)
    val oAndN = keptItems.agg(
      count(lit(1)).as("n_items"),
      sum(expr(s"($lcm * (__m * __m - __sq)) div (__m - 1)").cast(dec)).as("__o"),
      sum(col("__m")).cast(dec).as("__n"))
    val margins = cells
      .join(keptItems.select(col("__i")), Seq("__i"))
      .groupBy(col("__cat"))
      .agg(sum(col("__c")).cast(dec).as("__nc"))
      .agg(sum(col("__nc") * col("__nc")).as("__ncsq"))
    oAndN
      .crossJoin(broadcast(margins))
      .crossJoin(broadcast(dropped))
      .select(
        col("n_items"),
        coalesce(col("__n"), lit(0L).cast(dec)).cast("long").as("n_votes"),
        coalesce(col("n_items_dropped"), lit(0L)).as("n_items_dropped"),
        coalesce(col("__o"), lit(0L).cast(dec)).as("__o"),
        (coalesce(col("__n"), lit(0L).cast(dec)) * coalesce(col("__n"), lit(0L).cast(dec))
          - coalesce(col("__ncsq"), lit(0L).cast(dec))).as("__e"),
        coalesce(col("__n"), lit(0L).cast(dec)).as("__nd"))
      .select(
        col("n_items"), col("n_votes"), col("n_items_dropped"),
        when(col("__nd") > 0, expr(s"(__o * 1000000L) div (${lcm}L * __nd)"))
          .as("do_x1e6"),
        when(col("__nd") > 1, expr("(__e * 1000000L) div (__nd * (__nd - 1))"))
          .as("de_x1e6"),
        when(col("__e") > 0 && col("__nd") > 1,
          expr(s"""CASE WHEN ${lcm}L * __e >= __o * (__nd - 1)
                 |  THEN ((${lcm}L * __e - __o * (__nd - 1)) * 1000000L)
                 |         div (${lcm}L * __e)
                 |  ELSE -(((__o * (__nd - 1) - ${lcm}L * __e) * 1000000L)
                 |         div (${lcm}L * __e))
                 |END""".stripMargin)).as("alpha_x1e6"))
  }

  /** Krippendorff's alpha, INTERVAL distance — the agreement number for
    * RATING panels (the common labeling-campaign shape: "score this
    * document 0–3 for quality"), where nominal alpha is wrong on
    * purpose: it charges a 2-vs-3 disagreement the same as 0-vs-3.
    * Interval alpha weighs each disagreeing vote pair by the SQUARED
    * value difference δ²(c,k) = (c−k)², so near-misses cost little and
    * opposite-end votes dominate — the standard metric-data form of the
    * coefficient. Panels stay ragged (the krippendorffAlpha rule: every
    * item with 2..maxRaters votes kept, weighted by its own size).
    *
    * EXACT integer form — the nominal lcm trick generalizes because the
    * per-item division is still by (m_u − 1): with
    * L = lcm(1 .. maxRaters−1), L div (m_u−1) is EXACTLY integral, so
    * each item's observed-disagreement contribution
    * (L div (m_u−1)) · 2 · Σ_{c<k} n_uc·n_uk·δ²(c,k) is an exact
    * integer (nominal alpha is the δ² = 1 special case — there
    * 2·Σ_{c<k} n_uc·n_uk = m_u² − Σ_c n_uc², the q214 spelling).
    * O = Σ_u of that; E = 2·Σ_{c<k} n_c·n_k·δ²(c,k) over kept-item
    * margins; alpha = 1 − O·(n−1)/(L·E), one sign-split ×1e6 division —
    * all carried in DECIMAL(38,0) (oracle: HUGEINT).
    *
    * Category values must be INTEGERS on a rating scale (cast to long);
    * δ² is then exact on both engines. Integer envelope: L·E·1e6 must
    * fit 38 digits — with value span s, E ≤ n²·s², so span ≤ ~100 keeps
    * the nominal tier's ~1e9-vote envelope (span ≤ 1e3 still allows
    * ~1e8 votes); rating scales are single digits in practice. Shard by
    * campaign past it.
    *
    * Scale shape: the krippendorffAlpha pipeline plus ONE within-item
    * self-join of the (item, value) cell frame — fan-out bounded by
    * C(maxRaters, 2) ≤ 120 pairs per item (an item has ≤ maxRaters
    * distinct values), hash-keyed on item; the category-margin pair fold
    * runs on the value-support-sized frame (broadcast — rating scales
    * are tiny). Items with < 2 or > maxRaters votes are EXCLUDED and
    * counted (the nominal rule).
    *
    * Output: one row — n_items, n_votes, n_items_dropped, do_x1e6,
    * de_x1e6, alpha_x1e6.
    */
  def krippendorffAlphaInterval(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      maxRaters: Int = 16): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 17,
      s"maxRaters must be in [2,17] (L = lcm(1..maxRaters-1) must stay small), got $maxRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val lcm: Long = (1 until maxRaters).foldLeft(1L) { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(catCol).cast("long").as("__v"))
    val cells = votes.groupBy(col("__i"), col("__v")).agg(count(lit(1)).as("__c"))
    val items = cells.groupBy(col("__i")).agg(sum(col("__c")).as("__m"))
    val dropped = items.agg(
      sum(when(col("__m") < 2 || col("__m") > maxRaters, 1L).otherwise(0L))
        .as("n_items_dropped"))
    val keptItems = items.filter(col("__m") >= 2 && col("__m") <= maxRaters)
    val counts = keptItems.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(col("__m")), lit(0L)).cast(dec).as("__n"))
    val keptCells = cells.join(keptItems, Seq("__i"))
    // within-item disagreement pairs: value-ordered self-join, <= C(16,2)
    // rows per item, hash-keyed on __i
    val right = keptCells.select(
      col("__i"), col("__v").as("__v2"), col("__c").as("__c2"))
    val perItem = keptCells
      .join(right, Seq("__i"))
      .filter(col("__v") < col("__v2"))
      .groupBy(col("__i"), col("__m"))
      .agg(sum(
        col("__c").cast(dec) * col("__c2") *
          ((col("__v") - col("__v2")).cast(dec) * (col("__v") - col("__v2"))))
        .as("__p"))
    val oAgg = perItem
      .agg(coalesce(
        sum(expr(s"cast((${lcm}L div (__m - 1)) as decimal(38,0)) * 2 * __p")),
        lit(0).cast(dec)).as("__o"))
    val margins = keptCells.groupBy(col("__v")).agg(sum(col("__c")).as("__nc"))
    val margins2 = margins.select(col("__v").as("__w2"), col("__nc").as("__nc2"))
    val eAgg = margins
      .join(broadcast(margins2), col("__v") < col("__w2"))
      .agg(coalesce(
        sum(col("__nc").cast(dec) * col("__nc2") * lit(2) *
          ((col("__v") - col("__w2")).cast(dec) * (col("__v") - col("__w2")))),
        lit(0).cast(dec)).as("__e"))
    counts
      .crossJoin(broadcast(oAgg))
      .crossJoin(broadcast(eAgg))
      .crossJoin(broadcast(dropped))
      .select(
        col("n_items"),
        col("__n").cast("long").as("n_votes"),
        coalesce(col("n_items_dropped"), lit(0L)).as("n_items_dropped"),
        col("__o"), col("__e"), col("__n").as("__nd"))
      .select(
        col("n_items"), col("n_votes"), col("n_items_dropped"),
        when(col("__nd") > 0, expr(s"(__o * 1000000L) div (${lcm}L * __nd)"))
          .as("do_x1e6"),
        when(col("__nd") > 1, expr("(__e * 1000000L) div (__nd * (__nd - 1))"))
          .as("de_x1e6"),
        when(col("__e") > 0 && col("__nd") > 1,
          expr(s"""CASE WHEN ${lcm}L * __e >= __o * (__nd - 1)
                 |  THEN ((${lcm}L * __e - __o * (__nd - 1)) * 1000000L)
                 |         div (${lcm}L * __e)
                 |  ELSE -(((__o * (__nd - 1) - ${lcm}L * __e) * 1000000L)
                 |         div (${lcm}L * __e))
                 |END""".stripMargin)).as("alpha_x1e6"))
  }

  /** Krippendorff's alpha, ORDINAL distance — the third standard form,
    * for RANKED scales whose steps are not equal intervals ("poor <
    * fair < good < excellent"): interval alpha assumes a 1-vs-3 gap is
    * exactly 4× a 1-vs-2 gap, which is only defensible for genuinely
    * metric ratings; ordinal distance instead weighs a (c,k) disagreement
    * by how much of the PANEL MASS sits between the two ranks —
    * δ_ck = Σ_{g=c..k} n_g − (n_c + n_k)/2 over the kept-vote margins —
    * so crossing a heavily-populated middle rank costs more than skipping
    * a rare one. The standard Krippendorff ordinal metric.
    *
    * EXACT integer form: the halves clear by carrying (2δ)² = integer
    * (2δ_ck = 2·cum(k) − 2·cum(c) + n_c − n_k from one cumulative margin
    * fold); the uniform ×4 scales O and E identically, so ALPHA is
    * unchanged while do/de are reported in (2δ)² units (documented).
    * The lcm trick is untouched (the per-item division is still by
    * m_u − 1); one sign-split ×1e6 division, DECIMAL(38,0)/HUGEINT.
    *
    * Integer envelope: δ grows with margin counts (unlike interval's
    * fixed scale), so E ≤ 4·n⁴ — L·E·1e6 fits 38 digits to ~1e6–1e7
    * total votes: an ANNOTATION-CAMPAIGN envelope (the op's actual
    * domain), not a corpus one; shard by campaign past it.
    *
    * Scale shape: the interval pipeline + one value-support-sized
    * cumulative margin window (the zipfFit bounded-window posture) and a
    * broadcast distance table joined into both pair folds. Ragged
    * panels kept; < 2 or > maxRaters votes dropped + counted.
    *
    * Output: one row — n_items, n_votes, n_items_dropped, do_x4x1e6,
    * de_x4x1e6, alpha_x1e6.
    */
  def krippendorffAlphaOrdinal(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      maxRaters: Int = 16): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 17,
      s"maxRaters must be in [2,17] (L = lcm(1..maxRaters-1) must stay small), got $maxRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val lcm: Long = (1 until maxRaters).foldLeft(1L) { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(catCol).cast("long").as("__v"))
    val cells = votes.groupBy(col("__i"), col("__v")).agg(count(lit(1)).as("__c"))
    val items = cells.groupBy(col("__i")).agg(sum(col("__c")).as("__m"))
    val dropped = items.agg(
      sum(when(col("__m") < 2 || col("__m") > maxRaters, 1L).otherwise(0L))
        .as("n_items_dropped"))
    val keptItems = items.filter(col("__m") >= 2 && col("__m") <= maxRaters)
    val counts = keptItems.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(col("__m")), lit(0L)).cast(dec).as("__n"))
    val keptCells = cells.join(keptItems, Seq("__i"))
    // kept-vote margins + the cumulative fold the ordinal metric reads;
    // the window runs over |distinct values| rows (rating scales — tiny)
    val margins = keptCells.groupBy(col("__v")).agg(sum(col("__c")).as("__nc"))
      .withColumn("__cum",
        sum(col("__nc")).over(Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // distance table per value pair: (2 delta)^2, exact integer
    val mRight = margins.select(
      col("__v").as("__w2"), col("__nc").as("__nc2"), col("__cum").as("__cum2"))
    val dist = margins
      .join(broadcast(mRight), col("__v") < col("__w2"))
      .select(
        col("__v"), col("__w2"), col("__nc"), col("__nc2"),
        ((lit(2) * (col("__cum2") - col("__cum")) + col("__nc") - col("__nc2")).cast(dec) *
          (lit(2) * (col("__cum2") - col("__cum")) + col("__nc") - col("__nc2")))
          .as("__d2"))
    // NB: 2*delta = 2*cum(k) - 2*cum(c) + n_c - n_k and cum(k) - cum(c)
    // = (cum2 - cum) for c < k — the spelling above
    val right = keptCells.select(
      col("__i"), col("__v").as("__v2"), col("__c").as("__c2"))
    val perItem = keptCells
      .join(right, Seq("__i"))
      .filter(col("__v") < col("__v2"))
      .join(broadcast(dist.select(col("__v"), col("__w2").as("__v2"), col("__d2"))),
        Seq("__v", "__v2"))
      .groupBy(col("__i"), col("__m"))
      .agg(sum(col("__c").cast(dec) * col("__c2") * col("__d2")).as("__p"))
    val oAgg = perItem
      .agg(coalesce(
        sum(expr(s"cast((${lcm}L div (__m - 1)) as decimal(38,0)) * 2 * __p")),
        lit(0).cast(dec)).as("__o"))
    val eAgg = dist
      .agg(coalesce(
        sum(col("__nc").cast(dec) * col("__nc2") * lit(2) * col("__d2")),
        lit(0).cast(dec)).as("__e"))
    counts
      .crossJoin(broadcast(oAgg))
      .crossJoin(broadcast(eAgg))
      .crossJoin(broadcast(dropped))
      .select(
        col("n_items"),
        col("__n").cast("long").as("n_votes"),
        coalesce(col("n_items_dropped"), lit(0L)).as("n_items_dropped"),
        col("__o"), col("__e"), col("__n").as("__nd"))
      .select(
        col("n_items"), col("n_votes"), col("n_items_dropped"),
        when(col("__nd") > 0, expr(s"(__o * 1000000L) div (${lcm}L * __nd)"))
          .as("do_x4x1e6"),
        when(col("__nd") > 1, expr("(__e * 1000000L) div (__nd * (__nd - 1))"))
          .as("de_x4x1e6"),
        when(col("__e") > 0 && col("__nd") > 1,
          expr(s"""CASE WHEN ${lcm}L * __e >= __o * (__nd - 1)
                 |  THEN ((${lcm}L * __e - __o * (__nd - 1)) * 1000000L)
                 |         div (${lcm}L * __e)
                 |  ELSE -(((__o * (__nd - 1) - ${lcm}L * __e) * 1000000L)
                 |         div (${lcm}L * __e))
                 |END""".stripMargin)).as("alpha_x1e6"))
  }

  /** Fleiss' kappa — chance-corrected agreement for a PANEL of raters
    * (cohenKappa generalized past two): `frame` holds one vote per row
    * (item, rater, category), the shape of every labeling campaign —
    * n human annotators per document, or n heuristic gates voting on the
    * same corpus slice. This is the number that says whether a label set
    * is trustworthy enough to train the filter on, BEFORE aucExact/q185
    * ask whether the trained filter learned anything.
    *
    * Fleiss assumes a FIXED panel size: items with a vote count other
    * than `nRaters` (partial panels, duplicate raters) are EXCLUDED and
    * reported in n_items_dropped — silently folding a 2-vote item into a
    * 3-rater formula shifts P̄ with no warning. Votes are counted per
    * (item, category): a rater voting twice for one item is two votes
    * (the standard count-table form — de-dup upstream if raters can
    * resubmit).
    *
    * Exact integer form (micro-units): with N kept items, n raters,
    * n_ic the per-item-category counts, A = Σ_i Σ_c n_ic(n_ic−1),
    * B = N·n(n−1), C = Σ_c (Σ_i n_ic)², D = (Nn)²:
    * P̄ = A/B, P̄ₑ = C/D, kappa = (A·D − C·B) / (B·(D − C)). All four
    * terms are exact integers carried in DECIMAL(38,0) (D alone squares
    * the total vote count, past Long immediately at scale); the single
    * ×1e6 division is sign-split (kappa is legitimately negative below
    * chance; Spark `div` truncates, DuckDB `//` floors — they disagree
    * on negatives). NULL when D == C (every kept vote in one category —
    * chance agreement is total, kappa undefined).
    *
    * Integer envelope: A·D·1e6 must fit DECIMAL(38,0), which holds to
    * ~1e9 total kept votes (N·n ≤ 1e9 → D ≤ 1e18, A < N·n² small side,
    * product ≤ ~1e35) — an annotation-panel-sized envelope, not a
    * web-corpus one; shard by label campaign past it.
    *
    * Scale shape: one (item, category) partial-agg shuffle, one
    * item-sized total for the panel filter, then category-count folds on
    * vote-table-sized frames; nothing driver-side. Null item/rater/
    * category rows are excluded.
    *
    * Output: one row — n_items, n_raters, n_items_dropped, pbar_x1e6,
    * pe_x1e6, kappa_x1e6.
    */
  def fleissKappa(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"fleissKappa needs a panel of >= 2 raters, got $nRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(catCol).as("__cat"))
    val cells = votes.groupBy(col("__i"), col("__cat")).agg(count(lit(1)).as("__c"))
    val itemTot = cells.groupBy(col("__i")).agg(sum(col("__c")).as("__tot"))
    val dropped = itemTot.agg(
      sum(when(col("__tot") =!= nRaters, 1L).otherwise(0L)).as("n_items_dropped"))
    val kept = cells
      .join(itemTot.filter(col("__tot") === nRaters).select(col("__i")), Seq("__i"))
    // A (within-item agreement numerator) and N fold in one pass; the
    // category marginals C fold over the same kept cell frame
    val an = kept.agg(
      sum((col("__c") * (col("__c") - 1)).cast(dec)).as("__a"),
      countDistinct(col("__i")).cast(dec).as("__nitems"))
    val cm = kept
      .groupBy(col("__cat"))
      .agg(sum(col("__c")).cast(dec).as("__ct"))
      .agg(sum(col("__ct") * col("__ct")).as("__csq"))
    an.crossJoin(broadcast(cm))
      .crossJoin(broadcast(dropped))
      .select(
        col("__nitems").cast("long").as("n_items"),
        lit(nRaters.toLong).as("n_raters"),
        coalesce(col("n_items_dropped"), lit(0L)).as("n_items_dropped"),
        (col("__nitems") * lit(nRaters)).as("__nn"),
        (col("__nitems") * lit(nRaters) * lit(nRaters - 1)).as("__b"),
        coalesce(col("__a"), lit(0L).cast(dec)).as("__a"),
        coalesce(col("__csq"), lit(0L).cast(dec)).as("__csq"))
      .select(
        col("n_items"), col("n_raters"), col("n_items_dropped"),
        when(col("__b") > 0, expr("(__a * 1000000L) div __b")).as("pbar_x1e6"),
        when(col("__nn") > 0, expr("(__csq * 1000000L) div (__nn * __nn)")).as("pe_x1e6"),
        when(col("__nn") * col("__nn") - col("__csq") =!= 0 && col("__b") > 0,
          expr("""CASE WHEN __a * (__nn * __nn) >= __csq * __b
                 |  THEN ((__a * (__nn * __nn) - __csq * __b) * 1000000L)
                 |         div (__b * (__nn * __nn - __csq))
                 |  ELSE -(((__csq * __b - __a * (__nn * __nn)) * 1000000L)
                 |         div (__b * (__nn * __nn - __csq)))
                 |END""".stripMargin)).as("kappa_x1e6"))
  }

  /** Gwet's AC1 — the agreement coefficient that survives the kappa
    * PREVALENCE PARADOX: when one category dominates (the common corpus-
    * labeling shape — 95% of documents are "keep"), kappa and alpha read
    * near-zero for panels that agree on almost everything, because their
    * chance term is built from the skewed margins themselves. AC1's
    * chance term uses the probability that a rater votes a category AND
    * the vote was random — pe = (1/(K−1))·Σ_k π_k(1−π_k), which SHRINKS
    * as prevalence skews — so a high-prevalence high-agreement panel
    * reads high, matching rater-quality intuition (Gwet 2008, "Computing
    * inter-rater reliability and its variance in the presence of high
    * agreement"). Run next to krippendorffAlpha: alpha ≈ AC1 on balanced
    * panels; alpha ≪ AC1 flags prevalence skew, not rater noise.
    *
    * Ragged panels kept (the alpha rule, not the Fleiss rule): every
    * item with 2..maxRaters votes contributes, weighted by its own panel
    * size; items outside that band are dropped and counted.
    *
    * EXACT integer form: with L = lcm(1..maxRaters), both per-item
    * denominators divide L exactly — r_i | L and r_i(r_i−1) | L (r_i and
    * r_i−1 are coprime, both ≤ maxRaters) — so
    *   A   = Σ_i (L·Σ_k r_ik(r_ik−1)) div (r_i(r_i−1))   (pa = A/(nL))
    *   S_k = Σ_i (L·r_ik) div r_i                        (π_k = S_k/(nL))
    *   E   = Σ_k S_k·(nL − S_k)            (pe = E/((K−1)·n²·L²))
    * are exact integers, and
    *   AC1 = (A·(K−1)·n·L − E) / ((K−1)·n²·L² − E)
    * needs one sign-split ×1e6 division in DECIMAL(38,0) (oracle:
    * HUGEINT). K = categories observed among kept votes. NULL when the
    * denominator is 0 (single observed category — chance is total).
    *
    * Integer envelope: (K−1)·n²·L²·1e6 within 38 digits — at the default
    * cap (L = lcm(1..16) = 720720, L² ≈ 5.2e11) that holds to ~1e9 kept
    * items at double-digit K; shard by campaign past it (the kappa/alpha
    * envelope).
    *
    * Scale shape: the krippendorffAlpha pipeline — one (item, category)
    * partial-agg shuffle, item-sized folds, category-margin folds on a
    * category-sized frame; nothing driver-side.
    *
    * Output: one row — n_items, n_votes, n_items_dropped, n_categories,
    * pa_x1e6, pe_x1e6, ac1_x1e6.
    */
  def gwetAC1(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      maxRaters: Int = 16): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 16,
      s"maxRaters must be in [2,16] (L = lcm(1..maxRaters) must stay small), got $maxRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val lcm: Long = (1 to maxRaters).foldLeft(1L) { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(catCol).as("__cat"))
    val cells = votes.groupBy(col("__i"), col("__cat")).agg(count(lit(1)).as("__c"))
    val items = cells
      .groupBy(col("__i"))
      .agg(
        sum(col("__c")).as("__m"),
        sum(col("__c") * (col("__c") - 1)).as("__aa"))
    val dropped = items.agg(
      sum(when(col("__m") < 2 || col("__m") > maxRaters, 1L).otherwise(0L))
        .as("n_items_dropped"))
    val keptItems = items.filter(col("__m") >= 2 && col("__m") <= maxRaters)
    // A and n fold over kept items; the per-item division is exact by
    // construction (r_i(r_i−1) | L), so the sum is the exact rational
    // numerator of pa over denominator n·L
    val aAndN = keptItems.agg(
      count(lit(1)).as("n_items"),
      sum(expr(s"($lcm * __aa) div (__m * (__m - 1))").cast(dec)).as("__a"),
      sum(col("__m")).cast(dec).as("__n"))
    // per-category S_k = Σ_i L·r_ik/r_i (exact: r_i | L), then E and K
    val margins = cells
      .join(keptItems.select(col("__i"), col("__m")), Seq("__i"))
      .groupBy(col("__cat"))
      .agg(sum(expr(s"($lcm * __c) div __m").cast(dec)).as("__s"))
    aAndN
      .crossJoin(broadcast(
        margins.agg(
          count(lit(1)).as("n_categories"),
          sum(col("__s") * col("__s")).as("__ssq"))))
      .crossJoin(broadcast(dropped))
      .select(
        col("n_items").as("__ni"),
        coalesce(col("__n"), lit(0L).cast(dec)).as("__nv"),
        coalesce(col("n_items_dropped"), lit(0L)).as("n_items_dropped"),
        coalesce(col("n_categories"), lit(0L)).as("n_categories"),
        coalesce(col("__a"), lit(0L).cast(dec)).as("__a"),
        // E = Σ S_k(nL − S_k) = nL·ΣS_k − ΣS_k² — and ΣS_k = n·L exactly
        // (every kept vote contributes L/r_i to exactly one category and
        // Σ_k r_ik = r_i), so E = (nL)² − ΣS_k²
        (col("n_items").cast(dec) * lit(lcm) * col("n_items").cast(dec) * lit(lcm)
          - coalesce(col("__ssq"), lit(0L).cast(dec))).as("__e"),
        col("n_items").cast(dec).as("__nd"))
      .select(
        col("__ni").as("n_items"),
        col("__nv").cast("long").as("n_votes"),
        col("n_items_dropped"),
        col("n_categories"),
        when(col("__nd") > 0, expr(s"(__a * 1000000L) div (__nd * ${lcm}L)"))
          .as("pa_x1e6"),
        when(col("__nd") > 0 && col("n_categories") > 1,
          expr(s"""(__e * 1000000L)
                 |  div ((n_categories - 1) * __nd * __nd * ${lcm}L * ${lcm}L)"""
            .stripMargin)).as("pe_x1e6"),
        when(col("__nd") > 0 && col("n_categories") > 1
          && expr(s"(n_categories - 1) * __nd * __nd * ${lcm}L * ${lcm}L - __e") =!= 0,
          expr(s"""CASE WHEN __a * (n_categories - 1) * __nd * ${lcm}L >= __e
                 |  THEN ((__a * (n_categories - 1) * __nd * ${lcm}L - __e) * 1000000L)
                 |    div ((n_categories - 1) * __nd * __nd * ${lcm}L * ${lcm}L - __e)
                 |  ELSE -(((__e - __a * (n_categories - 1) * __nd * ${lcm}L) * 1000000L)
                 |    div ((n_categories - 1) * __nd * __nd * ${lcm}L * ${lcm}L - __e))
                 |END""".stripMargin)).as("ac1_x1e6"))
  }

  /** Leave-one-out rater reliability — the agreement tier's
    * measurement→ACTION diagnostic: per rater, Krippendorff's alpha
    * (nominal) recomputed WITHOUT that rater's votes, next to the full-
    * panel alpha. A rater whose removal RAISES alpha by ≥
    * `flagDeltaX1e6` micro-units is flagged — they are adding noise, not
    * signal, and the campaign should retrain or drop them (the q201 /
    * contamination-gate pattern applied to the labeling pipeline: q214
    * measures the panel, this names the rater to act on).
    *
    * Exact integer form throughout — each leave-one-out alpha is the
    * krippendorffAlpha computation verbatim (same L = lcm(1..maxRaters−1)
    * carry, same 2..maxRaters panel band, same sign-split ×1e6
    * division), grouped by the excluded rater; delta subtracts the two
    * already-floored micro-unit values (so it is exact in the reported
    * units, documented rather than re-derived from rationals). NULL
    * alphas (degenerate remainder) yield NULL delta and flagged = false.
    *
    * Scale shape: the vote table is exploded ×R (one copy per excluded
    * rater) through a broadcast of the panel-sized rater list — the
    * bounded in-row-explode posture of bootstrapDeltaCI's ×B, here
    * bounded by the panel cap since R ≤ distinct raters of a campaign —
    * then the alpha pipeline runs keyed by excluded rater: (ex, item,
    * cat) partial-agg shuffle, (ex, item) folds, (ex, cat) margin folds,
    * one R-sized join. Nothing driver-side; no window wider than the
    * R-row result.
    *
    * Output: one row per rater — rater, n_votes_rater, n_items, n_votes,
    * alpha_loo_x1e6, alpha_full_x1e6, delta_x1e6, flagged.
    */
  def krippendorffAlphaLeaveOneOut(
      frame: DataFrame,
      itemCol: String,
      raterCol: String,
      catCol: String,
      maxRaters: Int = 16,
      flagDeltaX1e6: Long = 20000L): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 17,
      s"maxRaters must be in [2,17] (L = lcm(1..maxRaters-1) must stay small), got $maxRaters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val lcm: Long = (1 until maxRaters).foldLeft(1L) { (a, b) =>
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val votes = frame
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull && col(catCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"), col(catCol).as("__cat"))
      // r16: materialize ONCE — the narrow vote table feeds FOUR consumers
      // (rater list, the LOO pipeline, per-rater counts, and the full-panel
      // alpha below); without the cut each re-executes the caller's whole
      // panel derivation (q220's document tokenization ran 4x here). Same
      // eager-checkpoint sharing discipline as jaccardPairs.
      .localCheckpoint(true)
    val raters = votes.select(col("__r").as("__ex")).distinct()
    val loo = votes.crossJoin(broadcast(raters)).filter(col("__r") =!= col("__ex"))
    val cells = loo
      .groupBy(col("__ex"), col("__i"), col("__cat"))
      .agg(count(lit(1)).as("__c"))
    val items = cells
      .groupBy(col("__ex"), col("__i"))
      .agg(sum(col("__c")).as("__m"), sum(col("__c") * col("__c")).as("__sq"))
    val keptItems = items.filter(col("__m") >= 2 && col("__m") <= maxRaters)
    val oAndN = keptItems
      .groupBy(col("__ex"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(expr(s"($lcm * (__m * __m - __sq)) div (__m - 1)").cast(dec)).as("__o"),
        sum(col("__m")).cast(dec).as("__n"))
    val margins = cells
      .join(keptItems.select(col("__ex"), col("__i")), Seq("__ex", "__i"))
      .groupBy(col("__ex"), col("__cat"))
      .agg(sum(col("__c")).cast(dec).as("__nc"))
      .groupBy(col("__ex"))
      .agg(sum(col("__nc") * col("__nc")).as("__ncsq"))
    val perRater = oAndN
      .join(margins, Seq("__ex"), "left")
      .select(
        col("__ex"), col("n_items"),
        col("__n").cast("long").as("n_votes"),
        col("__o"),
        (col("__n") * col("__n") - coalesce(col("__ncsq"), lit(0L).cast(dec))).as("__e"),
        col("__n").as("__nd"))
      .select(
        col("__ex"), col("n_items"), col("n_votes"),
        when(col("__e") > 0 && col("__nd") > 1,
          expr(s"""CASE WHEN ${lcm}L * __e >= __o * (__nd - 1)
                 |  THEN ((${lcm}L * __e - __o * (__nd - 1)) * 1000000L)
                 |         div (${lcm}L * __e)
                 |  ELSE -(((__o * (__nd - 1) - ${lcm}L * __e) * 1000000L)
                 |         div (${lcm}L * __e))
                 |END""".stripMargin)).as("alpha_loo_x1e6"))
    // full-panel alpha off the SAME checkpointed votes (not the raw frame:
    // that would re-run the caller's panel derivation a fifth time)
    val full = krippendorffAlpha(votes, "__i", "__r", "__cat", maxRaters)
      .select(col("alpha_x1e6").as("alpha_full_x1e6"))
    val raterCounts = votes
      .groupBy(col("__r").as("__ex"))
      .agg(count(lit(1)).as("n_votes_rater"))
    perRater
      .join(raterCounts, Seq("__ex"))
      .crossJoin(broadcast(full))
      .select(
        col("__ex").as("rater"),
        col("n_votes_rater"), col("n_items"), col("n_votes"),
        col("alpha_loo_x1e6"), col("alpha_full_x1e6"),
        (col("alpha_loo_x1e6") - col("alpha_full_x1e6")).as("delta_x1e6"),
        coalesce(
          col("alpha_loo_x1e6") - col("alpha_full_x1e6") >= flagDeltaX1e6,
          lit(false)).as("flagged"))
  }
}
