package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splits for training pipelines.
  *
  * `randomSplit` is seed- and partitioning-dependent: the same row can land
  * in different splits across runs, cluster sizes, or after a repartition —
  * unacceptable for train/val/test hygiene at corpus scale. `assignSplit`
  * instead derives the split from a multiplicative hash of a stable key:
  * pure per-row projection (zero shuffle, no RNG state), the same row maps
  * to the same split on any cluster forever, and fractions hold in
  * expectation over the key distribution.
  */
object Splits {

  private val P = graft.functions.PolyHashExpr.P // 1e9+7, shared engine prime
  private val K = 2654435761L                    // Knuth multiplicative constant

  /** Stable bucket in [0, buckets) from a numeric key — safe for any Long
    * key (reduce mod P first so the multiply cannot overflow).
    */
  def bucketOf(key: Column, buckets: Int): Column =
    ((((key % P) + P) % P) * K % P % buckets).cast("int")

  /** Split-label column for `fractions` (name -> weight, normalized over
    * their sum; order defines the bucket ranges). Rows hash into `buckets`
    * cells; cumulative-fraction boundaries assign the label.
    */
  def splitLabel(key: Column, fractions: Seq[(String, Double)], buckets: Int = 10000): Column = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), "fractions must be positive")
    val total = fractions.map(_._2).sum
    val bounds = fractions
      .scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail
      .map(f => math.round(f * buckets))
    val b = bucketOf(key, buckets)
    fractions.map(_._1).zip(bounds).init
      .foldRight(lit(fractions.last._1)) { case ((name, bound), rest) =>
        when(b < bound, name).otherwise(rest)
      }
  }

  /** df + a `split` column (see splitLabel). */
  def assignSplit(
      df: DataFrame,
      keyCol: String,
      fractions: Seq[(String, Double)],
      buckets: Int = 10000): DataFrame =
    df.withColumn("split", splitLabel(col(keyCol), fractions, buckets))

  /** LEAKAGE-FREE split assignment: rows connected by a near-duplicate
    * edge must land in the SAME split, or test answers leak into train
    * verbatim — the failure `assignSplit` (per-row hashing) cannot
    * prevent, and the reason eval decontamination alone is insufficient
    * once near-dups exist INSIDE the corpus. Split identity is decided by
    * the near-dup CLUSTER: hash the connected-component representative
    * (minimum id; isolated rows represent themselves), not the row.
    *
    * Scale shape: components ride `Dedup.connectedComponents` over the
    * pair graph (shuffle ∝ edges per round — the pair graph is orders of
    * magnitude smaller than the corpus); the corpus itself pays one
    * left join against the edge-touched labels plus the zero-shuffle hash
    * projection. Deterministic end to end: same corpus + same pairs =
    * same splits on any cluster.
    *
    * Output: input columns + group_key (component rep) + split.
    */
  def leakFreeSplit(
      df: DataFrame,
      pairs: DataFrame,
      keyCol: String,
      fractions: Seq[(String, Double)],
      buckets: Int = 10000): DataFrame = {
    val labels = graft.operators.Dedup.connectedComponents(pairs)
    df.join(labels.withColumnRenamed("id", keyCol), Seq(keyCol), "left")
      .withColumn("group_key", coalesce(col("label"), col(keyCol)))
      .drop("label")
      .withColumn("split", splitLabel(col("group_key"), fractions, buckets))
  }

  /** Deterministic mixture sampling: keep each row with a per-source rate
    * (corpus mixing — upsample nothing, downsample over-represented
    * sources to target weights). The keep decision is the key's hash
    * bucket against the source's rate, so the SAME rows are kept on any
    * cluster, any run, any partitioning — a reproducibility property
    * `sample()` cannot give — and a rate change keeps maximal overlap with
    * the previous sample (buckets below both rates stay kept). Zero
    * shuffle: a pure per-row filter.
    */
  def mixtureSample(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      buckets: Int = 10000): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val b = bucketOf(col(keyCol), buckets)
    val cut = rates.foldLeft(lit(math.round(defaultRate * buckets).toInt)) {
      case (rest, (src, r)) =>
        when(col(sourceCol) === src, lit(math.round(r * buckets).toInt)).otherwise(rest)
    }
    df.filter(b < cut)
  }

  /** Deterministic PER-ROW weighted Bernoulli sampling: keep each row with
    * probability proportional to its own weight column (clamped to [0,1]
    * after `scale`) — the continuous-weight sibling of `mixtureSample`'s
    * per-source rates, for quality-score-weighted downsampling ("keep good
    * documents more often") where the rate varies row by row.
    *
    * The decision is the stable hash bucket of the key against the row's
    * own cut, so the kept set is identical on any cluster / run /
    * partitioning, and raising `scale` only ADDS rows (bucket below both
    * cuts stays kept) — reproducibility and monotonicity `sample()` can't
    * give. Zero shuffle: a pure per-row filter; the expected kept fraction
    * is avg(clamp(weight * scale)).
    */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      scale: Double = 1.0,
      buckets: Int = 10000): DataFrame = {
    require(scale >= 0, s"scale must be >= 0, got $scale")
    val w   = least(greatest(col(weightCol).cast("double") * scale, lit(0.0)), lit(1.0))
    val cut = round(w * buckets).cast("long")
    df.filter(bucketOf(col(keyCol), buckets).cast("long") < cut)
  }

  /** Temperature-weighted source mixing (the multilingual "alpha sampling"
    * rule): realize a ~`targetRows` corpus whose source proportions follow
    * n_s^alpha instead of raw counts n_s — alpha<1 upweights small sources
    * (alpha=0.5 is the common pretraining choice), alpha=1 is proportional.
    * Each source keeps rate_s = min(1, targetRows * w_s / W / n_s) with
    * w_s = n_s^alpha, applied with the same stable-bucket rule as
    * `mixtureSample`, so the kept set is run/cluster/partitioning-stable.
    *
    * Determinism across engines: w_s is QUANTIZED to round(sqrt(n)*1e6) as
    * a long (IEEE sqrt/mul/round are correctly rounded — bit-identical in
    * any engine) and W is an exact integer sum, so rate_s is the same
    * double everywhere — no float-sum order sensitivity. Only alpha=0.5
    * (sqrt) carries that guarantee; other alphas use pow(), whose last ULP
    * is libm-dependent (fine for use, not for a hash-compared oracle).
    *
    * Scale: one partial-agg shuffle of |sources| rows for the census, the
    * tiny rate table broadcasts back, and the keep decision is a per-row
    * filter — the 100 TB cost is one scan.
    */
  def alphaMixture(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      targetRows: Long,
      alpha: Double = 0.5,
      buckets: Int = 10000): DataFrame = {
    require(targetRows >= 0, s"targetRows must be >= 0, got $targetRows")
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val pw: Column => Column =
      if (alpha == 0.5) sqrt(_) else (c => pow(c, lit(alpha)))
    val census = df
      .groupBy(col(sourceCol).as("__src"))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__wq", round(pw(col("__n")) * 1e6).cast("long"))
    val tot = census.agg(sum("__wq").as("__tot"))
    val rates = census
      .crossJoin(broadcast(tot))
      // evaluation order ((T * wq) / W) / n is part of the contract: each
      // step is correctly rounded, so any engine repeating it bit-matches
      .withColumn("__rate",
        least(lit(1.0),
          lit(targetRows.toDouble) * col("__wq").cast("double")
            / col("__tot").cast("double") / col("__n")))
      .select(col("__src"), col("__rate"))
    df.join(broadcast(rates), col(sourceCol) === col("__src"), "inner")
      .filter(bucketOf(col(keyCol), buckets).cast("long")
        < round(col("__rate") * buckets).cast("long"))
      .drop("__src", "__rate")
  }

  /** Proportional stratified sampling: a ~`totalN`-row sample whose strata
    * keep their corpus shares — stratum s contributes round(totalN·n_s/N)
    * rows, each stratum's rows chosen deterministically as its top
    * allocation by stable key hash ("uniform but reproducible", like
    * `sampleGroup` with a per-stratum n derived from the census). The
    * workhorse under survey-style eval-set construction: per-language /
    * per-domain representativeness without clipping small strata to a
    * fixed cap.
    *
    * Ranks come from `rankedPrefixGrouped` (two-phase quantile buckets —
    * no per-stratum window sort, no hot reducer on a dominant stratum);
    * the census/allocation tables are |strata|-row broadcasts. Rounding
    * makes the total Σround(...) = totalN ± |strata|/2, the standard
    * proportional-allocation quantization. NULL-valued strata drop (their
    * census row can't equi-join back).
    */
  def proportionalSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      totalN: Long): DataFrame = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    val census = df.groupBy(col(strataCol).as("__src")).agg(count(lit(1)).as("__n"))
    val tot    = census.agg(sum("__n").as("__t"))
    val alloc = census
      .crossJoin(broadcast(tot))
      .select(col("__src"),
        round(lit(totalN.toDouble) * col("__n").cast("double")
          / col("__t").cast("double")).cast("long").as("__alloc"))
    val ranked = rankedGrouped(
      df.withColumn("__score", hashOrder(col(keyCol)).cast("double")),
      strataCol, "__score", keyCol, rankName = "__rnk")
    ranked
      .join(broadcast(alloc), col(strataCol) === col("__src"))
      .filter(col("__rnk") <= col("__alloc"))
      .drop("__score", "__src", "__alloc", "__rnk")
  }

  /** Deterministic weighted EXACT-N sampling without replacement
    * (Efraimidis–Spirakis priority sampling): keep the `n` rows with the
    * largest priority u^(1/w), where u is the key's stable hash mapped
    * into (0,1] — inclusion probability rises with weight, the total is
    * exactly min(n, eligible rows), and the kept set is identical on any
    * cluster/run/partitioning (contrast `weightedSample`: per-row Bernoulli,
    * exact probabilities but only an EXPECTED total).
    *
    * Rows with NULL or non-positive weight are never sampled. Plans as
    * TakeOrdered (per-partition heaps + a top-n merge — no global sort),
    * so the 100 TB cost is one scan; ~n rows cross the wire.
    */
  def prioritySample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      n: Int): DataFrame = {
    require(n >= 0, s"n must be >= 0, got $n")
    val u = (hashOrder(col(keyCol)) + 1).cast("double") / lit(P.toDouble)
    val w = col(weightCol).cast("double")
    val pri = when(w > 0, pow(u, lit(1.0) / w))
    df.withColumn("__pri", pri)
      .filter(col("__pri").isNotNull)
      .orderBy(col("__pri").desc, col(keyCol))
      .limit(n)
      .drop("__pri")
  }

  /** Full-range stable hash of a numeric key (order-scrambling, injective
    * for distinct keys mod P) — the sort key for deterministic sampling.
    */
  def hashOrder(key: Column): Column = (((key % P) + P) % P) * K % P

  /** Deterministic global shuffle for training export: every row gets a
    * stable `(shard, pos)` — shard = hash bucket of the key, pos = the
    * row's rank within its shard under scrambled-key order. This is the
    * "shuffle the corpus and cut it into N files" step before training,
    * with no RNG state: the same corpus yields the same shards and the
    * same within-shard order on any cluster, any run, any partitioning.
    *
    * Scale shape: ONE shuffle (the per-shard window). Each shard is a
    * single window task, so `nShards` is the parallelism — pick it like a
    * file count (thousands at 100 TB, so a shard is a few GB), exactly the
    * sizing the export write needs anyway. `Layout.writeShuffled` is the
    * physical twin that skips the rank column and writes the files.
    */
  def shuffleShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(!df.columns.contains("shard") && !df.columns.contains("pos"),
      "shuffleShards: input already has a 'shard' or 'pos' column; rename it first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hashOrder(col(keyCol)), col(keyCol))
    df.withColumn("shard", bucketOf(col(keyCol), nShards))
      .withColumn("pos", row_number().over(w))
  }

  /** Global rank AND running-cost prefix sum in (`scoreCol` DESC NULLS
    * LAST, `idCol` ASC) order — computed WITHOUT a partitionless window,
    * which is the single-reducer trap every "ORDER BY ... ROW_NUMBER() /
    * SUM() OVER ()" hides at 100 TB.
    *
    * Mechanics: quantile-bucket the score (one `percentile_approx` pass —
    * the same equal-population trick as `Layout.zorderWrite`, so skew
    * cannot unbalance the partitions), aggregate per-bucket (count, cost)
    * totals — driver state is `buckets` pairs of longs — and turn them
    * into exclusive offsets from the TOP bucket down. Each row's global
    * rank/prefix is then its bucket's offset plus a local window
    * PARTITIONED BY bucket: every reducer handles ~n/buckets rows, nothing
    * funnels through one task. The bucket id is a pure function of the
    * collected cut points, so the offsets pass and the final pass can
    * never disagree about membership.
    *
    * NULL scores rank last; NULL costs count as 0. Adds `rankName`
    * (long, 1-based) and `cumName` (long, inclusive running `costCol`).
    *
    * TIE DEGENERACY is auto-remedied: rows with IDENTICAL scores share a
    * bucket (quantile cuts cannot split a tie), so a near-constant score
    * column would collapse back toward one partition. When the computed
    * cuts are degenerate (distinct cuts < buckets/2), every score value
    * owning two or more cut slots is SUB-BUCKETED by id quantiles —
    * ascending id, i.e. exactly the declared tie order, so the output
    * ranks are bit-identical to the naive window while the heavy value's
    * mass spreads over its deserved share of partitions. The sub-cut pass
    * only runs on the degenerate path (one extra small aggregate per heavy
    * value); non-numeric ids leave the tie in one bucket (correct, just
    * unbalanced — cast such ids to a numeric surrogate first).
    */
  def rankedPrefix(
      df: DataFrame,
      scoreCol: String,
      idCol: String,
      costCol: String,
      rankName: String = "rnk",
      cumName: String = "cum_cost",
      buckets: Int = 32): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    Seq(rankName, cumName, "__b").foreach(n =>
      require(!df.columns.contains(n), s"rankedPrefix: input already has a '$n' column"))
    val cost = coalesce(col(costCol).cast("long"), lit(0L))
    // The cuts and totals passes run over a PERSISTED (score, cost, id)
    // projection — ~24 bytes/row, the k-means caching pattern. The cache is
    // a materialization barrier: without it, CollapseProject inlines an
    // expensive score EXPRESSION into the bucket lambda (structurally one
    // reference, but evaluated `buckets` times per row at runtime — a 30x
    // blowup measured on q90's quality chain). The final pass keeps the
    // score as an output column, so it never duplicates.
    val slim = df
      .select(
        col(scoreCol).cast("double").as("__score"),
        cost.as("__cost"),
        // TRY_cast: a non-numeric id (string tokens) must fall back to the
        // no-sub-bucket path, not throw under ANSI mode
        expr(s"try_cast(`$idCol` AS DOUBLE)").as("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cuts, heavy, totals) =
      try {
        val qs = (1 until buckets).map(_.toDouble / buckets)
        val cutsRow = slim
          .select(percentile_approx(col("__score"), typedlit(qs), lit(10000)).as("c"))
          .collect()(0)
        val cs =
          if (cutsRow.isNullAt(0)) Seq.empty[Double]
          else
            cutsRow.getSeq[java.lang.Double](0)
              .filter(_ ne null).map(_.doubleValue)
              .filterNot(_.isNaN) // a NaN cut would poison every comparison
        // tie remedy: a score value holding >= 2 cut slots owns >= a full
        // bucket's mass; split it by id quantiles (ascending id = the tie
        // order, so global ordering is untouched)
        val hv: Seq[(Double, Seq[Double])] =
          if (cs.isEmpty || cs.distinct.size >= buckets / 2) Seq.empty
          else
            cs.groupBy(identity).toSeq.collect { case (v, slots) if slots.size >= 2 => (v, slots.size + 1) }
              .sortBy(_._1)
              .flatMap { case (v, m) =>
                val subQs = (1 until m).map(_.toDouble / m)
                val row = slim
                  .filter(col("__score") === v)
                  .select(percentile_approx(col("__id"), typedlit(subQs), lit(10000)).as("c"))
                  .collect()(0)
                val sub =
                  if (row.isNullAt(0)) Seq.empty[Double]
                  else
                    row.getSeq[java.lang.Double](0)
                      .filter(_ ne null).map(_.doubleValue).filterNot(_.isNaN)
                if (sub.isEmpty) None else Some((v, sub))
              }
        // combined bucket id: primary score bucket, heavy values refined by
        // id sub-bucket — DESCENDING in id so a LARGER combined id is
        // EARLIER in (score DESC, id ASC) order, same as the primary. A
        // heavy value is a cut, so it is the LOWEST score of its primary
        // bucket: every other row there takes the top sub-bucket, above
        // all of the heavy value's id sub-buckets
        val mult = hv.map(_._2.length + 2).maxOption.getOrElse(1)
        def combined(score: Column, id: Column): Column = {
          val primary =
            if (cs.isEmpty) lit(0)
            else
              when(score.isNull, lit(-1))
                // NaN compares false against every cut but SORTS as the
                // largest double — pin it to the top bucket explicitly or
                // its bucket offset and its sort position disagree
                .when(isnan(score), lit(cs.length))
                .otherwise(size(filter(typedlit(cs), c => c <= score)))
          val sub = hv.foldLeft(lit(mult - 1)) { case (rest, (v, subCuts)) =>
            when(score === v,
              lit(subCuts.length) - size(filter(typedlit(subCuts), c => c <= id)))
              .otherwise(rest)
          }
          primary * lit(mult) + sub
        }
        // per-bucket totals: the only driver state, <= buckets * mult rows
        val tot = slim
          .withColumn("__b", combined(col("__score"), col("__id")))
          .groupBy(col("__b"))
          .agg(count(lit(1)).as("n"), sum(col("__cost")).as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          .sortBy(-_._1) // highest score bucket first = global order
        (cs, hv, tot)
      } finally { slim.unpersist(); () }
    val mult = heavy.map(_._2.length + 2).maxOption.getOrElse(1)
    val bPrimary =
      if (cuts.isEmpty) lit(0)
      else
        when(col(scoreCol).isNull, lit(-1)) // below every real bucket: ranks last
          .when(isnan(col(scoreCol).cast("double")), lit(cuts.length)) // NaN sorts largest
          .otherwise(size(filter(typedlit(cuts), c => c <= col(scoreCol).cast("double"))))
    val bSub = heavy.foldLeft(lit(mult - 1)) { case (rest, (v, subCuts)) =>
      when(col(scoreCol).cast("double") === v,
        lit(subCuts.length) - size(filter(typedlit(subCuts),
          c => c <= expr(s"try_cast(`$idCol` AS DOUBLE)"))))
        .otherwise(rest)
    }
    val withB = df.withColumn("__b", bPrimary * lit(mult) + bSub)
    val offsets = totals
      .scanLeft((0, 0L, 0L)) { case ((_, cn, cc), (b, n, c)) => (b, cn + n, cc + c) }
      .sliding(2)
      .collect { case Array((_, cntOff, costOff), (b, _, _)) => (b, cntOff, costOff) }
      .toSeq
    val ss = df.sparkSession
    import ss.implicits._
    val offDf = offsets.toDF("__b", "__cntoff", "__costoff")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withB
      .join(broadcast(offDf), Seq("__b"))
      .withColumn(rankName, col("__cntoff") + row_number().over(w))
      .withColumn(cumName, col("__costoff") + sum(cost).over(w))
      .drop("__b", "__cntoff", "__costoff")
  }

  /** Deterministic per-group downsample: keep the `n` rows with the
    * smallest key hash in each group — "uniform random but reproducible",
    * the corpus-balancing cut (cap docs per language/source) that
    * `sample()` cannot do stably. Hash ties break on the key itself so the
    * result is total-order deterministic for unique keys.
    *
    * Spelled on the bounded-heap CollectTopK aggregate, not a window: a
    * window sorts every group after shuffling every row; the heap keeps n
    * candidates per (group x map partition), so a 10^9-doc language costs
    * the shuffle n x partitions rows, not 10^9. Rows ride inside the heap
    * entry, so all columns must be orderable types (no maps) — join a map
    * column back on the key instead.
    */
  /** Per-group `rankedPrefix`: within every value of `groupCol`, rank rows
    * in (`scoreCol` DESC NULLS LAST, `idCol` ASC) order and compute the
    * inclusive running `costCol` sum — in ONE pass over all groups, not a
    * per-group loop (which would rescan the corpus once per group) and not
    * a per-group window over raw rows (which would sort each group's full
    * row set in one task: a single hot source = a single hot reducer).
    *
    * Same two-phase shape as `rankedPrefix`, keyed by group: per-group
    * score-quantile cuts (one grouped `percentile_approx` pass), per-
    * (group, bucket) count/cost totals (one aggregate, collected —
    * driver state is groups x buckets rows), prefix offsets per group on
    * the driver, then an in-bucket window on (group, bucket). The heavy-
    * value remedy carries over: a score value owning >= 2 cut slots in its
    * group is sub-bucketed by id quantiles, so a near-constant-score group
    * still spreads across partitions.
    *
    * Groups are keyed by `groupCol`'s STRING form internally (the cuts /
    * offset side tables are driver-built); two group values with equal
    * string forms merge. `scoreCol`/`idCol`/`costCol` must be materialized
    * columns (same contract as `rankedPrefix`). Output: all input columns
    * + rankName + cumName, both per-group.
    */
  def rankedPrefixGrouped(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      costCol: String,
      rankName: String = "rnk",
      cumName: String = "cum_cost",
      buckets: Int = 32): DataFrame =
    rankedGroupedCore(df, groupCol, scoreCol, idCol, Some(costCol), rankName, cumName, buckets)

  /** RANK-ONLY `rankedPrefixGrouped`: the same two-phase per-group quantile
    * rank with no prefix-sum machinery — no cost column, no cum output, no
    * per-row running-sum window. This is the hot primitive of the mixing/
    * batching tier (`rankBuckets`, `interleaveSchedule`,
    * `lengthBucketBatches`, `stratifiedShards`, `scorePercentileGrouped`
    * all need ONLY the rank); through round 9 each of them fed a dummy
    * cost column and paid a running-sum aggregate it immediately dropped.
    */
  def rankedGrouped(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      rankName: String = "rnk",
      buckets: Int = 32): DataFrame =
    rankedGroupedCore(df, groupCol, scoreCol, idCol, None, rankName, "__unused_cum", buckets)

  private def rankedGroupedCore(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      costOpt: Option[String],
      rankName: String,
      cumName: String,
      buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    (Seq(rankName, "__g", "__b") ++ costOpt.map(_ => cumName)).foreach(n =>
      require(!df.columns.contains(n), s"rankedPrefixGrouped: input already has a '$n' column"))
    val cost = costOpt.map(c => coalesce(col(c).cast("long"), lit(0L)))
    val ss   = df.sparkSession
    import ss.implicits._
    // null-safe internal group key (a plain join on a null key would
    // silently drop the null group's rows)
    val gkey = coalesce(col(groupCol).cast("string"), lit("\u0000<null>"))
    // cuts/sub-cuts only read (group, score, id) — cost stays out of the
    // cached projection (it was dead weight there even on the prefix path)
    val slim = df
      .select(
        gkey.as("__g"),
        col(scoreCol).cast("double").as("__score"),
        col(idCol).cast("double").as("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cutsRows, heavyRows) =
      try {
        val qs = (1 until buckets).map(_.toDouble / buckets)
        val perGroup: Seq[(String, Seq[Double])] = slim
          .groupBy(col("__g"))
          .agg(percentile_approx(col("__score"), typedlit(qs), lit(10000)).as("c"))
          .collect()
          .map { r =>
            val g = r.getString(0)
            val cs =
              if (r.isNullAt(1)) Seq.empty[Double]
              else
                r.getSeq[java.lang.Double](1)
                  .filter(_ ne null).map(_.doubleValue).filterNot(_.isNaN)
            (g, cs)
          }
          .toSeq
        // heavy values (>= 2 cut slots within their group) for DEGENERATE
        // groups only — one extra grouped pass over just those (g, v) rows
        val heavyKeys: Seq[(String, Double, Int)] = perGroup.flatMap { case (g, cs) =>
          if (cs.isEmpty || cs.distinct.size >= buckets / 2) Seq.empty
          else
            cs.groupBy(identity).toSeq.collect {
              case (v, slots) if slots.size >= 2 => (g, v, slots.size + 1)
            }
        }
        val heavy: Seq[(String, Double, Seq[Double])] =
          if (heavyKeys.isEmpty) Seq.empty
          else {
            val subB = heavyKeys.map(_._3).max
            val subQs = (1 until subB).map(_.toDouble / subB)
            val keySet = heavyKeys.map { case (g, v, _) => (g, v) }.toSet
            val heavyKeyDf =
              heavyKeys.map { case (g, v, _) => (g, v) }.toDF("__kg", "__kv")
            slim
              .join(
                broadcast(heavyKeyDf),
                col("__g") === col("__kg") && col("__score") === col("__kv"),
                "left_semi")
              .groupBy(col("__g"), col("__score"))
              .agg(percentile_approx(col("__id"), typedlit(subQs), lit(10000)).as("c"))
              .collect()
              .flatMap { r =>
                val g = r.getString(0)
                val v = r.getDouble(1)
                if (!keySet((g, v)) || r.isNullAt(2)) None
                else {
                  val sub = r.getSeq[java.lang.Double](2)
                    .filter(_ ne null).map(_.doubleValue).filterNot(_.isNaN)
                  if (sub.isEmpty) None else Some((g, v, sub))
                }
              }
              .toSeq
          }
        (perGroup, heavy)
      } finally { slim.unpersist(); () }

    // per-group mult so combined ids stay consistent within each group;
    // the top sub-bucket holds the rest of a heavy value's primary bucket
    // (the rankedPrefix rule)
    val multByG = heavyRows.groupBy(_._1).map { case (g, hs) => g -> (hs.map(_._3.length).max + 2) }
    val cutsDf = cutsRows
      .map { case (g, cs) => (g, cs, multByG.getOrElse(g, 1)) }
      .toDF("__g", "__cuts", "__mult")
    val heavyDf = heavyRows.toDF("__hg", "__hv", "__hsub")

    val sg = col(scoreCol).cast("double")
    val primary =
      when(sg.isNull, lit(-1))
        .when(isnan(sg), size(col("__cuts")))
        .otherwise(size(filter(col("__cuts"), c => c <= sg)))
    val sub =
      when(col("__hsub").isNotNull,
        size(col("__hsub")) - size(filter(col("__hsub"), c => c <= col(idCol).cast("double"))))
        .otherwise(coalesce(col("__mult"), lit(1)) - 1)
    val withB = df
      .withColumn("__g", gkey)
      .join(broadcast(cutsDf), Seq("__g"), "left_outer")
      .join(
        broadcast(heavyDf),
        col("__g") === col("__hg") && sg === col("__hv"),
        "left_outer")
      .withColumn("__b", primary * coalesce(col("__mult"), lit(1)) + sub)
      .drop("__cuts", "__mult", "__hg", "__hv", "__hsub")

    // per-(group, bucket) totals -> per-group descending-bucket offsets
    // (the cost leg exists only on the prefix path)
    val totals = withB
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("n"), cost.map(c => sum(c).as("c")).toSeq: _*)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), if (cost.isDefined) r.getLong(3) else 0L))
      .toSeq
    val offsets = totals
      .groupBy(_._1)
      .toSeq
      .flatMap { case (g, rows) =>
        rows
          .sortBy(-_._2)
          .scanLeft((g, 0, 0L, 0L)) { case ((_, _, cn, cc), (_, b, n, c)) => (g, b, cn + n, cc + c) }
          .sliding(2)
          .collect { case Seq((_, _, cntOff, costOff), (_, b, _, _)) => (g, b, cntOff, costOff) }
      }
    val offDf = offsets.toDF("__g", "__b", "__cntoff", "__costoff")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"), col("__b"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ranked = withB
      .join(broadcast(offDf), Seq("__g", "__b"))
      .withColumn(rankName, col("__cntoff") + row_number().over(w))
    cost
      .map(c => ranked.withColumn(cumName, col("__costoff") + sum(c).over(w)))
      .getOrElse(ranked)
      .drop("__g", "__b", "__cntoff", "__costoff")
  }

  /** Deterministic global downsample to exactly `min(n, count)` rows: the
    * `n` rows with the smallest key hash, ties on the key. Plans as
    * TakeOrderedAndProject — per-partition n-heaps, a single n-row merge on
    * the driver side of the exchange; the corpus is never globally sorted.
    * The stable twin of `df.limit(n)`-after-shuffle: same rows on any
    * cluster, any partitioning, any run.
    */
  def sampleExact(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    df.orderBy(hashOrder(col(keyCol)), col(keyCol)).limit(n)
  }

  def sampleGroup(df: DataFrame, keyCol: String, groupCols: Seq[String], n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val cols = df.columns.toSeq
    val entry = struct(
      hashOrder(col(keyCol)).as("__h"),
      col(keyCol).as("__k"),
      struct(cols.map(col): _*).as("__row"))
    df.groupBy(groupCols.map(col): _*)
      .agg(org.apache.spark.sql.graftbridge.ColumnBridge
        .collectTopK(entry, n, reverse = true).as("__top"))
      .select(explode(col("__top")).as("__e"))
      .select(cols.map(c => col("__e").getField("__row").getField(c).as(c)): _*)
  }

  /** Within-group PERCENTILE RANK of a score in integer micro-units —
    * the calibration step before a global quality cut: raw classifier /
    * heuristic scores are not comparable ACROSS sources (a web crawl's
    * median quality is a curated archive's floor), so corpus-wide
    * thresholds silently gut some sources and keep others whole.
    * Rank-normalizing within each source first makes "keep the top 30%"
    * mean the same thing everywhere — the mixture-safe form of a global
    * cut (pair with `alphaMixture` / `mixtureToBudget` for the rates).
    *
    * pct_x1e6 = (n_g − rank) · 1e6 div max(n_g − 1, 1): the group's best
    * row scores 1e6, its worst 0, a singleton group 0 (no distribution to
    * stand in). Ranks are the deterministic (score DESC NULLS LAST, id
    * ASC) order, so tied scores get distinct adjacent percentiles — the
    * oracle's ROW_NUMBER semantics, bit-stable cross-engine.
    *
    * Scale shape: one `rankedPrefixGrouped` pass (two-phase quantile
    * ranks, hot groups spread across reducers) plus a broadcast of the
    * |groups|-row size table. No partitionless window anywhere.
    */
  def scorePercentileGrouped(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      pctName: String = "pct_x1e6"): DataFrame = {
    require(!df.columns.contains(pctName),
      s"scorePercentileGrouped: input already has a '$pctName' column")
    val ranked = rankedGrouped(
      df, groupCol, scoreCol, idCol, rankName = "__sprnk")
    val sizes = df
      .groupBy(col(groupCol).as("__spg"))
      .agg(count(lit(1)).as("__spn"))
    ranked
      .join(broadcast(sizes), col(groupCol) <=> col("__spg"))
      .withColumn(
        pctName,
        expr(s"(__spn - __sprnk) * 1000000 div greatest(__spn - 1, 1)"))
      .drop("__sprnk", "__spg", "__spn")
  }

  /** MIXTURE-PRESERVING shard assignment: shard = (per-`groupCol` rank in
    * scrambled-`keyCol` order − 1) mod `nShards`. Dealing each source's
    * rows round-robin guarantees EVERY shard carries every source within
    * ±1 row of n_source/nShards — so each training file IS the declared
    * mixture, and a job that reads any subset of shards (curriculum
    * stages, preemption, partial epochs) still trains on the intended
    * source proportions. Plain hash-sharding (`shuffleShards`) only gets
    * this in expectation: at 1024 shards a 50k-doc minority source swings
    * several percent per shard, and rare sources can miss shards entirely.
    *
    * Within a shard the arrival order of a source's rows is the scrambled
    * hash order — the same deterministic permutation `shuffleShards` uses,
    * so the round-robin deal adds no order bias. Fully deterministic:
    * same corpus -> same shard for every row, any cluster, any
    * partitioning.
    *
    * Scale shape: one `rankedPrefixGrouped` pass (two-phase quantile
    * ranks — no partitionless window, hot sources spread across
    * reducers). Adds `shard` (int); drop the rank columns it rides on if
    * unneeded.
    */
  def stratifiedShards(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(!df.columns.contains("shard"),
      "stratifiedShards: input already has a 'shard' column; rename it first")
    val withPri = df.withColumn("__pri", hashOrder(col(keyCol)).cast("double"))
    rankedGrouped(
      withPri,
      groupCol,
      scoreCol = "__pri",
      idCol = keyCol,
      rankName = "__shrnk")
      .withColumn("shard", ((col("__shrnk") - 1) % nShards).cast("int"))
      .drop("__pri", "__shrnk")
  }

  /** Per-group RANK-QUANTILE bucketing — the CCNet recipe (Wenzek et al.
    * 2020): order each group's rows by a model score and cut the ORDER into
    * `nBuckets` equal-population buckets (head/middle/tail at nBuckets = 3),
    * so "the best third of every source" means the same thing in a web
    * crawl and a curated archive. The rank form (not value thresholds)
    * makes bucket populations exact — per group, bucket sizes differ by at
    * most one row — and sidesteps the tie pathology of threshold cuts,
    * where one repeated score value swallows a whole bucket.
    *
    * bucket = (nBuckets * (rank - 1)) div n_g with rank the row's 1-based
    * position in (score ASC, id ASC) order within its group (score DESC
    * when ascending = false). Deterministic: same corpus -> same bucket for
    * every row, any cluster, any partitioning — and exactly ROW_NUMBER
    * semantics, so an oracle mirrors it verbatim.
    *
    * Scale shape: one `rankedPrefixGrouped` pass (two-phase quantile ranks;
    * hot groups spread across reducers — NO per-group single-partition
    * window) plus a broadcast of the |groups|-row size table.
    *
    * Precision envelope: ranking casts the score to DOUBLE (the engine's
    * rank primitive keys on it), so integer scores with |s| > 2^53 lose
    * distinctness — two such scores that differ only below the double ULP
    * collapse to a tie and fall back to the id order, deviating from exact
    * ROW_NUMBER semantics an integer-keyed oracle would compute. Long
    * scores from counters/sizes/micro-unit quantizations sit far inside
    * the envelope; micro-unit scores OVER ~9e15 (or raw 64-bit hashes as
    * scores) do not — rescale them, or split into (high, low) and rank on
    * the high part with the low part folded into the id tiebreak. The same
    * envelope applies to `lengthBucketBatches` (length cast) and every
    * other rank consumer.
    */
  def rankBuckets(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      nBuckets: Int,
      ascending: Boolean = true,
      bucketName: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    Seq(bucketName, "__rbs", "__rbrnk", "__rbg", "__rbn").foreach(n =>
      require(!df.columns.contains(n), s"rankBuckets: input already has a '$n' column"))
    // rankedPrefixGrouped ranks (score DESC, id ASC); ascending order rides
    // the negated score (ties keep the same id ASC tie-break either way)
    val scored = df.withColumn(
      "__rbs",
      if (ascending) -col(scoreCol).cast("double") else col(scoreCol).cast("double"))
    val ranked = rankedGrouped(
      scored, groupCol, "__rbs", idCol, rankName = "__rbrnk")
    val sizes = df
      .groupBy(col(groupCol).as("__rbg"))
      .agg(count(lit(1)).as("__rbn"))
    ranked
      .join(broadcast(sizes), col(groupCol) <=> col("__rbg"))
      .withColumn(bucketName, expr(s"($nBuckets * (__rbrnk - 1)) div __rbn"))
      .drop("__rbs", "__rbrnk", "__rbg", "__rbn")
  }

  /** Deterministic weighted-fair interleave of per-group streams into ONE
    * global order — the training-data MIXING SCHEDULE: each source's rows
    * are dealt into the global sequence at a rate proportional to its
    * weight (w=3 web rows between consecutive w=1 wiki rows, ±1), so a
    * loader that reads the schedule front-to-back consumes the declared
    * mixture at every prefix — curriculum stages, partial epochs, and
    * preempted jobs all train on the intended proportions. The static-file
    * complement of `stratifiedShards` (which balances ACROSS shards; this
    * orders WITHIN the stream) and of `alphaMixture` (which picks the
    * rates; this realizes them as an order).
    *
    * Weighted-fair-queuing form, exact integers: a group's r-th row
    * (1-based rank in (idCol ASC) order within the group) gets virtual
    * time vt = (r * 1e6) div w; the schedule is the first `limit` rows of
    * the (vt ASC, group ASC, id ASC) total order, tagged with 1-based
    * `pos`. Fully deterministic on any cluster; rows of groups absent from
    * `weights` are excluded (the schedule is scoped to the declared mix).
    *
    * Scale shape: one `rankedPrefixGrouped` pass for the per-group ranks
    * (no per-group single-partition window), a broadcast of the weight
    * table, then a TakeOrdered global cut at `limit` — the full corpus is
    * never globally sorted. The `pos` tag is a window over the ALREADY
    * LIMITED rows (<= limit, driver-bounded by construction).
    */
  def interleaveSchedule(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weights: Seq[(String, Long)],
      limit: Int,
      posName: String = "pos"): DataFrame = {
    require(limit >= 1, s"limit must be >= 1, got $limit")
    require(weights.nonEmpty, "interleaveSchedule: weights must be non-empty")
    require(weights.forall(_._2 > 0), "interleaveSchedule: weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "interleaveSchedule: duplicate group in weights")
    Seq(posName, "__iws", "__iwrnk", "__iwg", "__iww", "__iwvt").foreach(n =>
      require(!df.columns.contains(n), s"interleaveSchedule: input already has a '$n' column"))
    val ss = df.sparkSession
    import ss.implicits._
    val wDf = weights.toDF("__iwg", "__iww")
    // rank r = position in (idCol ASC) within the group: rankedPrefixGrouped
    // orders (score DESC, id ASC), so the negated id is the score
    val ranked = rankedGrouped(
      df.withColumn("__iws", -col(idCol).cast("double")),
      groupCol, "__iws", idCol, rankName = "__iwrnk")
    val cut = ranked
      .join(broadcast(wDf), col(groupCol) === col("__iwg"))
      // within a group vt is nondecreasing in rank, and the (vt, group, id)
      // tie-break preserves group-internal order — so no row with per-group
      // rank > limit can reach the first `limit` global positions. The
      // filter bounds the sort input to <= limit * |groups| rows; the
      // global cut never sorts the corpus.
      .filter(col("__iwrnk") <= limit)
      .withColumn("__iwvt", expr("(__iwrnk * 1000000) div __iww"))
      .orderBy(col("__iwvt"), col(groupCol), col(idCol))
      .limit(limit)
    cut
      .withColumn(
        posName,
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("__iwvt"), col(groupCol), col(idCol))))
      .drop("__iws", "__iwrnk", "__iwg", "__iww", "__iwvt")
  }

  /** Deterministic EPOCH UPSAMPLING — the data-mixing UPWEIGHT path
    * (books x3.2 epochs while web runs once): the complement of
    * `weightedSample`, which can only thin. `rates` are per-group integer
    * percent epochs (320 = 3.2 epochs): every row is emitted
    * rate div 100 times, plus once more iff its key's hash bucket (of
    * 10000) < (rate mod 100) * 100 — the fractional epoch falls on a
    * deterministic, partition-stable key subset (the SAME rows every run,
    * any cluster), so reruns and resumed jobs see one dataset, not a
    * resample. Each copy carries a 0-based `epoch` index so packing /
    * shard shuffling can interleave copies instead of emitting them
    * back-to-back. Rows of groups absent from `rates` are dropped (the
    * mix is scoped); rate 0 drops the group.
    *
    * Scale shape: broadcast rates join + one in-row sequence explode —
    * ZERO shuffle; the output growth IS the semantic (sum over groups of
    * n_g * rate_g / 100, within one hash-quantum per group).
    */
  def epochUpsample(
      df: DataFrame,
      keyCol: String,
      groupCol: String,
      rates: Seq[(String, Int)],
      epochName: String = "epoch"): DataFrame = {
    require(rates.nonEmpty, "epochUpsample: rates must be non-empty")
    require(rates.forall(_._2 >= 0), "epochUpsample: rates must be >= 0")
    require(rates.map(_._1).distinct.size == rates.size,
      "epochUpsample: duplicate group in rates")
    Seq(epochName, "__eug", "__eur", "__euc").foreach(n =>
      require(!df.columns.contains(n), s"epochUpsample: input already has a '$n' column"))
    val ss = df.sparkSession
    import ss.implicits._
    val rDf = rates.toDF("__eug", "__eur")
    df.join(broadcast(rDf), col(groupCol) === col("__eug"))
      .withColumn(
        "__euc",
        expr("__eur div 100") +
          when(bucketOf(col(keyCol), 10000) < (col("__eur") % 100) * 100, 1L)
          .otherwise(0L))
      .filter(col("__euc") > 0)
      .withColumn(epochName, explode(expr("sequence(0L, __euc - 1)")))
      .drop("__eug", "__eur", "__euc")
  }

  /** Temperature-smoothed mixture budgets at α = 1/2 — the multilingual
    * sampling rule (XLM-R / mT5 lineage): raw proportional sampling lets
    * the head language drown the tail, uniform sampling overfits the tail;
    * p_g ∝ n_g^α with α ∈ (0,1) interpolates. α = 1/2 is the one exponent
    * with an EXACT integer form (w_g = ⌊√n_g⌋, corrected below), so budgets
    * are bit-stable cross-engine — a generic-α variant would ride double
    * `pow`, whose libm rounding no oracle can replay; quantize upstream
    * if another α is required.
    *
    * ⌊√n⌋ is computed as floor(sqrt(double)) plus ONE ±1 integer
    * correction (`(s+1)² ≤ n → s+1`, `s² > n → s−1`): IEEE sqrt is
    * correctly rounded, so its floor is off by at most one — but it IS off
    * for n near perfect squares once n exceeds ~2^51, and group counts at
    * 100 TB live past that; the corrected form is exact for ALL Long
    * counts and replays verbatim in SQL.
    *
    * Output: one row per group — group, n, weight (⌊√n⌋),
    * raw_share_x1e6 (n·1e6 div N — what proportional sampling gives),
    * temp_share_x1e6 (w·1e6 div Σw — the smoothed share),
    * budget (totalBudget·w div Σw, the per-group allocation to hand to
    * `Corpus.mixtureToBudget` / `epochUpsample`; a budget above n is the
    * intended tail UPSAMPLING signal). Scale shape: one partial-agg
    * shuffle to |groups| rows, then two window folds over that tiny frame
    * (unpartitioned windows are safe at |groups| cardinality — the
    * liftGains rule). Envelope: totalBudget·max(weight) ≤ 9.2e18 — with
    * weight = ⌊√n⌋ ≤ ~3e9, any budget to ~3e9 units is safe at any corpus
    * size.
    */
  def sqrtTemperatureBudgets(
      df: DataFrame,
      groupCol: String,
      totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"sqrtTemperatureBudgets: totalBudget must be > 0, got $totalBudget")
    import org.apache.spark.sql.expressions.Window
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__s0", floor(sqrt(col("n").cast("double"))).cast("long"))
      .withColumn("weight",
        when((col("__s0") + 1) * (col("__s0") + 1) <= col("n"), col("__s0") + 1)
          .when(col("__s0") * col("__s0") > col("n"), col("__s0") - 1)
          .otherwise(col("__s0")))
      .withColumn("__N", sum(col("n")).over(all))
      .withColumn("__W", sum(col("weight")).over(all))
      .select(
        col("group"), col("n"), col("weight"),
        expr("(n * 1000000L) div __N").as("raw_share_x1e6"),
        expr("(weight * 1000000L) div __W").as("temp_share_x1e6"),
        expr(s"($totalBudget * weight) div __W").as("budget"))
  }
}
