package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.TextAnalysis
import graft.functions.TextAnalysis.P

/** Document deduplication operators for the training-data pipeline:
  * exact, n-gram-Jaccard (exact pair mining), MinHash+LSH (banded, bucketed
  * — never all-pairs), and SimHash fingerprints.
  *
  * Scale posture (the 100 TB contract):
  *  - exact dedup = one hash shuffle on the digest;
  *  - Jaccard pair mining = PREFIX-FILTERED inverted index (only the first
  *    ~(1-t) fraction of each canonically-ordered set is indexed; exact, no
  *    false negatives) — no cross-join, and the candidate join shrinks
  *    quadratically in the prefix fraction;
  *  - LSH = signatures computed per-row (no shuffle), candidates from
  *    band-bucket equality joins (shuffle keyed by bucket), exact verify
  *    only on candidates. Cost scales with bucket collision counts, not
  *    corpus².
  */
object Dedup {

  /** Spread a NARROW input across the cluster before CPU-heavy per-row
    * projections (char-hash folds): repartition only when the input has
    * fewer partitions than the shuffle default — on a one-file corpus this
    * is the difference between 1 core and all of them hashing, while an
    * already-well-partitioned table keeps its layout and pays NO shuffle.
    */
  private[operators] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  // ----------------------------------------------------------- exact dedup

  /** Surviving rows after exact dedup on `keyExpr` (e.g. sha2(text, 256)):
    * the row with the smallest `pick` value wins (ties arbitrary — pass a
    * unique pick, as every in-repo caller does with doc_id).
    *
    * Spelled as a `min_by` AGGREGATE, not a window: the window form sorts
    * every digest group after shuffling every row; min_by partial-combines
    * map-side, so the shuffle carries one candidate row per (digest x map
    * partition) — at 100 TB with dup rate p, that is ~(1-p) of the corpus
    * instead of all of it, and no sort anywhere.
    */
  def exactDedupRows(df: DataFrame, keyExpr: Column, pick: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(keyExpr.as("__digest"))
      .agg(min_by(struct(cols.map(col): _*), pick).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  // ------------------------------------------------------------- shingling

  /** n-token shingles of a token array, space-joined. Guarded: Spark's
    * sequence(1, 0) counts DOWN ([1,0]) instead of yielding [], so short
    * docs need the explicit empty branch.
    */
  def shingles(toks: Column, n: Int = 3): Column =
    when(
      size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle set of a text column. */
  def shingleSet(text: Column, n: Int = 3): Column =
    array_distinct(shingles(TextAnalysis.tokens(text), n))

  /** Distinct shingle hashes (polynomial hash; collisions negligible at P≈1e9
    * for per-document set sizes). Backed by the native ShingleHashesExpr —
    * one pass over the string instead of three intermediate arrays and an
    * interpreted lambda per shingle; `shingleHashesComposed` is the
    * built-ins-only cross-check.
    */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.ShingleHashesExpr(ColumnBridge.expression(text), n))
  }

  /** Distinct-intersection COUNT of two ascending-sorted ARRAY<BIGINT>
    * columns (native SortedIntersectSizeExpr): the verify kernel —
    * `size(array_intersect(...))` without the per-pair hash-set build and
    * intersection materialization. Inputs MUST be sorted ascending.
    */
  def sortedIntersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.SortedIntersectSizeExpr(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Composed-builtins form of shingleHashes (slow; cross-check only). */
  def shingleHashesComposed(text: Column, n: Int = 3): Column =
    array_distinct(transform(shingleSet(text, n), s => TextAnalysis.polyHash(s)))

  // ------------------------------------------------------------- winnowing

  /** Robust winnowing fingerprints (Schleimer, Wilkerson, Aiken — the MOSS
    * algorithm): hash every POSITIONAL k-token shingle, slide a window of
    * `w` consecutive hashes, keep the minimum of each window, and emit the
    * per-document distinct set of selected hashes as `(id, fp)` rows.
    *
    * The winnowing guarantee: any token run shared by two documents of
    * length >= w + k - 1 contributes at least one COMMON fingerprint, while
    * only ~2/(w+1) of all shingles are selected — a fixed-rate sample with
    * a matching guarantee, which is what makes it the standard local-copy /
    * plagiarism detector (vs MinHash, which fingerprints whole-document
    * similarity, not shared substrings). Join fp-to-fp to mine candidate
    * copied spans; the selected density makes that index ~2/(w+1) the size
    * of the full positional-shingle index q117/q32 would build.
    *
    * Degenerate docs follow the paper's convention: fewer than k tokens ->
    * no shingles -> no fingerprints; between 1 and w-1 hashes -> one
    * fingerprint (the global min — every hash window is truncated to the
    * doc).
    *
    * Scale shape: selection is ONE native per-row projection (WinnowExpr:
    * tokenize, rolling shingle hash, monotonic-deque window min — O(n) per
    * document, codegen'd, zero shuffle); the only exchange in the plan is
    * whatever the caller does with the exploded (id, fp) rows. Ties inside
    * a window need no rightmost-rule here because equal minima select
    * equal HASH VALUES — the emitted set is identical whichever position
    * wins, so the cross-engine mirror is exact. (The first, composed form
    * of this operator re-evaluated the hash chain per window position —
    * O(n²) interpreted work per doc, 90 s for 1.5 MB of sf0.1 text; kept
    * as `winnowingComposed` strictly as the parity cross-check.)
    */
  def winnowing(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    require(w >= 1, s"window w must be >= 1, got $w")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val fps = ColumnBridge.column(
      graft.functions.WinnowExpr(ColumnBridge.expression(col(textCol)), k, w))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(fps).as("fp"))
  }

  /** The same selection from composed built-ins — two intermediate arrays
    * and an interpreted window-min lambda per row whose spliced `hs`
    * subtree RE-EVALUATES the whole hash chain per window position:
    * O(n²) per document. Exists only to cross-check WinnowExpr
    * (WinnowExprSpec), the polyHashComposed pattern.
    */
  def winnowingComposed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    require(w >= 1, s"window w must be >= 1, got $w")
    val hs = transform(
      shingles(TextAnalysis.tokens(col(textCol)), k),
      s => TextAnalysis.polyHash(s))
    val fps =
      when(
        size(hs) >= w,
        array_distinct(
          transform(
            sequence(lit(1), size(hs) - (w - 1)),
            j => array_min(slice(hs, j, lit(w))))))
        .when(size(hs) >= 1, array(array_min(hs)))
        .otherwise(array().cast("array<long>"))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(fps).as("fp"))
  }

  /** Candidate copied-span pairs from winnowing fingerprints: documents
    * sharing >= `minShared` selected fingerprints, with the shared count —
    * the MOSS match-ranking step on top of `winnowing`. By the winnowing
    * guarantee this finds every pair sharing a token run of length >=
    * w + k - 1 per shared fingerprint, at index size ~2/(w+1) of the full
    * positional-shingle index the exact containment join (q117) builds —
    * this is the cheap screen, containment/Jaccard verify is the exact
    * confirm.
    *
    * HOT-FINGERPRINT GUARD (the bucket-join rule every miner here obeys):
    * a fingerprint selected by > maxBucket documents is a universal
    * boilerplate fragment (license header, nav bar) whose bucket would
    * emit O(m^2) pairs of no evidentiary value — MOSS itself drops
    * over-shared fingerprints for exactly this reason. Such fps are cut
    * BEFORE the self-join (aggregate + broadcast anti-join — map-side, no
    * window): a documented precision-motivated cut, auditable by running
    * the same groupBy yourself; pairs riding ONLY on dropped boilerplate
    * disappear, which is the desired behavior (unlike the near-dup miners'
    * star fallback, where the bucket members really are near-identical).
    *
    * Output: id_a < id_b, n_shared (distinct shared fingerprints).
    */
  def winnowPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    // two join legs read the fingerprint table: share one concrete RDD,
    // EAGERLY materialized (see jaccardPairs' lifecycle note: a lazy
    // checkpoint whose first materializer is a broadcast-exchange thread —
    // `broadcast(hot)` below — deadlocks the driver on RDDCheckpointData)
    val fps = winnowing(spread(docs), idCol, textCol, k, w)
      .withColumnRenamed(idCol, "id")
      .localCheckpoint(true)
    val hot = fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select(col("fp"))
    val cold = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    cold
      .as("a")
      .join(cold.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Longest shared copied-span measurement — the MOSS "how much was
    * copied" step after `winnowPairs` says "these two share something".
    * Matches POSITIONAL k-shingle hashes (PosShingleHashesExpr — same
    * tokenization/hash as the winnowing screen, so every winnow hit is
    * measurable here) across documents and finds, per pair, the longest
    * DIAGONAL RUN: consecutive positions i, i+1, ... in doc A matching
    * consecutive j, j+1, ... in doc B (i - j constant), i.e. a verbatim
    * shared token run of run + k - 1 tokens. This is the exact evidence a
    * contamination or plagiarism report needs — "97 shared tokens starting
    * at offset 412" — where the screens only rank suspicion.
    *
    * Plan shape: one positional-hash projection (native expr, zero
    * shuffle), a hot-hash cut (the winnowPairs boilerplate guard — an
    * over-shared trigram would emit O(df²) matches of no evidentiary
    * value), one hash-bucket self-join bounded by maxBucket², then the
    * run detection as an islands window partitioned by the PAIR — one
    * exchange that the per-run and per-pair aggregations both reuse
    * (their grouping keys are supersets of it). Nothing driver-side.
    *
    * Output: id_a < id_b, span_tokens (longest run + k - 1), n_matches
    * (total matched positions across all diagonals), filtered to
    * span_tokens >= minSpanTokens.
    */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      minSpanTokens: Int = 8,
      maxBucket: Int = 4096): DataFrame = {
    require(minSpanTokens >= k, s"minSpanTokens must be >= k=$k, got $minSpanTokens")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(
      graft.functions.PosShingleHashesExpr(ColumnBridge.expression(col(textCol)), k))
    // r16: spread the narrow (id, text) projection before the positional-
    // hash explode (the winnowPairs posture) — on a one-file corpus the
    // hash projection, the checkpoint, and the hot census off it otherwise
    // all run on a single partition
    val ph = spread(docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), posexplode(hashes).as(Seq("pos", "h")))
      .localCheckpoint(true) // two legs + the hot census read this once
    val hot = ph
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select(col("h"))
    val cold = ph.join(broadcast(hot), Seq("h"), "left_anti")
    val hits = cold
      .as("a")
      .join(cold.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        (col("a.pos") - col("b.pos")).as("diag"),
        col("a.pos").as("pa"))
    // islands: within a diagonal, consecutive pa values share
    // pa - row_number — each maximal run collapses to one group. The
    // window partitions by the PAIR only and orders by (diag, pa): same-
    // diag rows stay contiguous and pa-sorted, so the island arithmetic
    // is unchanged, while the (pair) hash partitioning now satisfies both
    // downstream aggregations (grouping keys are supersets of the
    // partition key) — one exchange for window + both aggs instead of
    // three.
    val wd = Window.partitionBy(col("id_a"), col("id_b")).orderBy(col("diag"), col("pa"))
    hits
      .withColumn("__grp", col("pa") - row_number().over(wd))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        (max(col("__run")) + (k - 1)).as("span_tokens"),
        sum(col("__run")).as("n_matches"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  // ---------------------------------------------------------- exact Jaccard

  /** All pairs with shingle-set Jaccard >= threshold, mined EXACTLY with
    * PREFIX FILTERING (Chaudhuri/Bayardo/Xiao all-pairs similarity joins):
    * order each hash set canonically (ascending), index only its first
    * |sh| - floor(t*|sh|) + 1 elements — any pair with J >= t MUST collide
    * inside those prefixes (if all shared elements sat in the length-
    * floor(t*|sh|)-1 suffix, the overlap would be < t*|sh| <= t*|A∪B|^-1
    * bound) — then verify candidates with an exact set intersection. No
    * false negatives; floor (not ceil) keeps the prefix on the long side of
    * FP rounding.
    *
    * Scale: the inverted index carries ~(1-t) of the shingle volume instead
    * of all of it, the candidate join is further pruned by the LENGTH filter
    * (a pair can only reach J >= t if min(|A|,|B|) >= t * max(|A|,|B|)),
    * and the verify step touches only surviving candidates.
    *
    * NOTE: the returned plan contains an EAGER `localCheckpoint` of the
    * shingle-set table — a concrete-RDD barrier. Constructing the DataFrame
    * therefore runs the shingle-hash job immediately; the plan is
    * batch-only (not usable on a streaming input) and filters applied by
    * the caller do not push below the checkpoint into the document scan.
    *
    * Output: id_a < id_b, jaccard.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // inverted index on shingle HASHES: an 8-byte join key shuffles a
    // fraction of the ~n-word shingle strings (collision noise ~1e-9 at
    // P≈1e9 per doc pair)
    // The hashed set table feeds FOUR consumers (two prefix-index sides, two
    // verify fetches), so it is materialized once with an EAGER
    // localCheckpoint: the returned plan is a single concrete RDD that every
    // consumer shares — partitions are hashed once, here, on the calling
    // thread, and replayed from storage by all four. Eager (not lazy) is a
    // hard correctness requirement, not a tuning choice: with a lazy
    // checkpoint the first materializer can be a broadcast-exchange or AQE
    // stage thread running concurrently with a DAGScheduler plan walk of
    // the same RDD, and RDD.doCheckpoint (holds RDDCheckpointData$ class
    // lock, wants the RDD monitor in markCheckpointed) deadlocks against
    // DAGScheduler.getCacheLocs (holds the RDD monitor via RDD.partitions,
    // wants RDDCheckpointData$) — a silent, permanent driver hang observed
    // under jstack in round 8. Materializing on the calling thread before
    // any consumer job exists removes the race; the cost is one dedicated
    // job whose work would have been done anyway. Unlike
    // Dataset.persist (whose CacheManager entry is never reclaimed without
    // an explicit unpersist), a local checkpoint is RDD-level storage that
    // the ContextCleaner unpersists once the returned plan is
    // garbage-collected — no leak across calls.
    // (Local checkpoints trade lineage: an executor loss mid-query fails
    // the query instead of recomputing; acceptable for a deterministic
    // batch operator, and Spark retries the batch.)
    // Exchange reuse alone is not reliable here: round-robin exchanges are
    // not deduped.
    // No nsh>0 guard: an empty set yields no prefix rows (explode of empty)
    // and candidates inner-join back to sets, so shingle-less docs drop out
    // for free — and an nsh predicate would be pushed down into the scan as
    // a second full shingle-hash pass over every document.
    val sets = spread(docs)
      .select(col(idCol).as("id"), sort_array(shingleHashes(col(textCol), n)).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .localCheckpoint(true)
    val prefixLen = (col("nsh") - floor(lit(threshold) * col("nsh")).cast("int") + 1)
    val pref =
      sets.select(col("id"), col("nsh"), explode(slice(col("sh"), lit(1), prefixLen)).as("s"))
    // LENGTH FILTER (canonical to the prefix-filter algorithm): J >= t
    // forces min(|A|,|B|) >= t * max(|A|,|B|) (inter <= min, union >= max),
    // so length-incompatible collisions are pruned before the distinct and
    // the verify joins — quadratic savings on length-skewed corpora. The
    // ratio is computed with the SAME double ops as the final jaccard
    // (min/max == inter/(na+nb-inter) when inter=min hits union=max), so FP
    // rounding cannot reject a pair the verify filter would keep.
    val lenOk =
      least(col("a.nsh"), col("b.nsh")).cast("double") /
        greatest(col("a.nsh"), col("b.nsh")) >= threshold
    val cand = pref
      .as("a")
      .join(pref.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id") && lenOk)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("nsh").as("nb")), Seq("id_b"))
      // sorted two-pointer count (arrays are sort_array'd above): no
      // hash-set build or intersection materialization per candidate pair
      .withColumn("inter", sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All DIRECTED pairs with shingle-set containment
    * |S_src ∩ S_dst| / |S_src| >= threshold — the asymmetric companion to
    * `jaccardPairs`: a short document fully embedded in a long one scores
    * containment ~1.0 but Jaccard ~|short|/|long|, so symmetric dedup
    * never sees it. This is the quote/excerpt/aggregator-page detector a
    * corpus pass runs alongside near-dedup.
    *
    * Exact, via the asymmetric prefix filter: each source doc indexes only
    * the first |S| - floor(t*|S|) + 1 of its canonically-sorted shingle
    * hashes (pigeonhole: any qualifying destination must collide inside
    * that prefix; floor keeps the prefix on the long side of FP rounding),
    * while the destination side indexes ALL its shingles — asymmetric
    * joins cannot prefix both sides. Candidates dedupe before two
    * verify-fetch joins compute the exact intersection. Scale cost is the
    * full-side index volume (corpus shingle count, 8-byte keys); the next
    * lever at extreme scale is df-ascending canonical order, which
    * concentrates prefixes on rare shingles (the editDistancePairs
    * rarest-gram trick) without changing results.
    *
    * Output: id_src, id_dst (id_src != id_dst, both directions possible),
    * containment.
    *
    * `maxDf` (default None = exact) drops shingles hotter than the cap
    * from the index before the candidate join — the containment twin of
    * the LSH miners' maxBucket guard; see the inline note for the recall
    * contract. Verification always runs on full sets, so precision is
    * unaffected.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      maxDf: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    maxDf.foreach(m => require(m >= 2, s"maxDf must be >= 2, got $m"))
    val sets = spread(docs)
      .select(col(idCol).as("id"), sort_array(shingleHashes(col(textCol), n)).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .localCheckpoint(true)
    val prefixLen = (col("nsh") - floor(lit(threshold) * col("nsh")).cast("int") + 1)
    val pref = sets
      .select(col("id").as("id_src"), explode(slice(col("sh"), lit(1), prefixLen)).as("s"))
    val full0 = sets.select(col("id").as("id_dst"), explode(col("sh")).as("s"))
    // HOT-SHINGLE GUARD (same boilerplate-cluster hazard as the LSH band
    // miners' maxBucket): a shingle present in `d` docs contributes up to
    // d candidate rows per indexed prefix occurrence, so one boilerplate
    // shingle in 100 k docs is a 10^10-pair key. With maxDf set, shingles
    // above the cap are dropped from BOTH index sides before the join —
    // an explicit, documented recall cut: a qualifying pair whose every
    // shared shingle is corpus-hot goes unseen (such pairs are
    // boilerplate agreements, not excerpts). Default None = exact.
    val full = maxDf match {
      case None => full0
      case Some(m) =>
        // the candidate join is inner on the shingle key, so filtering the
        // full side alone suppresses hot-shingle candidates from BOTH sides
        val hot = full0.groupBy(col("s")).agg(count(lit(1)).as("__df")).filter(col("__df") > m)
        full0.join(broadcast(hot.select(col("s"))), Seq("s"), "left_anti")
    }
    val cand = pref
      .join(full, Seq("s"))
      .filter(col("id_src") =!= col("id_dst"))
      .select(col("id_src"), col("id_dst"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_src"), col("sh").as("sh_s"), col("nsh").as("ns")), Seq("id_src"))
      .join(sets.select(col("id").as("id_dst"), col("sh").as("sh_d")), Seq("id_dst"))
      .withColumn(
        "containment",
        sortedIntersectSize(col("sh_s"), col("sh_d")).cast("double") / col("ns"))
      .filter(col("containment") >= threshold)
      .select(col("id_src"), col("id_dst"), col("containment"))
  }

  /** Cross-document repeated span mining (the exact-substring dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): every `width`-token window is hashed per row (native
    * one-pass ShingleHashesExpr, distinct within doc) and counted across
    * the corpus — spans appearing in >= `minDocs` documents are the
    * boilerplate/template text an exact-substring pass would cut.
    *
    * Scale shape: the window build is map-side; the count is ONE shuffle
    * with map-side partial aggregation keyed on the 8-byte span hash, and
    * the >= minDocs filter runs inside the aggregation — output is only
    * the repeated tail, not the corpus's span volume.
    *
    * Output: span_hash, n_docs (documents containing the span).
    */
  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(width >= 1, s"width must be positive, got $width")
    require(minDocs >= 1, s"minDocs must be positive, got $minDocs")
    spread(docs)
      .select(col(idCol), explode(shingleHashes(col(textCol), width)).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** THE survivor policy, shared by both near-dedup row variants: greedy
    * keep-smallest-id — a row is dropped iff it is the larger id of ANY
    * qualifying pair. (Chains are greedy, not connected components: if a~b
    * and b~c but not a~c, both b and c drop — deterministic and one pass,
    * the standard corpus-dedup policy.)
    */
  private def survivors(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Surviving rows after near-dedup (greedy keep-smallest-id, see
    * `survivors`), built on the prefix-filtered EXACT miner; use
    * lshNearDedupRows for the approximate-at-scale variant.
    */
  def nearDedupRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    survivors(docs, idCol, jaccardPairs(docs, idCol, textCol, n, threshold))

  /** Minimum-label CONNECTED COMPONENTS over an undirected pair graph by
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): a path of length 2^r
    * collapses in r rounds, so the round count grows with log(n), not with
    * the component diameter (chains of near-dup docs need no special case).
    *
    *  - large-star: every node's larger neighbors re-attach to its minimum
    *    (min over N(u) and u itself);
    *  - small-star: every node and its smaller neighbors re-attach to its
    *    minimum — together they monotonically contract each component onto
    *    its minimum id (a star), the fixpoint.
    *
    * Each round is a few aggregations + joins, shuffle ~ |edges|,
    * checkpointed flat; the fixpoint test is an edge checksum (count, sum of
    * a per-edge hash), one aggregate job per round.
    *
    * Size gate (`SmallGraph`, shared with `LinkGraph`'s loops): a mined
    * near-dup graph is usually tiny relative to its corpus (edges ∝
    * duplicate pairs, not documents). When the DISTINCT (idA, idB) rows
    * after the cast, self-pairs included, number at most
    * `SmallGraph.MaxEdges` (2^17), the gate's one job collects them and a
    * driver union-find (`driverUnionFind`) yields the identical labels with
    * no per-round job, all of it done when this is called; above it the
    * rounds run, one job more than the gate-free loop (the gate's collect,
    * before the first round's checksum).
    *
    * Id contract: `idA` and `idB` must be integral (Byte/Short/Int/Long);
    * both are cast to long, so labels are always long. Any other type
    * raises IllegalArgumentException before a Spark job runs.
    *
    * Output: (id, label) for every node appearing in `pairs`, label = the
    * component's minimum id. Throws IllegalStateException if the rounds do
    * not reach the fixpoint within `maxIters` (~log2(n) are needed).
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame =
    componentsWith(pairs, idA, idB, maxIters, SmallGraph.collect)

  /** `connectedComponents`' distributed rounds at any graph size. */
  private[operators] def connectedComponentsDistributed(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame =
    componentsWith(pairs, idA, idB, maxIters, SmallGraph.never)

  private def componentsWith(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIters: Int,
      gate: SmallGraph.Gate): DataFrame = {
    Seq(idA, idB).foreach { c =>
      val t = pairs.select(col(c)).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents: id column '$c' must be integral (Byte/Short/Int/Long), got $t")
    }
    // materialize the PAIR PROJECTION once, up front: nodes and edges both
    // derive from it, and without the cut each would re-execute the whole
    // upstream miner (the LSH pipeline behind q91 ran 3x here)
    val raw = pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .distinct()
      .localCheckpoint(true)
    gate(raw) match {
      case Some(rows) => SmallGraph.frame(pairs, Seq("id", "label"), driverUnionFind(rows))
      case None       => componentRounds(raw, maxIters)
    }
  }

  private def componentRounds(raw: DataFrame, maxIters: Int): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym
        .groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // no distinct here: duplicates are bounded (≤2x the symmetric edge
      // list) and the half-round that always follows ends in a distinct —
      // one fewer shuffle per iteration. Self-pairs drop here (v > u).
      sym
        .join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m")) // v < u, so min(N∪{u}) = min v
      val j    = dir.join(mins, "u")
      j.select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(j.select(col("u"), col("m").as("v")).distinct())
        .distinct()
    }
    // edge checksum as the fixpoint test: (count, sum of a per-edge hash)
    // — one cheap agg instead of a full except() anti-join. The hash is
    // modded under P so the ANSI-mode sum cannot overflow Long before
    // ~9e9 edges.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(P))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var last      = sig(raw)
    var edges     = raw
    var iter      = 0
    var converged = false
    while (iter < maxIters && !converged) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      val now = sig(edges)
      converged = now == last
      last = now
      iter += 1
    }
    // silent partial labels would mean silently-wrong dedup downstream
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds (needs ~log2(n))")
    // fixpoint is a star: (u -> component min) for non-roots; roots and
    // self-pair-only nodes label themselves
    raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id")))
      .distinct()
      .join(edges.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Driver-side union-find (path compression, min-id roots) over the
    * collected (u, v) rows — `connectedComponents`' side of the size gate.
    * Returns (id, component min) for every endpoint id, with
    * `componentRounds`' null semantics: a pair with a null end joins
    * nothing, and a null endpoint is one (null, null) row.
    */
  private def driverUnionFind(rows: Array[Row]): Seq[Row] = {
    val nodes  = new SmallGraph.Nodes
    val us     = rows.map(nodes(_, 0))
    val vs     = rows.map(nodes(_, 1))
    val parent = Array.tabulate(nodes.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      var y = x0
      while (parent(y) != x) { val n = parent(y); parent(y) = x; y = n }
      x
    }
    us.indices.foreach { k =>
      if (us(k) >= 0 && vs(k) >= 0) {
        val ra = find(us(k)); val rb = find(vs(k))
        if (ra != rb) {
          if (nodes.id(ra) < nodes.id(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    val hasNull = us.contains(-1) || vs.contains(-1)
    (0 until nodes.size).map(i => Row(nodes.id(i), nodes.id(find(i)))) ++
      (if (hasNull) Seq(Row(null, null)) else Nil)
  }

  /** Near-dedup with the CONNECTED-COMPONENTS survivor policy: one survivor
    * (the minimum id) per component of the pair graph — the other common
    * corpus policy besides `survivors`' greedy pair rule. They differ on
    * shapes like edges (1,3),(2,3) only: greedy keeps {1,2} (3 is the larger
    * id of every pair), components keep {1} (all three are one component).
    *
    * NOTE: computing components runs Spark jobs while the result is
    * constructed (see `connectedComponents`), like the k-means refinement
    * does.
    */
  def ccNearDedupRows(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    ccNearDedupRowsFromLabels(docs, idCol, connectedComponents(pairs))

  /** The same survivor cut from precomputed `connectedComponents` labels —
    * lets the caller reuse one labelling across several downstream cuts.
    */
  def ccNearDedupRowsFromLabels(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val drops = labels
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Connected-components near-dedup keeping the BEST-SCORING doc per
    * component instead of the minimum id — the curation-grade survivor
    * policy ("keep the longest / highest-quality version of this page",
    * RefinedWeb-style) that min-id can't express. Docs absent from the pair
    * graph are their own component and always survive.
    *
    * The keeper is argmax by (score, then MIN id) via a lexicographic
    * struct max — one partial-agg shuffle over |docs|, no window. NULL
    * scores lose to any non-null score (the isNotNull flag leads the
    * struct); among all-NULL components the min id survives. Double NaN
    * compares largest (Spark total order) — pre-scrub if that's not the
    * caller's intent.
    */
  def ccBestNearDedupRows(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      labels: DataFrame): DataFrame = {
    val member = docs
      .select(col(idCol).as("id"), col(scoreCol).as("__s"))
      .join(labels.select(col("id"), col("label")), Seq("id"), "left")
      .withColumn("label", coalesce(col("label"), col("id")))
    val rank = struct(
      col("__s").isNotNull.cast("int").as("ok"),
      col("__s").as("s"),
      (-col("id")).as("nid"))
    val keep = member
      .groupBy("label")
      .agg(max(rank).as("k"))
      .select((-col("k.nid")).as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Surviving rows via the BANDED-LSH pair miner — the at-scale variant of
    * nearDedupRows (same `survivors` policy; candidate cost scales with
    * band-bucket collisions, not corpus²). Recall follows the banding curve;
    * pairs the buckets do surface are exact-verified.
    *
    * Parameter order mirrors nearDedupRows — (n, threshold) first — so a
    * caller migrating between the two positionally keeps the same meaning.
    */
  def lshNearDedupRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      k: Int = 8,
      rowsPerBand: Int = 2,
      maxBucket: Int = 4096): DataFrame =
    survivors(docs, idCol,
      lshNearDupPairs(docs, idCol, textCol, k, rowsPerBand, n, threshold, maxBucket))

  // --------------------------------------------------------------- MinHash

  /** One minhash permutation: min over the shingle-hash set of (a*h+b) mod P. */
  def minHash(hashes: Column, a: Long, b: Long): Column =
    array_min(transform(hashes, h => (lit(a) * h + lit(b)) % P))

  /** Deterministic permutation constants for signature slot j — delegates to
    * the native kernels' single source (MinHashSigExpr.permA/permB).
    */
  def perm(j: Int): (Long, Long) =
    (graft.functions.MinHashSigExpr.permA(j), graft.functions.MinHashSigExpr.permB(j))

  /** All k minhash minima in ONE native pass over a shingle-hash array —
    * NULL when the array is empty (no shingles). Signature generation is a
    * pure per-row projection: zero shuffle at any corpus size.
    */
  def minHashSigCol(hashes: Column, k: Int = 8): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.MinHashSigExpr(ColumnBridge.expression(hashes), k))
  }

  /** Corpus-scale minhash signature table (id, mh0..mh{k-1}) — a per-row
    * projection (shingle-hash once natively, k minima in one loop). The
    * earlier explode -> groupBy(doc) formulation shuffled the EXPLODED
    * shingle table (~ document length per doc) corpus-wide; at 100 TB that
    * shuffle dwarfs the signatures themselves. Per-row: zero shuffle.
    *
    * Docs with no shingles (< n tokens) drop out (NULL signature filtered),
    * matching the explode form's semantics.
    */
  def minHashSigTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      n: Int = 3): DataFrame = {
    val sig = spread(docs)
      .select(col(idCol).as("id"), minHashSigCol(shingleHashes(col(textCol), n), k).as("__sig"))
      .filter(col("__sig").isNotNull)
    sig.select(col("id") +: (0 until k).map(j => element_at(col("__sig"), j + 1).as(s"mh$j")): _*)
  }

  /** Corpus-level overlap profile: estimated shingle-set Jaccard between
    * every pair of GROUPS (sources, crawls, snapshots) from their UNION
    * MinHash signatures — "how much does source A's text overlap source
    * B's?", the pre-dedup diagnostic that decides whether a cross-source
    * near-dedup pass is worth scheduling at all.
    *
    * MinHash's union property does the heavy lifting: the signature of a
    * group's shingle-set union is the per-slot MIN over its docs'
    * signatures, so the whole profile is one per-row projection (the native
    * one-pass signature), one partial-agg shuffle of |groups| rows, and a
    * pairwise compare of a table with one row per group — at 100 TB the
    * corpus is scanned once and NOTHING else is quadratic (the |groups|^2
    * compare is on the tiny aggregate).
    *
    * Output: (src_a < src_b, matching_slots, est_jaccard = matching/k).
    * Estimator variance is 1/sqrt(k) — k=8 ranks coarse overlap tiers, not
    * fine percentages; raise k for precision.
    */
  def signatureOverlapMatrix(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      k: Int = 8,
      n: Int = 3): DataFrame = {
    val slots = spread(docs)
      .select(col(groupCol).as("src"),
        minHashSigCol(shingleHashes(col(textCol), n), k).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("src") +:
        (0 until k).map(j => element_at(col("__sig"), j + 1).as(s"mh$j")): _*)
    val mins = (0 until k).map(j => min(col(s"mh$j")).as(s"mh$j"))
    val unioned = slots.groupBy("src").agg(mins.head, mins.tail: _*)
    val a = unioned.toDF(unioned.columns.map(_ + "_a"): _*)
    val b = unioned.toDF(unioned.columns.map(_ + "_b"): _*)
    val matching = (0 until k)
      .map(j => (col(s"mh${j}_a") === col(s"mh${j}_b")).cast("int"))
      .reduce(_ + _)
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), matching.as("matching_slots"),
        (matching.cast("double") / k).as("est_jaccard"))
  }

  /** Banded LSH near-dup: signatures -> band buckets -> candidate pairs
    * sharing any band -> exact Jaccard verify on candidates only.
    *
    * k minhash slots in bands of `rowsPerBand`; a pair is a candidate iff
    * one full band matches (standard banding: P(candidate) = 1-(1-j^r)^b).
    *
    * NOTE: the returned plan contains an EAGER `localCheckpoint` of the
    * signature table — a concrete-RDD barrier. Constructing the DataFrame
    * runs the signature job immediately; the plan is batch-only (not
    * usable on a streaming input) and caller filters do not push below the
    * checkpoint into the document scan.
    *
    * Output: id_a < id_b, jaccard (exact, verified).
    */
  def lshNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      rowsPerBand: Int = 2,
      n: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 4096): DataFrame = {
    require(k % rowsPerBand == 0, "k must divide into bands")
    // Signatures AND hash sets are per-row projections (native one-pass
    // shingle hashing + one-pass k-minima): nothing shuffles until the
    // band-bucket candidate join, whose volume is nBands rows per doc —
    // independent of document length. Jaccard runs on hash sets; at P≈1e9 a
    // colliding shingle pair per doc-pair is ~1e-9 noise.
    // three consumers (band explode + two verify fetches): share one
    // concrete RDD via an EAGER localCheckpoint — materialized here on the
    // calling thread; same lifecycle + deadlock rationale as jaccardPairs'
    // set table (exchange reuse is unreliable; persist leaks; lazy
    // checkpoints race broadcast/AQE materializer threads into a driver
    // deadlock)
    val sigs  = lshSignatures(docs, idCol, textCol, k, n).localCheckpoint(true)
    val bands = bandBuckets(sigs, k, rowsPerBand).withColumnRenamed("bucket", "key")
    verifyPairs(bandCandidates(bands, maxBucket), sigs, sigs, threshold)
  }

  /** Per-doc LSH signature-store records (id, sh, sig): the shingle-hash
    * set and the k-slot minhash signature — everything incremental dedup
    * needs, so later batches never re-read this corpus slice's text. A pure
    * per-row projection (parquet-friendly: two BIGINT arrays). Docs with
    * fewer than n tokens carry no signature and are excluded — they cannot
    * near-dup.
    *
    * STORE FORMAT CONTRACT: `sh` is emitted in ASCENDING order — the
    * verify step's two-pointer intersection kernel consumes it without a
    * per-pair (or per-doc) re-sort. Minhash is order-independent, so the
    * sort changes nothing else. Stores persisted by a pre-contract build
    * must be re-sorted once on load (`sort_array`) before feeding
    * `lshIncrementalStep`.
    */
  def lshSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      n: Int = 3): DataFrame =
    spread(docs)
      .select(col(idCol).as("id"), sort_array(shingleHashes(col(textCol), n)).as("sh"))
      .withColumn("sig", minHashSigCol(col("sh"), k))
      .filter(col("sig").isNotNull)

  /** Candidate (id_a, id_b) pairs from a banded table (id, band, key) with
    * a HOT-BUCKET GUARD — the one latent 100x-scale hazard of every
    * bucket-join miner: a boilerplate cluster (100 k identical templates)
    * puts its whole population in ONE (band, key) bucket, and an unguarded
    * self-join emits O(m^2) candidates from that single key (10^10 pairs —
    * one straggler task that never finishes).
    *
    * Buckets holding <= maxBucket rows self-join exactly as before (the
    * guard is invisible on healthy corpora). Oversized buckets instead emit
    * a STAR to the bucket's minimum id (m-1 pairs): for identical members —
    * the only way real corpora produce such buckets — every star edge
    * passes downstream exact verification, so greedy keep-smallest-id
    * (every non-min is the id_b of a star pair) and connected components
    * (the star IS the clique's spanning connectivity) behave exactly as
    * with the full clique, at linear cost. For merely-colliding non-
    * identical members, pairs not involving the bucket minimum are a
    * documented recall cut.
    *
    * Guard mechanics: bucket sizes come from a groupBy AGGREGATE (map-side
    * partial combine — shuffle ~ distinct buckets, not rows), the surviving
    * hot-bucket keys (at most n/maxBucket of them, tiny by construction)
    * ride as a BROADCAST, and cold rows are carved out by a broadcast
    * anti-join — map-side, no extra shuffle or sort of the bands table. The
    * first cut of this guard sized buckets with a window over (band, key);
    * that planned a full sort-shuffle of every band row per join side and
    * cost the simhash miners 5x (round-6 bench) — the aggregate+broadcast
    * form restores the unguarded plan shape on healthy corpora.
    */
  private[operators] def bandCandidates(bands: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val b = bands.select(col("id"), col("band"), col("key"))
    val hot = b
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__cnt"), min(col("id")).as("__min"))
      .filter(col("__cnt") > maxBucket)
      .select(col("band"), col("key"), col("__min"))
    val cold = b.join(broadcast(hot), Seq("band", "key"), "left_anti")
    val coldPairs = cold
      .as("a")
      .join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val starPairs = b
      .join(broadcast(hot), Seq("band", "key"))
      .filter(col("id") =!= col("__min"))
      .select(col("__min").as("id_a"), col("id").as("id_b"))
    coldPairs.union(starPairs).distinct()
  }

  /** (id, band, bucket) rows from a signature table — the band's minhash
    * slots combined into one bucket key.
    *
    * r15 optimization: for rowsPerBand <= 2 the key is a PACKED LONG
    * (slot1 << 30 | slot2 — injective because every minhash value is
    * `(a*h+b) mod P` with P = 1e9+7 < 2^30), replacing the former
    * `concat_ws(":", cast, cast)` STRING key. Same bucket equivalence
    * classes, so candidates — and therefore every verified result — are
    * bit-identical; the band table's join/group key drops from ~20 string
    * bytes (plus two per-band long→string conversions per row) to 8
    * fixed-width bytes, which is what the candidate self-join, the
    * hot-bucket aggregate and its broadcast all hash and shuffle (guide
    * §2.3 "narrower types"). Wider bands keep the injective string form.
    */
  private def bandBuckets(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    def bucket(b: Int) =
      if (rowsPerBand == 1) element_at(col("sig"), b + 1)
      else if (rowsPerBand == 2)
        shiftleft(element_at(col("sig"), b * 2 + 1), 30)
          .bitwiseOR(element_at(col("sig"), b * 2 + 2))
      else
        concat_ws(
          ":",
          (0 until rowsPerBand)
            .map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
    sigs.select(
      col("id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"), bucket(b).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against the
    * signature tables holding their hash sets. Requires `sh` ascending —
    * the `lshSignatures` store contract — so the per-PAIR hot loop is the
    * native two-pointer count with no re-sort anywhere (the round-8 form
    * re-sorted per doc row per side, which at pair-sparse scale factors
    * doubled the verify stage's per-doc cost: the q52 +50% regression).
    */
  private def verifyPairs(
      cand: DataFrame,
      sigsA: DataFrame,
      sigsB: DataFrame,
      threshold: Double): DataFrame = {
    def sets(s: DataFrame, side: String) = s.select(
      col("id").as(s"id_$side"),
      col("sh").as(s"sh_$side"),
      size(col("sh")).as(s"n_$side"))
    cand
      .join(sets(sigsA, "a"), Seq("id_a"))
      .join(sets(sigsB, "b"), Seq("id_b"))
      .withColumn("inter", sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** INCREMENTAL near-dedup step: dedup a newly arrived batch against the
    * corpus WITHOUT re-mining corpus pairs — the operation a continuously-
    * fed 100 TB pipeline actually runs. `store` is the signature table of
    * every document seen so far (survivors AND dropped — the greedy rule
    * drops a doc against ANY earlier doc, so dropped docs still block their
    * own later near-dups); new batches band-join against it, exact-verify,
    * and drop new docs matching any earlier id.
    *
    * Returns (surviving new rows, updated store). Persist the store between
    * invocations (parquet) and feed batches in ascending-id order: the
    * union of survivors across batches is then EXACTLY
    * `lshNearDedupRows(all docs)` — certified by IncrementalDedupSpec.
    *
    * Scale shape: the store is never text, only (sh, sig) arrays; the
    * candidate join is new-bands x store-bands on band-bucket equality —
    * with a delta much smaller than the corpus this is a broadcast-able
    * probe of the store's buckets, shuffle ∝ collisions, never corpus².
    */
  def lshIncrementalStep(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      store: Option[DataFrame],
      k: Int = 8,
      rowsPerBand: Int = 2,
      n: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 4096): (DataFrame, DataFrame) = {
    require(k % rowsPerBand == 0, "k must divide into bands")
    val newSigs = lshSignatures(newDocs, idCol, textCol, k, n).localCheckpoint(true)
    // partner side = corpus so far + this batch (in-batch pairs count too)
    val all = store.fold(newSigs)(_.unionByName(newSigs))
    // hot-bucket guard, store-vs-delta shape: an oversized PARTNER bucket
    // (a boilerplate cluster accumulated in the store) collapses to its
    // minimum id — each new doc in that bucket still pairs with the
    // earliest member (so identical templates keep dropping, the greedy
    // rule's outcome), without the delta x hot-store-bucket candidate
    // blowup. Sizing rides an aggregate + broadcast left-outer join (hot
    // keys are at most |store|/maxBucket, tiny), NOT a window — a window
    // here plans a full sort-shuffle of every store band row (see
    // bandCandidates).
    val allBands = bandBuckets(all, k, rowsPerBand)
    val hotPartner = allBands
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__cnt"), min(col("id")).as("__min"))
      .filter(col("__cnt") > maxBucket)
      .select(col("band"), col("bucket"), col("__min"))
    val partnerBands = allBands
      .join(broadcast(hotPartner), Seq("band", "bucket"), "left_outer")
      .filter(col("__min").isNull || col("id") === col("__min"))
      .drop("__min")
    val cand = partnerBands
      .as("b")
      .join(bandBuckets(newSigs, k, rowsPerBand).as("a"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("b.id") < col("a.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val drops = verifyPairs(cand, newSigs, all, threshold)
      .select(col("id_a").as(idCol))
      .distinct()
    (newDocs.join(drops, Seq(idCol), "left_anti"), all)
  }

  // --------------------------------------------------------------- SimHash

  /** All pairs within `maxHamming` SimHash bits, mined EXACTLY by the
    * pigeonhole principle: split the 16 fingerprint bits into
    * (maxHamming + 1) contiguous chunks — a pair differing in <= maxHamming
    * bits must agree on at least one whole chunk — bucket-join on
    * (chunk, chunk value), verify with bit_count(xor). No all-pairs scan.
    *
    * Scale note: bucket population is corpus / 2^chunk_bits; production
    * widens the fingerprint (more bits, same machinery) to keep buckets
    * small — the 16-bit form matches the q30 cross-engine fingerprint.
    *
    * Output: id_a < id_b, hamming.
    */
  def simHashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming in [0, 16)")
    simHashPairsFromSig(
      simHash16(docs, idCol, textCol), bits = 16, maxHamming = maxHamming,
      maxBucket = maxBucket)
  }

  /** Pigeonhole pair mining over ANY-width fingerprint table (id, simhash):
    * split `bits` into (maxHamming + 1) contiguous chunks — a pair within
    * maxHamming bits must agree on at least one whole chunk — bucket-join on
    * (chunk, value), verify with bit_count(xor). Exact (no false negatives)
    * at any width; bucket population ~ corpus / 2^(bits/(maxHamming+1)), so
    * WIDER fingerprints keep buckets small as the corpus grows.
    */
  def simHashPairsFromSig(
      sim: DataFrame,
      bits: Int,
      maxHamming: Int,
      maxBucket: Int = 4096): DataFrame = {
    require(bits >= 1 && bits <= 62, "bits in [1, 62]")
    require(maxHamming >= 0 && maxHamming < bits, s"maxHamming in [0, $bits)")
    val nChunks = maxHamming + 1
    val bounds  = (0 to nChunks).map(c => c * bits / nChunks) // contiguous splits
    // the fingerprint table feeds the band explode AND both verify fetches;
    // an eager localCheckpoint shares one concrete RDD (round-robin
    // exchanges are not deduped, so without it the per-row fingerprint
    // projection runs repeatedly over the corpus; eager per jaccardPairs'
    // deadlock note)
    val simCk = sim.localCheckpoint(true)
    val bands = simCk.select(
      col("id"),
      explode(array((0 until nChunks).map { c =>
        val lo = bounds(c); val hi = bounds(c + 1)
        struct(
          lit(c).as("band"),
          shiftright(col("simhash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1)).as("key"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.key").as("key"))
    bandCandidates(bands, maxBucket)
      .join(simCk.select(col("id").as("id_a"), col("simhash").as("__sim_a")), Seq("id_a"))
      .join(simCk.select(col("id").as("id_b"), col("simhash").as("__sim_b")), Seq("id_b"))
      .withColumn("hamming", expr("bit_count(__sim_a ^ __sim_b)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SCALE form of SimHash near-dup mining: pigeonhole pairs over the
    * 62-bit per-row `simHashWide` fingerprint. At 100 TB the 16-bit form's
    * buckets collapse (corpus / 2^8 rows per chunk bucket at maxHamming=1);
    * 62 bits keeps chunks ~15 bits wide at maxHamming=3 — buckets shrink by
    * ~2^7 per chunk-bit added, while the fingerprint stays one BIGINT.
    *
    * Output: id_a < id_b, hamming.
    */
  def simHashWidePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 62,
      maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame =
    simHashPairsFromSig(
      simHashWide(docs, idCol, textCol, bits).filter(col("simhash").isNotNull),
      bits = bits,
      maxHamming = maxHamming,
      maxBucket = maxBucket)

  /** Wide (up to 62-bit) SimHash fingerprint as a PER-ROW projection:
    * distinct token hashes via the native one-pass `shingle_hashes(text, 1)`
    * and the fingerprint via the native `SimHashExpr` permuted-parity fold —
    * zero shuffle at any corpus size (simHash16 below shuffles the exploded
    * token table). Wider fingerprints keep pigeonhole buckets small at
    * scale: population per bucket ~ corpus / 2^(bits/(maxHamming+1)).
    */
  def simHashWide(docs: DataFrame, idCol: String, textCol: String, bits: Int = 62): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(
      graft.functions.SimHashExpr(
        ColumnBridge.expression(shingleHashes(col(textCol), 1)), bits))
    spread(docs).select(col(idCol).as("id"), sig.as("simhash"))
  }

  /** 16-bit SimHash fingerprint per document from distinct-token hashes:
    * bit k set iff sum over tokens of (2*bit_k(h)-1) >= 0. A PER-ROW native
    * projection (one-pass token hashing + direct-bit SimHashExpr) — zero
    * shuffle at any corpus size; the earlier explode -> groupBy(bitSums)
    * form shuffled the exploded token table corpus-wide. Docs with no
    * tokens drop out (NULL fingerprint filtered), matching the explode
    * form's semantics; `simHash16Composed` keeps that formulation as the
    * cross-check.
    */
  def simHash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(
      graft.functions.SimHashExpr(
        ColumnBridge.expression(shingleHashes(col(textCol), 1)), 16, permuted = false))
    spread(docs)
      .select(col(idCol).as("id"), sig.as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Composed-builtins 16-bit fingerprint (explode -> groupBy bit sums) —
    * the original shuffling formulation, kept as the cross-check for the
    * per-row native form.
    */
  def simHash16Composed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = spread(docs)
      .select(col(idCol).as("id"), explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("t"))
      .withColumn("h", TextAnalysis.polyHash(col("t")))
    val bitSums = (0 until 16).map { k =>
      sum(shiftright(col("h"), k).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$k")
    }
    tok
      .groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("id"),
        (0 until 16)
          .map(k => when(col(s"s$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("simhash"))
  }
}
