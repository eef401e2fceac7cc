package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DirSwap

/** Corpus-hygiene operators for training-data pipelines: benchmark
  * decontamination (n-gram overlap against an eval set) and TF-IDF
  * relevance scoring — the checks a curation run performs after dedup
  * (Dedup) and before splitting (Splits).
  */
object Corpus {

  /** Per-document term-frequency table, IN-ROW (native TokenTfExpr):
    * ARRAY<STRUCT<term, tf>> in first-occurrence order. `explode(tokenTf)`
    * replaces the `explode(tokens) -> groupBy(doc, term)` spelling in the
    * retrieval scorers — identical tf integers, one less corpus-sized
    * exchange (explode is per-partition; the groupBy shuffled the whole
    * distinct-(doc, term) table).
    */
  def tokenTf(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.TokenTfExpr(ColumnBridge.expression(text)))
  }

  /** Per-document contamination report of `train` against `bench`: the
    * fraction of a training document's distinct n-token shingles that also
    * appear anywhere in the benchmark set — the standard n-gram-overlap
    * decontamination check run on scraped corpora before training, so eval
    * answers are not memorized from leaked eval questions.
    *
    * Scale shape: the benchmark shingle set is DISTINCT'd (one shuffle over
    * benchmark-sized data — benchmarks are orders of magnitude smaller than
    * the corpus) and BROADCAST; the training side is a per-row shingle
    * explode (map-side, native ShingleHashesExpr) probed against the
    * broadcast, then ONE partial-agg shuffle keyed on the doc id. No
    * corpus-sized join, no pair blowup — cost is linear in corpus shingle
    * volume.
    *
    * Output: idCol, n_shingles, n_matched, overlap in [0,1], contaminated
    * (overlap >= threshold). Documents with fewer than n tokens report
    * n_shingles = 0 and overlap = 0.0 (explode_outer keeps them).
    */
  def contamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val bh = bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("__bh"))
      .distinct()
      .withColumn("__hit", lit(1))
    val ex = train
      .select(col(idCol), Dedup.shingleHashes(col(textCol), n).as("__hh"))
      .select(col(idCol), size(col("__hh")).as("__ns"), explode_outer(col("__hh")).as("__h"))
    ex.join(broadcast(bh), ex("__h") === bh("__bh"), "left")
      .groupBy(col(idCol))
      .agg(
        max(col("__ns")).as("n_shingles"),
        count(col("__hit")).as("n_matched")) // count(col) skips nulls = misses
      .withColumn(
        "overlap",
        when(col("n_shingles") > 0, col("n_matched").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap") >= threshold)
  }

  /** The REVERSE contamination direction — the GPT-3-style eval-integrity
    * report: for each BENCHMARK document, the fraction of its distinct
    * n-gram shingles that appear anywhere in the training corpus. `q56`
    * answers "which train docs leak eval text" (and drops them); this
    * answers "how compromised is each eval item" — the number a model card
    * must report even for the contamination that stays in.
    *
    * Scale shape is the MIRROR of `contamination`'s: here the corpus side
    * is the 100 TB one, so its shingle universe can neither broadcast nor
    * globally distinct. Instead the (bench_id, shingle) probe set — eval
    * suites are tiny by construction — broadcasts to a map-side hash join
    * over the corpus's exploded shingles, and the matches collapse by
    * (bench_id, shingle) with map-side partial aggregation BEFORE the
    * per-doc count, so the one shuffle is bounded by the probe set's size
    * regardless of how hot a shingle is in the corpus. The corpus is
    * scanned once and never shuffled.
    *
    * Output: idCol (bench doc), n_shingles, n_matched, contamination_rate
    * in [0,1], contaminated (rate >= threshold). Bench docs with fewer
    * than n tokens report 0 shingles and rate 0.0.
    */
  def evalContaminationRate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val eh = bench
      .select(col(idCol), Dedup.shingleHashes(col(textCol), n).as("__hh"))
      .select(
        col(idCol),
        size(col("__hh")).as("__ns"),
        explode_outer(col("__hh")).as("__h"))
    val probe = eh
      .filter(col("__h").isNotNull)
      .select(col(idCol).as("__bid"), col("__h"))
    val hits = corpus
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("__ch"))
      .join(broadcast(probe), col("__ch") === col("__h"))
      .groupBy(col("__bid"), col("__h"))
      .agg(count(lit(1)).as("__dup")) // collapse corpus multiplicity map-side
      .groupBy(col("__bid"))
      .agg(count(lit(1)).as("__nhit"))
    eh.groupBy(col(idCol))
      .agg(max(col("__ns")).as("n_shingles"))
      .join(hits, col(idCol) === col("__bid"), "left")
      .select(
        col(idCol),
        col("n_shingles"),
        coalesce(col("__nhit"), lit(0L)).as("n_matched"),
        when(col("n_shingles") > 0,
          coalesce(col("__nhit"), lit(0L)).cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("contamination_rate"))
      .withColumn("contaminated", col("contamination_rate") >= threshold)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio of a TARGET domain's hashed-unigram
    * distribution vs the raw corpus's — the principled replacement for
    * binary quality classifiers when curating toward a domain (keep docs
    * that LOOK like the target, proportionally, not just top-k by an
    * opaque score). Features are `polyHash(token) mod buckets` (the
    * paper's hashed n-gram trick: a FIXED feature space regardless of
    * vocabulary, so the model is two length-`buckets` count vectors);
    * weight(doc) = Σ_tokens lr(f(token)) with
    * lr(f) = round(1e6 · ln( ((t_f+1)(Nr+B)) / ((r_f+1)(Nt+B)) )) —
    * add-1-smoothed log ratio in integer micro-nats.
    *
    * Cross-engine exactness: the tokenEntropy recipe — count products are
    * exact longs (< 2^53 at oracle scale, so the double casts are exact),
    * ONE division of two exact doubles (identical IEEE result), one ln
    * (≤ 1 ulp), rounded to micro-nats, then exact integer sums. Both
    * engines round half-away-from-zero.
    *
    * Scale shape: feature counts are one partial-agg shuffle collapsing
    * to ≤ `buckets` rows (map-side combine does the heavy lifting — the
    * shuffle is bucket-count-bounded no matter the corpus size); the
    * log-ratio table then BROADCASTS back onto the exploded-token scan
    * (map-side join, corpus never shuffled) and one groupBy(doc) sums the
    * weight. Two scans of the text — the price of a corpus-derived model.
    *
    * Output: idCol, n_tokens, dsir_x1e6 (higher = more target-like).
    */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      buckets: Int = 4096): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val toks = Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(
        col(idCol),
        targetPred.as("__tgt"),
        explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("__tok"))
      .select(
        col(idCol),
        col("__tgt"),
        pmod(graft.functions.TextAnalysis.polyHash(col("__tok")), lit(buckets.toLong)).as("__f"))
    val counts = toks
      .groupBy(col("__f"))
      .agg(
        sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("__t"),
        count(lit(1)).as("__r"))
    val totals = counts.agg(sum(col("__t")).as("__nt"), sum(col("__r")).as("__nr"))
    val lr = counts
      .crossJoin(broadcast(totals))
      .select(
        col("__f"),
        expr(s"""cast(round(ln(
                |  cast((__t + 1) * (__nr + $buckets) as double) /
                |  cast((__r + 1) * (__nt + $buckets) as double)) * 1000000) as bigint)"""
          .stripMargin).as("__lr"))
    toks
      .join(broadcast(lr), Seq("__f"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr")).as("dsir_x1e6"))
  }

  /** SUBSTRING-LEVEL eval contamination — the winnowing upgrade of the
    * n-gram probes above: a corpus document is flagged when it shares a
    * WINNOWING fingerprint (Dedup.winnowing — WinnowExpr selection) with
    * any benchmark document. By the winnowing guarantee, any copied token
    * run of length >= w + k - 1 between a train doc and an eval doc
    * yields at least one common selected fingerprint, so this catches the
    * paraphrase-resistant verbatim-span leakage that whole-shingle-set
    * overlap underweights in long documents, at ~2/(w+1) the index size
    * of the full positional-shingle probe.
    *
    * Scale shape mirrors `contamination`: the eval side is tiny by
    * construction, so its distinct fingerprint set BROADCASTS; the corpus
    * side is one scan-side WinnowExpr projection + explode, map-side
    * hash-joined against the broadcast probe (never shuffled), then one
    * groupBy(doc) over the matches only. Output: idCol, n_shared_fps
    * (fingerprints are per-doc distinct by construction, so the count is
    * the distinct shared-fingerprint count). Clean corpus docs are absent
    * (inner match — the caller's anti-join recovers the keep set).
    */
  def winnowContamination(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    val bfp = Dedup
      .winnowing(bench, idCol, textCol, k, w)
      .select(col("fp"))
      .distinct()
    Dedup
      .winnowing(Dedup.spread(corpus), idCol, textCol, k, w)
      .join(broadcast(bfp), Seq("fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** TF-IDF top-k terms per document: tf = occurrences of the term in the
    * doc, df = number of docs containing it, score = tf * (N / df). The idf
    * is kept RATIONAL (one divide, one multiply — bit-identical IEEE ops in
    * any engine) instead of logarithmic: ln() is not correctly-rounded and
    * engines disagree in the last ulp, which a cross-engine hash compare
    * cannot tolerate; the RANKING is unchanged (1/df and ln(N/df) are both
    * strictly decreasing in df). Ties break on the term string, so top-k is
    * total-order deterministic.
    *
    * Scale shape: tokenize+explode is map-side; tf is one (doc,term)
    * shuffle with partial aggregation; df re-aggregates the tf rows
    * (shuffle ~ vocabulary, which grows sublinearly — Heaps' law) and joins
    * back as a BROADCAST; the corpus count enters as a broadcast one-row
    * cross join (no driver action); top-k is one row_number window keyed on
    * the doc id.
    */
  /** Greedy sequence packing for training-batch prep: within each group
    * (e.g. language), documents are laid out in stable id order and cut
    * into packs of ~`budgetTokens` by the running token total —
    * `pack_id = floor((cumsum - n_tokens) / budget)`, i.e. a doc starts a
    * new pack when the budget would overflow ON AVERAGE (first-fit on the
    * ordered stream; packs can exceed the budget by less than one doc,
    * the standard streaming-packing tradeoff — bin-packing exactly is
    * NP-hard and order-unstable).
    *
    * One shuffle (the per-group window); deterministic for a fixed id
    * order, so the same corpus packs identically on any cluster — which
    * training-data reproducibility requires and random shuffling cannot
    * give.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    import graft.functions.TextAnalysis
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("cum_tokens", sum(col("n_tokens").cast("bigint")).over(w))
      .withColumn(
        "pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / budgetTokens.toDouble).cast("bigint"))
  }

  /** Length-bucketed BATCH assembly — the padding-efficiency step between
    * curation and the trainer: sequences batched with like-sized peers
    * waste little padding; a random batch pays for its longest member.
    * Rows bucket by fixed length `edges` (bucket = number of edges <=
    * len, so edges (200, 400) give <200 / [200,400) / >=400), then each
    * bucket's rows are dealt into consecutive `batchSize`-row batches in
    * (len ASC, id ASC) order — within a batch lengths are as tight as the
    * bucket allows, and the assignment is ROW_NUMBER-deterministic: same
    * corpus, same batch for every row, any cluster.
    *
    * The fixed-edge bucket bounds worst-case padding by the bucket width
    * regardless of batch boundaries; the in-bucket length sort tightens
    * the realized waste well below that bound (the certifying query
    * measures it as sum(batch_max - len)).
    *
    * Scale shape: the bucket tag is a pure projection; ranks come from one
    * `rankedPrefixGrouped` pass per bucket population (two-phase quantile
    * ranks — no per-bucket single-partition window). Output: input columns
    * + `len_bucket` + `batch` (0-based within the bucket).
    */
  def lengthBucketBatches(
      docs: DataFrame,
      idCol: String,
      lenCol: String,
      edges: Seq[Long],
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      s"edges must be non-empty, strictly increasing: $edges")
    Seq("len_bucket", "batch", "__lbs", "__lbrnk").foreach(n =>
      require(!docs.columns.contains(n), s"lengthBucketBatches: input already has a '$n' column"))
    val bucket = edges.foldLeft(lit(0)) { case (acc, e) =>
      acc + when(col(lenCol) >= e, 1).otherwise(0)
    }
    graft.operators.Splits
      .rankedGrouped(
        docs.withColumn("len_bucket", bucket)
          .withColumn("__lbs", -col(lenCol).cast("double")),
        "len_bucket", "__lbs", idCol, rankName = "__lbrnk")
      .withColumn("batch", expr(s"(__lbrnk - 1) div $batchSize"))
      .drop("__lbs", "__lbrnk")
  }

  /** C4-style LINE-level corpus dedup: every "line" that occurs more than
    * once ANYWHERE in the corpus is removed from every document that
    * contains it, and each document is reassembled from its surviving lines
    * in order (C4 dropped boilerplate — nav bars, cookie banners, license
    * headers — exactly this way; doc-level dedup can't touch a duplicated
    * line inside an otherwise-unique page). Documents whose every line was
    * duplicated elsewhere disappear, like C4's empty-page drop.
    *
    * Lines are fixed `lineTokens`-token windows from `chunkDocs` (stride =
    * width, no overlap) — corpora with real newlines would split on those
    * instead; the census/filter/reassemble machinery is identical.
    *
    * Scale: one partial-agg shuffle keyed on the line text for the census
    * (at extreme corpus sizes key on (xxhash64(line), length) instead to
    * shrink the shuffle — exactness then needs a collision check), one
    * shuffle join back, and a per-doc ordered reassembly via an in-row
    * array sort — no window over the corpus, no driver state.
    *
    * Output: idCol, text (surviving lines joined), n_lines_kept.
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lineTokens: Int = 50): DataFrame = {
    val chunks = chunkDocs(docs, idCol, textCol, maxTokens = lineTokens)
    val census = chunks.groupBy("chunk_text").agg(count(lit(1)).as("__n"))
    chunks
      .join(census, Seq("chunk_text"))
      .filter(col("__n") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            c => c.getField("chunk_text")),
          " ").as("text"),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Per-SOURCE boilerplate removal — the CCNet/Dolma cleanup step that
    * `lineDedup` (global uniqueness) does not express: a line is
    * boilerplate when it repeats across a meaningful FRACTION of one
    * source's documents (nav bars, cookie banners, license footers), and
    * such lines are dropped from every document of that source — while a
    * line duplicated only a handful of times (legit quotations, shared
    * headlines) survives, which is exactly where lineDedup is too blunt.
    * "Line" is a `lineTokens`-token chunk, as in lineDedup, so the rule is
    * layout-independent.
    *
    * A line is dropped iff, within its source, it appears in >= `minDocs`
    * distinct documents AND in more than `maxDocFrac` of the source's
    * documents. Both censuses are partial-agg shuffles (one keyed on
    * (source, line), one on source — the latter tiny and broadcast back);
    * the verdict join rides the same (source, line) key, and reassembly is
    * lineDedup's in-row ordered sort — no window over the corpus, no
    * driver state, shuffle volume ∝ corpus line count.
    *
    * Unlike lineDedup, documents never disappear: a fully-boilerplate
    * document survives with text = "" so the caller can census the drop.
    *
    * Output: idCol, sourceCol, text, n_lines_kept, n_boiler_dropped.
    */
  def stripBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      lineTokens: Int = 10,
      maxDocFrac: Double = 0.01,
      minDocs: Int = 2): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac <= 1, s"maxDocFrac must be in (0,1], got $maxDocFrac")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val chunks = chunkDocs(docs, idCol, textCol, maxTokens = lineTokens)
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
    val srcDocs =
      docs.groupBy(col(sourceCol)).agg(countDistinct(col(idCol)).as("__docs"))
    val census = chunks
      .groupBy(col(sourceCol), col("chunk_text"))
      .agg(countDistinct(col(idCol)).as("__indocs"))
    // the fraction compare is a single IEEE double multiply on both engines
    // (and in the DuckDB mirror), so the boundary is bit-stable
    val keep =
      !(col("__indocs") >= minDocs &&
        col("__indocs").cast("double") > lit(maxDocFrac) * col("__docs"))
    chunks
      .join(census, Seq(sourceCol, "chunk_text"))
      .join(broadcast(srcDocs), Seq(sourceCol))
      .withColumn("__keep", keep)
      .groupBy(col(idCol), col(sourceCol))
      .agg(
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(
                col("chunk_id"),
                when(col("__keep"), col("chunk_text")).as("chunk_text")))),
              c => c.getField("chunk_text").isNotNull),
            c => c.getField("chunk_text")),
          " ").as("text"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_boiler_dropped"))
  }

  /** Sliding token-window chunking of long documents — the context-length
    * prep step `packSequences` doesn't cover: packing concatenates SHORT
    * docs up to a budget; chunking cuts LONG docs down to one. Each doc
    * emits windows of `maxTokens` whitespace tokens starting every
    * `maxTokens - overlap` tokens (the trailing window may be short; a doc
    * at or under the limit emits itself as chunk 0).
    *
    * Pure per-row projection (`sequence` + in-row `slice`/`posexplode`) —
    * zero shuffle, stays inside whole-stage codegen, and output rows are
    * (doc, chunk_id)-keyed so downstream dedup/packing can treat chunks as
    * documents. Output: idCol, chunk_id (0-based), chunk_text, n_tokens.
    */
  def chunkDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    // token array materialized behind its own projection — a spliced
    // split() re-evaluates per lambda position (the q140 O(len²) class)
    val toks = col("__tk")
    val len  = size(toks)
    // 1 + ceil(max(0, len - maxTokens) / stride) chunks
    val nChunks =
      when(len <= maxTokens, lit(1L))
        .otherwise(lit(1L) + ceil((len - maxTokens).cast("double") / stride).cast("long"))
    docs
      .select(col(idCol), split(col(textCol), " ").as("__tk"))
      .select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0L), nChunks - 1),
          i => array_join(slice(toks, (i * stride + 1).cast("int"), lit(maxTokens)), " "))))
      .select(
        col(idCol),
        col("pos").cast("bigint").as("chunk_id"),
        col("col").as("chunk_text"),
        size(split(col("col"), " ")).cast("long").as("n_tokens"))
  }

  /** Vocabulary coverage summary: the smallest top-k (by frequency, token
    * ASC tiebreak) vocabulary whose cumulative token mass reaches
    * `coverPermille`/1000 of the corpus — THE sizing question every
    * tokenizer/vocab decision starts from ("how many types cover 90% of
    * tokens?"), plus the Zipf sanity numbers around it.
    *
    * Scale shape: one partial-agg shuffle to the token census (vocab-sized,
    * checkpointed for its two consumers), then the global rank + running
    * mass ride `Splits.rankedPrefix` — the quantile-bucketed two-phase
    * rank, NOT a partitionless window, so a 100 M-type vocab spreads over
    * all reducers. The coverage threshold compare is all-integer
    * (mass * 1000 vs total * permille).
    *
    * Output: one row — cover_k, covered_mass, total_mass, vocab_size.
    */
  def vocabCoverage(
      docs: DataFrame,
      textCol: String,
      coverPermille: Int = 900): DataFrame = {
    require(coverPermille > 0 && coverPermille <= 1000,
      s"coverPermille must be in (0,1000], got $coverPermille")
    val census = graft.operators.Dedup
      .spread(docs)
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val ranked = Splits.rankedPrefix(census, "cnt", "token", "cnt")
    val totals =
      census.agg(sum(col("cnt")).as("total_mass"), count(lit(1)).as("vocab_size"))
    ranked
      .crossJoin(broadcast(totals))
      .filter(col("cum_cost") * 1000 >= col("total_mass") * coverPermille)
      .groupBy(col("total_mass"), col("vocab_size"))
      .agg(min(col("rnk")).as("cover_k"), min(col("cum_cost")).as("covered_mass"))
      .select(col("cover_k"), col("covered_mass"), col("total_mass"), col("vocab_size"))
  }

  /** Corpus-trained BIGRAM coherence score per document — the second-order
    * companion to `unigramLogProb`: every adjacent token pair (w1, w2)
    * scores the empirical conditional probability p(w2 | w1) =
    * c(w1,w2) / c(w1,·) estimated from the corpus itself, and the document
    * score is the mean over its bigrams. Word-salad / shuffled / machine-
    * garbled text strings together bigrams the corpus never co-locates and
    * scores near zero; natural text rides the corpus's own transitions.
    *
    * Cross-engine exactness: each conditional is quantized to integer
    * billionths with one integer division ((c12 * 1e9) div c1 — both
    * operands non-negative, so Spark `div` == DuckDB `//`), the per-doc
    * mean is an integer sum (order-free) with one final integer division.
    * No float accumulation anywhere.
    *
    * Scale shape: bigram rows collapse FIRST to per-(doc, w1, w2) counts
    * (one partial-agg shuffle over corpus bigram volume, checkpointed once
    * for its three consumers); the c12/c1 model tables aggregate FROM that
    * collapsed table (vocab-sized shuffles), and the score join rides the
    * same keys. At extreme scale the model tables are broadcast-able
    * (vocab² is bounded; the corpus never re-shuffles).
    *
    * Output: idCol, n_bigrams, coherence_q (mean conditional probability
    * in integer billionths). Documents with < 2 tokens emit nothing.
    */
  /** Per-document positional bigram rows (idCol, w1, w2) — the shared
    * builder behind the bigram LM operators. The token array MATERIALIZES
    * behind its own projection before the lambda touches it: a split()
    * subtree spliced into a HOF body re-evaluates per position — the q140
    * O(len²)-per-doc class, catastrophic at real document lengths — while
    * an attribute reference is a row-field read. (CollapseProject leaves
    * the barrier standing: the alias is non-trivial and referenced more
    * than once.)
    */
  /** Per-(doc, w1, w2) adjacent-bigram counts, IN-ROW (native
    * BigramTfExpr + explode — no exchange; the former explode-pairs ->
    * groupBy(doc, w1, w2) spelling shuffled the corpus's distinct-
    * (doc, bigram) table to count what each row already held). Docs with
    * fewer than two tokens emit nothing, as before.
    */
  private def docBigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bt = ColumnBridge.column(
      graft.functions.BigramTfExpr(ColumnBridge.expression(col(textCol))))
    graft.operators.Dedup
      .spread(docs)
      .select(col(idCol), explode(bt).as("__b"))
      .select(
        col(idCol),
        col("__b.w1").as("w1"), col("__b.w2").as("w2"),
        col("__b.k").cast("long").as("k"))
  }

  def bigramCoherence(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bgc = docBigramCounts(docs, idCol, textCol)
      .localCheckpoint(true)
    val c12 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("cnt12"))
    val c1  = bgc.groupBy(col("w1")).agg(sum(col("k")).as("cnt1"))
    bgc
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("pq", expr("cnt12 * 1000000000 div cnt1"))
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_bigrams"),
        expr("sum(k * pq) div sum(k)").as("coherence_q"))
  }

  /** Interpolated bigram language-model fluency score — the KenLM-lite
    * upgrade of `bigramCoherence`: each adjacent pair scores the MIXTURE
    * p = λ·p(w2|w1) + (1−λ)·p_uni(w2), where p(w2|w1) = c(w1,w2)/c(w1·)
    * is the corpus conditional and p_uni is the add-one-smoothed unigram
    * (q99's model), so unseen transitions get unigram mass instead of the
    * raw conditional's zero. Output is mean NEGATIVE log-likelihood in
    * integer micro-nats (`nll_x1e6`, lower = more fluent) — the standard
    * CCNet/KenLM document-quality axis.
    *
    * Cross-engine exactness: with λ = lambdaPct/100 the mixture is the
    * exact RATIONAL (λp·cb·(N+V) + (100−λp)·c1·(u2+1)) /
    * (100·c1·(N+V)) — numerator and denominator are exact 64-bit
    * integers, each < 2^53 at any SF this repo runs, so casting to double
    * is exact, the single division is correctly rounded identically in
    * both engines, and `ln(den/num)` (≥ 0 — the mixture never exceeds 1)
    * differs by at most 1 ulp before quantization to micro-nats. The
    * per-doc mean is then an order-free integer sum with ONE final
    * integer division, all operands non-negative, so Spark `div` mirrors
    * DuckDB `//`. Beyond ~2^53 total tokens the numerator needs a
    * DECIMAL leg — document-scale corpora hit that at ~1000× this
    * engine's test envelope.
    *
    * Scale shape: same as `bigramCoherence` — bigrams collapse to
    * per-(doc, w1, w2) counts first (one partial-agg shuffle,
    * checkpointed for its three consumers); model tables (c12, c1,
    * unigram) aggregate from vocab-sized tables and ride the same join
    * keys; the one-row (N, V) stats table broadcasts. Docs with < 2
    * tokens emit nothing.
    */
  def bigramNll(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lambdaPct: Int = 90): DataFrame = {
    require(lambdaPct >= 1 && lambdaPct <= 99,
      s"lambdaPct must be in [1,99], got $lambdaPct")
    val bgc = docBigramCounts(docs, idCol, textCol)
      .localCheckpoint(true)
    val c12 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("cnt12"))
    val c1  = bgc.groupBy(col("w1")).agg(sum(col("k")).as("cnt1"))
    val uni = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("uf"))
    val stats = uni.agg(
      (sum(col("uf")) + count(lit(1))).as("nv")) // N + V, one broadcast cell
    // assemble the MODEL first — c1 and uf2 fold into the (w1,w2)-keyed
    // count table and the quantized log evaluates once per DISTINCT
    // bigram, all at model (vocab²-bounded) size. The big per-doc bigram
    // table then pays exactly ONE join shuffle on (w1,w2) instead of
    // three (w1,w2)/(w1)/(w2) reshuffles, and never re-evaluates the log
    // per occurrence. Same integers, same single log per value — the
    // oracle mirror is unchanged.
    val model = c12
      .join(c1, Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("uf").as("uf2")), Seq("w2"))
      .crossJoin(broadcast(stats))
      .withColumn("__den", expr("100L * cnt1 * nv"))
      .withColumn("__num",
        expr(s"${lambdaPct}L * cnt12 * nv + ${100 - lambdaPct}L * cnt1 * (uf2 + 1L)"))
      .withColumn("__nllq",
        round(log(col("__den").cast("double") / col("__num").cast("double"))
          * lit(1000000d)).cast("long"))
      .select(col("w1"), col("w2"), col("__nllq"))
    bgc
      .join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).as("n_bigrams"),
        expr("sum(k * __nllq) div sum(k)").as("nll_x1e6"))
  }

  /** Per-source token-distribution DIVERGENCE from the corpus: the
    * observed-support χ² statistic Σ_t (o_t·T − c_t·s)² / (c_t·s·T)
    * (o = token count in the source, c = corpus count, s = source total,
    * T = corpus total), summed over the tokens the source actually uses.
    * The drift alarm for a multi-source corpus: a source whose language
    * shifts (spam influx, template change, scraper breakage) spikes
    * against the corpus baseline — complementing `centroidCosineMatrix`
    * (semantic drift) with a lexical, model-free signal.
    *
    * Cross-engine exactness: the residual o·T − c·s is exact 64-bit
    * integer arithmetic; each term then pays ONE identical double
    * divide + round into integer micro-units, and the per-source total is
    * an order-free integer sum.
    *
    * Scale shape: token rows collapse to (source, token) counts first
    * (one partial-agg shuffle over corpus token volume); the corpus/source
    * marginals aggregate FROM that collapsed table (vocab- and
    * source-sized), the corpus total broadcasts as one row, and the term
    * join rides the same keys.
    *
    * Output: groupCol, vocab_used (distinct tokens in the source),
    * chi2_q (statistic in integer micro-units).
    */
  def chiSquareDivergence(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val oc = graft.operators.Dedup
      .spread(docs)
      .select(col(groupCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val ct = oc.groupBy(col("token")).agg(sum(col("o")).as("ct"))
    val ts = oc.groupBy(col(groupCol)).agg(sum(col("o")).as("ts"))
    val ta = oc.agg(sum(col("o")).as("ta"))
    val d  = (col("o") * col("ta") - col("ct") * col("ts")).cast("double")
    val term = round(
      lit(1000000.0) * (d * d) / (col("ct").cast("double") * col("ts") * col("ta")))
      .cast("long")
    oc.join(ct, Seq("token"))
      .join(ts, Seq(groupCol))
      .crossJoin(broadcast(ta))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("vocab_used"), sum(term).as("chi2_q"))
  }

  /** Collocation mining by LIFT: bigrams occurring at least `minSupport`
    * times, scored lift = p(w1,w2) / (p(w1·)·p(·w2)) = c12·N / (c1s·c2e)
    * and cut to the global top-`k` — the PMI-family collocation extractor
    * (lift is PMI without the log, so the score stays exact integer
    * arithmetic: lift_q = (c12·N·1e6) div (c1s·c2e), every operand
    * non-negative so Spark `div` == DuckDB `//`). Surfaces the multi-word
    * units ("new york", "machine learning") a tokenizer or phrase-mining
    * pass should treat as one token.
    *
    * Scale shape: one partial-agg shuffle to global bigram counts, vocab-
    * sized marginal aggregates joined back on their own keys, a one-row
    * broadcast total, and a TakeOrdered top-k — no global sort. At
    * extreme scale c12·N needs DECIMAL(38) headroom (N ≳ 3e9 overflows
    * the long product); the contract-scale long path is documented here.
    *
    * Output: w1, w2, c12, lift_q — top-k by (lift_q DESC, w1, w2).
    */
  def collocations(
      docs: DataFrame,
      textCol: String,
      minSupport: Long = 5L,
      k: Int = 20): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // corpus-global counts need no doc id: a constant stands in for it;
    // the in-row counts pre-collapse each row's repeats so the (w1, w2)
    // shuffle carries per-row-distinct bigrams, not occurrences
    val c12 = docBigramCounts(docs.withColumn("__cid", lit(0)), "__cid", textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("k")).as("c12"))
      .localCheckpoint(true)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1s"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2e"))
    val nt = c12.agg(sum(col("c12")).as("n"))
    c12
      .filter(col("c12") >= minSupport)
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("lift_q", expr("c12 * n * 1000000 div (c1s * c2e)"))
      .select(col("w1"), col("w2"), col("c12"), col("lift_q"))
      .orderBy(col("lift_q").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** One-row DATASET CARD: the headline numbers a corpus release ships
    * with (datasheet/data-statement practice) — population, source
    * breadth, exact-duplicate mass, token volume, mean length, short-doc
    * tail — computed in ONE multi-aggregate pass over the corpus (the
    * distinct counts ride Spark's expand; at extreme scale swap
    * `textCol` for a precomputed digest column so the distinct shuffle
    * carries 8-byte keys instead of documents — same counts).
    *
    * All-integer output (mean in integer milli-tokens), so the card is
    * bit-stable cross-engine.
    *
    * Output: n_docs, n_groups, n_distinct_texts, total_tokens,
    * short_docs (< shortTokens), dup_docs, mean_tokens_milli.
    */
  def datasetCard(
      docs: DataFrame,
      textCol: String,
      groupCol: String,
      shortTokens: Int = 32): DataFrame = {
    val nt = graft.functions.TextAnalysis.tokenCount(col(textCol)).cast("long")
    docs
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col(groupCol)).as("n_groups"),
        countDistinct(col(textCol)).as("n_distinct_texts"),
        sum(nt).as("total_tokens"),
        sum(when(nt < shortTokens, 1L).otherwise(0L)).as("short_docs"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct_texts"))
      .withColumn("mean_tokens_milli", expr("total_tokens * 1000 div n_docs"))
  }

  /** `contamination` without the broadcast: the benchmark shingle set rides
    * as a few-MB BLOOM SKETCH predicate over the exploded training
    * shingles, and only the might-match survivors (true hits + the
    * fpp-bounded trickle) reach the exact verification join — which is a
    * plain shuffle join, so the benchmark set no longer has to fit the
    * broadcast threshold. Same output, row for row, as `contamination`
    * (the q77 contract entry certifies it against q56's own oracle):
    * the bloom admits a superset, the verify join removes false
    * positives, and per-doc totals come from the pre-filter stream.
    *
    * Use when the eval suite's shingle set is too big to broadcast
    * (hundreds of MBs to GBs) — the sketch is ~10 bits/key at fpp=1%.
    */
  def contaminationBloom(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      expectedShingles: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    import graft.functions.BloomMightContainExpr
    val bh = bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("__bh"))
      .distinct()
    val bloom = bh.stat.bloomFilter(col("__bh"), expectedShingles, fpp)
    // localCheckpoint: `ex` feeds BOTH aggregations below; without the
    // barrier each would re-run the per-row shingle hashing over the full
    // training corpus — the dominant CPU cost at the scale this operator
    // targets (jaccardPairs' multi-consumer rule)
    val ex = train
      .select(col(idCol), Dedup.shingleHashes(col(textCol), n).as("__hh"))
      .select(col(idCol), size(col("__hh")).as("__ns"), explode_outer(col("__hh")).as("__h"))
      .localCheckpoint(true)
    // per-doc totals BEFORE the bloom cut (docs whose every shingle the
    // sketch rejects must still report n_matched = 0)
    val base = ex.groupBy(col(idCol)).agg(max(col("__ns")).as("n_shingles"))
    val hits = ex
      .filter(col("__h").isNotNull && BloomMightContainExpr(col("__h"), bloom))
      .join(bh, col("__h") === col("__bh"), "left_semi") // exact verify: kills fp trickle
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nm"))
    base
      .join(hits, Seq(idCol), "left")
      .withColumn("n_matched", coalesce(col("__nm"), lit(0L)))
      .withColumn(
        "overlap",
        when(col("n_shingles") > 0, col("n_matched").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap") >= threshold)
      .select(col(idCol), col("n_shingles"), col("n_matched"), col("overlap"), col("contaminated"))
  }

  /** Corpus-wide top-`k` n-gram vocabulary: the frequency table behind
    * tokenizer/vocab construction (BPE seeding, stopword discovery, domain
    * drift checks). Token n-grams are built per row from the whitespace
    * token array (map-side, no join); counting is ONE shuffle with map-side
    * partial aggregation — the reduce side carries the vocabulary (Heaps'-
    * law sublinear), not the corpus; top-k is a TakeOrdered over the
    * aggregated counts (no global sort materialization). Ties break on the
    * gram string, so the cut is total-order deterministic.
    *
    * Output: gram, cnt (heaviest first; the caller can zip a rank since
    * the cut is already total-order deterministic).
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(k > 0, s"k must be positive, got $k")
    // token array materialized behind its own projection — a spliced
    // split() re-evaluates per lambda position (the q140 O(len²) class)
    val tk = col("__tk")
    val grams =
      if (n == 1) tk
      else
        // < n tokens -> no grams (the guard keeps sequence() from going
        // descending on a negative stop)
        when(size(tk) >= n,
          transform(
            sequence(lit(0), size(tk) - n),
            i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
          .otherwise(array())
    docs
      .filter(col(textCol).isNotNull)
      .select(split(col(textCol), " ").as("__tk"))
      .select(explode(grams).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** BM25 top-k terms per document — the retrieval-scoring upgrade of
    * tfidfTopK: tf saturates at k1 and long documents are normalized by b
    * against the corpus mean length,
    * score = (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)) * (N/df).
    * The idf stays RATIONAL (N/df, q59's trick) and avgdl is an exact
    * integer-sum divide — every FP op is a division/multiply chain with a
    * fixed association, so the score mirrors bit for bit cross-engine
    * (ln()-based idf and avg()-of-doubles would not).
    *
    * Scale shape = tfidfTopK's: the doc length rides the exploded token
    * rows into the tf aggregation (max(dl) — no per-doc join), df and the
    * one-row corpus stats broadcast, one row_number window for the cut.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import graft.functions.TextAnalysis
    // per-doc tf computed IN-ROW (token_tf) and exploded: identical tf
    // integers, but the (doc, term) exchange the groupBy spelling paid —
    // volume ~ the corpus's distinct-(doc, term) table — disappears;
    // only df and the one-row corpus stats still shuffle
    val tf = docs
      .select(
        col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"),
        explode(tokenTf(col(textCol))).as("__e"))
      .select(
        col(idCol), col("dl"),
        col("__e.term").as("term"), col("__e.tf").cast("long").as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__sumdl"),
      count(lit(1)).cast("double").as("__n"))
    val avgdl = col("__sumdl").cast("double") / col("__n")
    val score =
      (col("tf").cast("double") * lit(k1 + 1)) /
        (col("tf").cast("double") + lit(k1) * (lit(1 - b) + (lit(b) * col("dl").cast("double")) / avgdl)) *
        (col("__n") / col("df").cast("double"))
    val scored = tf
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", score)
    // bounded-heap top-k per doc (see tfidfTopK) — no per-doc sort of the
    // full posting list
    TopK
      .topKPerGroup(scored, Seq(idCol), "score", "term", k, carryCols = Seq("tf", "df"))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // in-row tf (token_tf) — see bm25TopK: same integers, one less exchange
    val tf = docs
      .select(col(idCol), explode(tokenTf(col(textCol))).as("__e"))
      .select(col(idCol), col("__e.term").as("term"), col("__e.tf").cast("long").as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDoc = docs.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(nDoc))
      .withColumn("score", col("tf").cast("double") * (col("__n") / col("df")))
    // per-doc top-k rides the bounded-heap aggregate: a doc's posting list
    // (its distinct-term count, unbounded for long docs) never gets sorted
    // — each map partition keeps a k-heap per doc and the shuffle carries
    // only those candidates
    TopK
      .topKPerGroup(scored, Seq(idCol), "score", "term", k, carryCols = Seq("tf", "df"))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Token-budget corpus selection: keep the best-scoring documents whose
    * RUNNING token total stays within `budget` — "give me the highest-
    * quality `budget` tokens", the greedy selection rule every
    * fixed-compute training run applies to an over-collected corpus.
    *
    * The running total in global (`scoreCol` DESC, `idCol`) order is
    * `Splits.rankedPrefix` — quantile-bucketed two-phase prefix sum, no
    * partitionless window, no single-reducer funnel at any corpus size.
    * Rows keep all input columns plus `rnk` (global quality rank) and
    * `cum_cost` (inclusive running cost): the first selected row is rank 1
    * and the last one is the selection's exact token count.
    */
  def selectToBudget(
      df: DataFrame,
      scoreCol: String,
      idCol: String,
      costCol: String,
      budget: Long,
      buckets: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    Splits
      .rankedPrefix(df, scoreCol, idCol, costCol, buckets = buckets)
      .filter(col("cum_cost") <= budget)
  }

  /** Unigram language-model quality score — the CCNet-style filter proxy:
    * score each document by the mean log-probability of its tokens under
    * the CORPUS's own unigram distribution (add-one smoothed). Junk pages
    * (boilerplate explosions, gibberish, wrong-language fragments) sit in
    * the tails; the score feeds `mixtureToBudget`/`selectToBudget` as the
    * quality signal when no trained scorer is available.
    *
    * Scale shape: term frequencies are ONE aggregate over exploded tokens,
    * and scoring is a plain shuffle join on term (NOT a broadcast — a 100
    * TB corpus's vocabulary does not fit an executor) followed by a
    * per-doc aggregate. Both shuffles hash-partition on high-cardinality
    * keys; nothing funnels.
    *
    * Output: idCol, n_tokens, avg_logp (natural log). Every doc emits a
    * row (the whitespace convention tokenizes an empty text as one empty
    * token, same as the other text ops). Deterministic up to float
    * summation order — quantize before any cross-engine compare.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf   = toks.groupBy(col("term")).agg(count(lit(1)).as("__tf"))
    val stats = tf.agg(
      sum(col("__tf")).as("__total"),
      count(lit(1)).as("__vocab"))
    // add-one smoothing: p(t) = (tf + 1) / (total + vocab)
    toks
      .join(tf, "term") // every token matches (tf built from the same corpus)
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(log(
          (col("__tf").cast("double") + 1.0) /
            (col("__total").cast("double") + col("__vocab").cast("double"))))
          .as("avg_logp"))
  }

  /** EXACT cross-source duplication census: for every source pair, the
    * number of distinct texts present (at least once) in BOTH — the exact
    * companion to `Dedup.signatureOverlapMatrix`'s MinHash ESTIMATE, and
    * the first question of a multi-source merge ("how much of B do I
    * already have from A?"). Runs on content digests, so two sources
    * "share" a text iff the bytes match exactly (pair with the normalized
    * or near-dup miners for fuzzier notions).
    *
    * Scale shape: one shuffle to distinct (digest, source) — corpus-sized
    * but thin — then the self-join happens WITHIN digest groups, whose
    * width is bounded by |sources|, so candidate pairs are
    * ≤ C(|sources|, 2) per distinct text regardless of how many rows
    * duplicate it; the output is |sources|²-bounded. No corpus² anywhere.
    *
    * Output: src_a < src_b, n_shared.
    */
  def crossSourceDupMatrix(
      docs: DataFrame,
      sourceCol: String,
      textCol: String): DataFrame = {
    val ds = docs
      .select(sha2(col(textCol), 256).as("__dg"), col(sourceCol).as("src_a"))
      .distinct()
      .localCheckpoint(true) // two legs of the digest self-join
    ds.join(
        ds.select(col("__dg"), col("src_a").as("src_b")),
        Seq("__dg"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-key document cap — the RefinedWeb/C4 "domain diversity" rule:
    * keep at most `cap` documents from any one value of `keyCol` (domain,
    * source, crawl host), so a single over-represented site cannot dominate
    * the corpus mixture. Survivors are chosen DETERMINISTICALLY by the
    * scrambled-id order (`Splits.hashOrder` — a fixed pseudo-random
    * permutation of ids), so the cap is a reproducible uniform sample of
    * the key's documents, not "whatever sorted first": re-running on any
    * cluster, any partitioning, keeps exactly the same rows.
    *
    * Spelled on the bounded-heap `TopK.topKPerGroup` aggregate, NOT a
    * window: a hot domain with 10^8 docs costs the shuffle cap·partitions
    * heap entries, never 10^8 sorted rows through one reducer — the same
    * hot-group argument as every other per-group cut in this module.
    *
    * Output: keyCol, idCol, rnk (1..cap in the kept-order). Join back on
    * (keyCol, idCol) for payload columns — the heap carries nothing wide.
    */
  def capPerKey(
      docs: DataFrame,
      keyCol: String,
      idCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    // order wanted: hashOrder(id) ASC; the heap keeps score-DESC, so feed
    // the negated hash (exact: hashOrder < P ~ 1e9 fits a double) and drop
    // the helper score from the output
    val scored = docs.select(
      col(keyCol),
      col(idCol),
      (-Splits.hashOrder(col(idCol))).cast("double").as("__neg_pri"))
    TopK
      .topKPerGroup(scored, Seq(keyCol), "__neg_pri", idCol, cap)
      .drop("__neg_pri")
  }

  /** Per-source distinct n-gram ratio — the corpus-level diversity axis
    * (the "distinct-n" metric of text-generation evals, turned on the
    * training corpus itself): ratio_x1e6 = distinct n-grams · 1e6 div
    * total positional n-gram occurrences. A templated or boilerplate-heavy
    * source re-emits the same n-grams across documents and scores low even
    * when every individual document looks fine — the cross-document
    * complement of the per-doc `tokenEntropy` / `dupBigramRatio` axes.
    *
    * Grams travel as the engine's polynomial hash (one long vs a 3-token
    * string through the exchange); the DuckDB oracle applies the same hash,
    * so the rare collision collapses identically in both engines and
    * parity is exact. Scale shape: explode to (source, hash), ONE
    * partial-agg shuffle to per-(source, hash) counts, then a per-source
    * collapse — distinct-count state never exceeds the source's own gram
    * vocabulary. No window, no join.
    *
    * Output: sourceCol, n_grams, n_distinct, ratio_x1e6.
    */
  def distinctNgramRatio(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // native one-pass positional hashes (codegen'd) — the composed
    // shingle->polyHash HOF chain pays interpreted lambda evaluation per
    // gram; counts are over occurrences, so the non-distinct positional
    // stream is exactly what this ratio wants
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val grams = ColumnBridge.column(
      graft.functions.PosShingleHashesExpr(ColumnBridge.expression(col(textCol)), n))
    graft.operators.Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(col(sourceCol), explode(grams).as("__h"))
      .groupBy(col(sourceCol), col("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(sourceCol))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"))
      .withColumn("ratio_x1e6", expr("n_distinct * 1000000 div n_grams"))
  }

  /** Per-document N-GRAM REPETITION fractions — the Gopher repetition
    * rules (Rae et al. 2021 §A1.1, as reimplemented by Dolma/RedPajama):
    * a document dominated by one repeated phrase, or whose character mass
    * sits in n-grams that occur more than once, is template spam / log
    * spew / keyword stuffing, and the Gopher ablations showed these rules
    * remove it with near-zero collateral. Two axes per document:
    *
    *  - `top_bigram_frac_x1e6`: chars covered by occurrences of the single
    *    MOST FREQUENT positional bigram / total chars (count × bigram
    *    length — the standard reimplementation of "fraction of characters
    *    in the top 2-gram"; ties break lexicographically smallest, so the
    *    pick is deterministic cross-engine);
    *  - `dup_trigram_frac_x1e6`: chars covered by ALL positional trigrams
    *    occurring more than once / total chars ("fraction of characters in
    *    duplicated 3-grams").
    *
    * Both in integer ×1e6 units (count·len·1e6 div chars — exact), so the
    * DuckDB mirror is bit-identical; thresholding (Gopher: 0.18 / 0.10) is
    * the caller's cut. Docs with no bigrams/trigrams score 0, not null —
    * a two-token doc has no repetition evidence either way.
    *
    * Scale shape: two explode → partial-agg shuffles on (doc, gram) that
    * collapse map-side to the doc's distinct grams, one per-doc fold each
    * (bounded by per-doc vocabulary), then a broadcast-free join of two
    * one-row-per-doc frames back onto the doc spine. No window, no
    * driver-side state.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // IN-ROW native kernel (RepGramStatsExpr): gram statistics never cross
    // document boundaries, so the former explode -> groupBy(doc, gram)
    // spelling shuffled the corpus's whole token volume — twice (bigrams +
    // trigrams) — to count what each row already held. Same numbers
    // (same (count DESC, gram ASC) tie rule, same empty-shingles zeros),
    // zero shuffle, no joins.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def rep(n: Int) = ColumnBridge.column(
      graft.functions.RepGramStatsExpr(ColumnBridge.expression(col(textCol)), n))
    graft.operators.Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(
        col(idCol),
        greatest(length(col(textCol)), lit(1)).as("__chars"),
        rep(2).getField("top_cov").as("__top2"),
        rep(3).getField("dup_cov").as("__dup3"))
      .select(
        col(idCol),
        expr("(__top2 * 1000000L) div __chars").as("top_bigram_frac_x1e6"),
        expr("(__dup3 * 1000000L) div __chars").as("dup_trigram_frac_x1e6"))
  }

  /** Per-document TOKEN ENTROPY in integer micro-nats — the
    * compression-ratio proxy in the Gopher/C4 quality family:
    * H = Σ_t (c_t/n)·ln(n/c_t) over the doc's own token distribution.
    * Near-zero entropy = one token repeated (keyword-stuffed spam, log
    * spew); maximal entropy = every token distinct. Complements
    * `dupBigramRatio` (which sees adjacent repetition only — entropy
    * catches the shuffled kind).
    *
    * Cross-engine exactness: per distinct (doc, term), n/c is a division
    * of two exact small longs (identical IEEE result), one ln (≤ 1 ulp),
    * rounded to micro-nats; the doc total is an exact integer sum with
    * ONE final non-negative `div`. Same recipe class as `bigramNll`.
    *
    * Scale shape: one partial-agg shuffle to per-(doc, term) counts, then
    * ONE groupBy(doc) whose per-doc state is the count list — bounded by
    * the doc's own vocabulary (docs are individually small at any corpus
    * scale; the corpus dimension stays streaming). No join-back, no
    * window, no second shuffle.
    *
    * Output: idCol, n_tokens, distinct_tokens, entropy_x1e6.
    */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // IN-ROW native kernel (TokenEntropyExpr): per-document entropy never
    // crosses document boundaries — the former explode -> groupBy(doc,
    // term) -> groupBy(doc) spelling shuffled the corpus's token volume
    // twice to count what each row already held. Same integer micro-nat
    // recipe (order-free long sum, one truncating div), zero shuffle.
    // isNotNull matches the explode form (explode of null emits nothing).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val e = ColumnBridge.column(
      graft.functions.TokenEntropyExpr(ColumnBridge.expression(col(textCol))))
    graft.operators.Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(
        col(idCol),
        e.getField("n_tokens").as("n_tokens"),
        e.getField("distinct_tokens").as("distinct_tokens"),
        e.getField("entropy_x1e6").as("entropy_x1e6"))
  }

  /** Per-source token-budget mixture selection — the pretraining-mixture
    * construction step: each source keeps its highest-`scoreCol` documents
    * until that SOURCE's token budget is filled (greedy, exact cut on the
    * running total). `selectToBudget` fills one global budget; this fills
    * one per corpus component, which is how mixture weights are actually
    * realized when components share a corpus.
    *
    * Rides `Splits.rankedPrefixGrouped` — one pass over all sources, no
    * per-source rescan, no per-source full sort. Sources without an entry
    * in `budgets` are DROPPED (they have no mixture weight). Output keeps
    * all columns + per-source `rnk` and `cum_cost`.
    */
  def mixtureToBudget(
      df: DataFrame,
      sourceCol: String,
      scoreCol: String,
      idCol: String,
      costCol: String,
      budgets: Map[String, Long],
      buckets: Int = 32): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ > 0), "every budget must be positive")
    val ss = df.sparkSession
    import ss.implicits._
    val budgetDf = broadcast(budgets.toSeq.toDF(sourceCol + "__bsrc", "__budget"))
    Splits
      .rankedPrefixGrouped(
        df.join(
          budgetDf,
          col(sourceCol).cast("string") === col(sourceCol + "__bsrc")),
        sourceCol, scoreCol, idCol, costCol, buckets = buckets)
      .filter(col("cum_cost") <= col("__budget"))
      .drop(sourceCol + "__bsrc", "__budget")
  }

  /** Snapshot diff: per-key drift status between two corpus versions —
    * `added` (key only in `b`), `removed` (only in `a`), `changed` (in
    * both, any compare column differs, null-safe), `unchanged`. The
    * anti-entropy check between a rebuilt corpus and its predecessor:
    * "what did this pipeline change" answered as data, not as a guess
    * from job logs.
    *
    * One key-hash full-outer shuffle; the column comparison is map-side.
    * At 100 TB diff the PARTITIONS you suspect (date ranges), not the
    * whole table, and compare digests instead of wide payloads — the
    * operator takes whatever projection you hand it.
    *
    * Output: keyCols + status.
    */
  def snapshotDiff(
      a: DataFrame,
      b: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val aren = a
      .select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__ina", lit(1))
    val bren = b
      .select((keyCols.map(col) ++ compareCols.map(c => col(c).as(s"__b_$c"))): _*)
      .withColumn("__inb", lit(1))
    val changed = compareCols.map(c => !(col(c) <=> col(s"__b_$c"))).reduce(_ || _)
    aren
      .join(bren, keyCols, "full_outer")
      .withColumn(
        "status",
        when(col("__ina").isNull, "added")
          .when(col("__inb").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged"))
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** Token-boundary blocklist audit (the C4 "bad words list" gate): per
    * document, how many token occurrences hit the list, how many DISTINCT
    * listed terms appear, and the C4 keep rule (any hit → drop). Token
    * boundaries — not substring match — so "scrape" never trips a "rape"
    * entry; the list is matched post-tokenization, the same axis every
    * other text op here uses.
    *
    * Scale shape: the list rides as a broadcast literal set and the scan
    * is one in-row pass — zero shuffle, filter-pushdown friendly. The
    * per-token probe is `isin`, which OptimizeIn rewrites to an InSet
    * hash-set membership above 10 terms — O(1) per token, so the row cost
    * is O(n_tokens) regardless of list size (the r7 `array_contains` form
    * scanned the literal array per token: O(n_tokens x terms)). The
    * literal form is still bounded ~10^4 terms by PLAN SIZE (the set rides
    * in the plan/codegen payload).
    *
    * Null text is dropped (the same isNotNull gate as every text op here).
    *
    * Output: idCol, n_tokens, n_hits, n_distinct_hits, keep.
    */
  def blocklistAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklistAudit: empty blocklist")
    val toks = split(col(textCol), " ")
    // hits filtered FIRST (InSet O(1) per token), distinct taken over the
    // hit list only (usually tiny) — the array_intersect spelling paid the
    // full |terms| literal per row for the distinct census
    val hits = filter(toks, t => t.isin(terms: _*))
    df.filter(col(textCol).isNotNull)
      .select(
        col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(hits).cast("long").as("n_hits"),
        size(array_distinct(hits)).cast("long").as("n_distinct_hits"))
      .withColumn("keep", col("n_hits") === 0L)
  }

  /** Exact duplicated-SPAN mining (the within-document counterpart of
    * whole-doc dedup): every maximal token range covered by k-grams that
    * occur >= `minCount` times ANYWHERE in the corpus — the practical
    * k-gram form of exact-substring dedup (Lee et al. 2022's suffix-array
    * pass; the k-gram grid trades their byte-exact boundaries for a
    * shuffle-shaped plan, detecting every duplicated run of >= k tokens
    * with start/end resolved to gram granularity). Within-doc repeats
    * count toward `minCount` — a doc that repeats its own boilerplate
    * twice is flagged without a second doc.
    *
    * Output: (doc_id, span_id, span_start, span_end, span_toks) — span_id
    * is the 1-based ordinal of the span within its doc, positions are
    * 0-based token indexes, inclusive.
    *
    * Scale shape: one posexplode projection (|corpus tokens| rows — no
    * pair blowup), ONE partial-aggregated groupBy on the 64-bit gram hash,
    * one shuffle join of occurrences against the duplicated-hash set keyed
    * on the hash, then a per-doc window (partitioned by doc — no global
    * sort) to merge overlapping ranges. Grams are compared BY XXHASH64:
    * at 2^64 buckets a corpus of 10^9 distinct grams carries ~3e-2 ppm
    * collision odds; a collision can only ADD a false span, never drop a
    * real one.
    */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame = {
    require(k >= 2, s"duplicatedSpans: k must be >= 2, got $k")
    require(minCount >= 2L, s"duplicatedSpans: minCount must be >= 2, got $minCount")
    mergeSpans(dupGramOccurrences(docs, idCol, textCol, k, minCount), k)
  }

  /** Positional k-gram table: (doc_id, pos, __gh) — one row per 0-based
    * gram start, hash = xxhash64 of the space-joined token window. A gram
    * covers tokens [pos, pos+k-1]. The shared projection under every
    * span miner; map-side only.
    */
  private def gramTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    // native one-pass positional gram hashing (r15 optimization): same
    // xxhash64 values as the composed split/transform/slice/concat_ws
    // chain (GramHashesExprSpec certifies bit-equality), but zero per-gram
    // allocation and no interpreted lambda — the gram projection is the
    // span family's dominant map-side cost. Docs shorter than k grams
    // yield an empty array, which posexplode drops (the old
    // `filter(size(__tk) >= k)` row semantics).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val gh = ColumnBridge.column(
      graft.functions.GramHashesExpr(ColumnBridge.expression(col(textCol)), k))
    docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        posexplode(gh).as(Seq("pos", "__gh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("__gh"))
  }

  /** Shared miner: 0-based start positions of k-grams whose corpus-wide
    * occurrence count reaches `minCount`, as (doc_id, pos).
    */
  private def dupGramOccurrences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long): DataFrame = {
    val grams = gramTable(docs, idCol, textCol, k)
    val dup = grams
      .groupBy(col("__gh"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__gh"))
    grams.join(dup, Seq("__gh")).select(col("doc_id"), col("pos"))
  }

  /** Merge flagged gram-start positions into maximal spans per doc:
    * ranges [pos, pos+k-1] chain while the gap between consecutive starts
    * is <= k. Output (doc_id, span_id, span_start, span_end, span_toks).
    */
  private def mergeSpans(occ: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    occ
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + k, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("__brk")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + k - min(col("pos"))).as("span_toks"))
  }

  /** Build a FRESH persisted gram-count store at `path` from `docs` —
    * deletes any existing store first, then folds the corpus in as one
    * wave. See `updateGramCounts` for the schema and the incremental
    * contract.
    */
  def writeGramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = docs.sparkSession
    DirSwap.heal(spark, path, 0)
    val live = new Path(path)
    live.getFileSystem(spark.sessionState.newHadoopConf()).delete(live, true)
    updateGramCounts(docs, idCol, textCol, k, path)
  }

  /** Fold a landing wave into a persisted gram-count store — the
    * INCREMENTAL ingest path for span mining: gram counts are additive,
    * so each wave costs one delta aggregation + one hash-keyed merge of
    * store and delta instead of recounting the corpus per wave (any
    * sequence of folds converges to the one-shot count of the union).
    * Store schema: (k, gh, c) — k is store IDENTITY, not a tunable; a
    * fold with a different k is refused. The store swaps whole through
    * `DirSwap.commit`; the fold heals and the miner restores a parked
    * store first, so no crash state restarts the count history.
    *
    * Ingest posture: one fold per DRAINED wave (the drain-then-fold rule
    * every rank-based stage follows). The fold is additive, NOT
    * idempotent — do not call it from a foreachBatch sink, where
    * at-least-once replay would double-count a micro-batch.
    */
  def updateGramCounts(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(k >= 2, s"updateGramCounts: k must be >= 2, got $k")
    val spark = newDocs.sparkSession
    DirSwap.heal(spark, path, 0)
    val live  = new Path(path)
    val delta = gramCountDelta(newDocs, idCol, textCol, k)
    val merged =
      if (!live.getFileSystem(spark.sessionState.newHadoopConf()).exists(live)) delta
      else {
        val stored = spark.read.parquet(path)
        // a ZERO-ROW store is legal (every folded doc shorter than k) and
        // carries no identity to conflict with — only a non-empty store
        // pins k
        val storedK = stored.select(col("k")).limit(1).collect().headOption.map(_.getInt(0))
        storedK.foreach(sk => require(sk == k,
          s"updateGramCounts: store at $path was built with k=$sk, fold passed k=$k " +
            "(k is store identity — rebuild with writeGramCounts to change it)"))
        stored.select(col("gh"), col("c"))
          .unionByName(delta.select(col("gh"), col("c")))
          .groupBy(col("gh"))
          .agg(sum(col("c")).as("c"))
          .select(lit(k).as("k"), col("gh"), col("c"))
      }
    merged.write.parquet(DirSwap.staging(path))
    DirSwap.commit(spark, path, Seq(""))
  }

  /** `duplicatedSpans` against a PERSISTED gram-count store instead of a
    * same-pass corpus count: the consumer of the incremental ingest path.
    * When the store's folds cover exactly `docs`, the result is
    * bit-identical to `duplicatedSpans(docs, ..)` (the spec law); when the
    * store covers MORE ingested history, spans reflect duplication against
    * everything ever folded — which is the point at 100 TB (each wave is
    * mined against the full corpus history at delta cost). k comes from
    * the store (it is store identity); a store left mid-swap by a crashed
    * writer is restored before the read.
    */
  def duplicatedSpansAgainstCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      countsPath: String,
      minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    DirSwap.restore(spark, countsPath, 0)
    spansAgainstCounts(docs, idCol, textCol, spark.read.parquet(countsPath), minCount)
  }

  /** Frame-taking core of `duplicatedSpansAgainstCounts`: mine `docs`
    * against ANY gh-UNIQUE (k, gh, c) counts frame — a persisted store,
    * or a union of stores FOLDED through `unionGramCounts` (a raw unionByName
    * holds split per-store counts for shared grams, which the per-row
    * minCount filter would under-mine; the fold re-sums them). k comes
    * from the frame (store identity) and mixed-k frames are refused.
    */
  def spansAgainstCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      counts: DataFrame,
      minCount: Long = 2L): DataFrame = {
    require(minCount >= 2L, s"spansAgainstCounts: minCount must be >= 2, got $minCount")
    // one partial-agg column scan: k is frame identity, and a UNION of
    // stores (batch + streaming) is only meaningful when they agree on it —
    // a mixed-k union would mine k-grams against counts of other-length
    // grams, silently
    val ks = counts.select(col("k")).distinct().collect().map(_.getInt(0))
    require(ks.nonEmpty,
      "spansAgainstCounts: the gram-count store is EMPTY — no k to mine against " +
        "(nothing was ever folded, or every folded doc was shorter than k); " +
        "fold a non-empty wave or mine with duplicatedSpans directly")
    require(ks.length == 1,
      s"spansAgainstCounts: counts frame holds mixed k {${ks.sorted.mkString(",")}} — " +
        "only stores built with the SAME k may be unioned (k is store identity)")
    val k = ks.head
    val dup = counts
      .filter(col("c") >= minCount)
      .select(col("gh").as("__gh"))
    val occ = gramTable(docs, idCol, textCol, k)
      .join(dup, Seq("__gh"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(occ, k)
  }

  /** Fold two or more gram-count stores into ONE gh-unique (k, gh, c)
    * frame — the certified way to mine against `batch store ∪ streaming
    * store` (each store is gh-unique on its own, so a shared gram's count
    * is SPLIT across the union's rows; this re-sums them, making
    * `spansAgainstCounts(docs, unionGramCounts(Seq(a, b)))` equal the
    * one-shot mine over the concatenated corpus — the spec law). Stores
    * must agree on k (store identity — mixed-k stores count different
    * objects and are refused). One partial-agg shuffle on the 8-byte gram
    * hash; count partials collapse map-side.
    */
  def unionGramCounts(stores: Seq[DataFrame]): DataFrame = {
    require(stores.nonEmpty, "unionGramCounts: need at least one store frame")
    val u  = stores.map(_.select(col("k"), col("gh"), col("c"))).reduce(_.unionByName(_))
    val ks = u.select(col("k")).distinct().collect().map(_.getInt(0))
    require(ks.nonEmpty,
      "unionGramCounts: every store is EMPTY (nothing folded, or every doc shorter than k)")
    require(ks.length == 1,
      s"unionGramCounts: stores disagree on k {${ks.sorted.mkString(",")}} " +
        "(k is store identity — only same-k stores may be unioned)")
    u.groupBy(col("gh"))
      .agg(sum(col("c")).as("c"))
      .select(lit(ks.head).as("k"), col("gh"), col("c"))
  }

  /** Novelty of a landing wave against the gram-count store — the
    * freshness measurement an incremental corpus reads per wave: what
    * fraction of the wave's distinct k-grams (and of its gram
    * OCCURRENCES — the mass-weighted view, which is what dedup actually
    * saves) has the corpus never seen? A wave whose novelty collapses
    * toward zero is re-crawl/replay sludge to route to dedup before it
    * costs storage; a spike is distribution shift worth a drift look
    * (the chi²/PSI monitors grade tokens; this grades k-gram CONTEXTS).
    *
    * k comes from the store (store identity, the spansAgainstCounts
    * rule); empty and mixed-k stores are refused by name. Scale shape:
    * one partial-agg gram pass over the wave (grams travel as xxhash64,
    * the store posture), one left join against the gh-unique store, one
    * fold to a single row. Output: k, wave_grams, novel_grams,
    * wave_occurrences, novel_occurrences, novelty_x1e6,
    * novel_mass_x1e6 (micro-unit truncating divisions; NULL when the
    * wave has no k-grams — an unmeasurable wave, not a zero-novelty one).
    */
  def gramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      counts: DataFrame): DataFrame = {
    val ks = counts.select(col("k")).distinct().collect().map(_.getInt(0))
    require(ks.nonEmpty,
      "gramNovelty: the gram-count store is EMPTY — no k to measure against " +
        "(nothing was ever folded, or every folded doc was shorter than k)")
    require(ks.length == 1,
      s"gramNovelty: counts frame holds mixed k {${ks.sorted.mkString(",")}} — " +
        "only stores built with the SAME k may be unioned (k is store identity)")
    val k = ks.head
    gramTable(docs, idCol, textCol, k)
      .groupBy(col("__gh"))
      .agg(count(lit(1)).as("__occ"))
      // Store side is made gh-UNIQUE before the join: a caller handing in a
      // raw union of same-k stores (which unionGramCounts sanctions) would
      // otherwise carry duplicate gh rows, fanning out matched wave rows and
      // silently UNDERSTATING novelty (wave_grams/wave_occurrences inflate).
      .join(counts.select(col("gh").as("__gh")).distinct().withColumn("__seen", lit(1)),
        Seq("__gh"), "left")
      .agg(
        count(lit(1)).as("wave_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("novel_grams"),
        sum(col("__occ")).as("wave_occurrences"),
        sum(when(col("__seen").isNull, col("__occ")).otherwise(0L)).as("novel_occurrences"))
      .select(
        lit(k).as("k"),
        col("wave_grams"),
        col("novel_grams"),
        coalesce(col("wave_occurrences"), lit(0L)).as("wave_occurrences"),
        coalesce(col("novel_occurrences"), lit(0L)).as("novel_occurrences"),
        when(col("wave_grams") > 0,
          expr("(novel_grams * 1000000L) div wave_grams")).as("novelty_x1e6"),
        when(coalesce(col("wave_occurrences"), lit(0L)) > 0,
          expr("(novel_occurrences * 1000000L) div wave_occurrences")).as("novel_mass_x1e6"))
  }

  /** The novelty alarm wired to the dedup ACTION — the routing loop
    * `gramNovelty` exists to feed: measure the wave's freshness against
    * the frozen store, and when it alarms (novelty below
    * `alarmBelowX1e6`, or unmeasurable — the runNoveltyMonitor rule),
    * excise every span of the wave covered by store-duplicated k-grams
    * (`spansAgainstCounts` + `stripSpans`) BEFORE the wave is folded
    * anywhere; a quiet wave passes through verbatim. This is the
    * curation-capstone pattern applied to ingest: the monitor's
    * measurement becomes the gate's decision in one certified operator.
    *
    * Routing is a ONE-ROW driver probe (the kmeansCentroids
    * control-plane posture): the novelty row is collected and only the
    * chosen branch's plan is ever built — a fresh wave pays exactly the
    * novelty probe (one wave gram pass on 8-byte hashes + one join
    * against the gh-unique store) and zero excision cost; an alarmed
    * wave adds the store-mine + positional anti-join strip, all
    * hash-keyed (no new shuffle shapes at 100 TB).
    *
    * Output: doc_id, n_toks, cut_toks, kept_text, novelty_x1e6 (the
    * wave-level measurement, constant across rows; NULL when the wave had
    * no k-grams), alarm. Null-text docs are excluded (the stripSpans
    * rule). On the quiet branch cut_toks = 0 and kept_text is the RAW
    * text (pass-through is free — no token-rejoin normalization); on the
    * alarmed branch kept_text is the excision rebuild (single-space token
    * rejoin, fully-covered docs survive with empty text).
    */
  def noveltyRoutedExcision(
      wave: DataFrame,
      idCol: String,
      textCol: String,
      counts: DataFrame,
      alarmBelowX1e6: Long,
      minCount: Long = 2L): DataFrame = {
    require(alarmBelowX1e6 > 0L,
      s"noveltyRoutedExcision: alarmBelowX1e6 must be > 0 (a zero threshold never routes), " +
        s"got $alarmBelowX1e6")
    val novRow = gramNovelty(wave, idCol, textCol, counts)
      .select(col("novelty_x1e6"))
      .collect()
    // an EMPTY wave (no non-null-text docs at all) measures as one row of
    // NULLs upstream; guard headOption anyway so a zero-row future change
    // routes to the alarm (unmeasurable) branch rather than crashing
    val novelty: Option[Long] =
      novRow.headOption.filter(!_.isNullAt(0)).map(_.getLong(0))
    val alarmed = novelty.forall(_ < alarmBelowX1e6)
    val base = wave
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        col(textCol).as("__text"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"))
    val routed =
      if (!alarmed)
        base.select(
          col("doc_id"), col("n_toks"),
          lit(0L).as("cut_toks"),
          col("__text").as("kept_text"))
      else {
        val spans = spansAgainstCounts(wave, idCol, textCol, counts, minCount)
        val cut = spans
          .groupBy(col("doc_id"))
          .agg(sum(col("span_toks")).as("__cut"))
        base
          .select(col("doc_id"), col("n_toks"))
          .join(cut, Seq("doc_id"), "left_outer")
          .join(stripSpans(wave, idCol, textCol, spans), Seq("doc_id"))
          .select(
            col("doc_id"), col("n_toks"),
            coalesce(col("__cut"), lit(0L)).as("cut_toks"),
            col("kept_text"))
      }
    routed
      .withColumn("novelty_x1e6",
        novelty.map(lit).getOrElse(lit(null)).cast("long"))
      .withColumn("alarm", lit(alarmed))
  }

  /** One wave's gram counts in the store schema (k, gh, c): the delta
    * `updateGramCounts` folds, and the one-shot count a folded store must
    * equal.
    */
  private[graft] def gramCountDelta(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame =
    gramTable(docs, idCol, textCol, k)
      .groupBy(col("__gh").as("gh"))
      .agg(count(lit(1)).as("c"))
      .select(lit(k).as("k"), col("gh"), col("c"))

  /** Span-level decontamination (the SURGICAL form of the q56/q132
    * doc-level checks): for each training document, every maximal token
    * range covered by k-grams that appear ANYWHERE in the benchmark set —
    * the ranges a pipeline excises with `stripSpans` instead of dropping
    * the whole document (how production decontamination actually treats
    * a 10k-token doc quoting one eval question). Same output schema as
    * `duplicatedSpans`.
    *
    * Scale shape: the benchmark gram set is DISTINCT'd at benchmark scale
    * and BROADCAST (benchmarks are orders of magnitude smaller than the
    * corpus); the corpus side is the map-side gram projection probed
    * against the broadcast — no corpus-sized shuffle before the per-doc
    * window merge.
    */
  def contaminatedSpans(
      train: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"contaminatedSpans: k must be >= 2, got $k")
    val benchGrams = gramTable(bench, benchIdCol, benchTextCol, k)
      .select(col("__gh"))
      .distinct()
    val occ = gramTable(train, idCol, textCol, k)
      .join(broadcast(benchGrams), Seq("__gh"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(occ, k)
  }

  /** Doc-level duplication census over `duplicatedSpans`: how much of each
    * document is covered by corpus-duplicated runs — the decision stat a
    * curation pass thresholds before stripping or dropping (RefinedWeb
    * drops docs past ~50% duplicated mass rather than patching holes).
    * All-integer: dup_frac_x1e6 = dup_toks * 1e6 div n_toks (q135
    * discipline). Every doc with non-null text appears, including those
    * shorter than k (dup_toks 0); null-text docs are excluded — they have
    * no token spine to census (the oracle side filters identically).
    * Cost: the miner + one per-doc partial agg + one left join back onto
    * the token-count spine.
    */
  def duplicatedSpanCensus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame = {
    val spine = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__tk"))
      .select(col("doc_id"), size(col("__tk")).cast("long").as("n_toks"))
    val perDoc = duplicatedSpans(docs, idCol, textCol, k, minCount)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_toks")).as("dup_toks"))
    spine
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_toks"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"),
        (col("n_toks") - coalesce(col("dup_toks"), lit(0L))).as("kept_toks"),
        when(col("n_toks") > 0,
          expr("(coalesce(dup_toks, 0L) * 1000000L) div n_toks"))
          .otherwise(lit(0L)).as("dup_frac_x1e6"))
  }

  /** The strip ACTION over `duplicatedSpans`: rebuild each document's text
    * with every duplicated span removed (all occurrences — the aggressive
    * form; pair with `duplicatedSpanCensus` thresholds to DROP
    * mostly-duplicate docs instead of hollowing them out). Token order is
    * preserved; docs whose every token is covered survive with empty text.
    *
    * Scale shape: covered positions come from exploding each span's range
    * (|covered tokens| rows, bounded by corpus token volume), anti-joined
    * against the positional token table, then one per-doc
    * sort_array(collect_list(struct(pos, tok))) re-assembly — the q18
    * channel-array pattern, no window over the full corpus.
    */
  def stripDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame =
    stripSpans(docs, idCol, textCol, duplicatedSpans(docs, idCol, textCol, k, minCount))

  /** Excise arbitrary token spans from documents: `spans` is any frame in
    * the (doc_id, span_start, span_end) schema — `duplicatedSpans` output,
    * `contaminatedSpans` output, or a hand-curated excision list. Token
    * order is preserved; a fully-covered doc survives with empty text;
    * docs with no spans pass through verbatim (modulo the single-space
    * token rejoin); null-text docs are excluded from the output — there
    * is no token sequence to rebuild (the oracle side filters
    * identically).
    */
  def stripSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame): DataFrame = {
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__tk"))
    val toks = base.select(
      col("doc_id"),
      posexplode(col("__tk")).as(Seq("pos", "__tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("__tok"))
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = toks
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("__tok")))),
          s => s.getField("__tok"))).as("kept_text"))
    base
      .select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Zipf rank–frequency fit — the corpus-health number next to
    * `vocabCoverage`: natural-language corpora follow freq ∝ rank^(−s)
    * with s ≈ 1; template spam, boilerplate floods, and synthetic filler
    * bend the log-log line (|slope| ≪ 1 = suspiciously flat head, ≫ 1 =
    * a few templates own the corpus). Tracked per release, the slope is
    * a one-number drift alarm on corpus composition.
    *
    * Exact-integer OLS over the log-log points: the top `topN` terms by
    * (count DESC, term ASC) get x = floor(ln(rank)·1e6),
    * y = floor(ln(count)·1e6) — micro-nats PER ROW (ln of an integer is
    * the same double on any engine in practice — the tokenEntropy
    * posture — and floor is exact), then the OLS sums fold those
    * integers in DECIMAL(38,0) exactly (the groupedTrend carrier; the
    * sums square micro-nat values, so Long is gone immediately). The two
    * closing divisions are sign-split ×1e6 integer divisions (the slope
    * is legitimately negative — that's the point).
    *
    * Scale shape: one partial-agg shuffle to the vocab census, a
    * TakeOrdered top-`topN` (heap per partition + driver merge of topN
    * rows — no global sort), and rank/OLS over the topN-row frame (one
    * bounded window over ≤ topN rows). `topN` is capped at 1024 — the
    * DECIMAL(38,0) envelope for Σy·den·1e6 (ln(1e18)·1e6 ≈ 4.1e7 values,
    * squared and summed over topN then cross-multiplied) holds to ~10³
    * points, and a Zipf fit past the first thousand ranks measures the
    * tail's hapax plateau, not the law.
    *
    * Output: one row — n_terms, slope_x1e6, intercept_x1e6 (the fit of
    * y on x in micro-nats; slope ≈ −1e6 for healthy text).
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 256): DataFrame = {
    require(topN >= 3 && topN <= 1024, s"topN must be in [3,1024], got $topN")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val top = graft.operators.Dedup
      .spread(docs)
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)
    // rank over the already-cut topN rows: a bounded single-partition
    // window over <= 1024 rows, not a corpus-sized sort
    val pts = top
      .withColumn("__rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)))
      .select(
        floor(log(col("__rnk").cast("double")) * lit(1000000.0)).cast("long").as("__x"),
        floor(log(col("cnt").cast("double")) * lit(1000000.0)).cast("long").as("__y"))
    pts
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x").cast(dec) * col("__y").cast(dec))).as("__sxy"),
        sum((col("__x").cast(dec) * col("__x").cast(dec))).as("__sxx"))
      .select(
        col("__n").cast("long").as("n_terms"),
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")).as("__num"),
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")).as("__den"),
        col("__sy"), col("__sx"), col("__n"))
      .select(
        col("n_terms"),
        when(col("__den") =!= 0,
          expr("""CASE WHEN __num >= 0
                 |  THEN (__num * 1000000L) div __den
                 |  ELSE -((-__num * 1000000L) div __den)
                 |END""".stripMargin)).as("slope_x1e6"),
        // intercept = (Σy·den − num·Σx) / (n·den), exact cross-multiply
        when(col("__den") =!= 0,
          expr("""CASE WHEN __sy * __den - __num * __sx >= 0
                 |  THEN ((__sy * __den - __num * __sx) * 1000000L) div (__n * __den)
                 |  ELSE -((-(__sy * __den - __num * __sx) * 1000000L) div (__n * __den))
                 |END""".stripMargin)).as("intercept_x1e6"))
  }

  /** Heaps'-law vocabulary growth — "how fast does the vocab still grow
    * as the corpus grows?", THE saturation question behind every vocab /
    * tokenizer / dedup budget: a corpus whose type count still grows at
    * full Heaps slope keeps paying for new vocabulary; one whose curve
    * has flattened is re-ingesting what it already has (the batch
    * companion to q200's wave-novelty monitor, over document accretion
    * order instead of waves).
    *
    * The corpus is cut into `buckets` cumulative prefixes BY ID RANGE —
    * bucket = ((id − min_id)·buckets) div (max_id − min_id + 1), a pure
    * projection off a broadcast 1-row min/max probe (ids are ingestion-
    * ordered in this engine's tables; any monotone ingest key works).
    * The bucket arithmetic is carried in DECIMAL(38,0): "any monotone
    * ingest key" includes sparse 64-bit domains (hash- or snowflake-style
    * ids near ±2^63) whose span × buckets would silently wrap a Long and
    * scramble the assignment — the decimal carry keeps the projection
    * exact over the full Long id range (oracle side: HUGEINT).
    * Exact cumulative types per prefix WITHOUT rescanning prefixes:
    * each term carries its FIRST bucket (min over one (term) partial
    * agg), and cum_types(b) = #\{terms: first_bucket ≤ b\} — a bucket-sized
    * cumulative window. Everything is integer counts — exact on any
    * engine.
    *
    * Scale shape: one map-side token-count pass for per-bucket token
    * sums, one (term) partial-agg shuffle for first buckets, then all
    * windows run over ≤ `buckets` rows. No prefix is ever re-scanned —
    * the O(buckets · corpus) trap this formulation exists to avoid.
    *
    * Output: bucket, n_docs, cum_docs, cum_tokens, cum_types — one row
    * per non-empty id range slice (empty slices surface with n_docs = 0
    * via the dense spine so the curve has no silent gaps).
    */
  def heapsGrowth(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 16): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"buckets must be in [2,10000], got $buckets")
    import org.apache.spark.sql.expressions.Window
    val ss = docs.sparkSession
    val base = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), col(textCol).as("__text"))
    val bounds = base.agg(min(col("__id")).as("__lo"), max(col("__id")).as("__hi"))
    val bucketed = base
      .crossJoin(broadcast(bounds))
      .select(
        expr(s"""((cast(__id as decimal(38,0)) - cast(__lo as decimal(38,0)))
                |   * $buckets)
                | div (cast(__hi as decimal(38,0)) - cast(__lo as decimal(38,0)) + 1)"""
          .stripMargin).as("bucket"),
        col("__text"))
      .localCheckpoint(true) // two consumers: token sums + term firsts
    val perBucket = bucketed
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("__text"), " ")).cast("long")).as("__toks"))
    val firstBucket = bucketed
      .select(col("bucket"), explode(split(col("__text"), " ")).as("__tok"))
      .groupBy(col("__tok"))
      .agg(min(col("bucket")).as("__fb"))
      .groupBy(col("__fb").as("bucket"))
      .agg(count(lit(1)).as("__new_types"))
    val spine = ss.range(0, buckets).select(col("id").cast("long").as("bucket"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(perBucket, Seq("bucket"), "left")
      .join(firstBucket, Seq("bucket"), "left")
      .select(
        col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("__toks"), lit(0L)).as("__toks"),
        coalesce(col("__new_types"), lit(0L)).as("__new_types"))
      .select(
        col("bucket"),
        col("n_docs"),
        sum(col("n_docs")).over(cum).as("cum_docs"),
        sum(col("__toks")).over(cum).as("cum_tokens"),
        sum(col("__new_types")).over(cum).as("cum_types"))
  }

  /** Vocabulary-richness estimators — "how much vocabulary have we NOT
    * seen yet?", the question behind crawl-more-vs-dedup-more budget
    * calls that zipfFit (shape of what you have) and heapsGrowth (growth
    * so far) don't answer:
    *  - Chao1 richness (bias-corrected, Chao 1984): total type count the
    *    corpus is heading toward, V + V1(V1−1)/(2(V2+1)) off the hapax/
    *    dis-legomena counts — defined even when V2 = 0;
    *  - Good–Turing unseen mass V1/N: the probability the NEXT token is
    *    a new type (Gale & Sampson 1995's first step), and its
    *    complement, the coverage of the current vocabulary.
    * A corpus whose chao1 ≈ V and unseen mass → 0 has bought its
    * vocabulary; keep-crawling adds duplicates, not types.
    *
    * All integer: one token-census pass (partial-agg shuffle, vocab-
    * sized result), then a single fold for (N, V, V1, V2) and micro-unit
    * divisions — the Chao1 correction term is carried in DECIMAL(38,0)
    * (V1²·1e6 passes Long at ~3e6 hapaxes, far below any web corpus).
    *
    * Output: one row — n_tokens, n_types, v1, v2, chao1_x1e6,
    * unseen_mass_x1e6, coverage_x1e6.
    */
  def vocabRichness(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    graft.operators.Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(explode(split(col(textCol), " ")).as("__tok"))
      .groupBy(col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).as("__n"),
        count(lit(1)).as("__v"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__v1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("__v2"))
      .select(
        col("__n").as("n_tokens"),
        col("__v").as("n_types"),
        col("__v1").as("v1"),
        col("__v2").as("v2"),
        (col("__v").cast(dec) * lit(1000000L)
          + expr("(CAST(__v1 AS DECIMAL(38,0)) * (__v1 - 1) * 1000000L) div (2 * (__v2 + 1))"))
          .cast("long").as("chao1_x1e6"),
        when(col("__n") > 0, expr("(__v1 * 1000000L) div __n")).as("unseen_mass_x1e6"),
        when(col("__n") > 0, lit(1000000L) - expr("(__v1 * 1000000L) div __n"))
          .as("coverage_x1e6"))
  }

  /** Jensen–Shannon divergence between two sub-corpora's token
    * distributions — composition drift in ONE bounded number (JSD ∈
    * [0, ln 2], symmetric, finite even on disjoint vocabularies — the
    * reason it, and not KL, is the corpus-drift staple): did this
    * ingest wave / source / language slice shift the unigram mix enough
    * to re-balance the training mixture? The distributional companion
    * to q200's novelty monitor (which counts NEW grams but is blind to
    * re-weighting of known ones).
    *
    * Cross-engine-exact by per-term DIGITIZATION (the q210 zipfFit
    * pattern): for each term with counts (a, b) against totals (NA, NB),
    * the log-ratio factors ln(2aNB/(aNB+bNA)) and ln(2bNA/(aNB+bNA))
    * are floored to micro-nats FIRST (one IEEE ln + floor per term —
    * identical in both engines on the same int64-derived doubles), then
    *   JSD_x1e6 = (NB·Σ_t a·X_t + NA·Σ_t b·Y_t) div (2·NA·NB)
    * is exact integer arithmetic in DECIMAL(38,0) (oracle: HUGEINT).
    * Per-term flooring can push the digitized sum a hair negative at
    * JSD ≈ 0, so the final division is sign-split like every micro-unit
    * division in this engine.
    *
    * Scale shape: ONE token-census shuffle keyed on term with both
    * sides' counts as conditional partial aggs (no join of two census
    * frames), then a vocab-sized projection and one fold. The ×1e6
    * digitization bounds |X_t| by ~21e6 (ln of the smallest ratio at
    * 1e9 tokens), so Σa·X_t ≤ NA·21e6 — DECIMAL-safe past web scale.
    *
    * Output: one row — n_terms, n_terms_a, n_terms_b, na_tokens,
    * nb_tokens, jsd_x1e6.
    */
  def jsDivergence(
      docs: DataFrame,
      textCol: String,
      sideExpr: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val census = graft.operators.Dedup
      .spread(docs.filter(col(textCol).isNotNull))
      .select(sideExpr.as("__sideA"), explode(split(col(textCol), " ")).as("__tok"))
      .groupBy(col("__tok"))
      .agg(
        sum(when(col("__sideA"), 1L).otherwise(0L)).as("__a"),
        sum(when(col("__sideA"), 0L).otherwise(1L)).as("__b"))
    val totals = census.agg(
      sum(col("__a")).as("__na"), sum(col("__b")).as("__nb"))
    census
      .crossJoin(broadcast(totals))
      .select(
        col("__a"), col("__b"),
        // digitized per-term log factors (micro-nats, floored — floor is
        // toward −∞ in both engines, and the argument is a ratio of
        // exact int64 products so both engines feed ln the same double)
        when(col("__a") > 0,
          floor(log((lit(2.0) * (col("__a") * col("__nb")).cast("double"))
            / (col("__a") * col("__nb") + col("__b") * col("__na")).cast("double"))
            * lit(1000000.0)).cast("long")).otherwise(lit(0L)).as("__x"),
        when(col("__b") > 0,
          floor(log((lit(2.0) * (col("__b") * col("__na")).cast("double"))
            / (col("__a") * col("__nb") + col("__b") * col("__na")).cast("double"))
            * lit(1000000.0)).cast("long")).otherwise(lit(0L)).as("__y"),
        col("__na"), col("__nb"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("__a") > 0, 1L).otherwise(0L)).as("n_terms_a"),
        sum(when(col("__b") > 0, 1L).otherwise(0L)).as("n_terms_b"),
        max(col("__na")).as("__na"),
        max(col("__nb")).as("__nb"),
        sum((col("__a") * col("__x")).cast(dec)).as("__sa"),
        sum((col("__b") * col("__y")).cast(dec)).as("__sb"))
      .select(
        col("n_terms"), col("n_terms_a"), col("n_terms_b"),
        col("__na").as("na_tokens"), col("__nb").as("nb_tokens"),
        when(col("__na") > 0 && col("__nb") > 0,
          expr("""CASE WHEN __nb * __sa + __na * __sb >= 0
                 |  THEN (__nb * __sa + __na * __sb) div (2 * __na * __nb)
                 |  ELSE -((-(__nb * __sa + __na * __sb)) div (2 * __na * __nb))
                 |END""".stripMargin)).as("jsd_x1e6"))
  }
}
