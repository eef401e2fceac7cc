package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: tokenization,
  * quality scoring, language heuristic, and a deterministic polynomial
  * string hash.
  *
  * Everything is built from higher-order Column functions with IN-ORDER left
  * folds and integer arithmetic, so the identical computation is expressible
  * in ANSI SQL (DuckDB list_transform/list_reduce) — that's what lets the
  * oracle hash-compare these ops instead of eyeballing them.
  */
object TextAnalysis {

  /** Modulus for all string/minhash arithmetic: fits products in int64. */
  val P = 1000000007L

  val Stopwords: Seq[String] = Seq("the", "a")

  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Dedup-normalization: lowercase, collapse whitespace runs to one
    * space, trim. Case/spacing variants of the same content then share a
    * digest, so exact dedup catches them (q86). Pure codegen'd projection;
    * the DuckDB mirror is the same lower/regexp_replace/trim chain.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** BPE-ish subword count: letter runs, digit runs, single punctuation. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Punctuation characters / total characters; NULL for empty text — the
    * nullif guard matters under ANSI mode, where a bare `x / length(text)`
    * THROWS DIVIDE_BY_ZERO on the empty documents every real crawl
    * contains (found by the adversarial fixture round).
    */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") /
      nullif(length(text), lit(0))

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isInCollection(Stopwords)))

  def stopwordRatio(toks: Column): Column =
    stopwordCount(toks).cast("double") / size(toks)

  /** Mean token length — integer sum then one division (exact cross-engine). */
  def avgTokenLen(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)

  /** Composite quality score in [0,1]-ish: length-normalized, stopword-aware,
    * punctuation-penalized. Deterministic arithmetic, no model.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    least(length(text).cast("double") / 400.0, lit(1.0)) * 0.5 +
      least(stopwordRatio(toks) * 5.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))) * 0.2
  }

  /** fastText-shaped linear-classifier INFERENCE over hashed bag-of-ngrams
    * features: every token and every adjacent bigram hashes into one of
    * `buckets` weight slots, and the document score is the sum of the
    * slots' weights with multiplicity — exactly the scoring loop of a
    * trained hashed linear model (the standard web-scale quality/toxicity
    * classifier shape). The weight table here is a deterministic
    * pseudo-random projection of the slot index (slot -> ((slot+1)*K mod P)
    * mod 2001 - 1000 ∈ [-1000, 1000]); swapping in trained weights changes
    * only that one expression, not the machinery.
    *
    * All-integer arithmetic end to end (polyHash fold, modular weight,
    * long sum), so the score is bit-stable across engines. Pure per-row
    * projection: zero shuffle, no broadcast, no model file.
    */
  def hashedLinearScore(text: Column, buckets: Int = 65536): Column = {
    val K    = 2654435761L
    val toks = tokens(text)
    def w(f: Column): Column =
      ((polyHash(f) % buckets + 1) * K % P) % 2001 - 1000
    val uni = aggregate(toks, lit(0L), (acc, t) => acc + w(t))
    // sequence(1, n-1) would DESCEND for n = 1 (Spark fills step = -1), so
    // single-token docs guard to an empty bigram list explicitly
    val bis =
      when(size(toks) >= 2,
        transform(
          sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
    uni + aggregate(bis, lit(0L), (acc, b) => acc + w(b))
  }

  /** n-gram-heuristic language guess. The marker sets are tiny on purpose —
    * the engine capability is the machinery (per-language marker counts +
    * argmax), not the lexicon.
    */
  def langGuess(text: Column): Column = {
    val toks = tokens(text)
    def cnt(words: Seq[String]) = size(filter(toks, t => t.isInCollection(words)))
    val en = cnt(Seq("the", "a", "of"))
    val es = cnt(Seq("el", "la", "de"))
    when(en >= es && en > 0, "en").when(es > en, "es").otherwise("unk")
  }

  /** Fraction of a document's 2-grams that repeat an earlier 2-gram
    * (1 - distinct/total; 0 for docs with fewer than 2 tokens) — the
    * intra-document repetition signal of Gopher-style quality filtering.
    * Pure per-row arithmetic, zero shuffle.
    *
    * The total is arithmetic (`|tokens| - 1`) and the distinct count rides
    * the native one-pass ShingleHashesExpr — the composed
    * transform/array_distinct form ran INTERPRETED per row (higher-order
    * lambdas have no codegen) and was the slowest expression in the whole
    * contract bench (4.7 s at sf0.1 vs ~0.15 s for this form).
    */
  def dupBigramRatio(text: Column): Column = {
    val n2  = bigramCount(text)
    when(n2 > 0, lit(1.0) - distinctBigramCount(text).cast("double") / n2)
      .otherwise(lit(0.0))
  }

  /** Σ n_v·(n_v−1) over the distinct values of `arr` — the unnormalized
    * collision count behind the Simpson index. Pure INTEGER arithmetic
    * (entropy's cross-engine-safe cousin: no logs to accumulate in
    * engine-dependent float order), computed fully in-row: one hash-map
    * pass (native CollisionCountExpr, O(n) per row, codegen'd), zero
    * shuffle, with an exact DuckDB mirror via
    * list_distinct/list_filter/list_reduce.
    */
  def collisionCount(arr: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(CollisionCountExpr(ColumnBridge.expression(arr)))
  }

  /** Composed-builtins collision count (O(d·n) interpreted per row — the
    * round-7 bench measured the char-level call at 9.2 s for one query;
    * exists to cross-check CollisionCountExpr).
    */
  def collisionCountComposed(arr: Column): Column =
    coalesce(
      aggregate(
        transform(array_distinct(arr), d => {
          val n = size(filter(arr, v => v === d)).cast("long")
          n * (n - 1)
        }),
        lit(0L), (acc, x) => acc + x),
      lit(0L))

  /** Simpson diversity 1 − Σn_v(n_v−1)/(n(n−1)) of an array's value
    * distribution in [0,1]: 0 = one value repeated (the "aaaa…" garbage /
    * single-token spam signal), →1 = all distinct. Integer collision count
    * + ONE final division, so it hash-compares exactly cross-engine.
    * NULL for arrays shorter than 2 (no pairs to collide).
    */
  def simpsonDiversity(arr: Column): Column = {
    val n = size(arr).cast("long")
    when(n >= 2,
      lit(1.0) - collisionCount(arr).cast("double") / (n * (n - 1)).cast("double"))
  }

  /** Total 2-grams of a doc: max(|tokens| - 1, 0) — no array build. */
  def bigramCount(text: Column): Column = greatest(tokenCount(text) - 1, lit(0))

  /** Distinct 2-grams via the native one-pass shingle hasher (hash-distinct;
    * collisions are negligible at P~1e9 for per-doc set sizes, and the
    * DuckDB oracle mirrors the same hash so parity is exact). NULL text
    * counts 0, matching bigramCount's NULL behavior (size() alone would
    * propagate the null).
    */
  def distinctBigramCount(text: Column): Column =
    when(text.isNotNull, size(graft.operators.Dedup.shingleHashes(text, 2)))
      .otherwise(lit(0))

  /** Deterministic polynomial rolling hash of a string:
    * fold codepoints c: acc = (acc * 31 + c) mod P — bit-identical to the
    * DuckDB oracle's `list_reduce(... ord ...)`. Backed by the native
    * PolyHashExpr (single-pass loop, codegen'd); `polyHashComposed` keeps
    * the built-ins-only formulation as the cross-checkable reference.
    */
  def polyHash(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(PolyHashExpr(ColumnBridge.expression(s)))
  }

  /** Same hash from composed built-ins (two intermediate arrays + an
    * interpreted fold per row — slow; exists to cross-check PolyHashExpr).
    */
  def polyHashComposed(s: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(s)), i => ascii(substr(s, i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % P)
}
