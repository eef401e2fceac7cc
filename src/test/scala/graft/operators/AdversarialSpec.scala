package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.TextAnalysis

/** Adversarial-input round: the corpus pathologies a 100 TB crawl actually
  * contains — unicode normalization variants, zero-width characters,
  * surrogate pairs, empty/whitespace docs, NaN/Inf/zero embeddings,
  * epoch-0 and year-2106 timestamps, and 0-row part files mid-glob —
  * run through the dedup / text-stats / LSH / resample operators. Every
  * behavior asserted here is the deliberate, DuckDB-matching rule, not an
  * accident; divergences would surface as oracle hash mismatches.
  */
class AdversarialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String = Files.createTempDirectory("adversarial").toString

  test("exact dedup: unicode normalization forms and zero-width chars are DISTINCT keys") {
    import spark.implicits._
    // NFC é, NFD e+combining-accent, and a zero-width-space variant are
    // three different byte sequences: byte-exact dedup keeps all three
    // (neither this engine nor DuckDB normalizes unicode — the documented
    // rule; normalize first via TextAnalysis.normalize-style projections
    // if canonical-equivalence dedup is wanted)
    val docs = Seq(
      (1L, "café au lait"),
      (2L, "café au lait"),
      (3L, "café au​ lait"),
      (4L, "café au lait"),      // true byte dup of 1
      (5L, "😀 emoji doc"), // surrogate pair
      (6L, "😀 emoji doc")) // true byte dup of 5
      .toDF("doc_id", "text")
    val kept = Dedup
      .exactDedupRows(docs, sha2(col("text"), 256), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 2L, 3L, 5L))
  }

  test("text stats: empty, whitespace-only, zero-width, emoji, and CJK docs never throw or null") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),
      (2L, " "),
      (3L, "​"),
      (4L, "😀"),
      (5L, "ひらがな カタカナ 漢字"),
      (6L, "mixed the ascii と text"))
      .toDF("doc_id", "text")
    val got = docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("toks"),
      TextAnalysis.bpeishCount(col("text")).as("bpe"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langGuess(col("text")).as("lang"),
      TextAnalysis.dupBigramRatio(col("text")).as("rep"))
      .collect()
    assert(got.length === 6)
    got.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(2) >= 0, s"negative counts: $r")
      assert(!r.isNullAt(4), s"null langGuess: $r")
      if (!r.isNullAt(3)) {
        val q = r.getDouble(3)
        assert(!q.isNaN && q >= 0.0 && q <= 1.0 + 1e-9, s"quality out of range: $r")
      }
      if (!r.isNullAt(5)) assert(!r.getDouble(5).isNaN, s"NaN repetition: $r")
    }
    // the CJK-free english doc still classifies en (markers present)
    assert(got.find(_.getLong(0) == 6L).get.getString(4) === "en")
  }

  test("LSH near-dup: unicode docs pair exactly; sub-shingle and empty docs are inert") {
    import spark.implicits._
    val docs = Seq(
      (1L, "éclair b​c café déjà vu encore"),
      (2L, "éclair b​c café déjà vu encore"), // byte-identical
      (3L, "x y"),                                                     // < 3 tokens: no shingles
      (4L, ""),                                                        // empty
      (5L, "totally different words with no overlap at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .lshNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("embedding near-dup: NaN/Inf/zero vectors are verification-inert; clean pairs still mine") {
    import spark.implicits._
    val rnd   = new scala.util.Random(5)
    val clean = Array.fill(16)(rnd.nextGaussian().toFloat)
    val emb = Seq(
      (1L, clean),
      (2L, clean.map(x => x + 1e-4f)),
      (3L, Array.fill(16)(Float.NaN)),
      (4L, Array.fill(16)(0f)),                      // zero norm: cosine 0/0 = NaN
      (5L, Array.fill(16)(Float.PositiveInfinity)),  // Inf/Inf = NaN
      (6L, clean))
      .toDF("vec_id", "embedding")
    val pairs = Similarity
      .embedNearDupPairs(emb, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cosine against a NaN/Inf/zero vector is NaN, which fails every
    // threshold comparison (the DuckDB-matching rule: NaN >= t is false in
    // both engines) — such vectors can never emit a pair
    assert(pairs === Set((1L, 2L), (1L, 6L), (2L, 6L)))
  }

  test("resampleFill: epoch-0 and year-2106 (past 2^32 s) grids bin and fill exactly") {
    import spark.implicits._
    val y2106 = 4294967296L // 2106-02-07T06:28:16Z
    val rows = Seq(
      ("a", 0L, 1.0),                  // epoch 0, bin 1970-01-01T00:00
      ("a", 3L * 3600, 2.0),           // 3 hours later: 2 carried bins between
      ("b", y2106, 5.0),
      ("b", y2106 + 2L * 3600, 6.0))
    val df = rows.toDF("key", "sec", "v").withColumn("ts", timestamp_seconds(col("sec")))
    val out = Resample.resampleFill(df, "key", "ts", "v", "1 hour")
      .withColumn("bin_sec", unix_timestamp(col("bin")))
      .select("key", "bin_sec", "value", "observed")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(r => (r._1, r._2))
    val hourFloor2106 = y2106 / 3600 * 3600
    assert(out.toSeq === Seq(
      ("a", 0L, 1.0, true),
      ("a", 3600L, 1.0, false),
      ("a", 7200L, 1.0, false),
      ("a", 10800L, 2.0, true),
      ("b", hourFloor2106, 5.0, true),
      ("b", hourFloor2106 + 3600, 5.0, false),
      ("b", hourFloor2106 + 7200, 6.0, true)))
  }

  test("round-6 text ops: empty / whitespace / unicode / emoji docs never throw; " +
    "empty-text scores are the documented values") {
    import spark.implicits._
    val docs = Seq(
      (1L, "", "A"),
      (2L, " ", "A"),
      (3L, "​", "A"), // zero-width space
      (4L, "😀", "B"),
      (5L, "normal words appear here twice normal words appear here twice", "B"))
      .toDF("doc_id", "text", "source")
    // hashedLinearScore: total on every row (the empty token "" hashes
    // like any feature — no null, no throw)
    val scores = docs
      .select(col("doc_id"), TextAnalysis.hashedLinearScore(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores.size === 5, "a score row per doc, nulls would have thrown on getLong")
    // stripBoilerplate: nothing repeats across >= 2 docs of a source here,
    // so every doc round-trips intact with zero drops
    val sb = Corpus
      .stripBoilerplate(docs, "doc_id", "text", "source",
        lineTokens = 3, maxDocFrac = 0.5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(sb.size === 5 && sb.values.forall(_ === 0L))
    // bigramCoherence: only doc 5 has >= 2 tokens... doc 5 repeats its
    // phrase, so every bigram it contains is its own corpus model — all
    // conditionals near 1 except across the seam
    val bc = Corpus.bigramCoherence(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // " " splits to TWO empty tokens (split keeps trailing empties, same
    // as DuckDB string_split) -> doc 2 carries one ("","") bigram; docs
    // 1/3/4 are single-token and emit nothing
    assert(bc.keySet === Set(2L, 5L), s"got $bc")
    assert(bc(5L) === 1000000000L, "a self-repeating doc is fully coherent against its own corpus")
    assert(bc(2L) === 1000000000L, "the empty-token bigram is its own (trivial) model")
    // containmentPairs: sub-shingle docs are inert; the identical phrase
    // halves of doc 5 are WITHIN one doc (no self-pairs) -> no output
    assert(Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9).count() === 0L)
    // datasetCard counts the empty/unicode rows like any others
    val card = Corpus.datasetCard(docs, "text", "source").collect().head
    assert(card.getLong(0) === 5L && card.getLong(1) === 2L && card.getLong(5) === 0L)
  }

  test("round-6b ops: degenerate docs through entropy/NLL; zero-norm vectors " +
    "through silhouette and hard-negative ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),
      (2L, " "),  // two empty tokens
      (3L, "​"), // zero-width space: one 1-char token
      (4L, "😀"),
      (5L, "normal words appear here twice normal words appear here twice"))
      .toDF("doc_id", "text")
    // tokenEntropy: single/repeated-token docs are 0; doc 5 is 10 tokens,
    // 5 distinct x2 -> exactly round(ln(5)*1e6) micro-nats
    val ent = Corpus.tokenEntropy(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(ent(1L) === ((1L, 1L, 0L)))
    assert(ent(2L) === ((2L, 1L, 0L)), "whitespace doc: two empty tokens, zero entropy")
    assert(ent(3L) === ((1L, 1L, 0L)))
    assert(ent(4L) === ((1L, 1L, 0L)))
    assert(ent(5L) === ((10L, 5L, Math.round(math.log(5.0) * 1e6))))
    // bigramNll: only docs with >= 2 tokens emit; NLL is finite and >= 0
    val nll = Corpus.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nll.keySet === Set(2L, 5L))
    assert(nll.values.forall(_ >= 0L))
    // clusterSilhouette: all-zero vectors are ordinary points (exact
    // integer distances, no NaN anywhere)
    val vecs = Seq(
      (1L, 0, Seq(0f, 0f)), (2L, 0, Seq(0f, 0f)),
      (3L, 1, Seq(1f, 0f)), (4L, 1, Seq(0f, 1f))).toDF("vec_id", "label", "embedding")
    val sil = Similarity.clusterSilhouette(vecs, "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(sil(1L) === 1000000L, "zero vector at its own zero centroid: perfect fit")
    // hardNegatives: zero-norm and non-finite vectors are DROPPED on both
    // sides (the ivfPqTopK guard — under ANSI their 0/0 cosine would
    // throw, and a degenerate "hard negative" is meaningless); finite
    // cross-label rows still rank
    val hv = Seq(
      (0L, 0, Seq(1f, 0f)),
      (1L, 0, Seq(1f, 0f)),                 // same-label twin: excluded
      (2L, 1, Seq(0f, 0f)),                 // zero-norm: filtered out
      (3L, 1, Seq(Float.NaN, 1f)),          // NaN component: filtered out
      (4L, 1, Seq(0f, 1f)))                 // orthogonal other-label: rank 1
      .toDF("vec_id", "label", "embedding")
    val hn = Similarity.hardNegatives(hv, col("vec_id") === 0, "label", 5)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(hn === Map(1 -> 4L))
  }

  test("0-row parquet part file mid-glob neither breaks the scan nor changes results") {
    import spark.implicits._
    val dir = tmp() + "/table"
    val df  = (1L to 100L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    df.repartition(2).write.parquet(dir)
    // land a footer-only (0-row, schema-bearing) part file in the middle
    // of the glob — what a crashed writer or an empty upstream partition
    // leaves behind
    val emptyDir = tmp() + "/empty"
    df.limit(0).coalesce(1).write.parquet(emptyDir)
    val emptyPart = Files
      .walk(java.nio.file.Paths.get(emptyDir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(
      java.nio.file.Paths.get(emptyPart),
      java.nio.file.Paths.get(dir, "part-00000-empty-rows.parquet"))

    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    val kept = Dedup.exactDedupRows(back, sha2(col("text"), 256), col("doc_id"))
    assert(kept.count() === 100)
  }

  test("round-7 ops: empty / whitespace / unicode / emoji docs never throw; " +
    "degenerate outputs are the documented values") {
    import spark.implicits._
    val docs = Seq(
      (1L, "", "en"),
      (2L, "   ", "en"),
      (3L, "naïve café über straße", "de"),
      (4L, "🙂 🙂 🙂 🙂 🙂 🙂", "en"),
      (5L, "日本語 テスト 中文 日本語 テスト 中文", "zh"),
      (6L, "one normal english sentence with enough tokens", "en"))
      .toDF("doc_id", "text", "lang")

    val rep = Corpus.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep.keySet === (1L to 6L).toSet)  // every doc present, none null
    // "🙂"x6: top bigram "🙂 🙂" count 5 (positional), len 3 chars? emoji is
    // 2 UTF-16 units in Spark's length() — don't hand-compute, just bound it
    assert(rep(4L)._1 > 0L && rep(5L)._2 > 0L)
    assert(rep(1L) === ((0L, 0L))) // "" -> one empty token, no bigrams
    // "   " -> FOUR empty tokens (split keeps empties, mirroring the
    // oracle's string_split): bigram " " x3 covers all 3 chars -> 1e6;
    // trigram "  " x2 covers 4 of 3 chars -> 1333333 (overlap counting)
    assert(rep(2L) === ((1000000L, 1333333L)))

    val dsir = Corpus.dsirWeights(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(_.getLong(0)).toSet
    // doc 1 ("" -> one empty token) still scores; all docs present
    assert(dsir === (1L to 6L).toSet)

    val luhn = docs.select(col("doc_id"),
      graft.functions.Privacy.luhnValidCount(col("text")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(luhn.values.forall(_ === 0L))

    // winnow contamination of a unicode corpus against a unicode eval doc:
    // the repeated CJK trigram run is shared; ASCII docs are clean
    val bench = Seq((100L, "日本語 テスト 中文 日本語 テスト 中文 extra tail")).toDF("doc_id", "text")
    val flagged = Corpus.winnowContamination(docs, bench, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(flagged.contains(5L) && !flagged.contains(6L))
  }

  test("graph ops: a self-loop-heavy, dangler-heavy graph neither throws nor leaks mass") {
    import spark.implicits._
    // every pathology at once: pure self-loops (1,2), a dangling chain
    // tail (5), a node that is ONLY a self-loop plus dangler (6→6 is its
    // sole edge), and one real 2-cycle (3↔4) for signal
    val edges = Seq(
      (1L, 1L), (2L, 2L), (2L, 2L), // repeated self-loop (multi-edge)
      (3L, 4L), (4L, 3L),
      (4L, 5L),                     // 5 dangles: no out-edges
      (6L, 6L)).toDF("src", "dst")

    // the loops run on both sides of the `DriverGate` size gate: the public
    // entry (the driver recurrence on a graph this small) and the
    // distributed rounds
    LinkGraphSpec.sides.foreach { side =>
      // PageRank: every node present, scores non-negative; the 2-cycle pair
      // symmetric; self-loops legitimately retain their own mass
      val pr = side.propagate(edges, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(pr.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L), side.name)
      assert(pr.values.forall(_ >= 0L), side.name)
      assert(pr(1L) === pr(6L), side.name) // identical sole-self-loop structure

      // personalized: restart mass gated on a seed none of the self-loopers
      // satisfy — their score must drain to 0
      val ppr = side.propagate(edges, iters = 5, seed = Some(col("id") === 3L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ppr(1L) === 0L && ppr(2L) === 0L && ppr(6L) === 0L, side.name)
      assert(ppr(3L) > 0L && ppr(4L) > 0L && ppr(5L) > 0L, side.name) // flow reaches the dangler

      // HITS: converges, max-normalized to scale, no node missing; the pure
      // dangler (5) is auth-only, never a hub
      val h = side.hits(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(h.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L), side.name)
      assert(h.values.forall { case (hub, auth) =>
        hub >= 0L && hub <= 1000000L && auth >= 0L && auth <= 1000000L }, side.name)
      assert(h(5L)._1 === 0L, side.name) // no out-edges -> zero hub
    }

    // triangles: self-loops and multi-edges drop; this graph has none
    val t = LinkGraph.triangles(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t.values.forall(_ === 0L))
  }

  test("score calibration: constant-score and singleton sources calibrate deterministically") {
    import spark.implicits._
    // constant score within a source = full tie — ROW_NUMBER semantics
    // must yield distinct adjacent percentiles in deterministic id order,
    // best (lowest id) = 1e6, worst = 0; a singleton source scores 0
    val docs = Seq(
      (1L, "flat", 7L), (2L, "flat", 7L), (3L, "flat", 7L), (4L, "flat", 7L), (5L, "flat", 7L),
      (6L, "lone", 99L),
      (7L, "mix", 10L), (8L, "mix", 20L)).toDF("doc_id", "source", "score")
    val got = Splits
      .scorePercentileGrouped(docs, "source", "score", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // flat: ranks 1..5 in id order -> (5-r)*1e6 div 4
    assert(got(1L) === 1000000L)
    assert(got(2L) === 750000L)
    assert(got(3L) === 500000L)
    assert(got(4L) === 250000L)
    assert(got(5L) === 0L)
    assert(got(6L) === 0L)      // singleton: no distribution to stand in
    assert(got(7L) === 0L)      // mix: lower score -> rank 2 -> 0
    assert(got(8L) === 1000000L)
  }

  test("round-7b ops: negative/zero series through CUSUM; all-weight-on-one-row and " +
    "even-split ties through weightedPercentile; duplicate-x series through groupedTrend") {
    import spark.implicits._
    // CUSUM with negatives: 5,-5,5,-5 — alternating, tot=0, dev=4v:
    // S: 20,0,20,0; runMin: 20,0,0,0; exc: 0,0,20,0 -> max 20 at ord 3
    val alt = Seq(5L, -5L, 5L, -5L).zipWithIndex
      .map { case (v, i) => ("k", (i + 1).toLong, v) }.toDF("k", "ord", "v")
    val ra = Changepoint.cusumExcursion(alt, "k", Seq(col("ord")), col("v")).head()
    assert(ra.getLong(2) === 20L && ra.getLong(3) === 3L,
      "alternating series: bounded excursion, deterministic argmax")
    // single-row series: excursion 0, no window-frame crash
    val one = Seq(("s", 1L, -17L)).toDF("k", "ord", "v")
    val ro = Changepoint.cusumExcursion(one, "k", Seq(col("ord")), col("v")).head()
    assert(ro.getLong(1) === 1L && ro.getLong(2) === 0L && ro.getLong(3) === 1L)

    // weightedPercentile: zero-weight rows shift nothing; all mass on one
    // value picks it regardless of neighbors
    val wz = Seq(("g", 1L, 0L), ("g", 2L, 0L), ("g", 3L, 5L), ("g", 9L, 0L))
      .toDF("g", "v", "w")
    val rw = Profile.weightedPercentile(wz, Seq("g"), col("v"), col("w"), 1, 2).head()
    assert(rw.getLong(1) === 3L && rw.getLong(2) === 5L,
      "zero-weight values never reach; the single massed value is the median")
    // even split 2|2: cum*2 >= tot already at the FIRST value (4 >= 4)
    val even = Seq(("g", 10L, 2L), ("g", 20L, 2L)).toDF("g", "v", "w")
    val re = Profile.weightedPercentile(even, Seq("g"), col("v"), col("w"), 1, 2).head()
    assert(re.getLong(1) === 10L, "lower-median convention on an even split")
    // p = 1 (pNum == pDen): always the maximum value
    val rm = Profile.weightedPercentile(even, Seq("g"), col("v"), col("w"), 1, 1).head()
    assert(rm.getLong(1) === 20L)

    // groupedTrend on a tie-broken series: duplicate order keys fall back
    // to the tiebreak column — deterministic rank, deterministic slope
    val dup = Seq(("g", 1L, 1L, 10L), ("g", 1L, 2L, 20L), ("g", 2L, 3L, 30L))
      .toDF("g", "ord", "id", "y")
    val rt = Profile
      .groupedTrend(dup, Seq("g"), Seq(col("ord"), col("id")), col("y"))
      .head()
    assert(rt.getDouble(4) === 10.0, "x=1,2,3 / y=10,20,30: exact slope 10")
  }

  test("sharedSpans: zero-width-divergent copies split; sub-k docs and self-similar docs are inert") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // same 10 tokens but one has a zero-width space inside token 5: the
    // diagonal breaks at every trigram touching it (byte-exact hashing)
    val zw = run.replace("epsilon", "eps​ilon")
    val docs = Seq(
      (1L, run), (2L, run),          // verbatim: 8 positions -> span 10
      (3L, zw),                      // zw-divergent twin of the run
      (4L, "a b"),                   // sub-k: no shingles at all
      (5L, "x x x x x x x x x x x") // self-similar but alone: no pair partner
    ).toDF("doc_id", "text")
    val got = Dedup
      .sharedSpans(docs, "doc_id", "text", k = 3, minSpanTokens = 4, maxBucket = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) === 10L, "verbatim twin measures the full run")
    // zw doc: epsilon sits at token index 4; trigrams at positions 2,3,4
    // touch it. Clean prefix = positions 0..1 (span 4), clean suffix =
    // positions 5..7 (span 5): longest unbroken shared run is 5
    assert(got((1L, 3L)) === 5L && got((2L, 3L)) === 5L,
      "zero-width divergence splits the span at the corrupted trigrams")
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L }, "sub-k doc pairs with nothing")
    assert(!got.keySet.exists { case (a, b) => a == 5L || b == 5L }, "no self-pairs from within-doc repeats")
  }

  test("round-7c ops: unicode byte-exactness through the blocklist gate; " +
    "negative values through PSI bins; over-long caps through journey paths") {
    import spark.implicits._

    // blocklist: byte-exact token match — a zero-width-space variant of a
    // listed term does NOT trip the gate (no substring surprises)
    val bl = Corpus.blocklistAudit(
      Seq((1L, "bad thing"), (2L, "b​ad thing")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("bad"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bl(1L) === 1L && bl(2L) === 0L)

    // psiDrift: negative values floor-bin downward (-0.1 -> bin -1, not 0);
    // identical negative-heavy halves still score exactly 0
    val neg = Seq(("g", -0.1, false), ("g", -10.0, false), ("g", 0.1, false),
      ("g", -0.1, true), ("g", -10.0, true), ("g", 0.1, true)).toDF("g", "v", "cur")
    val pn = Profile.psiDrift(neg, Seq("g"), col("v"), col("cur"), binWidth = 10.0)
      .select("n_bins", "psi_x1e6").head()
    assert(pn.getLong(0) === 2L,
      "-0.1 and -10.0 both floor to bin -1 (not 0); 0.1 floors to bin 0")
    assert(pn.getLong(1) === 0L)

    // journeyPaths: cap far beyond the series length keeps the whole
    // journey; unicode states join byte-exactly
    val jp = Funnel.journeyPaths(
      Seq((1L, 1L, "日"), (1L, 2L, "本")).toDF("k", "ord", "s"),
      "k", Seq(col("ord")), col("s"), maxSteps = 100)
      .head()
    assert(jp.getString(0) === "日>本" && jp.getLong(1) === 1L)
  }

  test("round-9 mixing/batching ops: constant-score rank degeneracy, unicode groups, " +
    "negative keys, edge-boundary lengths") {
    import spark.implicits._
    // rankBuckets under a CONSTANT score: ranks fall back to pure id order
    // (the degenerate-group id-sub-bucket path) and tercile populations
    // stay exact
    val const = (1L to 9L).map(i => ("g", i, 7L)).toDF("g", "id", "s")
    val rb = Splits.rankBuckets(const, "g", "s", "id", nBuckets = 3)
      .select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 9L).foreach(i => assert(rb(i) === (i - 1) / 3, s"id $i"))
    // interleaveSchedule: unicode group names order by their UTF8 string
    // order on vt ties — deterministic, never throws
    val uni = Seq(("\u00e9", 1L), ("\u00e9", 2L), ("e\u0301", 10L), ("\u7fd4", 20L))
      .toDF("g", "id")
    val sched = Splits.interleaveSchedule(
      uni, "g", "id",
      Seq(("\u00e9", 1L), ("e\u0301", 1L), ("\u7fd4", 1L)), limit = 10)
      .select("pos", "g", "id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(sched.length === 4)
    // vt=1e6 tie: "e\u0301" (ASCII 'e' = 0x65) < "\u00e9" (0xc3a9) < "\u7fd4"
    assert(sched.take(3).map(_._2).toSeq === Seq("e\u0301", "\u00e9", "\u7fd4"))
    // epochUpsample: negative keys bucket safely (reduce-mod-P), huge rates
    // explode to exactly rate div 100 (+0/1) copies
    val neg = Seq((-5L, "a"), (-1000000009L, "a"), (3L, "a")).toDF("id", "g")
    val up = Splits.epochUpsample(neg, "id", "g", Seq(("a", 1000)))
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    up.foreach { case (id, n) => assert(n === 10L, s"id $id got $n copies") }
    // lengthBucketBatches: a length exactly AT an edge lands in the upper
    // bucket (>= semantics), one below stays under
    val edge = Seq((1L, 199L), (2L, 200L), (3L, 201L)).toDF("doc_id", "n_chars")
    val lb = Corpus.lengthBucketBatches(edge, "doc_id", "n_chars", Seq(200L), 16)
      .select("doc_id", "len_bucket").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(lb(1L) === 0 && lb(2L) === 1 && lb(3L) === 1)
  }
}
