package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.DirSwap

/** Duplicated-span mining semantics (Corpus.duplicatedSpans /
  * duplicatedSpanCensus / stripDuplicatedSpans): hand-computed fixture
  * covering cross-doc sharing, within-doc repetition (self-duplication
  * needs no second doc), adjacent-gram merging across the k gap, and the
  * strip/census consistency law.
  */
class DuplicatedSpansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // k=3 fixture, worked by hand:
  //  d1 "a b c d e f g h"  — shares "a b c d" with d2: dup gram starts
  //     {0,1} -> one span [0,3], 4 tokens
  //  d2 "x y z a b c d q"  — dup gram starts {3,4} -> span [3,6], 4 tokens
  //  d3 "p q r s p q r s"  — WITHIN-doc repeat: "p q r" at {0,4},
  //     "q r s" at {1,5}; gaps (1->4) == k so the ranges chain into ONE
  //     span [0,7] covering the whole doc
  //  d4 "m n o u v w"      — unique; no spans
  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z a b c d q"),
      (3L, "p q r s p q r s"),
      (4L, "m n o u v w")).toDF("doc_id", "text")
  }

  test("duplicatedSpans: cross-doc span, within-doc repeat, gap merge — hand fixture") {
    val got = Corpus.duplicatedSpans(fixture, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (1L, 1L, 0L, 3L, 4L),
      (2L, 1L, 3L, 6L, 4L),
      (3L, 1L, 0L, 7L, 8L)))
  }

  test("two separated spans in one doc get distinct ordinals; k boundary splits at gap > k") {
    import spark.implicits._
    // d5 repeats "a b c" (as a gram) at starts 0 and 6 — gap 6 > k=3, so
    // TWO spans [0,2] and [6,8]; filler tokens are unique
    val docs = Seq(
      (5L, "a b c u1 u2 u3 a b c"),
      (6L, "a b c z9")).toDF("doc_id", "text")
    val got = Corpus.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set(
      (5L, 1L, 0L, 2L, 3L),
      (5L, 2L, 6L, 8L, 3L),
      (6L, 1L, 0L, 2L, 3L)))
  }

  test("duplicatedSpanCensus: integer micro-unit fractions; every doc appears") {
    val got = Corpus.duplicatedSpanCensus(fixture, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map(
      1L -> ((8L, 4L, 4L, 500000L)),
      2L -> ((8L, 4L, 4L, 500000L)),
      3L -> ((8L, 8L, 0L, 1000000L)),
      4L -> ((6L, 0L, 6L, 0L))))
  }

  test("stripDuplicatedSpans: order-preserving removal; fully-covered doc -> empty text") {
    val got = Corpus.stripDuplicatedSpans(fixture, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(got === Map(
      1L -> "e f g h",
      2L -> "x y z q",
      3L -> "",
      4L -> "m n o u v w"))
  }

  test("law: strip output token count == census kept_toks on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val census = Corpus.duplicatedSpanCensus(docs, "doc_id", "text", k = 8)
      .select(col("doc_id"), col("kept_toks"))
    val stripped = Corpus.stripDuplicatedSpans(docs, "doc_id", "text", k = 8)
      .select(col("doc_id"),
        when(col("kept_text") === "", lit(0L))
          .otherwise(size(split(col("kept_text"), " ")).cast("long")).as("strip_toks"))
    val joined = census.join(stripped, Seq("doc_id"))
    assert(joined.count() === docs.count())
    assert(joined.filter(col("kept_toks") =!= col("strip_toks")).count() === 0L)
  }

  test("contaminatedSpans: only bench-shared ranges flag; train-internal dups do not") {
    import spark.implicits._
    // t1 quotes the bench doc's "e1 e2 e3" run; t2/t3 share a train-only
    // 3-gram ("d1 d2 d3") which must NOT flag (not in the bench set)
    val train = Seq(
      (1L, "a b e1 e2 e3 c d"),
      (2L, "d1 d2 d3 x y"),
      (3L, "z w d1 d2 d3")).toDF("doc_id", "text")
    val bench = Seq((100L, "q r e1 e2 e3 s")).toDF("doc_id", "text")
    val got = Corpus.contaminatedSpans(train, "doc_id", "text", bench, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === Set((1L, 1L, 2L, 4L, 3L)))
  }

  test("stripSpans excises an arbitrary span list; contaminated doc loses exactly the quoted run") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b e1 e2 e3 c d"),
      (2L, "d1 d2 d3 x y")).toDF("doc_id", "text")
    val bench = Seq((100L, "q r e1 e2 e3 s")).toDF("doc_id", "text")
    val spans = Corpus.contaminatedSpans(train, "doc_id", "text", bench, "doc_id", "text", k = 3)
    val got = Corpus.stripSpans(train, "doc_id", "text", spans)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "a b c d", 2L -> "d1 d2 d3 x y"))
  }

  test("incremental gram-count store: wave folds == batch miner; parked store resumes; k refused") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("gramcnt").toString
    val path = s"$root/counts"
    val docs = fixture
    Corpus.writeGramCounts(docs.filter(col("doc_id") <= 2), "doc_id", "text", k = 3, path)
    Corpus.updateGramCounts(docs.filter(col("doc_id") > 2), "doc_id", "text", k = 3, path)
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = spans(Corpus.duplicatedSpans(docs, "doc_id", "text", k = 3))
    assert(spans(Corpus.duplicatedSpansAgainstCounts(docs, "doc_id", "text", path)) === want)

    // a writer killed between its two renames parks the store; the miner
    // heals it before reading and the next fold resumes the history (no
    // silent restart)
    val live   = new java.io.File(path)
    val parked = new java.io.File(DirSwap.parked(path))
    assert(live.renameTo(parked), "could not park the store")
    assert(spans(Corpus.duplicatedSpansAgainstCounts(docs, "doc_id", "text", path)) === want)
    assert(live.renameTo(parked), "could not park the store again")
    Corpus.updateGramCounts(
      Seq((9L, "w1 w2 w3 w4")).toDF("doc_id", "text"), "doc_id", "text", k = 3, path)
    assert(live.exists() && !parked.exists(), "fold must heal and clear the set-aside")
    assert(spans(Corpus.duplicatedSpansAgainstCounts(docs, "doc_id", "text", path)) === want)

    // k is store identity, not a tunable
    val e = intercept[IllegalArgumentException] {
      Corpus.updateGramCounts(docs, "doc_id", "text", k = 4, path)
    }
    assert(e.getMessage.contains("store identity"))

    // a store covering MORE history mines docs against everything folded:
    // a new doc quoting d4's (so-far-unique) text makes d4's grams
    // duplicated in the STORE even though `docs` alone has no second copy
    Corpus.updateGramCounts(
      Seq((10L, "m n o u v w")).toDF("doc_id", "text"), "doc_id", "text", k = 3, path)
    val withHistory =
      spans(Corpus.duplicatedSpansAgainstCounts(docs, "doc_id", "text", path))
    assert(withHistory.contains((4L, 1L, 0L, 5L, 6L)), "history duplication must surface")
    assert((withHistory -- want) === Set((4L, 1L, 0L, 5L, 6L)))
  }

  test("null-text docs are excluded from census and strip (no token spine to rebuild)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("a b c d a b c d")),
      (2L, Option.empty[String]),
      (3L, Option("x y z"))).toDF("doc_id", "text")
    val census = Corpus.duplicatedSpanCensus(docs, "doc_id", "text", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(census === Set(1L, 3L))
    val strip = Corpus.stripDuplicatedSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strip === Set(1L, 3L))
  }

  test("empty gram-count store: clear refusal from every reader; a fold into it is legal") {
    import spark.implicits._
    val root  = java.nio.file.Files.createTempDirectory("gramempty").toString
    val path  = s"$root/counts"
    // legal empty store: every doc shorter than k
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
    Corpus.writeGramCounts(short, "doc_id", "text", k = 3, path)
    assert(spark.read.parquet(path).count() === 0L)
    val e1 = intercept[IllegalArgumentException] {
      Corpus.duplicatedSpansAgainstCounts(fixture, "doc_id", "text", path).collect()
    }
    assert(e1.getMessage.contains("EMPTY"))
    // an empty store carries no k identity — folding real docs in is legal
    // (pre-guard this threw a bare NoSuchElementException from .head())
    Corpus.updateGramCounts(fixture, "doc_id", "text", k = 3, path)
    val got = Corpus.duplicatedSpansAgainstCounts(fixture, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = Corpus.duplicatedSpans(fixture, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === want && got.nonEmpty)
  }

  test("union of two batch stores: unionGramCounts law and the k-agreement guard") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("gramunion").toString
    // d1 and d2 share 'a b c d' and land in DIFFERENT stores, so the shared
    // grams carry count 1 in EACH store: a raw union holds split counts the
    // per-row minCount filter would miss — the fold must re-sum them
    val first  = fixture.filter(col("doc_id") === 1)
    val second = fixture.filter(col("doc_id") > 1)
    val batchPath  = s"$root/batch"
    val secondPath = s"$root/second"
    Corpus.writeGramCounts(first, "doc_id", "text", k = 3, batchPath)
    Corpus.updateGramCounts(second, "doc_id", "text", k = 3, secondPath)
    val unioned = Corpus.unionGramCounts(Seq(
      spark.read.parquet(batchPath), spark.read.parquet(secondPath)))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // the law: mining against the union == the one-shot mine over the
    // concatenated corpus
    val want1 = key(Corpus.duplicatedSpans(fixture, "doc_id", "text", k = 3))
    assert(key(Corpus.spansAgainstCounts(fixture, "doc_id", "text", unioned)) === want1)
    // ...and the fold is LOAD-BEARING: the raw union (same k, split counts)
    // under-mines — the cross-store d1/d2 span vanishes
    val rawUnion = spark.read.parquet(batchPath).unionByName(spark.read.parquet(secondPath))
    val rawMined = key(Corpus.spansAgainstCounts(fixture, "doc_id", "text", rawUnion))
    assert(rawMined != want1)
    assert(!rawMined.exists(_._1 == 1L))
    // and the union itself folds to the one-shot counts
    val oneShot = Corpus.gramCountDelta(fixture, "doc_id", "text", 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(unioned.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet === oneShot)

    // mixed-k unions are refused at the fold AND at the miner
    val k4Path = s"$root/batch4"
    Corpus.writeGramCounts(first, "doc_id", "text", k = 4, k4Path)
    val e = intercept[IllegalArgumentException] {
      Corpus.unionGramCounts(Seq(
        spark.read.parquet(batchPath), spark.read.parquet(k4Path)))
    }
    assert(e.getMessage.contains("disagree on k"))
    val e2 = intercept[IllegalArgumentException] {
      Corpus.spansAgainstCounts(fixture, "doc_id", "text",
        spark.read.parquet(batchPath).unionByName(spark.read.parquet(k4Path))).collect()
    }
    assert(e2.getMessage.contains("mixed k"))
  }

  test("a gram occurring >= minCount times only under a higher threshold is not flagged at it") {
    import spark.implicits._
    // "a b c" occurs exactly twice: flagged at minCount=2, not at 3
    val docs = Seq(
      (7L, "a b c p1 p2"),
      (8L, "q1 a b c q2")).toDF("doc_id", "text")
    assert(Corpus.duplicatedSpans(docs, "doc_id", "text", k = 3).count() === 2L)
    assert(Corpus.duplicatedSpans(docs, "doc_id", "text", k = 3, minCount = 3L).count() === 0L)
  }

  test("gramNovelty: hand-computed gram/mass fractions; empty and mixed-k stores refused") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("gramnovel").toString
    val path = s"$root/counts"
    // store corpus: "a b c" -> 2-grams {"a b", "b c"}
    Corpus.writeGramCounts(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", k = 2, path)
    // wave "a b a b": grams (a b), (b a), (a b) -> 2 distinct / 3
    // occurrences; novel = {"b a"}: 1 of 2 grams (500000), 1 of 3
    // occurrences (333333)
    val wave = Seq((2L, "a b a b")).toDF("doc_id", "text")
    val r = Corpus.gramNovelty(wave, "doc_id", "text", spark.read.parquet(path))
      .collect().head
    assert((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((2, 2L, 1L, 3L, 1L, 500000L, 333333L)))
    // an all-seen wave scores exactly zero novelty
    val seen = Corpus.gramNovelty(Seq((3L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", spark.read.parquet(path)).collect().head
    assert((seen.getLong(5), seen.getLong(6)) === ((0L, 0L)))
    // empty store refused by name; mixed-k union refused
    val e1 = intercept[IllegalArgumentException] {
      Corpus.gramNovelty(wave, "doc_id", "text",
        spark.read.parquet(path).filter(lit(false)))
    }
    assert(e1.getMessage.contains("EMPTY"))
    val other = s"$root/counts3"
    Corpus.writeGramCounts(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, other)
    val e2 = intercept[IllegalArgumentException] {
      Corpus.gramNovelty(wave, "doc_id", "text",
        spark.read.parquet(path).unionByName(spark.read.parquet(other)))
    }
    assert(e2.getMessage.contains("mixed k"))
  }

  test("gramNovelty: a raw union of same-k stores sharing grams cannot fan the wave out") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("gramnovel-union").toString
    // two stores that BOTH hold gram "a b": a raw unionByName carries the
    // gh twice; the join must still count each wave gram once (store side
    // gh-unique), else wave_grams inflates and novelty understates
    Corpus.writeGramCounts(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", k = 2, s"$root/s1")
    Corpus.writeGramCounts(Seq((2L, "a b z")).toDF("doc_id", "text"),
      "doc_id", "text", k = 2, s"$root/s2")
    val rawUnion = spark.read.parquet(s"$root/s1")
      .unionByName(spark.read.parquet(s"$root/s2"))
    // wave "a b q": grams {"a b" seen, "b q" novel} -> 2 grams, 1 novel
    val r = Corpus.gramNovelty(Seq((9L, "a b q")).toDF("doc_id", "text"),
      "doc_id", "text", rawUnion).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((2L, 1L, 2L, 1L, 500000L)))
  }

  test("noveltyRoutedExcision: alarmed wave excised, quiet wave verbatim, unmeasurable wave alarms") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("novroute").toString
    val path = s"$root/counts"
    // store corpus: 2-gram counts {"a b":2, "b c":2, "c d":1, "c e":1}
    Corpus.writeGramCounts(
      Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text"),
      "doc_id", "text", k = 2, path)
    val store = spark.read.parquet(path)
    def route(wave: org.apache.spark.sql.DataFrame) =
      Corpus.noveltyRoutedExcision(wave, "doc_id", "text", store, alarmBelowX1e6 = 500000L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5))))
        .toMap

    // ALARMED replay: "a b c d" grams {a b, b c, c d} all seen -> novelty 0
    // -> excise spans of store-dup (c>=2) grams {a b@0, b c@1} -> span
    // [0,2] -> kept "d", 3 of 4 tokens cut
    val alarmed = route(Seq((10L, "a b c d")).toDF("doc_id", "text"))
    assert(alarmed === Map(10L -> ((4L, 3L, "d", Some(0L), true))))

    // QUIET wave: {p q, q r, r s, a b, b x} -> 4/5 novel = 800000 >= bar
    // -> verbatim pass-through; doc 21 keeps "a b x" UNTOUCHED even
    // though "a b" is store-duplicated — routing, not unconditional strip
    val quiet = route(Seq((20L, "p q r s"), (21L, "a b x")).toDF("doc_id", "text"))
    assert(quiet === Map(
      20L -> ((4L, 0L, "p q r s", Some(800000L), false)),
      21L -> ((3L, 0L, "a b x", Some(800000L), false))))

    // UNMEASURABLE wave (no 2-grams): NULL novelty -> alarm branch, but
    // nothing to excise — the doc survives intact with the alarm raised
    val unmeasurable = route(Seq((30L, "z")).toDF("doc_id", "text"))
    assert(unmeasurable === Map(30L -> ((1L, 0L, "z", None, true))))

    // a zero threshold can never route — refused by name
    val e = intercept[IllegalArgumentException] {
      Corpus.noveltyRoutedExcision(
        Seq((40L, "a b")).toDF("doc_id", "text"), "doc_id", "text", store, 0L)
    }
    assert(e.getMessage.contains("alarmBelowX1e6"))
  }
}
