package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.{Privacy, TextAnalysis}

/** Corpus-hygiene semantics: decontamination overlap accounting, TF-IDF
  * ranking vs a hand-computed fixture, repetition ratio, and the PII
  * redaction/pseudonymization primitives.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  test("contamination: identical doc = 1.0, disjoint doc = 0.0, short doc survives with 0 shingles") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // identical to bench doc
      (2L, "zeta eta theta iota kappa"),      // disjoint
      (3L, "one two"))                        // < 3 tokens: no shingles
      .toDF("id", "text")
    val bench = Seq((10L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val got = Corpus
      .contamination(train, bench, "id", "text", n = 3, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((3, 3L, 1.0, true)))
    assert(got(2L) === ((3, 0L, 0.0, false)))
    assert(got(3L) === ((0, 0L, 0.0, false)))
  }

  test("contamination: partial overlap counts only shared shingles") {
    import spark.implicits._
    // train doc shares exactly its first shingle ("a b c") with the bench
    val train = Seq((1L, "a b c x y")).toDF("id", "text") // shingles: abc bcx cxy
    val bench = Seq((9L, "a b c q r")).toDF("id", "text") // shingles: abc bcq cqr
    val r = Corpus.contamination(train, bench, "id", "text").head()
    assert(r.getInt(1) === 3 && r.getLong(2) === 1L)
    assert(math.abs(r.getDouble(3) - 1.0 / 3) < 1e-12)
  }

  test("tfidf: ranks rare terms above common ones, caps at k, breaks ties on term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare1 common common"), // tf(common)=3 df=2; tf(rare1)=1 df=1
      (2L, "common solo solo"))
      .toDF("id", "text")
    val got = Corpus
      .tfidfTopK(docs, "id", "text", k = 2)
      .orderBy("id", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    // doc 1: common tf=3 df=2 score=3, rare1 tf=1 df=1 score=2 -> common first
    // doc 2: solo tf=2 df=1 score=4, common tf=1 df=2 score=1
    assert(got === Array(
      (1L, "common", 3L, 2L, 3.0, 1),
      (1L, "rare1", 1L, 1L, 2.0, 2),
      (2L, "solo", 2L, 1L, 4.0, 1),
      (2L, "common", 1L, 2L, 1.0, 2)))
  }

  test("tfidf: k caps per-doc output even with more distinct terms") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("id", "text")
    assert(Corpus.tfidfTopK(docs, "id", "text", k = 3).count() === 3)
  }

  test("dupBigramRatio: repeated bigrams counted, short docs are 0") {
    import spark.implicits._
    val df = Seq(
      ("a b a b a", 0.5), // grams: ab ba ab ba -> 4 total, 2 distinct
      ("x y z", 0.0),     // 2 distinct grams of 2
      ("single", 0.0))    // no bigrams
      .toDF("text", "want")
    val rows = df.select(TextAnalysis.dupBigramRatio(col("text")).as("got"), col("want")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("contamination matches a driver-side brute force on the real documents table") {
    val docs = graft.core.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val rows  = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    def sh(t: String): Set[String] =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    // even ids play the benchmark, odd ids the training corpus
    val benchSh = rows.filter(_._1 % 2 == 0).flatMap(r => sh(r._2)).toSet
    val want = rows.filter(_._1 % 2 == 1).map { case (id, t) =>
      val s = sh(t)
      id -> ((s.size, s.count(benchSh.contains).toLong))
    }.toMap
    val got = Corpus
      .contamination(
        docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2))))
      .toMap
    assert(got === want)
  }

  test("tfidf matches a driver-side brute force on the real documents table") {
    val docs = graft.core.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val n    = rows.length.toDouble
    val tf   = rows.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = tf.toSeq
      .map { case ((id, term), f) => (id, term, f, df(term), f.toDouble * (n / df(term))) }
      .groupBy(_._1)
      .flatMap { case (_, ts) =>
        ts.sortBy(t => (-t._5, t._2)).take(3).zipWithIndex.map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, i + 1) }
      }
      .toSet
    val got = Corpus
      .tfidfTopK(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
      .toSet
    assert(got === want)
  }

  test("packSequences: packs never exceed the budget before their last doc; repartition-stable") {
    val docs = graft.core.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "text")
    val packed = Corpus
      .packSequences(docs, "doc_id", "text", Seq("lang"), budgetTokens = 100)
      .select("lang", "pack_id", "doc_id", "n_tokens", "cum_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(packed.nonEmpty)
    // a doc is placed in pack floor(startOffset/budget): the tokens BEFORE
    // it in its pack are < budget (only the doc itself may overflow)
    packed.groupBy(t => (t._1, t._2)).foreach { case ((_, pid), rows) =>
      val firstStart = rows.map(r => r._5 - r._4).min
      assert(firstStart / 100 === pid)
      rows.foreach(r => assert((r._5 - r._4) / 100 === pid))
    }
    // determinism under a different physical layout
    val repacked = Corpus
      .packSequences(docs.repartition(7), "doc_id", "text", Seq("lang"), budgetTokens = 100)
      .select("lang", "pack_id", "doc_id", "n_tokens", "cum_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(packed.sortBy(_._3).toSeq === repacked.sortBy(_._3).toSeq)
  }

  test("mixtureSample: rate 1.0 keeps all, rates nest, and sampling is partition-stable") {
    val docs = graft.core.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source")
    def ids(rate: Double) = Splits
      .mixtureSample(docs, "doc_id", "source", rates = Map.empty, defaultRate = rate)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.count()
    assert(ids(1.0).size === all)
    val half = ids(0.5); val quarter = ids(0.25)
    assert(quarter.subsetOf(half), "lowering the rate must keep a subset, not resample")
    assert(half.size < all && quarter.size < half.size)
    val repart = Splits
      .mixtureSample(docs.repartition(5), "doc_id", "source", Map.empty, defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repart === half)
  }

  test("contaminationBloom == contamination row for row (incl. zero-shingle and all-rejected docs)") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // fully contained in bench
      (2L, "zeta eta theta iota kappa"),      // disjoint: every shingle bloom-rejected or verified away
      (3L, "one two"),                        // < 3 tokens: zero shingles
      (4L, "alpha beta gamma zeta eta"))      // partial overlap
      .toDF("id", "text")
    val bench = Seq((10L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    val plain = Corpus.contamination(train, bench, "id", "text", n = 3, threshold = 0.5)
    val bloom = Corpus.contaminationBloom(
      train, bench, "id", "text", n = 3, threshold = 0.5, expectedShingles = 100L)
    assert(canon(bloom) === canon(plain))
    // and with an undersized sketch (high effective fpp): still exact
    val tiny = Corpus.contaminationBloom(
      train, bench, "id", "text", n = 3, threshold = 0.5, expectedShingles = 1L, fpp = 0.5)
    assert(canon(tiny) === canon(plain))
  }

  test("topNgrams: counts match brute force; ties cut deterministically; short docs contribute nothing") {
    import spark.implicits._
    val docs = Seq(
      "a b a b c",   // bigrams: "a b","b a","a b","b c"
      "a b",         // "a b"
      "x",           // too short for bigrams
      "b c a b")     // "b c","c a","a b"
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

    val bi = Corpus.topNgrams(docs, "text", n = 2, k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // brute force: a b=4, b c=2, b a=1, c a=1 -> top3 cuts the (b a, c a)
    // tie... both cnt=1, gram asc picks "b a"
    assert(bi === Seq("a b" -> 4L, "b c" -> 2L, "b a" -> 1L))

    val uni = Corpus.topNgrams(docs, "text", n = 1, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // tokens: a=4, b=5, c=2, x=1
    assert(uni === Seq("b" -> 5L, "a" -> 4L))

    // null text rows are ignored, not NPE'd
    val withNull = docs.union(Seq((9L, null: String)).toDF("id", "text"))
    assert(Corpus.topNgrams(withNull, "text", n = 2, k = 3).count() === 3)
  }

  test("bm25: matches a hand-computed reference; long docs are length-penalized") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),                       // short doc, tf(apple)=2
      (2L, "apple cherry cherry cherry date egg fig"),  // longer doc
      (3L, "banana date"))
      .toDF("id", "text")
    val got = Corpus.bm25TopK(docs, "id", "text", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5))))
      .toMap

    // reference, same association: dl 3/7/2, avgdl = 12/3 = 4
    def score(tf: Long, dl: Long, df: Long): Double =
      ((tf.toDouble * 2.2) / (tf.toDouble + 1.2 * (0.25 + (0.75 * dl.toDouble) / (12.0 / 3.0)))) * (3.0 / df)
    assert(got((1L, "apple")) === ((2L, 2L, score(2, 3, 2), 1)))
    assert(got((2L, "cherry")) === ((3L, 1L, score(3, 7, 1), 1)))
    // same tf, same df, different doc length: the longer doc scores LOWER
    assert(got((3L, "date"))._3 > got((2L, "date"))._3)
  }

  test("snapshotDiff: every status classified; NULL payloads compare null-safely") {
    import spark.implicits._
    val a = Seq(
      (1L, "same", "en"), (2L, "edit me", "en"), (3L, "gone", "en"),
      (4L, null.asInstanceOf[String], "en"), (5L, null.asInstanceOf[String], "en")
    ).toDF("id", "text", "lang")
    val b = Seq(
      (1L, "same", "en"),      // unchanged
      (2L, "edited", "en"),    // changed (payload)
      (4L, null.asInstanceOf[String], "en"), // unchanged (NULL == NULL null-safely)
      (5L, "filled", "en"),    // changed (NULL -> value)
      (6L, "new", "es")        // added
    ).toDF("id", "text", "lang")
    val got = Corpus.snapshotDiff(a, b, Seq("id"), Seq("text", "lang"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"))
  }

  test("privacy: redaction leaves no digits; pseudonym is stable and distinct") {
    import spark.implicits._
    val df  = Seq((1L, "acct 12345 pin 007"), (2L, "no digits here")).toDF("id", "text")
    val red = df.select(
      Privacy.digitCount(Privacy.redactDigitRuns(col("text"))).as("d"),
      Privacy.redactDigitRuns(col("text")).as("t"))
    assert(red.collect().map(_.getInt(0)).forall(_ === 0))
    assert(red.head().getString(1) === "acct <NUM> pin <NUM>")
    val p1 = df.select(Privacy.pseudonym(col("id"))).collect().map(_.getLong(0))
    val p2 = df.select(Privacy.pseudonym(col("id"))).collect().map(_.getLong(0))
    assert(p1.toSeq === p2.toSeq)          // deterministic across runs
    assert(p1.distinct.length === p1.length) // injective for distinct ids
    assert(!p1.contains(1L) && !p1.contains(2L)) // not the raw ids
  }

  test("chunkDocs: windows tile with the stride, trailing chunk short, short/empty docs = 1 chunk") {
    import spark.implicits._
    val ten = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq(
      (1L, ten),                        // exactly 10 tokens
      (2L, (1 to 25).map(i => s"w$i").mkString(" ")), // 25 tokens
      (3L, "solo"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(df, "doc_id", "text", maxTokens = 10, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: one chunk (len == maxTokens)
    assert(out.filter(_._1 == 1L).map(_._3).toSeq === Seq(ten))
    // doc 2: stride 6 -> starts 0,6,12,18; last start covers to 25
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length === 4)
    assert(d2.map(_._4).toSeq === Seq(10L, 10L, 10L, 7L))
    assert(d2(1)._3.startsWith("w7 ") && d2(3)._3 === (19 to 25).map(i => s"w$i").mkString(" "))
    // every token of the original appears in order when overlap is dropped
    val rebuilt = d2.zipWithIndex.map { case ((_, _, txt, _), i) =>
      val toks = txt.split(" ")
      if (i == 0) toks else toks.drop(4)
    }.flatten
    assert(rebuilt.toSeq === (1 to 25).map(i => s"w$i"))
    // short and empty docs emit themselves once
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0L, "solo", 1L)))
    assert(out.filter(_._1 == 4L).map(t => (t._2, t._3)).toSeq === Seq((0L, "")))
  }

  test("unigramLogProb: matches hand-computed add-one unigram model; repartition-stable") {
    import spark.implicits._
    // corpus: "a a b" + "a c" -> tf: a=3, b=1, c=1; total=5, vocab=3
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = Corpus.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val pa = 4.0 / 8; val pb = 2.0 / 8; val pc = 2.0 / 8
    val want1 = (math.log(pa) + math.log(pa) + math.log(pb)) / 3
    val want2 = (math.log(pa) + math.log(pc)) / 2
    assert(out.map(t => (t._1, t._2)).toSeq === Seq((1L, 3L), (2L, 2L)))
    assert(math.abs(out(0)._3 - want1) < 1e-12, s"${out(0)._3} vs $want1")
    assert(math.abs(out(1)._3 - want2) < 1e-12, s"${out(1)._3} vs $want2")
    // partition-stable (up to float tolerance)
    val rep = Corpus.unigramLogProb(df.repartition(5), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    out.zip(rep).foreach { case ((_, _, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
  }

  test("unigramLogProb: junk doc scores below clean docs on the real corpus") {
    val docs  = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    import spark.implicits._
    val junk  = Seq((999999L, "zzqx9 vvkw7 qqmmz8 xxj3 wwp5 zzqx9b vkz2 qpm4")).toDF("doc_id", "text")
    val all   = docs.select(col("doc_id"), col("text")).unionByName(junk)
    val out   = Corpus.unigramLogProb(all, "doc_id", "text")
    val junkScore = out.filter(col("doc_id") === 999999L).select("avg_logp").head().getDouble(0)
    val meanClean = out.filter(col("doc_id") =!= 999999L)
      .agg(avg(col("avg_logp"))).head().getDouble(0)
    assert(junkScore < meanClean,
      s"junk doc should score below corpus mean: $junkScore vs $meanClean")
  }

  test("chunkDocs: overlap 0 partitions exactly; plan has no shuffle") {
    import spark.implicits._
    val df  = Seq((1L, (1 to 21).map("x" + _).mkString(" "))).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(df, "doc_id", "text", maxTokens = 10, overlap = 0)
    val rows = out.orderBy("chunk_id").collect()
    assert(rows.map(_.getLong(3)).toSeq === Seq(10L, 10L, 1L))
    assert(rows.flatMap(_.getString(2).split(" ")).toSeq === (1 to 21).map("x" + _))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("simpsonDiversity/collisionCount: hand values, degenerate and all-distinct extremes, null/empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    import graft.functions.TextAnalysis._
    val rows = Seq(
      (1L, "aaaa"),       // chars: 4 same -> coll 12, diversity 0
      (2L, "abcd"),       // all distinct -> coll 0, diversity 1
      (3L, "aabb"),       // 2+2 -> coll 4; 1 - 4/12
      (4L, "x"),          // single char -> no pairs -> NULL diversity
      (5L, "")            // empty -> coll 0, NULL diversity
    ).toDF("id", "t")
    val got = rows.select(col("id"),
        collisionCount(split(col("t"), "")).as("c"),
        simpsonDiversity(split(col("t"), "")).as("d"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got(1L) === ((12L, Some(0.0))))
    assert(got(2L) === ((0L, Some(1.0))))
    assert(got(3L) === ((4L, Some(1.0 - 4.0 / 12.0))))
    assert(got(4L)._2 === None)
    assert(got(5L) === ((0L, None)))
    // token level: repeated token spam scores 0
    val spam = Seq((1L, "buy buy buy buy")).toDF("id", "t")
      .select(simpsonDiversity(tokens(col("t"))).as("d")).collect().head.getDouble(0)
    assert(spam === 0.0)
  }

  test("collisionCount: native == composed on random and adversarial arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    import graft.functions.TextAnalysis._
    val rnd = new scala.util.Random(7)
    val docs = ((1L to 200L).map { id =>
      id -> (0 until rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
    } ++ Seq(201L -> "", 202L -> "naïve🙂日本語🙂naïve", 203L -> "aaaaaaaaaa")).toDF("id", "t")
    val both = docs.select(
      collisionCount(split(col("t"), "")).as("native"),
      collisionCountComposed(split(col("t"), "")).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() === 0)
    assert(spark.range(1).select(collisionCount(split(lit("aabb"), ""))).head().getLong(0) === 4L)
  }

  test("lineDedup: corpus-wide duplicate lines cut everywhere, order kept, all-dup docs drop") {
    import spark.implicits._
    // 10-token "lines": L(x) repeats its marker token 10 times
    def L(x: String) = Seq.fill(10)(x).mkString(" ")
    val docs = Seq(
      (1L, Seq(L("shared"), L("only1")).mkString(" ")),      // keeps only1
      (2L, Seq(L("only2a"), L("shared"), L("only2b")).mkString(" ")), // keeps a,b in order
      (3L, L("shared")),                                     // all lines dup -> gone
      (4L, Seq(L("twice"), L("twice")).mkString(" "))        // self-dup counts too -> gone
    ).toDF("doc_id", "text")
    val out = Corpus.lineDedup(docs, "doc_id", "text", lineTokens = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((L("only1"), 1L)))
    assert(out(2L) === ((Seq(L("only2a"), L("only2b")).mkString(" "), 2L)),
      "surviving lines must reassemble in original order")
  }

  test("stripBoilerplate: frequent per-source line drops everywhere; rare dup and " +
    "other-source copies survive; all-boiler doc stays with empty text") {
    import spark.implicits._
    val boiler = "cookie banner text"
    val docs = Seq(
      (1L, s"$boiler u1a u1b u1c", "A"),
      (2L, s"$boiler u2a u2b u2c", "A"),
      (3L, s"$boiler shared dup line", "A"),
      (4L, s"$boiler shared dup line", "A"),
      (5L, boiler, "A"), // every line boilerplate
      (6L, s"$boiler unique b-side line", "B")
    ).toDF("doc_id", "text", "source")
    // lineTokens=3: each 3-token run is one line. In A: boiler is in 5/5
    // docs (> 0.5 frac, >= 2 docs -> dropped); "shared dup line" is in
    // 2/5 docs (<= 0.5 frac -> KEPT, where lineDedup would drop it). In
    // B the same boiler line is in 1 doc -> kept.
    val out = Corpus
      .stripBoilerplate(docs, "doc_id", "text", "source",
        lineTokens = 3, maxDocFrac = 0.5, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) === (("u1a u1b u1c", 1L, 1L)))
    assert(out(3L) === (("shared dup line", 1L, 1L)),
      "a line duplicated in a small fraction of the source must survive")
    assert(out(4L) === (("shared dup line", 1L, 1L)))
    assert(out(5L) === (("", 0L, 1L)),
      "an all-boilerplate doc must survive with empty text, not vanish")
    assert(out(6L) === ((s"$boiler unique b-side line", 2L, 0L)),
      "the census is per-source: one copy in B is not boilerplate in B")
  }

  test("bigramCoherence: hand-computed corpus conditionals, integer quantization") {
    import spark.implicits._
    // corpus bigrams: doc 1 "a b a b" -> (a,b) x2, (b,a) x1; doc 2 "a c"
    // -> (a,c) x1. c1(a)=3, c1(b)=1; p(b|a)=2/3, p(a|b)=1, p(c|a)=1/3.
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val out = Corpus
      .bigramCoherence(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val pBA = 2000000000L / 3 // 666666666
    val pAB = 1000000000L
    val pCA = 1000000000L / 3 // 333333333
    assert(out(1L) === ((3L, (2 * pBA + pAB) / 3)))
    assert(out(2L) === ((1L, pCA)))
    assert(!out.contains(3L), "single-token docs emit no bigram rows")
  }

  test("bigramNll: hand-computed interpolated mixture in micro-nats; repartition-stable") {
    import spark.implicits._
    // unigrams over ALL tokens (doc 3 included): a=3 b=2 c=1 solo=1 ->
    // N=7, V=4, nv=11. Bigram-first counts: c1(a)=3, c1(b)=1.
    // Mixture num/den per pair (λ=90): den=100*c1*11,
    // num=90*cnt12*11 + 10*c1*(uf2+1).
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    def nll(den: Long, num: Long): Long =
      Math.round(math.log(den.toDouble / num.toDouble) * 1e6)
    val ab = nll(3300, 90 * 2 * 11 + 10 * 3 * 3) // (a,b): cnt12=2, uf(b)=2
    val ba = nll(1100, 90 * 1 * 11 + 10 * 1 * 4) // (b,a): cnt12=1, uf(a)=3
    val ac = nll(3300, 90 * 1 * 11 + 10 * 3 * 2) // (a,c): cnt12=1, uf(c)=1
    def run(d: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      Corpus.bigramNll(d, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val out = run(docs)
    assert(out(1L) === ((3L, (2 * ab + ba) / 3)))
    assert(out(2L) === ((1L, ac)))
    assert(!out.contains(3L), "single-token docs emit no bigram rows")
    assert(run(docs.repartition(7)) === out)
  }

  test("evalContaminationRate: full leak 1.0 flagged, partial fraction, short doc 0.0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "totally unrelated corpus text here")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "the quick brown fox"),       // both shingles in corpus -> 1.0
      (11L, "the quick brown zebra leaps"), // 1 of 3 shingles leaked
      (12L, "hi there")).toDF("doc_id", "text") // < 3 tokens: no shingles
    val out = Corpus
      .evalContaminationRate(corpus, bench, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out(10L) === ((2, 2L, 1.0, true)))
    assert(out(11L) === ((3, 1L, 1.0 / 3, false)))
    assert(out(12L) === ((0, 0L, 0.0, false)))
  }

  test("crossSourceDupMatrix: shared distinct texts per pair; within-source dups don't inflate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", "A"), (2L, "alpha", "A"), // within-A dup: counts once
      (3L, "alpha", "B"), (4L, "beta", "B"),
      (5L, "beta", "C"), (6L, "alpha", "C"),
      (7L, "gamma", "A")).toDF("doc_id", "text", "source")
    val got = Corpus.crossSourceDupMatrix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("A", "B") -> 1L,   // alpha
      ("A", "C") -> 1L,   // alpha
      ("B", "C") -> 2L))  // alpha + beta
  }

  test("tokenEntropy: uniform = ln(n), constant = 0, hand mixture; empty text is one token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // uniform over 4: H = ln(4)
      (2L, "x x x x"),      // constant: H = 0
      (3L, "a a b"),        // (2/3)ln(3/2) + (1/3)ln(3)
      (4L, "")              // one empty token: H = 0
    ).toDF("doc_id", "text")
    val out = Corpus.tokenEntropy(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((4L, 4L, Math.round(math.log(4.0) * 1e6))))
    assert(out(2L) === ((4L, 1L, 0L)))
    val h3 = (2 * Math.round(math.log(1.5) * 1e6) + Math.round(math.log(3.0) * 1e6)) / 3
    assert(out(3L) === ((3L, 2L, h3)))
    assert(out(4L) === ((1L, 1L, 0L)))
  }

  test("bigramNll: corpus-frequent transitions score more fluent than word salad") {
    import spark.implicits._
    val natural = (1L to 30L).map(i => (i, "the cat sat on the mat"))
    val docs    = (natural :+ ((99L, "mat the on cat the sat"))).toDF("doc_id", "text")
    val out = Corpus.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) < out(99L),
      s"natural ${out(1L)} should beat shuffled ${out(99L)}")
  }

  test("vocabCoverage: smallest top-k by (count desc, token asc) reaching the mass bar") {
    import spark.implicits._
    // census: a x4, b x2, c x1 -> total 7. 70% bar = cum*1000 >= 4900:
    // 'a' alone is 4000 (no), 'a'+'b' is 6000 (yes) -> cover_k = 2.
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val row = Corpus.vocabCoverage(docs, "text", coverPermille = 700).collect()
    assert(row.length === 1)
    val r = row.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 6L, 7L, 3L)))
  }

  test("chiSquareDivergence: hand-computed observed-support chi^2 micro-units") {
    import spark.implicits._
    // A: "x x y" (ts=3), B: "x z" (ts=2); ct: x=3,y=1,z=1; ta=5.
    // A.x: d=2*5-3*3=1  -> 1e6*1/45  = 22222 ; A.y: d=5-3=2 -> 4e6/15 = 266667
    // B.x: d=5-6=-1     -> 1e6/30    = 33333 ; B.z: d=5-2=3 -> 9e6/10 = 900000
    val docs = Seq((1L, "x x y", "A"), (2L, "x z", "B")).toDF("doc_id", "text", "source")
    val got = Corpus
      .chiSquareDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("A") === ((2L, 22222L + 266667L)))
    assert(got("B") === ((2L, 33333L + 900000L)))
  }

  test("collocations: integer lift, support cut, (lift desc, w1, w2) tie order") {
    import spark.implicits._
    // "a b a b a b c d": (a,b)x3 (b,a)x2 (b,c)x1 (c,d)x1, N=7.
    // support >= 2 leaves (a,b) and (b,a), both lift_q = 2333333 — the
    // tie must order (a,b) first.
    val docs = Seq((1L, "a b a b a b c d")).toDF("doc_id", "text")
    val got = Corpus
      .collocations(docs, "text", minSupport = 2L, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("a", "b", 3L, 2333333L),
      ("b", "a", 2L, 2333333L)))
  }

  test("capPerKey: ==naive window cap, per-key bound, partition-stable") {
    val cap  = 7
    val docs = graft.core.Tables.documents(spark, sfDir).select("source", "doc_id")
    val got = Corpus.capPerKey(docs, "source", "doc_id", cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // bound + exact survivor count per key
    val perKey = got.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size }
    val sizes  = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (k, n) =>
      assert(perKey.getOrElse(k, 0) === math.min(cap.toLong, n).toInt,
        s"key $k must keep min(cap, n) rows")
    }
    // survivors and ranks replay the naive window formulation exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(Splits.hashOrder(col("doc_id")), col("doc_id"))
    val naive = docs
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naive, "heap cap must equal the window cap")
    // deterministic under physical layout
    val reGot = Corpus.capPerKey(docs.repartition(11), "source", "doc_id", cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(reGot === got, "kept set must be partitioning-stable")
  }

  test("distinctNgramRatio: hand-computed template vs diverse sources") {
    import spark.implicits._
    val docs = Seq(
      // "tmpl": 3 identical docs -> grams {a b c, b c d} x3: 6 total, 2 distinct
      (1L, "a b c d", "tmpl"),
      (2L, "a b c d", "tmpl"),
      (3L, "a b c d", "tmpl"),
      // "div": every trigram unique -> 4 total, 4 distinct
      (4L, "p q r s", "div"),
      (5L, "t u v w", "div"),
      // short + null rows contribute no grams but must not crash
      (6L, "x y", "div"),
      (7L, null.asInstanceOf[String], "div")
    ).toDF("doc_id", "text", "source")
    val got = Corpus.distinctNgramRatio(docs, "source", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("tmpl") === ((6L, 2L, 333333L)), "template source: 2/6 in micro-units")
    assert(got("div") === ((4L, 4L, 1000000L)), "diverse source: every gram distinct")
  }

  test("lengthBucketBatches: bucket edges, tight batch deal, ROW_NUMBER determinism") {
    import spark.implicits._
    // bucket 0: lens 5,10,10,20 (tie on 10 breaks by id); bucket 1: 3 rows
    val df = Seq(
      (1L, 10L), (2L, 5L), (3L, 20L), (4L, 10L),
      (10L, 250L), (11L, 300L), (12L, 210L)
    ).toDF("doc_id", "n_chars")
    val got = Corpus.lengthBucketBatches(df, "doc_id", "n_chars", Seq(200L), batchSize = 2)
      .select("doc_id", "len_bucket", "batch")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    // bucket 0 order: (5,2) (10,1) (10,4) (20,3) -> batches 0,0,1,1
    assert(got(2L) === ((0, 0L)) && got(1L) === ((0, 0L)))
    assert(got(4L) === ((0, 1L)) && got(3L) === ((0, 1L)))
    // bucket 1 order: (210,12) (250,10) (300,11) -> batches 0,0,1
    assert(got(12L) === ((1, 0L)) && got(10L) === ((1, 0L)) && got(11L) === ((1, 1L)))
    // partition-stable
    val re = Corpus.lengthBucketBatches(
      df.repartition(5), "doc_id", "n_chars", Seq(200L), batchSize = 2)
      .select("doc_id", "len_bucket", "batch")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(re === got)
    // in-bucket sorting tightens padding vs the id-order deal
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("n_chars"))
    val batched = Corpus.lengthBucketBatches(docs, "doc_id", "n_chars", Seq(200L, 400L, 800L), 16)
    val waste = batched.groupBy("len_bucket", "batch")
      .agg((max("n_chars") * count(lit(1)) - sum("n_chars")).as("w"))
      .agg(sum("w")).head().getLong(0)
    val idOrderWaste = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      docs.withColumn("b",
        ((org.apache.spark.sql.functions.row_number().over(w) - 1).cast("long") / 16).cast("long"))
        .groupBy("b").agg((max("n_chars") * count(lit(1)) - sum("n_chars")).as("w"))
        .agg(sum("w")).head().getLong(0)
    }
    assert(waste < idOrderWaste, s"bucketed waste $waste !< id-order waste $idOrderWaste")
  }

  test("zipfFit: hand-pinned micro-nat points, exact BigInt OLS replay, topN cut + tie rule") {
    import spark.implicits._
    // census a:4 b:2 c:1 -> ranks 1,2,3
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val r = Corpus.zipfFit(docs, "text", topN = 3).collect().head
    assert(r.getLong(0) === 3L)
    // per-point micro-nats (floored ln), then the exact integer OLS the
    // operator promises, replayed in BigInt with the same sign-split
    val x = Seq(1L, 2L, 3L).map(v => BigInt(math.floor(math.log(v.toDouble) * 1e6).toLong))
    val y = Seq(4L, 2L, 1L).map(v => BigInt(math.floor(math.log(v.toDouble) * 1e6).toLong))
    assert(x === Seq(BigInt(0), BigInt(693147), BigInt(1098612)))
    assert(y === Seq(BigInt(1386294), BigInt(693147), BigInt(0)))
    val n   = BigInt(3)
    val sx  = x.sum; val sy = y.sum
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sxx = x.map(a => a * a).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    def divSigned(a: BigInt, b: BigInt): Long =
      (if (a >= 0) (a * 1000000) / b else -((-a * 1000000) / b)).toLong
    assert(r.getLong(1) === divSigned(num, den))
    assert(r.getLong(1) < 0L, "freq falls with rank — the slope must be negative")
    assert(r.getLong(2) === divSigned(sy * den - num * sx, n * den))
    // topN cuts by (cnt DESC, token ASC): with topN=3 over 4 terms tied at
    // the tail, 'c' (not 'd') survives the cut
    val tied = Seq((1L, "a a a a b b c d")).toDF("doc_id", "text")
    val t = Corpus.zipfFit(tied, "text", topN = 3).collect().head
    assert(t.getLong(0) === 3L)
    // identical inputs except the cut tie -> same points as above ('c' kept)
    assert(t.getLong(1) === r.getLong(1) && t.getLong(2) === r.getLong(2))
  }

  test("heapsGrowth: hand buckets, null text/id handling, dense spine over empty slices") {
    import spark.implicits._
    val docs = Seq(
      (Some(0L), Some("x y")), (Some(1L), Some("x")),
      (Some(2L), Some("y z")), (Some(3L), Option.empty[String]),
      (Some(4L), Some("z")), (Some(5L), Some("w")),
      (Some(6L), Some("")), (Some(7L), Some("x")),
      (Option.empty[Long], Some("dropped row"))).toDF("doc_id", "text")
    val got = Corpus.heapsGrowth(docs, "doc_id", "text", buckets = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // bucket = id div 2; "" is one (empty) token; null text: doc counted,
    // zero tokens
    assert(got === Map(
      0L -> ((2L, 2L, 3L, 2L)),  // docs {0,1}: toks 3, new {x,y}
      1L -> ((2L, 4L, 5L, 3L)),  // docs {2,3}: +2 toks, new {z}
      2L -> ((2L, 6L, 7L, 4L)),  // docs {4,5}: +2, new {w}
      3L -> ((2L, 8L, 9L, 5L))   // docs {6,7}: +2 ("" + x), new {""}
    ))
    // sparse ids: empty middle slices surface with n_docs = 0, cums carried
    val sparse = Seq((0L, "a"), (15L, "b")).toDF("doc_id", "text")
    val sp = Corpus.heapsGrowth(sparse, "doc_id", "text", buckets = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(sp === Map(
      0L -> ((1L, 1L, 1L, 1L)),
      1L -> ((0L, 1L, 1L, 1L)),
      2L -> ((0L, 1L, 1L, 1L)),
      3L -> ((1L, 2L, 2L, 2L))))
  }

  test("heapsGrowth: sparse 64-bit id domain — span x buckets past Long stays exact") {
    import spark.implicits._
    // hi = 4e18: an all-Long (id - lo) * buckets carry wraps at the top
    // id (4e18 * 4 = 1.6e19 > Long.Max) and scrambles the assignment;
    // the DECIMAL(38,0) carry lands each id in its exact slice.
    val hi = 4000000000000000000L
    val docs = Seq((0L, "alpha beta"), (hi / 2, "beta gamma"), (hi, "gamma delta"))
      .toDF("doc_id", "text")
    val got = Corpus.heapsGrowth(docs, "doc_id", "text", buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact: 0 -> bucket 0; hi/2 -> (2e18*4) div (4e18+1) = 1; hi -> 3
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("vocabRichness: hand-computed Chao1 and Good-Turing off hapax/dis-legomena counts") {
    import spark.implicits._
    // census: a:2 b:1 c:1 -> N=4, V=3, V1=2, V2=1.
    // chao1 = 3 + 2·1/(2·(1+1)) = 3.5; unseen = 2/4 = 0.5; coverage 0.5.
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val r = Corpus.vocabRichness(docs, "text").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 2L && r.getLong(3) === 1L)
    assert(r.getLong(4) === 3500000L)
    assert(r.getLong(5) === 500000L)
    assert(r.getLong(6) === 500000L)
    // saturated corpus: no hapaxes -> chao1 = V exactly, unseen mass 0
    val sat = Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text")
    val s = Corpus.vocabRichness(sat, "text").collect().head
    assert(s.getLong(4) === 2000000L && s.getLong(5) === 0L && s.getLong(6) === 1000000L)
    // all-hapax corpus: V2 = 0 must stay defined (the bias-corrected
    // form): V=2, V1=2 -> chao1 = 2 + 2·1/2 = 3
    val hap = Seq((1L, "p q")).toDF("doc_id", "text")
    assert(Corpus.vocabRichness(hap, "text").collect().head.getLong(4) === 3000000L)
  }

  test("jsDivergence: identical sides read 0, disjoint vocabularies read ln 2") {
    import spark.implicits._
    // identical distributions: every term has a·NB = b·NA -> both ratios
    // are exactly 1.0 -> ln = 0 before flooring -> jsd exactly 0
    val same = Seq((0L, "a a b"), (1L, "a a b")).toDF("doc_id", "text")
    val s = Corpus.jsDivergence(same, "text", col("doc_id") % 2 === 0)
      .collect().head
    assert(s.getLong(0) === 2L)                       // n_terms
    assert(s.getLong(3) === 3L && s.getLong(4) === 3L)
    assert(s.getLong(5) === 0L)
    // disjoint vocabularies: every term one-sided, ratio = 2 exactly ->
    // per-term factor floor(ln 2 · 1e6) = 693147 -> jsd = 693147 (ln 2)
    val disj = Seq((0L, "a b c"), (1L, "x y z")).toDF("doc_id", "text")
    val d = Corpus.jsDivergence(disj, "text", col("doc_id") % 2 === 0)
      .collect().head
    assert(d.getLong(0) === 6L && d.getLong(1) === 3L && d.getLong(2) === 3L)
    assert(d.getLong(5) === 693147L)
    // a mixed shift sits strictly between, and the statistic is symmetric
    // in the side label
    val mix = Seq((0L, "a a a b"), (1L, "a b b b")).toDF("doc_id", "text")
    val m1 = Corpus.jsDivergence(mix, "text", col("doc_id") % 2 === 0)
      .collect().head.getLong(5)
    val m2 = Corpus.jsDivergence(mix, "text", col("doc_id") % 2 =!= 0)
      .collect().head.getLong(5)
    assert(m1 > 0L && m1 < 693147L)
    assert(m1 === m2)
  }
}
