package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** BPE trainer semantics against hand-computed merges: the Sennrich
  * algorithm over the word-frequency dictionary, the deterministic tie
  * rule, greedy leftmost application (incl. unseen words), early stop,
  * and the fertility rollup.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // corpus: "abab" x3, "ab" x2 (one doc per occurrence).
  // Initial symbols (last char carries </w>):
  //   abab -> [a, b, a, b</w>]   x3
  //   ab   -> [a, b</w>]         x2
  // Hand-computed merge sequence:
  //   step 1: pairs (a,b):3 (b,a):3 (a,b</w>):3+2=5 -> (a, b</w>, 5)
  //   step 2: abab -> [a, b, a, b</w>] -> [a, b, ab</w>]; pairs (a,b):3,
  //           (b,ab</w>):3 -> tie on 3, left asc -> (a, b, 3)
  //   step 3: abab -> [ab, ab</w>]; pair (ab, ab</w>):3 -> (ab, ab</w>, 3)
  //   step 4: no pairs anywhere -> early stop
  private def fixtureDocs = {
    import spark.implicits._
    (Seq.fill(3)("abab") ++ Seq.fill(2)("ab")).toDF("text")
  }

  test("train: hand-computed merge table, tie by left asc, early stop when no pairs remain") {
    val got = Bpe.train(fixtureDocs, "text", numMerges = 10, minPairCount = 2)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got === Seq(
      (1L, "a", "b</w>", "ab</w>", 5L),
      (2L, "a", "b", "ab", 3L),
      (3L, "ab", "ab</w>", "abab</w>", 3L)))
  }

  test("train: tie on count breaks lexicographically (left asc, right asc)") {
    import spark.implicits._
    // "xy" x2, "zw" x2: all pairs count 2 -> (w,</w>)? No standalone
    // sentinel under the suffix convention: pairs are (x,y</w>):2 and
    // (z,w</w>):2 -> left asc picks (x, y</w>).
    val docs = (Seq.fill(2)("xy") ++ Seq.fill(2)("zw")).toDF("text")
    val top = Bpe.train(docs, "text", numMerges = 1).collect().head
    assert((top.getString(1), top.getString(2), top.getLong(4)) === (("x", "y</w>", 2L)))
  }

  test("train: minPairCount stops before memorizing singleton pairs") {
    import spark.implicits._
    val docs = Seq("ab", "cd", "ef").toDF("text") // every pair occurs once
    assert(Bpe.train(docs, "text", numMerges = 5, minPairCount = 2).count() === 0L)
  }

  test("segmentWords: greedy leftmost application, unseen word, single-char word") {
    import spark.implicits._
    val merges = Bpe.train(fixtureDocs, "text", numMerges = 10)
    val got = Bpe.segmentWords(Seq("abab", "ab", "ababab", "a", "aab").toDF("word"), merges)
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getInt(2))))
      .toMap
    assert(got("abab") === ((Seq("abab</w>"), 1)))
    assert(got("ab") === ((Seq("ab</w>"), 1)))
    // unseen longer word: merge 1 hits the tail, merge 2 folds the body
    // pairs greedily left-to-right, merge 3 joins the last body token to
    // the tail -> [ab, abab</w>]
    assert(got("ababab") === ((Seq("ab", "abab</w>"), 2)))
    // single character: just the suffixed char
    assert(got("a") === ((Seq("a</w>"), 1)))
    // greedy on a run: [a, a, b</w>] -> merge 1 leftmost match at (a,b</w>)
    // tail -> [a, ab</w>]; merges 2/3 find nothing
    assert(got("aab") === ((Seq("a", "ab</w>"), 2)))
  }

  test("segmentWords: greedy run semantics (aaa folds leftmost, never overlapping)") {
    import spark.implicits._
    val docs = Seq.fill(3)("aaa").toDF("text")
    // syms [a, a, a</w>]: pairs (a,a):3, (a,a</w>):3 -> tie, right asc
    // picks (a, a): merged "aa"; then [aa, a</w>] pairs (aa, a</w>):3
    val merges = Bpe.train(docs, "text", numMerges = 1)
    val m = merges.collect().head
    assert((m.getString(1), m.getString(2)) === (("a", "a")))
    val segs = Bpe.segmentWords(Seq("aaaa", "aaa").toDF("word"), merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // [a,a,a,a</w>] -> greedy leftmost: [aa, a, a</w>]
    assert(segs("aaaa") === Seq("aa", "a", "a</w>"))
    assert(segs("aaa") === Seq("aa", "a</w>"))
  }

  test("endOfWord=false: hand-derived merge table and segmentWords without the sentinel") {
    import spark.implicits._
    // merges.txt-style training (no </w> sentinel)
    val merges = Bpe.train(fixtureDocs, "text", numMerges = 10, endOfWord = false)
    val ms = merges.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(ms === Seq(("a", "b"), ("ab", "ab"))) // hand-derived without the sentinel
    val words = Seq("abab", "ab", "ababab", "aab", "a").toDF("word")
    val viaFold = Bpe.segmentWords(words, merges, endOfWord = false)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaFold === Map(
      "abab"   -> Seq("abab"),
      "ab"     -> Seq("ab"),
      "ababab" -> Seq("abab", "ab"),
      "aab"    -> Seq("a", "ab"),
      "a"      -> Seq("a")))
  }

  test("trainer: learns the dominant pair first and is partitioning-deterministic") {
    import spark.implicits._
    def trained(docs: org.apache.spark.sql.DataFrame) =
      Bpe.train(docs, "text", numMerges = 5, endOfWord = false)
    val docs = Seq.fill(50)("banana band bandana").toDF("text")
    def table(m: org.apache.spark.sql.DataFrame) =
      m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val m1 = trained(docs)
    assert(table(m1) === table(trained(docs.repartition(7))))
    // 'an' dominates (2x per 'banana', 1x 'band', 2x 'bandana')
    assert(table(m1).head === (("a", "n")))
    // trained merges round-trip through segmentation
    val toks = Bpe.segmentWords(Seq("banana").toDF("word"), m1, endOfWord = false)
      .head().getSeq[String](1)
    assert(toks.mkString === "banana")
  }

  test("fertility: per-group tokens-per-word in micro-units, null text/group excluded") {
    import spark.implicits._
    val merges = Bpe.train(fixtureDocs, "text", numMerges = 10)
    val docs = Seq(
      (Option("g1"), Option("abab aab")), // abab=1 token, aab=2 -> 2 words 3 tokens
      (Option("g1"), Option("ab")),       // 1 word 1 token -> g1: 3 words, 4 tokens
      (Option("g2"), Option("ababab")),   // 1 word 2 tokens
      (Option("g2"), None),               // null text excluded
      (None, Option("abab")))             // null group excluded
      .toDF("g", "text")
    val got = Bpe.fertility(docs, "g", "text", merges)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      "g1" -> ((3L, 4L, 1333333L)),
      "g2" -> ((1L, 2L, 2000000L))))
  }

  test("train: collected-dictionary fast path == distributed loop (the spec law), across the threshold") {
    import spark.implicits._
    // A corpus rich enough to exercise multi-merge chains, count ties,
    // the minPairCount stop, AND a supplementary-plane code point (U+1D11E
    // — the fast path must split by code point, not UTF-16 unit, to agree
    // with UTF8String.substring on the distributed side).
    val docs = (
      Seq.fill(5)("lower") ++ Seq.fill(4)("lowest") ++ Seq.fill(3)("newer") ++
        Seq.fill(2)("wider") ++ Seq.fill(6)("low") ++ Seq.fill(2)("newest") ++
        Seq.fill(2)("a𝄞a𝄞") ++ Seq("singleton")).toDF("text")
    def table(distributed: Boolean, minPair: Long = 2L) =
      (if (distributed) Bpe.trainDistributed(docs, "text", numMerges = 8, minPairCount = minPair)
       else Bpe.train(docs, "text", numMerges = 8, minPairCount = minPair))
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
    val fast = table(distributed = false) // dictionary far under the gate: fast path
    val dist = table(distributed = true)
    assert(fast === dist)
    assert(fast.size === 8) // this corpus sustains all 8 merges
    // early stop agrees across paths too: floor 6 cuts the table short at
    // the same rank with the same merges (steps with pair_count < 6 gone)
    val fastStop = table(distributed = false, minPair = 6L)
    assert(fastStop === table(distributed = true, minPair = 6L))
    assert(fastStop.nonEmpty && fastStop.size < 8)
    assert(fastStop === fast.take(fastStop.size))
  }

  test("train: fast path reproduces every hand-computed table (default threshold routes small dicts driver-side)") {
    import spark.implicits._
    // fixtureDocs ran the fast path in the tests above (far under the
    // gate); run the distributed loop once to pin the equality on the
    // ORIGINAL hand-computed fixture too.
    val dist = Bpe.trainDistributed(fixtureDocs, "text", numMerges = 10, minPairCount = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(dist === Seq(
      (1L, "a", "b</w>", "ab</w>", 5L),
      (2L, "a", "b", "ab", 3L),
      (3L, "ab", "ab</w>", "abab</w>", 3L)))
  }

  test("train under the size gate: the same Spark jobs at 1 merge and at 8") {
    import spark.implicits._
    val docs = (Seq.fill(5)("lower") ++ Seq.fill(4)("lowest") ++ Seq.fill(3)("newer")).toDF("text")
    val jobs = Seq(1, 8).map(m => LinkGraphSpec.jobsOf(Bpe.train(docs, "text", numMerges = m)))
    assert(jobs.head === jobs.last, s"jobs at 1 and 8 merges: $jobs")
  }
}
