package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession

/** Hand-computed fixtures for the round-7 curation ops: Gopher repetition
  * fractions, winnow contamination, DSIR importance weights, SemDeDup, and
  * the Luhn PAN gate. Every number asserted here is derivable by hand from
  * the operator's documented rule.
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("repetitionStats: hand-computed top-bigram and dup-trigram fractions") {
    import spark.implicits._
    // "a b a b a b": chars=11; bigrams: "a b"x3, "b a"x2 -> top covers 3*3=9
    //   -> 9e6 div 11 = 818181; trigrams: "a b a"x2, "b a b"x2 -> all dup,
    //   covered 4*5=20 -> 20e6 div 11 = 1818181 (overlap counting, by design)
    // "x y z w": no repeated gram -> top bigram "w"? no: top = any count-1
    //   bigram, tie-> lexicographic smallest "x y", covers 3 chars of 7 ->
    //   428571; dup trigrams none -> 0
    // "q": no bigrams at all -> both 0
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "x y z w"),
      (3L, "q")).toDF("doc_id", "text")
    val got = Corpus.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((818181L, 1818181L)))
    assert(got(2L) === ((428571L, 0L)))
    assert(got(3L) === ((0L, 0L)))
  }

  test("winnowContamination: planted copied span is caught; clean docs are absent") {
    import spark.implicits._
    val span   = "alpha beta gamma delta epsilon zeta" // >= w+k-1 = 6 tokens
    val corpus = Seq(
      (1L, s"one two three $span four five"),
      (2L, "totally unrelated text with no shared content here at all"),
      (3L, s"prefix words then $span and a suffix")).toDF("doc_id", "text")
    val bench = Seq((100L, s"the eval question contains $span verbatim")).toDF("doc_id", "text")
    val got = Corpus.winnowContamination(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 3L)) // the guarantee: both carriers flagged
    assert(got.values.forall(_ >= 1L))
  }

  test("dsirWeights: docs made of target-only tokens outrank raw-only docs") {
    import spark.implicits._
    // target docs use vocabulary A, the rest vocabulary B; a held-out doc
    // of pure-A tokens must score strictly above a pure-B doc
    val docs = (1L to 20L).map { i =>
      if (i <= 10) (i, "tgt", "apple banana cherry apple banana")
      else (i, "raw", "xray yankee zulu xray yankee")
    } :+ (21L, "probe", "apple banana cherry") :+ (22L, "probe", "xray yankee zulu")
    val df = docs.toDF("doc_id", "kind", "text")
    val w = Corpus.dsirWeights(df, "doc_id", "text", col("kind") === "tgt")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(21L) > w(22L))
    assert(w(1L) > w(11L))
  }

  test("semanticDedup: keeps the min id of each within-cluster duplicate set") {
    import spark.implicits._
    val vs = Seq(
      (1L, 0, Seq(1f, 0f)),   // cluster 0 exemplar
      (2L, 0, Seq(1f, 0.01f)),// dup of 1 -> dropped
      (3L, 0, Seq(0f, 1f)),   // orthogonal -> kept
      (4L, 1, Seq(1f, 0f)),   // same direction as 1 but OTHER cluster -> kept
      (5L, 1, Seq(0.99f, 0.01f))) // dup of 4 within cluster 1 -> dropped
      .toDF("vec_id", "label", "embedding")
    val kept = Similarity.semanticDedup(vs, "vec_id", "embedding", "label", tau = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("luhn: known-valid and known-invalid PANs; length gate excludes non-card runs") {
    import spark.implicits._
    import graft.functions.Privacy
    val rows = Seq(
      (1L, "pay 4111111111111111 now"),        // classic Luhn-valid 16-digit
      (2L, "pay 4111111111111112 now"),        // checksum broken
      (3L, "id 123456789012 and 12345678901234567890"), // 12 too short, 20 too long
      (4L, "two cards 4111111111111111 and 5500005555555559"), // both valid
      (5L, "no digits at all")).toDF("id", "text")
    val got = rows.select(
      col("id"),
      size(Privacy.cardRuns(col("text"))).as("runs"),
      Privacy.luhnValidCount(col("text")).as("valid"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(1L) === ((1, 1L)))
    assert(got(2L) === ((1, 0L)))
    assert(got(3L) === ((0, 0L)))
    assert(got(4L) === ((2, 2L)))
    assert(got(5L) === ((0, 0L)))
  }

  test("blocklistAudit: hits / distinct / keep") {
    import spark.implicits._
    val df = Seq(
      (1L, "good text with slow slow words"), // 2 hits, 1 distinct
      (2L, "clean document here"),            // keep
      (3L, "big and slow and big"),           // 3 hits, 2 distinct
      (4L, null.asInstanceOf[String])         // null text: dropped
    ).toDF("doc_id", "text")
    val terms = Seq("slow", "big", "absent_term")
    val got = Corpus
      .blocklistAudit(df, "doc_id", "text", terms)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((6L, 2L, 1L, false)))
    assert(got(2L) === ((3L, 0L, 0L, true)))
    assert(got(3L) === ((5L, 3L, 2L, false)))
    assert(!got.contains(4L), "null text must be dropped, not kept-with-zeros")
  }
}
