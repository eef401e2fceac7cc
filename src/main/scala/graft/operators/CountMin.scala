package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.PolyHashExpr

/** Count-min sketch (Cormode & Muthukrishnan): a FIXED-SIZE mergeable
  * frequency sketch answering point queries `count(key)` with one-sided
  * error — estimates never undercount, and overcount by at most
  * eps * N (eps = e/width) with probability 1 - delta (delta = e^-depth).
  *
  * Where it sits among the engine's frequency tools:
  *  - `groupBy(key).count()` — exact, but shuffles one row per DISTINCT
  *    key (billions of groups for a token/URL column at 100 TB);
  *  - `HeavyHitters` (Misra-Gries) — exact top-k membership for the HEAD
  *    of the distribution, no estimates for arbitrary keys;
  *  - THIS — O(width*depth) memory total, an estimate for ANY key
  *    (including tail keys MG evicted), and closed under merge: sketches
  *    of two corpus halves, two ingestion drains, or two days SUM
  *    elementwise into the sketch of the union. That merge law is what a
  *    streaming ingestion keeps in its store where it cannot keep
  *    per-key state (bounded, drift-proof size).
  *
  * Row j of the sketch indexes with the engine's (a_j * polyHash(key)
  * + b_j) mod P family (`Dedup.perm` — pairwise-independent by the same
  * argument as the MinHash slots), then mod width. The whole sketch
  * travels as ONE Array[Long] row of width*depth longs through the
  * aggregation tree — nothing key-shaped ever crosses an exchange.
  */
object CountMin {

  val P: Long = PolyHashExpr.P

  /** Slot of `key` in sketch row j (row-local column index). */
  def slot(key: String, j: Int, width: Int): Int = {
    val (a, b) = Dedup.perm(j)
    val h      = PolyHashExpr.hash(UTF8String.fromString(key))
    (((a * h + b) % P) % width).toInt
  }

  /** Mergeable CMS Aggregator over a string column: buffer = flattened
    * depth x width counter grid; reduce = +1 at each row's slot; merge =
    * elementwise sum (the CMS merge law). NULL keys are ignored, matching
    * count()'s treatment of NULL groups in the exact baseline.
    */
  final class CmsAgg(width: Int, depth: Int)
      extends Aggregator[String, Array[Long], Array[Long]]
      with Serializable {
    require(width >= 1, s"width must be >= 1, got $width")
    require(depth >= 1 && depth <= 8,
      s"depth must be in [1, 8] (perm family size), got $depth")

    override def zero: Array[Long] = new Array[Long](width * depth)

    override def reduce(buf: Array[Long], key: String): Array[Long] = {
      if (key != null) {
        var j = 0
        while (j < depth) { buf(j * width + slot(key, j, width)) += 1; j += 1 }
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** One-row sketch of a string column: (width, depth, counters). The
    * single row is the ENTIRE driver/store state; point-query it with
    * `estimate`.
    */
  def sketch(df: DataFrame, keyCol: String, width: Int = 2048, depth: Int = 4): DataFrame = {
    val cms = udaf(new CmsAgg(width, depth), Encoders.STRING)
    df.select(col(keyCol).cast("string").as("__k"))
      .agg(cms(col("__k")).as("counters"))
      .select(
        lit(width).as("width"),
        lit(depth).as("depth"),
        col("counters"))
  }

  /** Point estimate from a collected sketch row: min over rows of the
    * key's counter — never below the true count, above it by at most
    * (e/width) * N w.p. 1 - e^-depth.
    */
  def estimate(width: Int, depth: Int, counters: Array[Long], key: String): Long = {
    require(counters.length == width * depth,
      s"sketch shape mismatch: ${counters.length} != $width * $depth")
    var best = Long.MaxValue
    var j    = 0
    while (j < depth) {
      val c = counters(j * width + slot(key, j, width))
      if (c < best) best = c
      j += 1
    }
    best
  }

  /** Elementwise-sum merge of two counter grids (same shape). */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"sketch shape mismatch: ${a.length} != ${b.length}")
    val out = new Array[Long](a.length)
    var i   = 0
    while (i < out.length) { out(i) = a(i) + b(i); i += 1 }
    out
  }

  /** Estimates for a column of keys against a COLLECTED sketch (the
    * sketch is one row — driver state by design): adds `estName` with the
    * CMS upper-bound count for each row's key; NULL keys get a NULL
    * estimate (the sketch never counts NULL, so "0" would claim knowledge
    * it doesn't have). The probe side never shuffles; the sketch rides
    * into the executors as a literal.
    */
  def estimateCol(
      df: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int,
      counters: Array[Long],
      estName: String = "est"): DataFrame = {
    val grid = typedlit(counters.toSeq)
    val rows = (0 until depth).map { j =>
      val (a, b) = Dedup.perm(j)
      element_at(
        grid,
        (lit(j * width) +
          ((lit(a) * graft.functions.TextAnalysis.polyHash(col(keyCol).cast("string")) + lit(b)) % P) % width + 1)
          .cast("int"))
    }
    df.withColumn(estName, when(col(keyCol).isNotNull, least(rows: _*)))
  }
}
