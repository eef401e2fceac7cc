package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and application — the tokenizer
  * side of the pipeline the engine previously only measured (q151 grades
  * an already-chosen tokenizer's fertility; this LEARNS the merge table
  * from the corpus, Sennrich et al. 2016).
  *
  * The scale posture is the published algorithm's own: BPE training never
  * iterates over the corpus — it iterates over the WORD-FREQUENCY
  * dictionary. The corpus is touched exactly once (one partial-agg
  * shuffle to (word, count)); every merge step then runs on the
  * vocab-sized frame (|distinct words|, orders of magnitude below corpus
  * size at 100 TB), and the only driver-side value per step is the single
  * top pair row (the kmeansCentroids control-plane posture). The vocab
  * frame is eagerly localCheckpointed each step so step i+1's lineage is
  * one merge deep, not i merges deep.
  *
  * Symbol convention (Sennrich original): a word's initial symbols are
  * its characters with the LAST character suffixed "</w>" — the
  * end-of-word marker rides the final symbol, so no standalone sentinel
  * ever appears and token counts need no marker correction.
  *
  * Merge application is the greedy leftmost non-overlapping scan, folded
  * INSIDE the row (functions.aggregate over the symbol array — no UDF):
  * out.last == left && next == right replaces the tail, else appends.
  * Within one step a just-merged symbol can never re-match as `left`
  * (merged = left+right is strictly longer than left), so the fold is
  * exactly the scan-and-skip of the reference implementation.
  */
object Bpe {

  /** Initial symbol array for `word`: characters, last one suffixed with
    * the end-of-word marker (or plain characters with `endOfWord = false`
    * — the merges.txt-style convention). `slice(chars, 1, len-1)`
    * is empty for single-char words (no descending-`sequence` trap).
    */
  private def initialSyms(word: Column, endOfWord: Boolean): Column = {
    val chars = transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))
    if (!endOfWord) chars
    else
      concat(
        slice(chars, lit(1), length(word) - 1),
        array(concat(element_at(chars, -1), lit("</w>"))))
  }

  /** One merge, applied greedily left-to-right inside the row. */
  private def applyMerge(syms: Column, left: String, right: String): Column = {
    val merged = left + right
    aggregate(
      syms,
      array().cast("array<string>"),
      (out, s) =>
        when(
          size(out) > 0 && element_at(out, -1) === lit(left) && s === lit(right),
          concat(slice(out, lit(1), size(out) - 1), array(lit(merged))))
          .otherwise(concat(out, array(s))))
  }

  /** Adjacent-pair structs of a symbol array (empty below 2 symbols —
    * guarded so `sequence` never runs descending).
    */
  private def adjacentPairs(syms: Column): Column =
    when(
      size(syms) >= 2,
      transform(
        sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("l"), element_at(syms, j + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** Whitespace word counts — the Sennrich dictionary. One corpus pass. */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Learn up to `numMerges` BPE merges from the corpus. Each step counts
    * adjacent symbol pairs over the vocab frame weighted by word
    * frequency (overlapping occurrences count, as in the reference
    * algorithm), takes the single best pair under the DETERMINISTIC tie
    * rule (count DESC, left ASC, right ASC — ties must not depend on
    * partitioning), applies it to every word's symbols, and repeats.
    * Stops early when no pair reaches `minPairCount` (merging noise pairs
    * that occur once memorizes the corpus tail instead of learning
    * subword structure).
    *
    * Two execution paths, one algorithm, chosen by the `DriverGate` size
    * gate (shared with the graph loops) over the checkpointed dictionary:
    *
    *  - **Collected dictionary** (at most `DriverGate.MaxRows`, 2^17,
    *    distinct words): the corpus is still touched exactly once (the
    *    one partial-agg shuffle to (word, count)), and the gate's one job
    *    collects the dictionary; the merge LOOP then runs driver-side
    *    with no per-merge job — the posture every published BPE trainer
    *    actually uses, because a production 32k-merge vocab as 32k
    *    sequential Spark jobs is hours of pure scheduler latency.
    *    Character splitting is by CODE POINT (matching
    *    UTF8String.substring semantics on the distributed path), and the
    *    pair count / argmax / greedy-leftmost apply are line-for-line the
    *    same rules, so the two paths are certifiably bit-equal (BpeSpec
    *    law `train == trainDistributed`).
    *  - **Distributed loop** (a larger dictionary): one vocab-frame Spark
    *    job per merge, per-step localCheckpoint so lineage stays one
    *    merge deep. Unbounded in dictionary size; pays `numMerges`
    *    scheduler round-trips.
    *
    * Output: rank (1-based merge priority), left, right, merged,
    * pair_count — the merge table `segmentWords`/`fertility` consume,
    * and the frame a caller persists to freeze the tokenizer (the
    * NaiveBayes.writeModel posture applies unchanged: it is a plain
    * parquet-able frame of `numMerges` rows).
    */
  def train(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      endOfWord: Boolean = true): DataFrame =
    trainWith(docs, textCol, numMerges, minPairCount, endOfWord, DriverGate.collect)

  /** `train`'s distributed merge loop at any dictionary size. */
  private[operators] def trainDistributed(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      endOfWord: Boolean = true): DataFrame =
    trainWith(docs, textCol, numMerges, minPairCount, endOfWord, DriverGate.never)

  private def trainWith(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long,
      endOfWord: Boolean,
      gate: DriverGate.Gate): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    val spark = docs.sparkSession
    import spark.implicits._

    val wc = wordCounts(docs, textCol).localCheckpoint(true)
    val merges = gate(wc) match {
      case Some(rows) =>
        trainDictionary(rows.map(r => (r.getString(0), r.getLong(1))), numMerges, minPairCount, endOfWord)
      case None => mergeRounds(wc, numMerges, minPairCount, endOfWord)
    }
    merges.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** The distributed merge loop over the (word, cnt) frame — one Spark
    * job + localCheckpoint per merge. Dictionary-size-unbounded; the
    * scale escape hatch when the vocabulary itself won't collect.
    */
  private def mergeRounds(
      wc: DataFrame,
      numMerges: Int,
      minPairCount: Long,
      endOfWord: Boolean): Seq[(Long, String, String, String, Long)] = {
    var vocab = wc
      .withColumn("syms", initialSyms(col("word"), endOfWord))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]

    var step     = 1
    var finished = false
    while (step <= numMerges && !finished) {
      val top = vocab
        .select(col("cnt"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty || top.head.getLong(2) < minPairCount) {
        finished = true
      } else {
        val (l, r, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((step.toLong, l, r, l + r, c))
        vocab = vocab
          .withColumn("syms", applyMerge(col("syms"), l, r))
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.result()
  }

  /** Code-point symbols of a word (driver-side mirror of `initialSyms` —
    * UTF8String.substring is code-point-addressed, so the fast path must
    * split by code point, not UTF-16 char, for the two paths to agree on
    * non-BMP text).
    */
  private def initialSymsLocal(word: String, endOfWord: Boolean): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    if (endOfWord && out.nonEmpty) out(out.length - 1) = out.last + "</w>"
    out.toArray
  }

  /** Driver-side greedy leftmost non-overlapping merge — the exact
    * `applyMerge` fold: tail == left && next == right replaces, else
    * appends.
    */
  private def applyMergeLocal(syms: Array[String], left: String, right: String): Array[String] = {
    val merged = left + right
    val out    = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == left && syms(i) == right)
        out(out.length - 1) = merged
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** Code-point string comparison — UTF8String's binary (UTF-8 byte)
    * order equals code-point order, while java.lang.String's compareTo is
    * UTF-16-unit order; they disagree when a BMP char ≥ U+E000 meets a
    * supplementary char, so the fast path's tie rule must compare code
    * points to stay bit-equal with the distributed `orderBy`.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The Sennrich merge loop over a COLLECTED dictionary — pure Scala,
    * zero Spark jobs per merge. Same pair weighting (overlapping adjacent
    * occurrences, weighted by word count), same deterministic argmax
    * (count DESC, left ASC code-point order, right ASC — a total order,
    * so HashMap iteration order cannot leak in), same early stop.
    */
  private[operators] def trainDictionary(
      dict: Array[(String, Long)],
      numMerges: Int,
      minPairCount: Long,
      endOfWord: Boolean): Seq[(Long, String, String, String, Long)] = {
    var vocab  = dict.map { case (w, c) => (initialSymsLocal(w, endOfWord), c) }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]

    def beats(a: ((String, String), Long), b: ((String, String), Long)): Boolean = {
      if (a._2 != b._2) return a._2 > b._2
      val cl = cpCompare(a._1._1, b._1._1)
      if (cl != 0) return cl < 0
      cpCompare(a._1._2, b._1._2) < 0
    }

    var step     = 1
    var finished = false
    while (step <= numMerges && !finished) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { kv => if (best == null || beats(kv, best)) best = kv }
      if (best != null && best._2 >= minPairCount) {
        val ((l, r), c) = best
        merges += ((step.toLong, l, r, l + r, c))
        vocab = vocab.map { case (syms, cnt) => (applyMergeLocal(syms, l, r), cnt) }
        step += 1
      } else finished = true
    }
    merges.result()
  }

  /** Segment a `word` column with a trained merge table: initial symbols,
    * then every merge applied in rank order (the BPE application rule —
    * training-time priority IS application-time priority). The merge
    * table is collected driver-side (numMerges rows — a bounded
    * hyperparameter, not data) and compiled into in-row folds; the frame
    * is localCheckpointed every 8 merges so neither the lineage nor the
    * codegen expression tree grows with the merge count.
    *
    * Input: any frame with a `word` column (typically the DISTINCT words
    * of a corpus — vocab-sized, which is what makes corpus-wide
    * tokenization a vocab-sized job plus one hash join). Output: the
    * input columns + syms (the token array) + n_tokens.
    */
  def segmentWords(
      words: DataFrame,
      merges: DataFrame,
      endOfWord: Boolean = true): DataFrame = {
    val ms = merges
      .orderBy(col("rank").asc)
      .select(col("left"), col("right"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    var cur = words.withColumn("syms", initialSyms(col("word"), endOfWord))
    ms.grouped(8).foreach { chunk =>
      chunk.foreach { case (l, r) => cur = cur.withColumn("syms", applyMerge(col("syms"), l, r)) }
      cur = cur.localCheckpoint(true)
    }
    cur.withColumn("n_tokens", size(col("syms")))
  }

  /** Tokenizer fertility (tokens per word) of a trained merge table, per
    * group — the q151 measurement against the LEARNED tokenizer instead
    * of a fixed one: the number a pipeline reads to decide whether
    * `numMerges` was enough (fertility falls toward 1 as merges grow) and
    * whether any group (language, source) is being over-fragmented
    * relative to the rest — the classic multilingual-tokenizer equity
    * check.
    *
    * Scale shape: one corpus pass to (group, word, count), the
    * vocab-sized segmentation, one hash join back, one partial-agg
    * rollup. Integer micro-units, one truncating division per group.
    *
    * Output: groupCol, n_words, n_tokens, fertility_x1e6.
    */
  def fertility(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      merges: DataFrame): DataFrame = {
    val perGroupWord = docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("w_cnt"))
    val vocabToks = segmentWords(perGroupWord.select(col("word")).distinct(), merges)
      .select(col("word"), col("n_tokens").as("w_tokens"))
    perGroupWord
      .join(vocabToks, Seq("word"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("w_cnt")).as("n_words"),
        sum(col("w_cnt") * col("w_tokens")).as("n_tokens"))
      .withColumn("fertility_x1e6", expr("(n_tokens * 1000000L) div n_words"))
  }
}
