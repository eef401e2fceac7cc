package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout operators: how a 100 TB table is WRITTEN decides what a
  * query must READ. Two levers, composable:
  *
  *  - directory partitioning (hive layout, `partitionBy`): equality/IN
  *    predicates on the partition columns prune whole directories at
  *    planning time (PartitionFilters in the scan) — zero I/O for pruned
  *    partitions;
  *  - range clustering (`clusterWrite`): within a partition, rows are
  *    range-distributed and sorted on a clustering key, so each file (and
  *    each parquet row group) covers a TIGHT min/max span of that key —
  *    range predicates then skip whole files/row groups via footer stats
  *    instead of scanning everything.
  *
  * A time-series table clustered on its timestamp turns "last hour" from a
  * full-table scan into a one-file read; LayoutSpec measures exactly that
  * with input_file_name().
  */
object Layout {

  /** Write `df` range-clustered on `clusterCol`: rows are range-partitioned
    * into `numFiles` contiguous key spans with disjoint min/max and sorted
    * within each span so row-group stats are tight too. Without
    * `partitionCols` that is one output file per span; WITH hive
    * partitioning each span task writes one file per partition value it
    * holds (up to numFiles x |partition values| files), and pruning
    * composes: equality predicates drop directories first, range predicates
    * skip files/row groups inside the survivors.
    *
    * The range exchange samples the key distribution, so file spans stay
    * balanced under skew — at 100 TB this is one corpus-wide shuffle, the
    * price of every subsequent range query reading only matching spans.
    */
  def clusterWrite(
      df: DataFrame,
      path: String,
      clusterCol: String,
      numFiles: Int,
      partitionCols: Seq[String] = Seq.empty): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    // sort by the partition cols FIRST: the writer requires its output
    // ordered by them, and satisfying that here keeps FileFormatWriter from
    // injecting its own sort — which would not preserve the clusterCol
    // order once it spills, silently widening row-group spans
    val clustered = df
      .repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions((partitionCols :+ clusterCol).map(col): _*)
    val writer = clustered.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** Physical twin of `Splits.shuffleShards`: write `df` globally shuffled
    * into `nShards` deterministic shard directories (`shard=K/`) — each
    * row's shard is `Splits.bucketOf` of its key, rows within a shard's
    * file are ordered by the scrambled key, i.e. exactly
    * `shuffleShards`' `pos` order. Training-export layout: re-running on
    * the same corpus reproduces identical shard membership and order, so a
    * resumed training run sees the same sample stream, and `shard=K` can
    * be read back by its literal value (directory name IS the shard id —
    * hive partition pruning makes single-shard resume a one-file read).
    *
    * One hash shuffle; `repartition(n, shard)` co-locates each shard
    * value in one task (so no shard is split across files) and
    * `partitionBy` routes it to its own directory (so no two shards share
    * a file — hash collisions of distinct shard values in one task only
    * co-locate them in the task, never in the file). The leading `shard`
    * sort key satisfies the writer's partition-column ordering requirement,
    * keeping FileFormatWriter from injecting its own sort. The `shard`
    * helper column lives in the directory name, not the data file — the
    * exported schema is exactly the input schema.
    */
  def writeShuffled(df: DataFrame, path: String, keyCol: String, nShards: Int): Unit = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(!df.columns.contains("shard"),
      "writeShuffled: input already has a 'shard' column; rename it first")
    import graft.operators.Splits
    df.withColumn("shard", Splits.bucketOf(col(keyCol), nShards))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), Splits.hashOrder(col(keyCol)), col(keyCol))
      .write
      .partitionBy("shard")
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Z-ORDER clustering: `clusterWrite` prunes ONE column's ranges; a
    * corpus queried by several independent predicates (time AND user,
    * score AND length) needs file spans tight on ALL of them at once.
    * Sorting on (a, b) gives b no locality; the Z (Morton) curve does —
    * each column is quantile-bucketed and the bucket BITS are interleaved,
    * so rows close in z-value are close in EVERY dimension, and a range
    * predicate on any single column confines the read to ~numFiles /
    * 2^bitsFixed contiguous curve spans instead of the whole table.
    *
    * Quantile bucketing (not min/max scaling) makes the cells equal-
    * POPULATION, so skew cannot collapse the curve: the cut points come
    * from one `percentile_approx` pass, the only driver state is
    * |zCols| x (buckets-1) doubles. Columns must be numeric or timestamp
    * (hash strings to a number first — a z-curve over hashes prunes
    * equality but not ranges). NULL sorts as the lowest bucket.
    *
    * One corpus-wide range exchange on the z-value (same price as
    * clusterWrite) buys every later multi-predicate scan its pruning.
    */
  def zorderWrite(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      numFiles: Int,
      buckets: Int = 64): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    require(zCols.size >= 2, "zorderWrite needs >= 2 columns; for one use clusterWrite")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    require(!df.columns.contains("__z"),
      "zorderWrite: input already has a '__z' column; rename it first")
    df.withColumn("__z", zValue(df, zCols, buckets))
      .repartitionByRange(numFiles, col("__z"))
      // z first (file spans + writer ordering), raw columns after so row
      // groups inside a file are tight on the leading column too
      .sortWithinPartitions((col("__z") +: zCols.map(col)): _*)
      .drop("__z")
      .write
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** The z (Morton) value expression `zorderWrite` clusters on: per-column
    * approximate-quantile bucket ids, bit-interleaved (column i owns bit
    * positions i, i+n, i+2n, ...). Runs one `percentile_approx` aggregate
    * over `df` to learn the cut points; the returned Column is then pure
    * per-row arithmetic (codegen'd, zero shuffle). Exposed for tests and
    * for clustering EXISTING layouts.
    */
  def zValue(df: DataFrame, zCols: Seq[String], buckets: Int): Column = {
    val qs = (1 until buckets).map(_.toDouble / buckets)
    // one pass for every column's cut points; approx is fine — cuts decide
    // file spans, not results
    val cutsRow = df
      .select(zCols.map(c =>
        percentile_approx(col(c).cast("double"), typedlit(qs), lit(10000)).as(c)): _*)
      .collect()(0)
    val bits = Integer.numberOfTrailingZeros(buckets)
    val n    = zCols.size
    val bucketIds = zCols.zipWithIndex.map { case (c, i) =>
      // empty input: no cuts -> every row (there are none) buckets to 0
      val cuts =
        if (cutsRow.isNullAt(i)) Seq.empty[Double]
        else cutsRow.getSeq[java.lang.Double](i).filter(_ ne null).map(_.doubleValue)
      if (cuts.isEmpty) lit(0L)
      else {
        val v = col(c).cast("double")
        // bucket = #cuts <= v, NULL lowest — a size(filter()) scan over
        // <=63 literals, branch-free and codegen-friendly
        when(v.isNull, lit(0L))
          .otherwise(size(filter(typedlit(cuts), b => b <= v)).cast("long"))
      }
    }
    (0 until bits)
      .flatMap(k => bucketIds.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, k).bitwiseAND(lit(1L)), k * n + i)
      })
      .reduce(_.bitwiseOR(_))
  }

  /** Distinct files a filtered read actually touches — the pruning
    * measurement (a well-clustered layout touches few; a random layout
    * touches all).
    */
  def filesTouched(df: DataFrame): Long =
    df.select(input_file_name()).distinct().count()
}
