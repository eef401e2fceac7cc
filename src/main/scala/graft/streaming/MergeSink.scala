package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.DirSwap

/** Idempotent partitioned upsert — the foreachBatch replacement for the
  * reference's whole-object read-modify-write merges
  * (reference parse_canserver_filtered_log.py:327-346,
  * infer_stationary_states.py:117-133, infer_autopilot_states.py:108-114).
  *
  * Merge policy, per column: on a key collision a value that has already
  * landed keeps its value, and the batch only fills the landed row's nulls.
  * For the parse this is what `first(ignoreNulls)` over every frame of an
  * epoch gives when the earlier frames come first, so an epoch whose frames
  * arrive in two micro-batches lands as one row. Strictly stronger than the
  * reference: overlapping batches MERGE instead of being silently dropped
  * (SURVEY §2.7-4), and re-processing the same input is a no-op — which is
  * what makes checkpoint-recovery replays safe (exactly-once effect).
  * A key's partition values must be a function of the key (the parse's
  * date/hour are of `ts`), so colliding rows meet in one dirty partition.
  *
  * One pass per batch: `upsert` collects the batch's distinct partition
  * values once. That collect is the empty check (an empty batch returns no
  * values and touches nothing), prunes the read of the old rows, and is
  * returned, so the caller knows the dirty partitions without a second
  * job. Only those partitions are read back (with the batch's schema, so no
  * schema-inference job runs) and rewritten. Untouched partitions are never
  * scanned or written.
  *
  * Commit: the merge is written to `DirSwap.staging(target)` and each
  * dirty partition swaps in through `DirSwap.commit`; every upsert first
  * heals what a crashed commit left (`DirSwap.heal`). The staging names
  * are fixed, so concurrent upserts to the SAME target are not supported
  * (a streaming query runs its batches serially, which is the intended
  * caller).
  */
object MergeSink {

  /** True iff a partition leaf `depth` levels below `dir` holds a data
    * file: committed data. Hidden names (`_temporary`, the staging a crashed
    * first write leaves, `_SUCCESS`, `.crc`) and empty partition dirs do not
    * count. Stops at the first data file.
    */
  private def hasData(fs: FileSystem, dir: Path, depth: Int): Boolean =
    fs.listStatus(dir).exists { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") &&
      (if (depth == 0) s.isFile else s.isDirectory && hasData(fs, s.getPath, depth - 1))
    }

  /** CONCURRENT READERS: the swap is atomic per partition, not across
    * partitions (see `DirSwap`), and a crashed batch replay converges
    * (idempotent merge); point-in-time consistency across partitions is
    * only guaranteed for readers that do not overlap a commit. Gate reads
    * on a quiesced sink (the AvailableNow drain model) or snapshot the
    * table first where overlap is possible.
    *
    * @param stats aggregates over each partition's batch rows, computed by
    *        the same collect (by default its row count)
    * @return the batch's distinct `partitionCols` values, the partitions
    *         this upsert rewrote, each followed by its `stats`; empty for an
    *         empty batch, which writes nothing
    */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      targetDir: String,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      stats: Seq[Column] = Seq(count(lit(1)))): Seq[Row] = {
    val dirty = batch.groupBy(partitionCols.map(col): _*).agg(stats.head, stats.tail: _*).collect().toSeq
    if (dirty.isEmpty) return dirty

    val depth = partitionCols.length
    // heal any crashed previous commit BEFORE reading the target
    DirSwap.heal(spark, targetDir, depth)
    val target = new Path(targetDir)
    val fs     = target.getFileSystem(spark.sessionState.newHadoopConf())

    // a target without committed data (missing, or a crashed first
    // write's leftovers) is overwritten whole
    if (!fs.exists(target) || !hasData(fs, target, depth))
      batch.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(targetDir)
    else {
      val landed = readPartitions(spark, targetDir, batch.schema, partitionCols, dirty)
      val merged = landed
        .join(batch, keyCols, "full_outer")
        .select(batch.columns.toSeq.map(c =>
          if (keyCols.contains(c)) col(c) else coalesce(landed(c), batch(c)).as(c)): _*)

      // the job never deletes data it is still reading: materialize the
      // merge to staging, then swap the dirty partitions in
      val staging = DirSwap.staging(targetDir)
      merged.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging)
      DirSwap.commit(spark, targetDir, DirSwap.leaves(spark, staging, depth))
    }
    dirty
  }

  /** The rows of `targetDir` in the given partitions (values of
    * `partitionCols`, matched null-safe), read with `schema`: the file index
    * prunes on the predicate, and a given schema runs no inference job.
    * `partitions` must be non-empty.
    */
  def readPartitions(
      spark: SparkSession,
      targetDir: String,
      schema: StructType,
      partitionCols: Seq[String],
      partitions: Seq[Row]): DataFrame = {
    val pred: Column = partitions
      .map(r => partitionCols.indices.map(i => col(partitionCols(i)) <=> lit(r.get(i))).foldLeft(lit(true))(_ && _))
      .reduce(_ || _)
    spark.read.schema(schema).parquet(targetDir).filter(pred)
  }
}
