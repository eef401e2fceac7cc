package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.DirSwap

/** Merge-sink semantics: the per-column upsert (a landed value stays, the
  * batch fills nulls), untouched-partition isolation,
  * crash recovery, the first-write branch for a target without committed
  * data, and the dirty-partition set `upsert` returns.
  */
class MergeSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def table(rows: (Long, String, Int)*) =
    rows.toDF("k", "v", "p")

  private def readBack(dir: String) =
    spark.read.parquet(dir).select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("upsert merges per column; untouched partitions survive") {
    val dir = Files.createTempDirectory("ms").toString
    def wide(rows: (Long, Option[String], Option[String], Int)*) = rows.toDF("k", "v", "w", "p")
    MergeSink.upsert(spark, wide((1L, Some("a"), None, 1), (2L, Some("b"), None, 2)), dir, Seq("k"), Seq("p"))
    // k=1 collides: its landed v is kept, its null w is filled by the batch
    MergeSink.upsert(spark, wide((1L, Some("A"), Some("x"), 1)), dir, Seq("k"), Seq("p"))
    val back = spark.read.parquet(dir).select("k", "v", "w", "p").as[(Long, Option[String], Option[String], Int)]
      .collect().toSet
    assert(back === Set((1L, Some("a"), Some("x"), 1), (2L, Some("b"), None, 2)))
  }

  test("re-applying the same batch is a no-op (idempotent)") {
    val dir = Files.createTempDirectory("ms2").toString
    val b   = table((1L, "a", 1), (2L, "b", 1))
    MergeSink.upsert(spark, b, dir, Seq("k"), Seq("p"))
    MergeSink.upsert(spark, b, dir, Seq("k"), Seq("p"))
    assert(readBack(dir) === Set((1L, "a", 1), (2L, "b", 1)))
  }

  test("commit leaves no temp/trash siblings and only merged data in the target") {
    val dir = Files.createTempDirectory("ms4").resolve("tgt").toString
    MergeSink.upsert(spark, table((1L, "a", 1), (2L, "b", 2)), dir, Seq("k"), Seq("p"))
    MergeSink.upsert(spark, table((1L, "A", 1), (3L, "c", 3)), dir, Seq("k"), Seq("p"))
    val parent = new java.io.File(dir).getParentFile
    val leftovers = parent.listFiles().map(_.getName).filter(n => n.contains("graft-tmp") || n.contains("graft-old"))
    assert(leftovers.isEmpty, s"leftover commit dirs: ${leftovers.mkString(",")}")
    assert(readBack(dir) === Set((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)))
  }

  test("recover: a crash between the two swap renames is healed by the next upsert") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = Files.createTempDirectory("ms5")
    val dir  = root.resolve("tgt").toString
    MergeSink.upsert(spark, table((1L, "a", 1), (2L, "b", 2)), dir, Seq("k"), Seq("p"))
    // simulate the crash window: partition p=1 was parked, the new copy
    // never landed, staging remains
    val parked = JPaths.get(DirSwap.parked(dir, "p=1"))
    JFiles.createDirectories(parked.getParent)
    JFiles.move(JPaths.get(dir, "p=1"), parked)
    JFiles.createDirectories(JPaths.get(DirSwap.staging(dir), "p=1"))
    // next upsert must first restore p=1 from trash, then merge normally
    MergeSink.upsert(spark, table((3L, "c", 3)), dir, Seq("k"), Seq("p"))
    assert(readBack(dir) === Set((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)))
    val leftovers = root.toFile.listFiles().map(_.getName).filter(_.startsWith(".graft"))
    assert(leftovers.isEmpty, s"staging dirs not cleared: ${leftovers.mkString(",")}")
  }

  test("a target dir with no committed data takes the first-write branch") {
    import java.nio.file.{Files => JFiles}
    val dir = Files.createTempDirectory("ms6").resolve("tgt")
    // a crashed first write: staging under _temporary, an empty partition
    // dir, no data file a reader would see
    JFiles.createDirectories(dir.resolve("_temporary/0/task_0/p=1"))
    JFiles.write(dir.resolve("_temporary/0/task_0/p=1/part-0.parquet"), "partial".getBytes)
    JFiles.createDirectories(dir.resolve("p=7"))
    val parts = MergeSink.upsert(spark, table((1L, "a", 1)), dir.toString, Seq("k"), Seq("p"))
    assert(parts.map(_.getInt(0)) === Seq(1))
    assert(readBack(dir.toString) === Set((1L, "a", 1)))
    // the overwrite cleared the leftovers; a merge would have kept them
    assert(!JFiles.exists(dir.resolve("_temporary")) && !JFiles.exists(dir.resolve("p=7")))
  }

  test("upsert returns exactly the batch's distinct partition values") {
    val dir = Files.createTempDirectory("ms7").resolve("tgt").toString
    val first = MergeSink.upsert(spark, table((1L, "a", 1), (2L, "b", 2), (3L, "c", 2)), dir, Seq("k"), Seq("p"))
    assert(first.map(_.getInt(0)).sorted === Seq(1, 2))
    // the merge branch returns the batch's partitions, not the target's
    val second = MergeSink.upsert(spark, table((4L, "d", 3), (5L, "e", 3), (2L, "B", 2)), dir, Seq("k"), Seq("p"))
    assert(second.map(_.getInt(0)).sorted === Seq(2, 3))
    assert(readBack(dir) === Set((1L, "a", 1), (2L, "b", 2), (3L, "c", 2), (4L, "d", 3), (5L, "e", 3)))
  }

  test("an empty batch returns nothing and writes nothing") {
    val root  = Files.createTempDirectory("ms8")
    val fresh = root.resolve("fresh").toString
    assert(MergeSink.upsert(spark, table(), fresh, Seq("k"), Seq("p")).isEmpty)
    assert(!new java.io.File(fresh).exists())
    val dir = root.resolve("tgt").toString
    MergeSink.upsert(spark, table((1L, "a", 1)), dir, Seq("k"), Seq("p"))
    val before = Files.walk(root).iterator().asScala.map(p => root.relativize(p).toString).toSet
    assert(MergeSink.upsert(spark, table(), dir, Seq("k"), Seq("p")).isEmpty)
    assert(Files.walk(root).iterator().asScala.map(p => root.relativize(p).toString).toSet === before)
    assert(readBack(dir) === Set((1L, "a", 1)))
  }
}
