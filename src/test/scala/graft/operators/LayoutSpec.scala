package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** Layout semantics: range clustering confines a range predicate to the
  * files whose span matches (vs every file under a random layout), hive
  * partitioning prunes directories at plan time, and the clustered write
  * loses no rows.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  private def tmp(): String = Files.createTempDirectory("layout").toString

  test("range clustering: a narrow range filter touches few files; random layout touches all") {
    val ev = Tables.events(spark, sfDir).select("event_id", "ts", "event_type", "value")

    val clustered = tmp() + "/clustered"
    Layout.clusterWrite(ev, clustered, "event_id", numFiles = 8)
    val shuffled = tmp() + "/shuffled"
    // adversarial baseline: round-robin spreads every key span over every file
    ev.repartition(8).write.parquet(shuffled)

    val lo = 100L; val hi = 200L
    def narrow(path: String) =
      spark.read.parquet(path).filter(col("event_id") >= lo && col("event_id") < hi)

    // correctness first: both layouts return the same rows
    val want = ev.filter(col("event_id") >= lo && col("event_id") < hi).count()
    assert(narrow(clustered).count() === want && want > 0)

    // disjoint spans: 100 contiguous ids fit 1 span (2 if straddling a cut)
    val touchedClustered = Layout.filesTouched(narrow(clustered))
    val touchedShuffled  = Layout.filesTouched(narrow(shuffled))
    assert(touchedClustered <= 2, s"clustered read touched $touchedClustered files")
    assert(touchedShuffled === 8, s"random layout should touch all files, got $touchedShuffled")
  }

  test("writeShuffled: shard->directory mapping is identity and order matches shuffleShards") {
    import spark.implicits._
    val nShards = 7
    val df   = (1L to 500L).map(i => (i, s"doc$i")).toDF("doc_id", "s")
    val path = tmp() + "/shards"
    Layout.writeShuffled(df, path, "doc_id", nShards)

    // the helper column lives in the directory name, not the data file
    val back = spark.read.parquet(path)
    assert(back.columns.toSet === Set("doc_id", "s", "shard"))
    val rawFile = Files
      .walk(java.nio.file.Paths.get(path)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    assert(spark.read.parquet(rawFile).columns.toSet === Set("doc_id", "s"))

    // exactly one file per non-empty shard, and directory shard=K holds
    // precisely the rows whose bucketOf(key) is K
    val logical = Splits.shuffleShards(df, "doc_id", nShards).cache()
    val wantByShard = logical
      .groupBy("shard").count().as[(Int, Long)].collect().toMap
    wantByShard.keys.foreach { k =>
      val dir = spark.read.parquet(s"$path/shard=$k")
      assert(Layout.filesTouched(dir) === 1, s"shard $k must be one file")
      assert(dir.count() === wantByShard(k), s"shard $k row membership")
      assert(
        dir.select("doc_id").as[Long].collect().toSet ===
          logical.filter(col("shard") === k).select("doc_id").as[Long].collect().toSet)
      // in-file order IS shuffleShards' pos order (resume/indexing contract)
      val fileOrder = dir.select("doc_id").as[Long].collect().toSeq
      val posOrder = logical
        .filter(col("shard") === k).orderBy("pos").select("doc_id").as[Long].collect().toSeq
      assert(fileOrder === posOrder, s"shard $k in-file order")
    }
    logical.unpersist()
  }

  test("writeShuffled/shuffleShards: pre-existing helper columns are rejected, not clobbered") {
    import spark.implicits._
    val df = Seq((1L, 2)).toDF("doc_id", "shard")
    intercept[IllegalArgumentException](Layout.writeShuffled(df, tmp() + "/x", "doc_id", 2))
    intercept[IllegalArgumentException](Splits.shuffleShards(df, "doc_id", 2))
    intercept[IllegalArgumentException](
      Splits.shuffleShards(Seq((1L, 2)).toDF("doc_id", "pos"), "doc_id", 2))
  }

  test("zorder: single-column predicates on EITHER dimension prune files; rows survive") {
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    val nFiles = 16

    val zpath = tmp() + "/zordered"
    Layout.zorderWrite(ev, zpath, Seq("event_id", "user_id"), numFiles = nFiles, buckets = 16)
    val spath = tmp() + "/shuffled"
    ev.repartition(nFiles).write.parquet(spath) // adversarial baseline

    // roundtrip loses nothing
    assert(spark.read.parquet(zpath).count() === ev.count())

    // one event_id bucket (~1/16 of rows): ids are dense 0..N, so the
    // lowest 1/16 of the id range is about one quantile bucket
    val maxId = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val idHi  = maxId / 16
    def onId(p: String) = spark.read.parquet(p).filter(col("event_id") <= idHi)
    // one user_id bucket, same construction
    val maxU = ev.agg(max(col("user_id"))).collect()(0).getLong(0)
    val uHi  = maxU / 16
    def onUser(p: String) = spark.read.parquet(p).filter(col("user_id") <= uHi)

    assert(onId(zpath).count() === onId(spath).count())
    assert(onUser(zpath).count() === onUser(spath).count())

    // the z-curve spreads a fixed bucket of EITHER column over a strict
    // subset of the 16 contiguous z spans (fixing 2 of the top 4
    // interleaved bits -> ~4 spans); the random layout reads everything
    val idTouched   = Layout.filesTouched(onId(zpath))
    val userTouched = Layout.filesTouched(onUser(zpath))
    assert(idTouched <= nFiles / 2, s"event_id slice touched $idTouched of $nFiles files")
    assert(userTouched <= nFiles / 2, s"user_id slice touched $userTouched of $nFiles files")
    // (>= 3/4, not ==: at sf0.001 a ~62-row slice can randomly miss a file)
    assert(Layout.filesTouched(onId(spath)) >= nFiles * 3L / 4)

    // single-column clustering is the CONTRAST: tight on its own column,
    // no locality at all on the other
    val cpath = tmp() + "/clustered1d"
    Layout.clusterWrite(ev, cpath, "event_id", numFiles = nFiles)
    assert(Layout.filesTouched(onId(cpath)) <= 2)
    assert(Layout.filesTouched(onUser(cpath)) >= nFiles * 3L / 4)
  }

  test("hive partitioning on top: equality predicate prunes to one directory") {
    val ev = Tables
      .events(spark, sfDir)
      .select("event_id", "ts", "event_type", "value")
    val path = tmp() + "/parted"
    Layout.clusterWrite(ev, path, "event_id", numFiles = 4, partitionCols = Seq("event_type"))

    val one = spark.read.parquet(path).filter(col("event_type") === "click")
    // PartitionFilters prune at plan time: no touched file may come from
    // another event_type's directory
    val files = one.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("event_type=click")))
    // and the partitioned+clustered write still loses no rows
    val total = spark.read.parquet(path).count()
    assert(total === ev.count())
  }
}
