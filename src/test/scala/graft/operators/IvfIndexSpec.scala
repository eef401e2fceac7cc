package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

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

  test("reindexIvf: drifted merged-in cluster regains low-nprobe recall after re-centroid") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def around(center: Array[Float], eps: Float) =
      center.map(x => x + eps * rnd.nextGaussian().toFloat)
    // epoch 1: two well-separated clusters seed the index's centroids
    val c1   = Array.fill(16)(rnd.nextGaussian().toFloat)
    val c2   = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (1L to 60L).map(i => (i, around(if (i % 2 == 0) c1 else c2, 0.05f)))
    val root    = tmp()
    val baseIdx = s"$root/base"; val driftIdx = s"$root/drift"; val idx = s"$root/index"
    Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"), baseIdx, ncells = 4)

    // epoch 2: a NEW tight cluster EXACTLY BETWEEN two stored centroids
    // arrives (unit-normalized sum — equal cosine to both by construction)
    // and is merged in against the base quantizer, so member noise decides
    // each row's stale cell and the cluster splits across cells: a 1-probe
    // search sees only the part sharing its cell
    val cents = spark.read.parquet(s"$baseIdx.centroids")
      .select(explode(col("cents")).as("c"))
      .orderBy(col("c.cell_id"))
      .select("c.c_emb")
      .collect().map(_.getSeq[Float](0).toArray)
    def unit(a: Array[Float]) = {
      val n = math.sqrt(a.map(x => x * x.toDouble).sum).toFloat; a.map(_ / n)
    }
    val c3    = unit(cents(0)).zip(unit(cents(1))).map { case (a, b) => a + b }
    val drift = (200L until 260L).map(i => (i, around(c3, 0.05f)))
    Similarity.writeIvfIndex(drift.toDF("vec_id", "embedding"), driftIdx, ncells = 4)
    Similarity.mergeIvfIndexes(spark, baseIdx, driftIdx, idx)

    val all = (base ++ drift).toDF("vec_id", "embedding")
    def recallAt(nprobe: Int): Double = {
      val want = Similarity.bruteForceTopK(all, col("vec_id") >= 200, k = 5)
        .select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Similarity
        .searchIvfIndex(spark, idx, all.filter(col("vec_id") >= 200), k = 5, nprobe = nprobe)
        .select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (want & got).size.toDouble / want.size
    }
    // the drift cluster (60 rows, the largest) legitimately splits over 2
    // of the 4 refined cells, so the demonstrative budget is nprobe=2:
    // stale centroids scatter the cluster over ALL cells (recall@2 ~0.7);
    // refined ones confine it to its two (recall@2 = 1.0)
    val before = recallAt(2)
    Similarity.reindexIvf(spark, idx, iters = 10)
    val after = recallAt(2)
    assert(before <= 0.8, s"fixture failed to degrade: recall@2 $before under stale centroids")
    assert(after >= 0.99, s"reindex did not restore recall@2: $before -> $after")

    // exactness invariant survives the rewrite: full probe == brute force
    val full = Similarity
      .searchIvfIndex(spark, idx, all.filter(col("vec_id") < 10), k = 5, nprobe = 4)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(all, col("vec_id") < 10, k = 5)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full === brute && full.nonEmpty)
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
    // cell dir is gone, only the set-aside copy remains
    val victim = spark.read.parquet(path).select(col("cell_id").cast("int")).head().getInt(0)
    val live   = new java.io.File(path, s"cell_id=$victim")
    val parked = new java.io.File(path, s".ivfdel-old-cell_id=$victim")
    assert(live.renameTo(parked), s"could not park $live")

    // WITHOUT healing this search would silently miss the cell's rows;
    // with entry-time healIvfLeaves it reproduces the committed index
    assert(search() === before)
    assert(live.exists() && !parked.exists(), "heal must promote the set-aside leaf")

    // same for the whole-tree reindex set-aside: park the centroids dir
    val centLive   = new java.io.File(path + ".centroids")
    val centParked = new java.io.File(
      centLive.getParentFile, s".reindex-old-${centLive.getName}")
    assert(centLive.renameTo(centParked), s"could not park $centLive")
    assert(search() === before)
    assert(centLive.exists() && !centParked.exists())

    // and a delete against a parked tree sees the full committed index
    val parked2 = new java.io.File(path, s".ivfdel-old-cell_id=$victim")
    assert(new java.io.File(path, s"cell_id=$victim").renameTo(parked2))
    val delIds = emb.filter(col("vec_id") % 11 === 0).select("vec_id")
    assert(Similarity.deleteFromIvfIndex(spark, path, delIds) === delIds.count())
    assert(spark.read.parquet(path).count() === emb.count() - delIds.count())
  }

  test("reindexIvf heals a parked tree first: no row of a parked leaf is lost by the rebuild") {
    val emb  = Tables.embeddings(spark, sfDir)
    val path = tmp() + "/index"
    Similarity.writeIvfIndex(emb, path, ncells = 8)
    val total = emb.count()

    // park one leaf the way a deleter killed between renames leaves it:
    // live dir gone, only the dot-prefixed set-aside remains — which
    // spark.read.parquet SKIPS, so an unhealed reindex would rebuild
    // without these rows and then delete the old tree (permanent loss)
    val victim = spark.read.parquet(path).select(col("cell_id").cast("int")).head().getInt(0)
    val live   = new java.io.File(path, s"cell_id=$victim")
    val parked = new java.io.File(path, s".ivfdel-old-cell_id=$victim")
    assert(live.renameTo(parked), s"could not park $live")
    // and park the index ROOT the way a dead reindex leaves it, so the
    // documented recovery path (re-run reindexIvf) is exercised end to end
    val root       = new java.io.File(path)
    val rootParked = new java.io.File(root.getParentFile, s".reindex-old-${root.getName}")
    assert(root.renameTo(rootParked), s"could not park $root")

    Similarity.reindexIvf(spark, path, iters = 5)

    // every row survived the rebuild, and search is still exact
    assert(spark.read.parquet(path).count() === total)
    val got = Similarity
      .searchIvfIndex(spark, path, emb.filter(col("vec_id") < 10), k = 5, nprobe = 8)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
      .select("probe_id", "rnk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)
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
