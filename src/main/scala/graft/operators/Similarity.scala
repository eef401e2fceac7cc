package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.DirSwap

/** Vector similarity over an `Array[Float]` embedding column.
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small) probe
  * set against the full corpus — one broadcast join, zero shuffles on the big
  * side except the final per-probe top-k (a bounded-heap CollectTopK
  * aggregate — k rows per probe per map partition cross the wire, never the
  * full candidate set).
  *
  * All dot products / norms are computed as an in-order left fold over the
  * array via the native VecDotExpr (codegen'd loop) — deterministic FP,
  * no UDFs.
  *
  * The scale path (`ivfTopK`) is inverted-file ANN: k-means-free IVF with
  * deterministic centroids (a fixed sample of the corpus), each vector
  * assigned to its nearest centroid at index time; probes search only
  * `nprobe` nearest cells. At 100 TB the centroid assignment is an in-row
  * fold over a broadcast array of centroids (zero shuffle, zero inflation)
  * and the candidate set per probe shrinks by ~ncells/nprobe.
  */
object Similarity {

  /** Sum of elementwise products — deterministic left-to-right FP from a 0.0
    * seed. Backed by the native VecDotExpr (one loop over the unsafe array,
    * codegen'd AND fast in interpreted/eval contexts such as inside
    * higher-order lambdas); `dotComposed` keeps the built-ins-only
    * formulation as the cross-checkable reference.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.VecDotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Same sum from composed built-ins (interpreted lambda per element — slow;
    * exists to cross-check VecDotExpr).
    */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  /** Shared tail of the three neighbor searches: top-`k` pairs per probe by
    * (cos DESC, neighbor_id ASC), on the bounded-heap CollectTopK aggregate
    * — the window form shuffles AND SORTS every candidate pair per probe;
    * the heap shuffles k rows per (probe x map partition), independent of
    * candidate count (the quantity IVF nprobe multiplies).
    */
  private def topKNeighbors(pairs: DataFrame, k: Int): DataFrame =
    TopK
      .topKPerGroup(pairs, Seq("probe_id"), "cos", "neighbor_id", k, rnkName = "rnk")
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("cos"))

  /** cosine = dot / (sqrt(norm_a) * sqrt(norm_b)) — fixed association. */
  def cosine(dotCol: Column, n2a: Column, n2b: Column): Column =
    dotCol / (sqrt(n2a) * sqrt(n2b))

  /** JL random projection to `outDim` double components against the engine's
    * fixed hyperplanes (`VecSignExpr.comp` — so `VecSignExpr`'s fingerprint
    * is exactly the sign bits of this projection). Dimensionality reduction
    * before IVF/LSH: distance work and index bytes scale with dim, and a
    * 768→16 projection cuts both ~50x while JL preserves relative distances
    * in expectation. Pure per-row projection, zero shuffle at any scale.
    */
  def randomProject(vec: Column, outDim: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.RandomProjectExpr(ColumnBridge.expression(vec), outDim))
  }

  /** Random-hyperplane fingerprint of the embedding (Charikar LSH bits) —
    * exactly the sign bits of `randomProject`. See VecSignExpr.
    */
  def vecSimHash(vec: Column, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.VecSignExpr(ColumnBridge.expression(vec), bits))
  }

  /** Symmetric int8 quantization scale: max|x| / 127 (0-vectors get scale
    * 0 and quantize to all-zero).
    */
  def int8Scale(emb: Column): Column =
    array_max(transform(emb, x => abs(x.cast("double")))) / 127.0

  /** Quantize an embedding to int8 against `scale`:
    * `floor(x/scale + 0.5)` — round-half-toward-+inf via floor, which both
    * engines compute identically (plain `round()` half-cases differ
    * engine-to-engine). A 100-TB ANN corpus stores 4x fewer bytes per
    * vector (and the store side of IVF/LSH probes reads 4x less); the spec
    * bounds the reconstruction error at scale/2 per component and measures
    * top-k recall of quantized search vs exact.
    */
  def quantizeInt8(emb: Column, scale: Column): Column =
    when(scale > 0.0,
      transform(emb, x => floor(x.cast("double") / scale + 0.5).cast("int")))
      .otherwise(transform(emb, _ => lit(0)))

  /** Dequantized vector (double components): q * scale. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Exact top-k cosine neighbors for each probe row.
    * Output: probe_id, rnk (1..k), neighbor_id, cos.
    * @param dim retained for API compatibility; the native loop `dot` is
    *            used at any width (it replaced the dim-unrolled static tree)
    */
  def bruteForceTopK(emb: DataFrame, probePred: Column, k: Int, dim: Int = 0): DataFrame = {
    def d2(a: Column, b: Column) = dot(a, b)
    val withN2 = emb.select(col("vec_id"), col("embedding"), d2(col("embedding"), col("embedding")).as("n2"))
    val probes = withN2
      .filter(probePred)
      .select(
        col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"),
        col("n2").as("p_n2"))
    val pairs = withN2
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        cosine(d2(col("p_emb"), col("embedding")), col("p_n2"), col("n2")).as("cos"))
    topKNeighbors(pairs, k)
  }

  /** IVF-bucketed approximate top-k.
    *
    * Centroids = the `ncells` vectors with the smallest vec_id (deterministic,
    * cheap; a k-means refinement can swap in without changing the plan shape).
    *
    * Cell assignment is a PER-ROW fold: the centroid table is collapsed to a
    * single array-of-structs row and cross-joined in (a broadcast of ONE
    * row), then each vector sorts that array by its own cosine in-row and
    * keeps the top `keep` cells. Zero shuffle and zero data inflation for
    * the corpus — versus the naive broadcast-join + window-argmin plan whose
    * intermediate is corpus x ncells pushed through a full shuffle+sort.
    */
  /** Seed centroid table (single collapsed row of cell structs): the
    * `ncells` vectors with the smallest vec_id. Deterministic and cheap;
    * refine with `kmeansCentroids` when cell balance matters.
    *
    * Cell ids are assigned INSIDE the collapsed row (sort_array of
    * (vec_id, emb) structs + indexed transform) rather than via a
    * global-ordered window: same result on the <= ncells rows, but no
    * "move all data to a single partition" WindowExec — the only
    * single-partition step is the top-ncells collect_list itself, which is
    * the operator's output shape.
    */
  def seedCentroids(emb: DataFrame, ncells: Int): DataFrame =
    emb
      .orderBy(col("vec_id"))
      .limit(ncells)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("raw"))
      .select(
        transform(
          col("raw"),
          (c, i) =>
            struct(
              i.cast("bigint").as("cell_id"),
              c.getField("embedding").as("c_emb"),
              norm2(c.getField("embedding")).as("c_n2"))).as("cents"))

  /** Spherical-k-means (Lloyd) refinement of the IVF centroids — scale-safe:
    *  - ASSIGNMENT is the same zero-shuffle in-row fold ivfTopK uses;
    *  - the UPDATE is posexplode -> groupBy((cell, pos)) sum/count: the
    *    explode streams through the partial hash aggregate inside each task,
    *    so the shuffle carries only tasks x ncells x dim partial sums —
    *    independent of corpus size;
    *  - the ncells x dim sums collect to the driver (centroids are driver
    *    state in every k-means) and rebuild the broadcastable centroid row;
    *    the driver keeps its copy of that row for the next round.
    * Cosine-argmax assignment + un-normalized means = spherical k-means
    * (the mean's norm cancels in the cosine ranking). Empty cells keep
    * their previous centroid; the seed row is collected only if the first
    * round leaves a cell empty.
    */
  def kmeansCentroids(emb: DataFrame, ncells: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(
      emb.limit(ncells).count() == ncells,
      s"kmeansCentroids: corpus has fewer than ncells=$ncells vectors")
    val seed = seedCentroids(emb, ncells)
    lazy val seedCells: Map[Long, Seq[Double]] = seed
      .select(explode(col("cents")).as("c"))
      .select(col("c.cell_id"), col("c.c_emb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
      })
      .toMap
    var cents: DataFrame          = seed
    var prev: Long => Seq[Double] = seedCells(_)
    val withN2 = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    (1 to iters).foreach { _ =>
      val stats = assignCells(withN2, cents, 1)
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val dims  = stats.map(_.getInt(1)).max + 1
      val sums  = collection.mutable.Map.empty[Long, Array[Double]]
      val cnts  = collection.mutable.Map.empty[Long, Long]
      stats.foreach { r =>
        val cell = r.getLong(0)
        sums.getOrElseUpdate(cell, new Array[Double](dims))(r.getInt(1)) = r.getDouble(2)
        cnts(cell) = r.getLong(3)
      }
      val next = (0L until ncells.toLong).map { cell =>
        val mean = sums.get(cell) match {
          case Some(s) => s.map(_ / cnts(cell)).toSeq
          case None    => prev(cell) // empty cell keeps its centroid
        }
        (cell, mean)
      }
      prev = next.toMap
      cents = next
        .toDF("cell_id", "c_emb")
        .withColumn("c_n2", norm2(col("c_emb")))
        .agg(collect_list(struct(col("cell_id"), col("c_emb"), col("c_n2"))).as("cents"))
    }
    cents
  }

  /** Nearest `keep` cells per row, computed INSIDE the row against the
    * broadcast single-row centroid array — zero shuffle, zero inflation.
    * `df` must carry `embedding` and `n2`. NATIVE (NearestCellsExpr): the
    * former `array_sort(transform(cents, ...))` spelling evaluated ncells
    * interpreted lambda/struct trees per corpus row; the native kernel is
    * one flat loop + primitive sort with bit-identical negcos arithmetic
    * and sort order (NearestCellsExprSpec pins native == composed).
    */
  private def assignCells(df: DataFrame, centArr: DataFrame, keep: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.crossJoin(broadcast(centArr))
      .withColumn(
        "__ranked",
        ColumnBridge.column(graft.functions.NearestCellsExpr(
          ColumnBridge.expression(col("embedding")),
          ColumnBridge.expression(col("n2").cast("double")),
          ColumnBridge.expression(col("cents")))))
      .select(
        df.columns.map(col) :+
          explode(slice(col("__ranked"), 1, keep)).as("__cell"): _*)
      .withColumn("cell_id", col("__cell.cell_id"))
      .drop("__cell")
  }

  /** SemDeDup (Abbas et al. 2023): SEMANTIC deduplication scoped to
    * pre-computed clusters — the published recipe for web-scale corpora:
    * k-means the embeddings (k large enough that clusters are small),
    * then compare pairs ONLY within a cluster and keep one exemplar per
    * near-duplicate set. The cluster column is a parameter, not a baked-in
    * k-means: pass `assignCells`' cell_id (the IVF coarse quantizer IS the
    * paper's clustering step), a label, or any hash — whatever partitions
    * the semantic space. The keep rule is deterministic: a vector is
    * DROPPED iff some LOWER-ID vector in the same cluster has cosine >=
    * `tau` to it (greedy-by-id against all earlier vectors — exemplar =
    * the minimum id of its duplicate set, stable under any partitioning
    * and exactly mirrorable in SQL; the paper keeps a random/centroid-far
    * member, which no cross-engine hash compare could certify).
    *
    * Scale shape: ONE equi-join shuffle on the cluster key, then the
    * quadratic compare runs per-cluster — which is the paper's entire
    * point: cluster count grows with the corpus, cluster SIZE stays
    * bounded (that invariant is the caller's k choice; the degenerate
    * one-cluster case collapses to q33's all-pairs, by design). The
    * shadowed-id set collapses map-side via distinct before the anti-join.
    *
    * Output: the kept (idCol, clusterCol) rows.
    */
  def semanticDedup(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      clusterCol: String,
      tau: Double): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine in [-1,1], got $tau")
    val withN2 = vectors.select(
      col(idCol),
      col(clusterCol),
      col(vecCol),
      norm2(col(vecCol)).as("__n2"))
    val a = withN2.select(
      col(idCol).as("__ida"), col(clusterCol).as("__ca"),
      col(vecCol).as("__ea"), col("__n2").as("__n2a"))
    val b = withN2.select(
      col(idCol).as("__idb"), col(clusterCol).as("__cb"),
      col(vecCol).as("__eb"), col("__n2").as("__n2b"))
    val shadowed = a
      .join(b, col("__ca") === col("__cb") && col("__ida") < col("__idb"))
      .filter(cosine(dot(col("__ea"), col("__eb")), col("__n2a"), col("__n2b")) >= tau)
      .select(col("__idb").as(idCol))
      .distinct()
    vectors
      .join(shadowed, Seq(idCol), "left_anti")
      .select(col(idCol), col(clusterCol))
  }

  /** Embedding near-dup pair mining at scale: RANDOM-HYPERPLANE LSH
    * (Charikar) instead of the all-pairs join — the vector-space twin of
    * Dedup.lshNearDupPairs.
    *
    *  - fingerprint: `bits` sign-of-dot bits against fixed pseudo-random
    *    hyperplanes (native VecSignExpr, per-row projection, zero shuffle);
    *  - candidates: banding over `bandBits`-bit chunks of the fingerprint —
    *    a pair is a candidate iff ANY chunk matches (bucket equality join;
    *    shuffle volume = nBands rows/vector, cost scales with bucket
    *    collisions, not corpus^2). The DEFAULT (`bandBits = 0`) auto-sizes
    *    the band width from the corpus count via `effectiveBandBits`:
    *    candidate volume under a FIXED width is Θ(n²/2^bandBits) — the
    *    pinned 6-bit width was measured to cliff 8.1 s → 338 s from 20k to
    *    40k vectors (soak_scaling.json) while the ladder stays flat — so a
    *    fixed width is strictly a frozen-diagnostic / reproduce-earlier-runs
    *    knob, never the production posture;
    *  - verify: exact cosine on candidates only; output pairs all satisfy
    *    cos >= threshold.
    *
    * Recall follows the banding curve 1-(1-p^r)^b with p = 1 - angle/pi —
    * near-certain for the near-duplicate regime (cos >= 0.9) this operator
    * targets, and degrading toward weak thresholds where no sublinear
    * method can be exact. The q46 contract entry certifies the WHOLE
    * pipeline (fingerprints, banding, verify) against a DuckDB mirror built
    * from the same hyperplane constants.
    *
    * NOTE: the returned plan contains an EAGER `localCheckpoint` of the
    * signature table (concrete-RDD barrier; batch-only, no pushdown below
    * it), shared by the band explode and both verify fetches — eager per
    * the deadlock note on `Dedup.jaccardPairs`.
    *
    * Output: id_a < id_b, cos.
    */
  /** The auto-banding ladder (bandBits = 0): the divisors of `bits` in
    * ascending order; `effectiveBandBits` picks the first whose band space
    * keeps the EXPECTED bucket size at or under `targetBucket` vectors.
    * Candidate generation is Θ(n² / 2^bandBits) — a fixed band width that
    * is fine at 10⁴ vectors is quadratic junk at 10⁵ (measured: the 6-bit
    * default cliffs 8.1 s → 338 s from 20k to 40k vectors at 10× → 20×
    * soak) — so the band width, not the implementation, is the scale knob.
    * Widening bands trades boundary-cosine recall (the documented LSH
    * tradeoff, p^bandBits per band) for candidate precision; near-identical
    * dup clusters (p → 1) are unaffected, which is the dedup use case.
    * Deterministic given (bits, n), so an oracle can replay the pick from
    * COUNT(*). Floored at 4 bits: a band space under 16 buckets mines
    * near-all-pairs regardless, and the floor keeps the oracle's CASE
    * ladder finite.
    */
  def bandLadder(bits: Int): Seq[Int] = {
    val ds = (1 to bits).filter(bits % _ == 0)
    val floored = ds.filter(_ >= 4)
    if (floored.nonEmpty) floored else ds.takeRight(1)
  }

  def effectiveBandBits(bits: Int, n: Long, targetBucket: Int = 32): Int = {
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    val ladder = bandLadder(bits)
    // overflow-free form of `n <= targetBucket * 2^d`: for n >= 1 it is
    // equivalent to `(n-1) / targetBucket < 2^d` (integer division), which
    // never multiplies — the round-11 `d >= 58` guard was only sound for
    // the default targetBucket=32 (a caller's larger target could wrap
    // `targetBucket * (1L << d)` for widths in 33..57 and skip a valid
    // width). The d >= 62 cap keeps `1L << d` well-defined; any corpus
    // count fits a 2^62 band space.
    ladder
      .find(d => d >= 62 || (math.max(n, 1L) - 1L) / targetBucket.toLong < (1L << d))
      .getOrElse(ladder.last)
  }

  def embedNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 60,
      bandBits: Int = 0,
      maxBucket: Int = 4096): DataFrame = {
    require(bits >= 1 && bits <= 62, "bits in [1, 62]")
    require(bandBits == 0 || (bandBits >= 1 && bits % bandBits == 0),
      "bandBits must divide bits (0 = auto-size from the corpus count)")
    val sig = vecSimHash(col(vecCol), bits)
    // one-file corpus: hash on all cores; already-wide inputs keep their
    // layout and pay no shuffle (Dedup.spread is conditional)
    // DEGENERATE-VECTOR GUARD (adversarial round): a NaN/Inf/zero-norm
    // embedding yields a NaN cosine against everything, and Spark's
    // ordering comparison treats NaN as GREATER than any threshold — so a
    // batch of corrupt embeddings sharing an LSH bucket would mine
    // spurious pairs welding unrelated docs into one dedup component.
    // `0 < n2 < Inf` excludes all three classes at the signature stage
    // (NaN fails `< Inf` under the same ordering semantics), before they
    // cost bucket or verify work.
    val sigs = Dedup
      .spread(emb)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        norm2(col(vecCol)).as("n2"),
        sig.as("__sig"))
      .filter(col("__sig").isNotNull &&
        col("n2") > 0 && col("n2") < lit(Double.PositiveInfinity))
      .localCheckpoint(true)
    // auto mode: one bounded control-plane count over the materialized
    // signature table sizes the band space to the corpus
    val effBandBits =
      if (bandBits == 0) effectiveBandBits(bits, sigs.count()) else bandBits
    val nBands = bits / effBandBits
    val mask   = (1L << effBandBits) - 1
    val bands = sigs.select(
      col("id"),
      explode(array((0 until nBands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("__sig"), b * effBandBits).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.key").as("key"))
    // hot-bucket guard (Dedup.bandCandidates): an embedding cluster of
    // near-identical vectors (re-encoded boilerplate) fills one band bucket
    // and would emit O(m^2) candidates from a single key; oversized buckets
    // mine a star to their min id instead — CC-based dedup (q91) sees the
    // same components, pairs not involving the min are the documented cut
    val cand = Dedup.bandCandidates(bands, maxBucket)
    cand
      .join(sigs.select(col("id").as("id_a"), col("v").as("v_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("v").as("v_b"), col("n2").as("n2_b")), Seq("id_b"))
      .withColumn("cos", cosine(dot(col("v_a"), col("v_b")), col("n2_a"), col("n2_b")))
      // belt to the n2 guard above: a NaN cosine must never satisfy the
      // threshold (Spark's NaN-is-greatest comparison would let it)
      .filter(col("cos") >= threshold && !isnan(col("cos")))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** @param centroids optional refined centroid row (kmeansCentroids);
    *                  defaults to the deterministic seed centroids
    */
  /** Persist the corpus as an IVF-PARTITIONED parquet index: every vector
    * lands in its nearest cell's hive directory (`cell_id=K/` — same
    * centroids and in-row assignment as ivfTopK), with its norm
    * precomputed, and the centroid table alongside at `<path>.centroids`.
    * A search probing `nprobe` cells then reads ONLY those directories
    * (PartitionFilters; IvfIndexSpec measures it with filesTouched) — at
    * 100 TB that is the difference between scanning the corpus per query
    * batch and reading nprobe/ncells of it.
    *
    * One shuffle (co-locating cells for the write); `partitionBy` splits
    * hash-colliding cells into their own directories, `writeShuffled`'s
    * contract.
    */
  def writeIvfIndex(emb: DataFrame, path: String, ncells: Int): Unit = {
    import org.apache.spark.sql.SaveMode
    // a parked cell of an earlier index at `path` must not heal into this one
    DirSwap.heal(emb.sparkSession, path, 1)
    val centArr = seedCentroids(emb, ncells)
    val withN2 =
      emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    assignCells(withN2, centArr, 1)
      .repartition(col("cell_id"))
      .sortWithinPartitions(col("cell_id"), col("vec_id"))
      .write
      .partitionBy("cell_id")
      .mode(SaveMode.Overwrite)
      .parquet(path)
    centArr.write.mode(SaveMode.Overwrite).parquet(s"$path.centroids")
  }

  /** Delete vectors from a persisted IVF index by id — the GDPR /
    * retraction path that completes the index's lifecycle (build:
    * `writeIvfIndex`, append: `mergeIvfIndexes`, remove: here). Centroids
    * are untouched: remaining rows keep their cell assignment, so searches
    * stay exact over the survivors.
    *
    * Scale shape: delete lists are small (a retraction batch, not a
    * corpus), so the id set BROADCASTS; the affected cell ids come from
    * probing the index WITH that broadcast (collected — bounded by the
    * delete list, the MergeSink dirty-partition pattern), and only those
    * cell directories are rescanned (partition-pruned literal IN) and
    * rewritten. Cost ∝ cells touched, never index size. The rewritten
    * cells swap in through `DirSwap.commit`, and every entry point that
    * reads the index restores parked cells first, so no crash state reads
    * as a PARTIAL index; re-running the delete heals too (deletes are
    * idempotent). A
    * cell whose every row is deleted ends EMPTY (its directory is removed)
    * — searches simply stop probing into it. Bulk deletes (a constant
    * fraction of the index) should rebuild it with `writeIvfIndex` on the
    * filtered corpus instead.
    *
    * Returns the number of rows actually removed.
    */
  def deleteFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deleteIds: DataFrame,
      idCol: String = "vec_id"): Long = {
    import org.apache.spark.sql.SaveMode
    DirSwap.heal(spark, path, 1)
    val dels = deleteIds
      .select(col(idCol).cast("long").as("__del"))
      .distinct()
      .localCheckpoint(true) // probed twice (affected cells, anti-join)
    val idx = spark.read.parquet(path)
    val affected = idx
      .join(broadcast(dels), idx("vec_id") === col("__del"))
      .select(col("cell_id").cast("int"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    if (affected.isEmpty) return 0L
    val sub  = idx.filter(col("cell_id").isin(affected: _*)) // partition-pruned
    val nDel = sub.join(broadcast(dels), sub("vec_id") === col("__del")).count()
    sub
      .join(broadcast(dels), sub("vec_id") === col("__del"), "left_anti")
      .repartition(col("cell_id"))
      .sortWithinPartitions(col("cell_id"), col("vec_id"))
      .write.partitionBy("cell_id").mode(SaveMode.Overwrite).parquet(DirSwap.staging(path))
    DirSwap.commit(spark, path, affected.map(c => s"cell_id=$c"))
    nDel
  }

  /** Merge a second persisted IVF index into the BASE index's coordinate
    * system — the FAISS merge shape (two indexes combine only under one
    * quantizer): `otherPath`'s stored vectors are re-assigned to the base
    * centroids (one pass against the broadcast centroid row; the other
    * index's own centroids and cell layout are discarded) and unioned with
    * the base rows into a fresh index at `outPath`, which keeps the base
    * centroid table. The shard-consolidation path that completes the
    * lifecycle sideways: two epochs / two shards built independently
    * become one searchable index without re-clustering either corpus.
    *
    * vec_ids MUST be disjoint (two shards of one corpus) and the other
    * index's vectors must match the base quantizer's dimension — both are
    * CHECKED, not assumed: a shared id would silently duplicate rows and
    * skew every downstream top-k, and a mismatched dimension would store
    * vectors no probe can ever score. Rows keep their exact embeddings and
    * precomputed norms, so post-merge searches are exact over the union —
    * recall shifts only through the coarse geometry.
    *
    * Scale shape: cost = one in-row assignment over |other| + one
    * cell-partitioned write of |base| + |other|. The guards cost ONE extra
    * data-scale job: a thin (id, dim) projection of |other| left-joined
    * against the base id column checks dimension and disjointness together
    * (a few bytes per row, hash join on ids), preceded by a metadata-scale
    * probe of the 1-row centroid parquet (an empty/corrupt quantizer must
    * fail fast — an empty centroids frame would otherwise empty the fused
    * probe and pass both guards vacuously). No pairwise work, no driver
    * data path beyond the ≤5-row offending-row sample.
    */
  def mergeIvfIndexes(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      otherPath: String,
      outPath: String): Unit = {
    import org.apache.spark.sql.SaveMode
    DirSwap.restore(spark, basePath, 1)
    DirSwap.restore(spark, otherPath, 1)
    DirSwap.heal(spark, outPath, 1)
    val cents = spark.read.parquet(s"$basePath.centroids")
    val base = spark.read.parquet(basePath)
      .select(
        col("vec_id"), col("embedding"), col("n2"),
        col("cell_id").cast("long").as("cell_id"))
    val other = spark.read.parquet(otherPath)
      .select(col("vec_id"), col("embedding"), col("n2"))
    // BOTH guards AND the quantizer-dimension read in ONE job (round-10
    // item 3 fused the guards; round-11 nit folds the former separate
    // driver `first()` for centDim in too): the 1-row centroid-dim frame
    // is broadcast onto a thin (id, size) projection of `other`
    // left-joined against the base id column; a surviving row is either a
    // wrong-dimension vector or an id collision, and carries the expected
    // dim for the diagnostic (≤5-row driver sample, failure diagnostics
    // only — one driver action total)
    val centDimFrame = cents
      .select(size(element_at(col("cents"), 1).getField("c_emb")).as("__cent_dim"))
      .limit(1)
    // the fused guards below probe `other` AGAINST the quantizer row — an
    // empty/corrupt centroids table would empty the probe and pass both
    // guards vacuously, so the quantizer itself is checked first (one
    // metadata-scale action over the 1-row centroid parquet)
    require(!centDimFrame.filter(col("__cent_dim").isNotNull).isEmpty,
      s"mergeIvfIndexes: base quantizer at $basePath.centroids is empty or corrupt " +
        "(no centroid row / empty centroid array) — rebuild the base index before merging")
    val offending = other
      .select(col("vec_id"), size(col("embedding")).as("__d"))
      .crossJoin(broadcast(centDimFrame))
      .join(base.select(col("vec_id"), lit(true).as("__dup")), Seq("vec_id"), "left_outer")
      .filter(col("__d") =!= col("__cent_dim") || col("__dup"))
      .limit(5)
      .collect()
    val badDim  = offending.filter(r => r.getInt(1) != r.getInt(2))
    val collide = offending.filter(r => !r.isNullAt(3))
    require(badDim.isEmpty,
      s"mergeIvfIndexes: $otherPath stores dim ${badDim.headOption.map(_.getInt(1)).getOrElse(-1)} " +
        s"vectors (e.g. vec_id ${badDim.headOption.map(_.get(0)).getOrElse("?")}) but the base " +
        s"quantizer at $basePath.centroids is dim " +
        s"${badDim.headOption.map(_.getInt(2)).getOrElse(-1)}")
    require(collide.isEmpty,
      s"mergeIvfIndexes: vec_ids are not disjoint between $basePath and $otherPath " +
        s"(e.g. ${collide.map(_.get(0)).mkString(", ")}); merging would silently duplicate rows")
    val moved = assignCells(other, cents, 1)
      .select(
        col("vec_id"), col("embedding"), col("n2"),
        col("cell_id").cast("long").as("cell_id"))
    base.unionByName(moved)
      .repartition(col("cell_id"))
      .sortWithinPartitions(col("cell_id"), col("vec_id"))
      .write
      .partitionBy("cell_id")
      .mode(SaveMode.Overwrite)
      .parquet(outPath)
    cents.write.mode(SaveMode.Overwrite).parquet(s"$outPath.centroids")
  }

  /** Top-k search against a persisted IVF index: probe vectors are
    * assigned their `nprobe` nearest cells against the stored centroids,
    * and the index scan carries a LITERAL cell_id predicate, so partition
    * pruning drops every unprobed directory at planning time. The probed
    * cell set collects to the driver first — bounded by |probes| x nprobe
    * ids, the MergeSink dirty-partition pattern, and the price of a
    * static (plan-time) prune instead of a runtime one.
    *
    * With nprobe == ncells this reproduces ivfTopK / brute force exactly
    * (q82's oracle); smaller nprobe trades recall for I/O like ivfTopK.
    */
  def searchIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probes: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    DirSwap.restore(spark, path, 1)
    val centArr = spark.read.parquet(s"$path.centroids")
    val p = assignCells(
      probes.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2")),
      centArr, nprobe)
      .select(
        col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"),
        col("n2").as("p_n2"),
        col("cell_id"))
    val cells = p.select("cell_id").distinct().collect().map(_.getLong(0))
    val index = spark.read.parquet(path).filter(col("cell_id").isin(cells: _*))
    val pairs = index
      .join(broadcast(p), Seq("cell_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        cosine(dot(col("p_emb"), col("embedding")), col("p_n2"), col("n2")).as("cos"))
    topKNeighbors(pairs, k)
  }

  def ivfTopK(
      emb: DataFrame,
      probePred: Column,
      k: Int,
      ncells: Int,
      nprobe: Int,
      dim: Int = 0,
      centroids: Option[DataFrame] = None): DataFrame = {
    def d2(a: Column, b: Column) = dot(a, b)
    val centArr = centroids.getOrElse(seedCentroids(emb, ncells))

    val withN2 = emb.select(col("vec_id"), col("embedding"), d2(col("embedding"), col("embedding")).as("n2"))

    val indexed = assignCells(withN2, centArr, 1) // corpus: single nearest cell
    val probes = assignCells(withN2.filter(probePred), centArr, nprobe)
      .select(
        col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"),
        col("n2").as("p_n2"),
        col("cell_id"))
    val pairs = indexed
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        cosine(d2(col("p_emb"), col("embedding")), col("p_n2"), col("n2")).as("cos"))
    topKNeighbors(pairs, k)
  }

  // ------------------------------------------------- product quantization

  /** PQ codebooks trained DRIVER-SIDE on a deterministic sample — the
    * FAISS posture: codebooks come from a bounded training sample (k-means
    * over m x kCodes x dim/m values is pure driver arithmetic), then
    * encoding is a distributed per-row projection. At 100 TB you never
    * k-means the corpus; you k-means a sample of it.
    *
    * Vectors are UNIT-NORMALIZED before slicing, so squared-L2 ADC order
    * equals cosine order (||a-b||^2 = 2 - 2 cos for unit vectors) and the
    * per-subspace distances decompose exactly. Sampling is
    * `Splits.sampleExact` (hash-deterministic: same corpus, same
    * codebooks, any cluster); seeds are the sample's first kCodes
    * subvectors in hash order; empty clusters keep their previous
    * centroid. Degenerate vectors (zero/NaN/Inf norm) are excluded.
    *
    * Returns m codebooks, each kCodes x (dim/m).
    */
  def pqCodebooks(
      emb: DataFrame,
      m: Int,
      kCodes: Int,
      sampleN: Int = 2048,
      iters: Int = 10): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && kCodes >= 1 && iters >= 1, "m, kCodes, iters must be positive")
    val clean = emb
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("__n2"))
      .filter(col("__n2") > 0 && !isnan(col("__n2")) && col("__n2") < Double.PositiveInfinity)
    val sample = Splits
      .sampleExact(clean, "vec_id", sampleN)
      .select(col("embedding"), col("__n2"))
      .collect()
      .map { r =>
        val n = math.sqrt(r.getDouble(1))
        r.getSeq[Any](0).map {
          case f: java.lang.Float  => f.toDouble / n
          case d: java.lang.Double => d.doubleValue / n
        }.toArray
      }
    require(sample.nonEmpty, "pqCodebooks: no valid vectors to train on")
    val dim = sample.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m).map { j =>
      val xs = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      var cents = xs.distinct.take(kCodes)
      if (cents.length < kCodes) // tiny corpora: pad with repeats, harmless
        cents = Array.tabulate(kCodes)(i => cents(i % cents.length))
      (1 to iters).foreach { _ =>
        val assign = xs.map { x =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kCodes) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
        cents = Array.tabulate(kCodes) { c =>
          val members = xs.indices.filter(assign(_) == c)
          if (members.isEmpty) cents(c)
          else {
            val acc = new Array[Double](sub)
            members.foreach { i => var d = 0; while (d < sub) { acc(d) += xs(i)(d); d += 1 } }
            acc.map(_ / members.length)
          }
        }
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** Squared-L2-ORDER score of subvector x (pre-normalization `nrm`)
    * against centroid c: |c|^2 - 2 (x/nrm)·c. Drops the |x|^2 term, which
    * is constant under both uses (per-subspace argmin; per-probe ADC sum),
    * so argmin/ranking are unchanged — and the inner product rides the
    * NATIVE VecDotExpr loop (one native call per centroid instead of
    * dim interpreted lambda evaluations; measured 4x on the q100 path).
    */
  private def l2OrderScore(subv: Column, nrm: Column, cent: Column, centN2: Column): Column =
    centN2 - lit(2.0) * dot(subv, cent) / nrm

  private def centroidN2(codebooks: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    codebooks.map(_.map(c => c.map(x => x * x).sum))

  /** PQ code array for the row's `embedding` (norm `nrm` in scope):
    * per-subspace argmin of l2OrderScore against the codebook literal.
    * NATIVE (PqEncodeExpr): the composed `transform(sequence(...))` form
    * runs as interpreted lambdas — ~0.4 ms/row at m=8, kCodes=16, dim=64,
    * which made the encode pass cost more than the search it fed (the r9
    * q100 bisect). Bit-identical arithmetic; PqExprsSpec pins native ==
    * composed on random and degenerate inputs.
    */
  private def pqCodesExpr(cb: Seq[Seq[Seq[Double]]], nrm: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.PqEncodeExpr(
      ColumnBridge.expression(col("embedding")),
      ColumnBridge.expression(nrm.cast("double")),
      cb))
  }

  /** Per-probe ADC table expression: table[j][c] = l2OrderScore of the
    * probe's j-th subvector against codebook entry c (order-equivalent to
    * the true squared L2 per subspace — the per-probe constant drops).
    */
  private def adcTableExpr(cb: Seq[Seq[Seq[Double]]], nrm: Column): Column = {
    val m    = cb.length
    val sub  = cb.head.head.length
    val cbL  = typedlit(cb)
    val cn2L = typedlit(centroidN2(cb))
    transform(sequence(lit(0), lit(m - 1)), j => {
      val subv = slice(col("embedding"), j * sub + 1, lit(sub))
      transform(sequence(lit(1), lit(cb.head.length)), c =>
        l2OrderScore(subv, nrm,
          element_at(element_at(cbL, j + 1), c),
          element_at(element_at(cn2L, j + 1), c)))
    })
  }

  /** Negated ADC sum for a (codes, __table) row pair — higher = closer.
    * NATIVE (PqAdcExpr): one flat loop per candidate row instead of the
    * interpreted `aggregate` lambda tree (same FP association, same
    * `0.0 - acc` tail — bit-identical; see PqExprsSpec).
    */
  private def negAdcExpr(m: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val _ = m // size rides in the arrays themselves
    ColumnBridge.column(graft.functions.PqAdcExpr(
      ColumnBridge.expression(col("codes")),
      ColumnBridge.expression(col("__table"))))
  }

  /** Exact-cosine re-rank of a (probe_id, neighbor_id) shortlist to top-k. */
  private[operators] def exactRerank(
      short: DataFrame,
      emb: DataFrame,
      probePred: Column,
      k: Int): DataFrame = {
    val withN2 = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
    val pairs = short
      .join(withN2.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("n2").as("n_n2")), Seq("neighbor_id"))
      .join(broadcast(withN2.filter(probePred).select(col("vec_id").as("probe_id"),
        col("embedding").as("p_emb"), col("n2").as("p_n2"))), Seq("probe_id"))
      .select(
        col("probe_id"),
        col("neighbor_id"),
        cosine(dot(col("p_emb"), col("n_emb")), col("p_n2"), col("n_n2")).as("cos"))
    topKNeighbors(pairs, k)
  }

  /** Per-row PQ encoding: unit-normalize, slice into m subspaces, argmin
    * squared-L2 against that subspace's codebook (a broadcast literal).
    * Pure projection — zero shuffle, 1 byte-scale code per subspace instead
    * of dim floats. Output: vec_id, codes (array<int>, length m).
    * Degenerate vectors drop (same rule as the codebook trainer).
    */
  def pqEncode(emb: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val n2c = norm2(col("embedding"))
    emb
      .filter(n2c > 0 && !isnan(n2c) && n2c < Double.PositiveInfinity)
      .select(col("vec_id"), pqCodesExpr(codebooks, sqrt(n2c)).as("codes"))
  }

  /** PQ-shortlisted top-k cosine search: asymmetric-distance (ADC)
    * candidate ranking over the 1-byte-per-subspace codes, exact cosine
    * re-rank of the per-probe `shortlist`.
    *
    * Scale shape: each probe precomputes its m x kCodes distance TABLE
    * once (probe side is tiny and broadcast); each (probe, corpus-row)
    * candidate then costs m array lookups — versus dim multiplies for
    * exact — and the corpus never shuffles (codes ride a broadcast join,
    * shortlists cut by the bounded-heap TopK). Re-rank touches only
    * shortlist x probes rows. With shortlist >= corpus the result is
    * EXACT (brute-force order) — the q100 contract entry certifies the
    * whole encode/table/ADC/re-rank pipeline against the q25 oracle that
    * way; recall with small shortlists is property-tested.
    */
  def pqTopK(
      emb: DataFrame,
      probePred: Column,
      k: Int,
      m: Int = 8,
      kCodes: Int = 16,
      shortlist: Int = 64,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cb    = codebooks.getOrElse(pqCodebooks(emb, m, kCodes))
    val codes = pqEncode(emb, cb)
    val n2c   = norm2(col("embedding"))
    // per-probe ADC table: table[j][c] ~ ||probe_sub_j - cb[j][c]||^2 up to
    // the per-probe constant sum_j |probe_sub_j|^2 (dropped — see
    // l2OrderScore; candidate ORDER per probe is what the shortlist needs)
    val probes = emb
      .filter(probePred && n2c > 0 && !isnan(n2c) && n2c < Double.PositiveInfinity)
      .select(
        col("vec_id").as("probe_id"),
        adcTableExpr(cb, sqrt(n2c)).as("__table"))
    val adc = codes
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        negAdcExpr(cb.length).as("neg_adc"))
    val short = TopK
      .topKPerGroup(adc, Seq("probe_id"), "neg_adc", "neighbor_id", shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    exactRerank(short, emb, probePred, k)
  }

  /** IVF-PQ composed search (the FAISS IVFPQ shape): IVF cell pruning picks
    * WHICH corpus slice each probe scans, PQ-ADC picks the shortlist WITHIN
    * that slice, exact cosine re-ranks the shortlist.
    *
    * Scale shape, multiplicative with each part alone:
    *  - the corpus side is ONE projection pass (cell id + PQ codes computed
    *    in-row against broadcast centroid/codebook literals — no join, no
    *    shuffle, ~m bytes per vector downstream);
    *  - candidates come from a broadcast HASH join on cell_id (each corpus
    *    row meets only the probes probing its cell — ~nprobe/ncells of the
    *    probe set — instead of pqTopK's every-probe fan-out);
    *  - ADC cost per candidate is m table lookups; the shortlist cut is the
    *    bounded-heap TopK; exact cosines touch only shortlist x probes rows.
    *
    * With nprobe = ncells and shortlist >= corpus the result is EXACT
    * (cell pruning passes everything, ADC order collapses under the exact
    * re-rank) — the q102 contract entry certifies the composed pipeline
    * against the brute-force oracle that way; recall at real settings is
    * spec-tested on planted clusters.
    */
  /** Semantic group fingerprint: the pairwise cosine between GROUP CENTROIDS
    * of an embedding column — "are source A's documents about the same
    * things as source B's?", the semantic twin of the lexical
    * `Dedup.signatureOverlapMatrix`.
    *
    * Cross-engine exact by construction: components quantize to integer
    * micro-units (round is deterministic), per-group sums are exact long
    * sums (no float accumulation order), the centroid is one
    * exactly-rounded double division + round back to long, and the final
    * cosine is integer dot products with a fixed two-sqrt/one-divide tail —
    * so a SQL engine repeating the recipe hash-matches bit for bit.
    *
    * Scale: one posexplode shuffle keyed (group, pos) — dim × |corpus| thin
    * rows with map-side partial sums — then everything is |groups|-sized;
    * the pairwise compare never touches the corpus. Quantized-sum caveat:
    * beyond ~2^53/quantum rows per group the centroid division's double
    * loses integer exactness — switch the sum leg to DECIMAL there.
    */
  def centroidCosineMatrix(
      vecs: DataFrame,
      groupCol: String,
      embCol: String,
      quantum: Double = 1e6): DataFrame = {
    val cent = vecs
      .select(col(groupCol).as("g"), posexplode(col(embCol)))
      .select(col("g"), col("pos"),
        round(col("col").cast("double") * quantum).cast("long").as("q"))
      .groupBy("g", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("g"), col("pos"),
        round(col("s").cast("double") / col("n")).cast("long").as("c"))
      .groupBy("g")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
    val a = cent.select(col("g").as("g_a"), col("cent").as("__ca"))
    val b = cent.select(col("g").as("g_b"), col("cent").as("__cb"))
    a.join(broadcast(b), col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"),
        (dot(col("__ca"), col("__cb")).cast("double")
          / (sqrt(dot(col("__ca"), col("__ca")).cast("double"))
            * sqrt(dot(col("__cb"), col("__cb")).cast("double"))))
          .as("centroid_cos"))
  }

  /** Per-vector SIMPLIFIED SILHOUETTE against group centroids — the
    * cluster-quality audit for a labeled/clustered embedding corpus:
    * a = distance to the OWN group's centroid, b = distance to the nearest
    * OTHER centroid, sil = (b − a) / max(a, b) ∈ [−1e6, 1e6] micro-units.
    * Negative silhouette rows sit closer to a foreign centroid than their
    * own — mislabeled documents, drifted clusters, or stale IVF cells
    * (the audit twin of `centroidCosineMatrix`'s group fingerprint).
    *
    * Cross-engine exact: centroids quantize by the `centroidCosineMatrix`
    * recipe (integer micro-units, exact long sums, one rounded division),
    * per-row squared distances are EXACT long arithmetic, and the only
    * float ops are IEEE-exact on both engines — sqrt of an
    * exactly-representable long (correctly rounded by spec), one double
    * multiply/divide of exact integers, and a half-away-from-zero round.
    * No ulp tolerance needed anywhere, unlike the ln-based scores.
    *
    * Scale: one posexplode partial-agg shuffle for centroids, a bounded
    * |groups|×dim driver collect (the k-means-state precedent), then the
    * scoring pass is a PURE PROJECTION over a centroid literal — zero
    * shuffle, zero join, codegen-friendly, embarrassingly parallel at any
    * corpus size. Null-group rows are dropped; with a single group `b_q`
    * and `sil_x1e6` are null (no "other" centroid exists).
    */
  /** Quantized per-group centroids collected to BOUNDED driver state
    * (|groups| x dim longs — the k-means-centroid precedent): the
    * `centroidCosineMatrix` recipe with the group key canonicalized to
    * long. Shared by the silhouette/exemplar audits.
    */
  private def quantCentroids(
      rows: DataFrame,
      groupCol: String,
      embCol: String,
      quantum: Double): Array[(Long, Seq[Long])] =
    rows
      .select(col(groupCol).cast("long").as("g"), posexplode(col(embCol)))
      .select(col("g"), col("pos"),
        round(col("col").cast("double") * quantum).cast("long").as("q"))
      .groupBy("g", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("g"), col("pos"),
        round(col("s").cast("double") / col("n")).cast("long").as("c"))
      .groupBy("g")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)

  private def centroidLit(cents: Array[(Long, Seq[Long])]): Column =
    array(cents.map { case (g, v) =>
      struct(lit(g).as("g"), array(v.map(lit(_)): _*).as("cv"))
    }: _*)

  /** round(sqrt(Σ (x−c)²)) over quantized components: exact long squared
    * distance, one IEEE-exact sqrt, one deterministic round — micro-unit
    * integer distance with zero cross-engine tolerance.
    */
  private def quantDist(xq: Column, cv: Column): Column =
    round(sqrt(aggregate(
      zip_with(xq, cv, (p, q) => (p - q) * (p - q)),
      lit(0L), (acc, v) => acc + v).cast("double"))).cast("long")

  def clusterSilhouette(
      vecs: DataFrame,
      groupCol: String,
      embCol: String,
      idCol: String = "vec_id",
      quantum: Double = 1e6): DataFrame = {
    val rows  = vecs.filter(col(groupCol).isNotNull)
    val cents = quantCentroids(rows, groupCol, embCol, quantum)
    require(cents.nonEmpty, "clusterSilhouette: no non-null groups")
    val centLit = centroidLit(cents)
    val xq = transform(col(embCol),
      v => round(v.cast("double") * quantum).cast("long"))
    val dists = transform(centLit,
      c => struct(c.getField("g").as("g"),
        quantDist(col("__xq"), c.getField("cv")).as("d")))
    rows
      .select(col(idCol), col(groupCol).cast("long").as("label"), xq.as("__xq"))
      .select(col(idCol), col("label"), dists.as("__d"))
      .select(
        col(idCol),
        col("label"),
        element_at(filter(col("__d"), s => s.getField("g") === col("label")), 1)
          .getField("d").as("a_q"),
        array_min(transform(
          filter(col("__d"), s => s.getField("g") =!= col("label")),
          s => s.getField("d"))).as("b_q"))
      .select(
        col(idCol),
        col("label"),
        col("a_q"),
        col("b_q"),
        round((col("b_q") - col("a_q")).cast("double") * lit(1000000d)
          / greatest(greatest(col("a_q"), col("b_q")), lit(1L)).cast("double"))
          .cast("long").as("sil_x1e6"))
  }

  /** The `k` EXEMPLARS of each group — the rows closest to their own
    * centroid, rank 1 = closest (ties on id): prototype selection for
    * few-shot prompt seeds, cluster labeling, and eyeball audits of what
    * each source/cluster "typically" looks like.
    *
    * Same exactness recipe as `clusterSilhouette` (quantized centroids,
    * exact integer distances — zero float tolerance) and the same
    * shuffle-free scoring pass over a centroid literal; the top-k cut is
    * the bounded-heap `TopK.topKPerGroup` (shuffle ~ k x |groups| x
    * partitions, never a full per-group sort). Output: label, rnk (1..k),
    * idCol, a_q (micro-unit centroid distance).
    */
  def clusterExemplars(
      vecs: DataFrame,
      groupCol: String,
      embCol: String,
      k: Int,
      idCol: String = "vec_id",
      quantum: Double = 1e6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rows  = vecs.filter(col(groupCol).isNotNull)
    val cents = quantCentroids(rows, groupCol, embCol, quantum)
    require(cents.nonEmpty, "clusterExemplars: no non-null groups")
    val centLit = centroidLit(cents)
    val xq = transform(col(embCol),
      v => round(v.cast("double") * quantum).cast("long"))
    val scored = rows
      .select(col(idCol), col(groupCol).cast("long").as("label"), xq.as("__xq"))
      .select(col(idCol), col("label"),
        element_at(
          transform(
            filter(centLit, c => c.getField("g") === col("label")),
            c => quantDist(col("__xq"), c.getField("cv"))), 1).as("a_q"))
      .withColumn("__neg", -col("a_q")) // heap ranks DESC; closest = max neg
    TopK
      .topKPerGroup(scored, Seq("label"), "__neg", idCol, k)
      .select(col("label"), col("rnk"), col(idCol), (-col("__neg")).as("a_q"))
  }

  /** HARD-NEGATIVE mining for contrastive/retrieval training: for each
    * probe row, the `k` highest-cosine rows carrying a DIFFERENT group
    * label — near-duplicates are easy positives, random pairs are easy
    * negatives; the examples that actually train an encoder are these
    * look-alikes across the label boundary.
    *
    * Same plan shape as `bruteForceTopK` (probes broadcast, corpus never
    * shuffles, bounded-heap top-k) with the label inequality fused into
    * the join condition, so cross-label pairs are never materialized.
    * Null-label rows never pair (SQL inequality semantics), and zero-norm
    * / non-finite vectors are dropped on both sides (the `ivfPqTopK`
    * guard): a degenerate vector has no cosine, and under ANSI mode its
    * 0/0 would throw rather than rank. This is the exact baseline; at
    * corpus scale route the candidate generation through `ivfTopK`'s
    * partition-pruned index and post-filter labels — same contract,
    * sublinear probes.
    *
    * Output: probe_id, rnk (1..k), neighbor_id, cos.
    */
  def hardNegatives(
      emb: DataFrame,
      probePred: Column,
      groupCol: String,
      k: Int): DataFrame = {
    val n2c = norm2(col("embedding"))
    val withN2 = emb
      .filter(n2c > 0 && !isnan(n2c) && n2c < Double.PositiveInfinity)
      .select(
        col("vec_id"), col(groupCol).as("__g"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("n2"))
    val probes = withN2
      .filter(probePred)
      .select(
        col("vec_id").as("probe_id"),
        col("__g").as("__pg"),
        col("embedding").as("p_emb"),
        col("n2").as("p_n2"))
    val pairs = withN2
      .join(broadcast(probes),
        col("vec_id") =!= col("probe_id") && col("__g") =!= col("__pg"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        cosine(dot(col("p_emb"), col("embedding")), col("p_n2"), col("n2")).as("cos"))
    topKNeighbors(pairs, k)
  }

  def ivfPqTopK(
      emb: DataFrame,
      probePred: Column,
      k: Int,
      ncells: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      kCodes: Int = 16,
      shortlist: Int = 64,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(nprobe >= 1 && nprobe <= ncells, s"need 1 <= nprobe ($nprobe) <= ncells ($ncells)")
    val cb    = codebooks.getOrElse(pqCodebooks(emb, m, kCodes))
    val cents = seedCentroids(emb, ncells)
    val n2c   = norm2(col("embedding"))
    val withN2 = emb
      .filter(n2c > 0 && !isnan(n2c) && n2c < Double.PositiveInfinity)
      .select(col("vec_id"), col("embedding"), n2c.as("n2"))
    // corpus: nearest cell + PQ codes in one pass, then embeddings drop
    val codes = assignCells(withN2, cents, 1)
      .select(col("vec_id"), col("cell_id"),
        pqCodesExpr(cb, sqrt(col("n2"))).as("codes"))
    // probes: nprobe nearest cells each, ADC table repeated per probed cell
    // (the duplication costs nothing — the probe side is tiny and broadcast)
    val probes = assignCells(withN2.filter(probePred), cents, nprobe)
      .select(
        col("vec_id").as("probe_id"),
        col("cell_id").as("__pcell"),
        adcTableExpr(cb, sqrt(col("n2"))).as("__table"))
    val adc = codes
      .join(broadcast(probes),
        col("cell_id") === col("__pcell") && col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        negAdcExpr(cb.length).as("neg_adc"))
    val short = TopK
      .topKPerGroup(adc, Seq("probe_id"), "neg_adc", "neighbor_id", shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    exactRerank(short, emb, probePred, k)
  }

  /** Embedding-space decontamination — the semantic companion to the
    * n-gram tiers (`Corpus.contamination*`): an eval item paraphrased into
    * the training set shares almost no 8-gram with its source, but its
    * embedding still sits within cosine τ of the eval embedding. This op
    * flags every training vector whose max cosine against ANY eval vector
    * reaches the threshold — the last decontamination gate a pipeline
    * runs before a corpus ships as training data.
    *
    * Scale shape — the one honest plan at 100 TB: the eval side is
    * BROADCAST (eval benchmarks are small by construction — 10³–10⁵
    * rows; `require`d non-empty AND within `maxEval` rows, zero-norm
    * eval rows dropped up front — the documented envelope is ENFORCED,
    * not trusted: a caller accidentally feeding a corpus as the eval
    * side would otherwise OOM the broadcast, and the refusal message
    * names the fix the way kmeansCentroids' does; raise `maxEval`
    * deliberately if a genuinely bigger benchmark release must gate),
    * the training side is scanned ONCE with the per-pair cosine computed
    * against the broadcast copy (no shuffle of train data, no ANN index
    * needed — brute force against a broadcast eval IS the exact answer at
    * eval-set sizes), and the per-train max collapses map-side into one
    * partial-agg shuffle of (id, max) rows. An IVF index would only
    * approximate the same result while paying an index build.
    *
    * max over doubles is order-independent and the per-pair cosine folds
    * in a fixed component order (`dot` is the native loop; DuckDB's
    * list_reduce replays it bit for bit), so the floored micro-unit
    * max_cos is engine-stable. Train rows with a zero-norm embedding get
    * a NULL max_cos and count as clean (no direction to match on).
    *
    * Output: idCol, max_cos_x1e6 (floor(max cos · 1e6); floor, not
    * round — Spark and DuckDB disagree on negative half-cases),
    * contaminated (max_cos_x1e6 ≥ tauX1e6).
    */
  def embedContamination(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      tauX1e6: Long,
      maxEval: Long = 100000L): DataFrame = {
    require(maxEval >= 1, s"maxEval must be >= 1, got $maxEval")
    val ev = evalSet
      .select(col(vecCol).as("__e_emb"), dot(col(vecCol), col(vecCol)).as("__e_n2"))
      .filter(col("__e_n2") > 0.0)
    // one bounded count probe replaces the old isEmpty probe (same single
    // extra job) and enforces the broadcast envelope instead of trusting it
    val nEval = ev.limit((maxEval + 1).min(Int.MaxValue.toLong).toInt).count()
    require(nEval > 0,
      "embedContamination: the eval set is EMPTY (or all zero-norm) — " +
        "nothing to decontaminate against; an empty gate passing every row " +
        "as clean would be a silent no-op, not a decision")
    require(nEval <= maxEval,
      s"embedContamination: eval set exceeds maxEval=$maxEval non-zero-norm " +
        "rows — the eval side is BROADCAST (the honest exact plan at " +
        "benchmark sizes) and a corpus-sized eval frame would OOM it; gate " +
        "against the pinned benchmark release, or raise maxEval deliberately " +
        "if this eval set is genuinely that large")
    train
      .select(col(idCol), col(vecCol).as("__t_emb"),
        dot(col(vecCol), col(vecCol)).as("__t_n2"))
      .crossJoin(broadcast(ev))
      .groupBy(col(idCol))
      .agg(max(when(col("__t_n2") > 0.0,
        cosine(dot(col("__t_emb"), col("__e_emb")), col("__t_n2"), col("__e_n2"))))
        .as("__mc"))
      .select(
        col(idCol),
        floor(col("__mc") * lit(1000000.0)).cast("long").as("max_cos_x1e6"),
        coalesce(floor(col("__mc") * lit(1000000.0)).cast("long") >= tauX1e6,
          lit(false)).as("contaminated"))
  }
}
