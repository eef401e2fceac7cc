package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Trained principal components of an embedding column: eigenvalues,
  * orthonormal axes, mean — descending by explained variance.
  *
  * `components(c)` is the c-th axis (length `dim`); `eigenvalues(c)` is the
  * population variance along it.
  */
final case class PcaModel(
    nRows: Long,
    mean: Array[Double],
    eigenvalues: Array[Double],
    components: Array[Array[Double]]) {
  def dim: Int = mean.length
}

/** Principal component analysis over embedding columns — the DATA-TRAINED
  * twin of the fixed-hyperplane `randomProject` JL reduction: axes come from
  * the corpus's own covariance, so k PCA components capture the most
  * variance any k-dim linear map can (optimal for the same
  * storage/compute cut before IVF/LSH/PQ), and whitening equalizes
  * per-axis scale so cosine thresholds mean the same thing in every
  * direction.
  *
  * Scale shape:
  *  - `fit` is ONE corpus pass through a mergeable moment Aggregator
  *    (count + d sums + d(d+1)/2 upper-triangular product sums) with
  *    map-side partial aggregation — the only thing that crosses an
  *    exchange is one buffer per partition, never a row. The buffer is
  *    8 * d(d+1)/2 bytes PER PARTIAL, merged up the tree: ≈ 17 KB at d=64,
  *    ≈ 264 KB at d=256, ≈ 4.2 MB at d=1024, ≈ 67 MB at the enforced
  *    ceiling d=4096 — beyond that a quadratic-in-d driver/exchange buffer
  *    stops being a rounding error, so `fit` REFUSES dim > 4096 rather
  *    than degrade silently (at those widths reduce dimensionality first:
  *    `randomProject` is the linear-memory path). The d x d
  *    eigendecomposition runs on the driver (cyclic Jacobi — d is the
  *    EMBEDDING dimension, 64–1024 in practice, never the corpus size).
  *  - `project` folds centering into constants: out[c] = <x, W_c> - <mean,
  *    W_c>, so each component is one native `VecDotExpr` loop against a
  *    literal axis — pure per-row projection, zero shuffle, no interpreted
  *    higher-order functions (the mean-subtraction zip_with a naive
  *    spelling would pay per row is precomputed on the driver).
  *  - `pcaTopK` is the ANN composition: shortlist per probe by projected
  *    L2 (a broadcast of the tiny probe side + the bounded-heap TopK — the
  *    pqTopK shape with PCA scores instead of ADC), exact cosine re-rank
  *    in the original space. With kcomp = dim and shortlist >= corpus the
  *    result is EXACT (brute-force order) — the q173 contract entry
  *    certifies the fit/project/shortlist/re-rank pipeline against the q25
  *    oracle that way; recall under real truncation is spec-tested on
  *    planted clusters.
  *
  * Moment sums accumulate in doubles (partial-merge order is not fixed, so
  * the model is deterministic only to FP-merge noise ~1e-12 — harmless: all
  * certified consumers exact-re-rank). `gramQuantized` is the
  * cross-engine-EXACT diagnostic form of the same moments (integer
  * micro-unit sums, the `centroidCosineMatrix` recipe) that q172 certifies
  * against DuckDB; its long-product envelope (n * (quantum * |x|)^2 within
  * int64) is a diagnostic-scale bound, not a corpus bound — `fit` is the
  * 100-TB path.
  */
object Pca {

  /** Hard ceiling on the embedding dimension `fit` accepts — the moment
    * buffer is quadratic in d (8 * d(d+1)/2 bytes per partial).
    */
  val MaxDim: Int = 4096

  /** (count, per-dim sums, upper-triangular product sums) — exactly the
    * moments covariance needs, mergeable by elementwise addition.
    */
  final case class Moments(var n: Long, var sum: Array[Double], var prod: Array[Double])

  private final class MomentAgg(unitNorm: Boolean)
      extends Aggregator[Array[Float], Moments, Moments] {
    override def zero: Moments = Moments(0L, Array.empty, Array.empty)

    override def reduce(b: Moments, row: Array[Float]): Moments = {
      if (row == null) return b
      val d = row.length
      var inv = 1.0
      if (unitNorm) {
        var s = 0.0; var i = 0
        while (i < d) { s += row(i).toDouble * row(i).toDouble; i += 1 }
        if (s == 0.0 || java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) return b
        inv = 1.0 / math.sqrt(s)
      }
      if (b.n == 0L && b.sum.isEmpty) {
        // documented refusal (see object doc): the moment buffer is
        // d(d+1)/2 doubles per partial — quadratic in d, ~67 MB at 4096
        require(d <= Pca.MaxDim,
          s"Pca.fit: embedding dimension $d exceeds the supported ${Pca.MaxDim} " +
            s"(moment buffer is 8*d(d+1)/2 bytes per partial — reduce with randomProject first)")
        b.sum = new Array[Double](d)
        b.prod = new Array[Double](d * (d + 1) / 2)
      }
      require(
        b.sum.length == d,
        s"pca fit: embedding dimension changed mid-corpus (${b.sum.length} vs $d)")
      var i = 0
      while (i < d) {
        val xi = row(i).toDouble * inv
        b.sum(i) += xi
        // upper-triangular offset for row i: i*d - i*(i+1)/2 + j
        val base = i * d - i * (i + 1) / 2
        var j = i
        while (j < d) {
          b.prod(base + j) += xi * (row(j).toDouble * inv)
          j += 1
        }
        i += 1
      }
      b.n += 1L
      b
    }

    override def merge(a: Moments, b: Moments): Moments = {
      if (a.n == 0L) return b
      if (b.n == 0L) return a
      require(
        a.sum.length == b.sum.length,
        s"pca fit: merging moment buffers of different dims (${a.sum.length} vs ${b.sum.length})")
      var i = 0
      while (i < a.sum.length) { a.sum(i) += b.sum(i); i += 1 }
      i = 0
      while (i < a.prod.length) { a.prod(i) += b.prod(i); i += 1 }
      a.n += b.n
      a
    }

    override def finish(r: Moments): Moments          = r
    override def bufferEncoder: Encoder[Moments]      = Encoders.kryo[Moments]
    override def outputEncoder: Encoder[Moments]      = Encoders.kryo[Moments]
  }

  /** Train a full-rank model: one moment pass + driver Jacobi on the d x d
    * population covariance. Rows with non-finite components are excluded
    * (the `pqEncode` degenerate-row rule); zero vectors participate unless
    * `unitNorm` is set. With `unitNorm = true` the moments are those of the
    * DIRECTION cloud x/|x| (zero/degenerate vectors drop) — the model to
    * use when downstream ranking is by cosine, where projected L2 between
    * unit vectors is sqrt(2 - 2 cos) and truncation keeps cosine order.
    */
  def fit(emb: DataFrame, embCol: String = "embedding", unitNorm: Boolean = false): PcaModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n2 = Similarity.norm2(col(embCol))
    val m = emb
      .filter(col(embCol).isNotNull && !isnan(n2) && n2 < Double.PositiveInfinity)
      .select(col(embCol))
      .as[Array[Float]]
      .select(new MomentAgg(unitNorm).toColumn)
      .head()
    require(m.n > 0L, "pca fit: no finite embedding rows")
    val d    = m.sum.length
    val mean = Array.tabulate(d)(i => m.sum(i) / m.n)
    val cov  = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      val base = i * d - i * (i + 1) / 2
      var j = i
      while (j < d) {
        val c = m.prod(base + j) / m.n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    val (vals, vecs) = symEigen(cov)
    PcaModel(m.n, mean, vals, vecs)
  }

  /** Projection of `embCol` (ARRAY<FLOAT> or ARRAY<DOUBLE>) onto the first
    * `kcomp` axes as ARRAY<DOUBLE>. Centering is folded into per-component
    * constants (<x - mean, W> = <x, W> - <mean, W>), so each component is
    * one native dot against a literal axis — no per-row mean array, no
    * interpreted lambdas. `whiten = true` divides component c by
    * sqrt(eigenvalue_c) (variance-1 axes; degenerate eigenvalues clamp to
    * 1e-12 x the spectrum head so a constant direction maps near zero
    * instead of exploding).
    */
  def projectCol(
      embCol: Column,
      model: PcaModel,
      kcomp: Int,
      whiten: Boolean = false,
      invNorm: Option[Column] = None): Column = {
    require(
      kcomp >= 1 && kcomp <= model.dim,
      s"kcomp must be in [1, ${model.dim}], got $kcomp")
    val head = math.max(model.eigenvalues.headOption.getOrElse(0.0), 0.0)
    array((0 until kcomp).map { c =>
      val w     = model.components(c)
      val meanW = {
        var s = 0.0; var i = 0
        while (i < model.dim) { s += model.mean(i) * w(i); i += 1 }
        s
      }
      val scale =
        if (!whiten) 1.0
        else 1.0 / math.sqrt(math.max(model.eigenvalues(c), math.max(head, 1.0) * 1e-12))
      val dotW = Similarity.dot(embCol, array(w.map(lit).toIndexedSeq: _*))
      // <x/|x|, W> = <x, W> * (1/|x|): normalization rides the scalar dot,
      // never materializing a normalized array (no per-row HOF)
      val scaled = invNorm.map(inv => dotW * inv).getOrElse(dotW)
      (scaled - lit(meanW)) * lit(scale)
    }.toIndexedSeq: _*)
  }

  def project(
      df: DataFrame,
      model: PcaModel,
      kcomp: Int,
      embCol: String = "embedding",
      outCol: String = "pca",
      whiten: Boolean = false): DataFrame =
    df.withColumn(outCol, projectCol(col(embCol), model, kcomp, whiten))

  /** PCA-shortlisted top-k cosine search: project corpus + probes to
    * `kcomp` trained axes, per-probe projected-L2 shortlist (broadcast
    * probe side, bounded-heap TopK — candidates never shuffle), exact
    * cosine re-rank in the ORIGINAL space. With kcomp = dim the projection
    * is a rotation of the centered space (L2-exact shortlist); with
    * shortlist >= corpus the whole result collapses to brute-force order —
    * q173's certification setting.
    */
  def pcaTopK(
      emb: DataFrame,
      probePred: Column,
      k: Int,
      kcomp: Int,
      shortlist: Int = 64,
      whiten: Boolean = false,
      model: Option[PcaModel] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val n2c = Similarity.norm2(col("embedding"))
    val finite =
      emb.filter(n2c > 0 && !isnan(n2c) && n2c < Double.PositiveInfinity)
    // model + projection live on the DIRECTION cloud x/|x|: projected L2
    // between unit vectors is sqrt(2 - 2 cos), so the shortlist order
    // tracks the cosine the re-rank scores (raw-space L2 would not)
    val mdl  = model.getOrElse(fit(finite, unitNorm = true))
    val inv  = Some(lit(1.0) / sqrt(Similarity.norm2(col("embedding"))))
    val proj = projectCol(col("embedding"), mdl, kcomp, whiten, invNorm = inv)
    val corpus = finite
      .select(col("vec_id"), proj.as("p"))
      .select(col("vec_id"), col("p"), Similarity.norm2(col("p")).as("n2"))
    val probes = finite
      .filter(probePred)
      .select(col("vec_id").as("probe_id"), proj.as("pp"))
      .select(col("probe_id"), col("pp"), Similarity.norm2(col("pp")).as("pp_n2"))
    val pairs = corpus
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("vec_id").as("neighbor_id"),
        (Similarity.dot(col("p"), col("pp")) * 2 - col("n2") - col("pp_n2")).as("neg_d2"))
    val short = TopK
      .topKPerGroup(pairs, Seq("probe_id"), "neg_d2", "neighbor_id", shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    Similarity.exactRerank(short, emb, probePred, k)
  }

  /** Cross-engine-EXACT raw moments: components quantize to integer
    * `quantum`-units (round half away from zero — both engines' rule), and
    * every output cell is an exact integer sum, so a SQL engine repeating
    * the recipe hash-matches bit for bit. Output: one row per unordered
    * index pair i <= j with the product sum plus both marginal sums and the
    * row count — everything covariance needs, exactly.
    *
    * Shape: per-row upper-triangular pair explode (d(d+1)/2 thin rows per
    * vector) into a d^2-group partial-aggregated groupBy — the certified
    * DIAGNOSTIC form; `fit`'s constant-size moment buffer is the corpus
    * path. Envelope: n x (quantum x max|x|)^2 must stay inside int64.
    */
  def gramQuantized(
      emb: DataFrame,
      embCol: String = "embedding",
      quantum: Double = 1e6): DataFrame = {
    require(quantum > 0 && !quantum.isInfinity,
      s"quantum must be positive and finite, got $quantum")
    val q = emb
      .filter(col(embCol).isNotNull)
      .select(
        transform(col(embCol), x => round(x.cast("double") * quantum).cast("long")).as("qe"))
    // upper-triangular product sums per (i, j): d(d+1)/2 groups, bounded by
    // the embedding DIMENSION, never the corpus; cnt_cells is this half's
    // own row count, beside the dims half's n_rows
    val cells = q
      .select(col("qe"), posexplode(col("qe")).as(Seq("i", "vi")))
      .select(
        col("i"),
        col("vi"),
        posexplode(slice(col("qe"), col("i") + 1, size(col("qe")) - col("i")))
          .as(Seq("jp", "vj")))
      .select(col("i"), (col("i") + col("jp")).as("j"), (col("vi") * col("vj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sum_prod"), count(lit(1)).as("cnt_cells"))
    // per-dimension sums + row count: d groups
    val dims = q
      .select(posexplode(col("qe")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
    cells
      .join(dims.select(col("i"), col("s").as("sum_i"), col("cnt").as("n_rows")), Seq("i"))
      .join(dims.select(col("i").as("j"), col("s").as("sum_j")), Seq("j"))
      .select(
        col("i"), col("j"), col("sum_prod"), col("sum_i"), col("sum_j"), col("n_rows"),
        col("cnt_cells"))
  }

  /** Eigendecomposition of a symmetric matrix by cyclic Jacobi rotations
    * (Golub & Van Loan §8.5): returns (eigenvalues descending, eigenvectors
    * as ROWS, orthonormal, sign-normalized so each vector's
    * largest-magnitude component is positive — ties by lowest index). d is
    * the embedding dimension; O(d^3) per sweep on the driver is microseconds
    * at d <= 1024.
    */
  private[graft] def symEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var scaleRef = 0.0
    var di       = 0
    while (di < d) { scaleRef += math.abs(a(di)(di)); di += 1 }
    val eps = 1e-30 * (scaleRef * scaleRef + 1.0)
    var sweep = 0
    while (sweep < 64 && off() > eps) {
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val tau = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (tau >= 0) 1.0 / (tau + math.sqrt(1.0 + tau * tau))
              else 1.0 / (tau - math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = t * c
            var i = 0
            while (i < d) { // column rotation: A <- A J
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) { // row rotation: A <- J^T A
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) { // accumulate eigenvectors (columns of V)
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals  = order.map(i => a(i)(i)).toArray
    val vecs = order.map { c =>
      val col = Array.tabulate(d)(i => v(i)(c))
      var arg = 0; var best = 0.0
      var i = 0
      while (i < d) { if (math.abs(col(i)) > best) { best = math.abs(col(i)); arg = i }; i += 1 }
      if (col(arg) < 0) { var j = 0; while (j < d) { col(j) = -col(j); j += 1 } }
      col
    }.toArray
    (vals, vecs)
  }
}
