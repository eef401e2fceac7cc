package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** PCA laws: the Jacobi solver reproduces hand eigensystems, fitted
  * components are orthonormal with descending variance, the full-rank
  * projection is a rotation of the centered cloud (L2-exact, perfectly
  * reconstructable), whitening gives unit variance per axis, the trained
  * axes beat storage-equal truncation baselines on planted structure, and
  * the full-rank/full-shortlist pcaTopK collapses to brute force exactly.
  */
class PcaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  private def syntheticRows(n: Int, d: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    // anisotropic cloud: big spread on axis 0, medium on 1, noise elsewhere
    (0 until n).map { i =>
      val v = Array.tabulate(d) { j =>
        val sd = if (j == 0) 10.0 else if (j == 1) 3.0 else 0.3
        (rnd.nextGaussian() * sd + (if (j == 0) 5.0 else 0.0)).toFloat
      }
      (i.toLong, v)
    }
  }

  test("symEigen reproduces a hand 3x3 eigensystem") {
    val m = Array(
      Array(2.0, 1.0, 0.0),
      Array(1.0, 2.0, 0.0),
      Array(0.0, 0.0, 5.0))
    val (vals, vecs) = Pca.symEigen(m)
    assert(vals.zip(Seq(5.0, 3.0, 1.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val s2 = 1.0 / math.sqrt(2.0)
    def close(a: Array[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 }
    assert(close(vecs(0), Seq(0.0, 0.0, 1.0)))
    assert(close(vecs(1), Seq(s2, s2, 0.0)))
    assert(close(vecs(2), Seq(s2, -s2, 0.0))) // sign: largest component positive
  }

  test("fit: orthonormal components, descending eigenvalues, dominant axes found") {
    import spark.implicits._
    val df = syntheticRows(400, 8, seed = 7).toDF("vec_id", "embedding")
    val m  = Pca.fit(df)
    assert(m.nRows === 400L && m.dim === 8)
    for (i <- 0 until 8; j <- i until 8) {
      val dot = (0 until 8).map(k => m.components(i)(k) * m.components(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"orthonormality ($i,$j)")
    }
    assert(m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(m.eigenvalues.forall(_ >= -1e-9))
    // the top axis is (close to) e0, second (close to) e1
    assert(math.abs(m.components(0)(0)) > 0.98)
    assert(math.abs(m.components(1)(1)) > 0.98)
    // the first two components capture > 95 % of the total variance
    assert(m.eigenvalues.take(2).sum / m.eigenvalues.sum > 0.95)
    assert(math.abs(m.mean(0) - 5.0) < 1.5) // sample mean of N(5, 10)
  }

  test("full-rank projection preserves pairwise L2 and reconstructs exactly") {
    import spark.implicits._
    val rows = syntheticRows(60, 6, seed = 11)
    val df   = rows.toDF("vec_id", "embedding")
    val m    = Pca.fit(df)
    val proj = Pca
      .project(df, m, kcomp = 6)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("pca").toArray)
      .toMap
    val orig = rows.toMap
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (i <- 0L until 10L; j <- (i + 1) until 20L) {
      val dOrig = l2(orig(i).map(_.toDouble), orig(j).map(_.toDouble))
      assert(math.abs(l2(proj(i), proj(j)) - dOrig) < 1e-6 * (1 + dOrig), s"rotation ($i,$j)")
    }
    // x == mean + sum_c proj[c] * W_c at full rank
    orig.take(20).foreach { case (id, x) =>
      val rec = Array.tabulate(6)(k =>
        m.mean(k) + (0 until 6).map(c => proj(id)(c) * m.components(c)(k)).sum)
      x.zip(rec).foreach { case (xv, rv) => assert(math.abs(xv - rv) < 1e-6) }
    }
  }

  test("whitened projection has unit variance per axis") {
    import spark.implicits._
    val df = syntheticRows(500, 5, seed = 3).toDF("vec_id", "embedding")
    val m  = Pca.fit(df)
    val v = Pca
      .project(df, m, kcomp = 3, whiten = true)
      .select(posexplode(col("pca")).as(Seq("c", "x")))
      .groupBy("c")
      .agg((sum(col("x") * col("x")) / count(lit(1))).as("variance"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    (0 until 3).foreach(c => assert(math.abs(v(c) - 1.0) < 1e-6, s"axis $c variance ${v(c)}"))
  }

  test("pcaTopK full rank + full shortlist == brute force, bit for bit") {
    val e     = Tables.embeddings(spark, sfDir)
    val probe = col("vec_id") < 5
    val exact = Similarity
      .bruteForceTopK(e, probe, k = 10)
      .select("probe_id", "rnk", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val got = Pca
      .pcaTopK(e, probe, k = 10, kcomp = 64, shortlist = 1 << 20)
      .select("probe_id", "rnk", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(got === exact)
  }

  test("truncated pcaTopK keeps high recall on planted clusters") {
    // 8 well-separated centers in 64-d, 25 points each: the cluster
    // structure spans <= 9 dims, so 8 trained axes keep every probe's true
    // neighborhood inside the shortlist and the exact re-rank restores
    // brute-force order. (The driver's synthetic embeddings table is
    // ISOTROPIC — flat spectrum, nothing for PCA to keep — so recall under
    // truncation is certified on data that has structure, the same planted
    // protocol as the PQ/IVF specs.)
    import spark.implicits._
    val rnd     = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5.0))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, Array.tabulate(64)(j => (c(j) + rnd.nextGaussian() * 0.4).toFloat))
    }
    val e     = rows.toDF("vec_id", "embedding")
    val probe = col("vec_id") < 5
    val exact = Similarity
      .bruteForceTopK(e, probe, k = 10)
      .select("probe_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = Pca
      .pcaTopK(e, probe, k = 10, kcomp = 8, shortlist = 32)
      .select("probe_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall")
  }

  test("gramQuantized matches driver-computed integer moments exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.25f, -1.5f, 2.0f)),
      (2L, Array(1.0f, 0.5f, -0.75f)),
      (3L, Array(-2.0f, 3.25f, 0.0f)))
    val df  = rows.toDF("vec_id", "embedding")
    val q   = rows.map(_._2.map(x => math.round(x.toDouble * 1e6)))
    val got = Pca
      .gramQuantized(df)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    for (i <- 0 until 3; j <- i until 3) {
      val sp = q.map(v => v(i) * v(j)).sum
      val si = q.map(v => v(i)).sum
      val sj = q.map(v => v(j)).sum
      // last field: cnt_cells, the cells half's own row count (= n_rows
      // whenever the pair came from the same drained input)
      assert(got((i, j)) === ((sp, si, sj, 3L, 3L)), s"cell ($i,$j)")
    }
    assert(got.size === 6)
  }

  test("fit refuses dim > MaxDim — the quadratic moment-buffer envelope is a documented refusal") {
    val spark2 = spark
    import spark2.implicits._
    val wide = Seq.fill(3)((1L, Array.fill(Pca.MaxDim + 1)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Throwable] { Pca.fit(wide) }
    def all(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ all(t.getCause)
    assert(all(e).exists(_.contains("exceeds the supported")),
      s"expected the MaxDim refusal, got: ${all(e).mkString(" | ")}")
  }
}
