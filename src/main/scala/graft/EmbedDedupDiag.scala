package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Auto-band ladder diagnostic for the embedding dedup path (q91) — the
  * committed, re-runnable adjudication of its scaling-curve shape: for
  * each requested replica factor it rebuilds the Soak curve's replicated
  * embeddings IN MEMORY (same construction: vec_id shift + per-replica
  * +i·1e-3 component perturbation, so replicas of one base vector are
  * mutual near-dups), then prints one JSON line per point with everything
  * a skeptic needs to check a curve step against `soak_scaling.json`:
  *
  *  - `rung` / `n_bands`: the `Similarity.effectiveBandBits` pick at that
  *    corpus count (the ladder is deterministic in (bits, n));
  *  - `buckets` / `max_bucket` / `cand_pairs`: band-bucket occupancy and
  *    the candidate volume Σ C(c,2) (oversized buckets counted at their
  *    star-to-min cut, mirroring Dedup.bandCandidates' guard);
  *  - `true_pairs`: verified pairs at the q91 threshold (the OUTPUT term —
  *    replicas make it grow ~(r/r')² per scale step by construction);
  *  - `mine_sec` / `cc_sec`: isolated wall time of the pair mine and of
  *    the full q91 tail (CC + survivors).
  *
  * Usage: sbt "runMain graft.EmbedDedupDiag [replicas,...]"
  * (default 10,20,40 — the three points of the round-13 q91 step).
  */
object EmbedDedupDiag {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(10, 20, 40))
    val src   = sys.env.getOrElse("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    Bench.quietBenignNoise()
    val emb    = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1

    replicas.foreach { r =>
      val big = (0 until r).map { i =>
        emb.select(
          (col("vec_id") + lit(i * maxVec)).as("vec_id"),
          transform(col("embedding"), x => x + lit(i * 1e-3f)).as("embedding"))
      }.reduce(_ unionAll _).repartition(32).localCheckpoint(true)
      val n     = big.count()
      val bits  = 60
      val d     = Similarity.effectiveBandBits(bits, n)
      val bands = bits / d
      val mask  = (1L << d) - 1

      // band-bucket occupancy under the picked rung (public pieces only)
      val sig = big.select(
        col("vec_id"),
        Similarity.vecSimHash(col("embedding"), bits).as("__sig"))
      val occ = sig
        .select(col("vec_id"), explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * d).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("bb"))
        .groupBy(col("bb.band"), col("bb.key"))
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("buckets"),
          max(col("c")).as("max_bucket"),
          // candidate volume: full C(c,2) under the guard, star (c-1) over it
          sum(when(col("c") <= 4096, expr("(c * (c - 1)) div 2"))
            .otherwise(col("c") - 1)).as("cand_pairs"))
        .head()

      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
      }
      val (truePairs, mineSec) = timed {
        Similarity.embedNearDupPairs(big, "vec_id", "embedding", threshold = 0.45).count()
      }
      val (survivors, ccSec) = timed {
        val pairs = Similarity.embedNearDupPairs(big, "vec_id", "embedding", threshold = 0.45)
        Dedup.ccNearDedupRowsFromLabels(big, "vec_id",
          Dedup.connectedComponents(pairs)).count()
      }
      println(
        s"""{"replicas":$r,"n":$n,"rung":$d,"n_bands":$bands,""" +
          s""""buckets":${occ.getLong(0)},"max_bucket":${occ.getLong(1)},""" +
          s""""cand_pairs":${occ.getLong(2)},"true_pairs":$truePairs,""" +
          s""""survivors":$survivors,"mine_sec":${f"$mineSec%.1f"},"cc_sec":${f"$ccSec%.1f"}}""")
    }
    spark.stop()
  }
}
