package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one size gate in front of every graph loop (`LinkGraph.propagate`,
  * `LinkGraph.hits`, `LinkGraph.labelPropagation`,
  * `Dedup.connectedComponents`). A graph of at most `MaxEdges` edge rows
  * fits one core ("Scalability! But at what COST?", McSherry et al.,
  * HotOS 2015): the operator collects its edge list once and runs its
  * exact integer recurrence in plain Scala on the driver, with no
  * per-round job, then returns a local DataFrame with the distributed
  * path's columns, types and rows. Above the gate the distributed rounds
  * run. The rows counted are those of the operator's checkpointed edge
  * frame. The driver side does its work when the operator is called, not
  * when the returned frame is used.
  *
  * Why 2^17 is a memory bound, not a time crossover: the driver side was
  * faster at every size measured, 4-6x in wall time up to 2^20 edges
  * (local[2] on a 4-core host; the sf0.1 chain graph's 293,924 edges:
  * propagate 0.28 s against 1.36 s, hits 0.30 against 2.19, LPA 0.54
  * against 2.61, CC 0.63 against 3.47). The collected rows cost ~100
  * bytes each on the driver (13 MB at 2^17, 105 MB at 2^20), and 2^17 is
  * the bound CC's driver fallback already held. It also keeps the sf0.1
  * chain graph on the distributed rounds, which the sf0.1 oracle cells
  * certify end to end. Above the gate its job costs about a `count()` of
  * the edges (0.12 s against 0.10 s at sf0.1).
  */
private[operators] object SmallGraph {

  /** Edge rows at or below which a graph loop runs on the driver. */
  val MaxEdges: Int = 1 << 17

  /** What a graph loop asks of the gate: the edge rows to iterate on the
    * driver, or None for the distributed rounds. */
  type Gate = DataFrame => Option[Array[Row]]

  /** `edges`' rows when there are at most `MaxEdges` of them, else None.
    * One Spark job either way: a single task reads the partitions in turn
    * and stops after `MaxEdges + 1` rows, so a large graph ships no more
    * than that to the driver.
    */
  val collect: Gate = { edges =>
    val rows = edges.coalesce(1).limit(MaxEdges + 1).collect()
    if (rows.length <= MaxEdges) Some(rows) else None
  }

  /** The gate that always answers None: the distributed rounds at any size
    * (the package-private `*Distributed` entry points specs compare with). */
  val never: Gate = _ => None

  /** A driver-side result as a local DataFrame of nullable long columns. */
  def frame(like: DataFrame, cols: Seq[String], rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(
      rows.asJava, StructType(cols.map(StructField(_, LongType, nullable = true))))

  /** Long `+` and `*` as Spark evaluates them in `like`'s session: under
    * ANSI through Spark's own `MathUtils`, so an overflow raises the
    * SparkArithmeticException a distributed `sum` or `*` raises; otherwise
    * the value wraps. */
  def longs(like: DataFrame): Longs = new Longs(like.sparkSession.sessionState.conf.ansiEnabled)

  final class Longs(ansi: Boolean) {
    def add(a: Long, b: Long): Long = if (ansi) MathUtils.addExact(a, b) else a + b
    def mul(a: Long, b: Long): Long = if (ansi) MathUtils.multiplyExact(a, b) else a * b
  }

  /** Dense node indexes 0..size-1 for the non-null ids of collected edge
    * rows, in first-seen order; a null endpoint indexes as -1. */
  final class Nodes {
    private val index = scala.collection.mutable.LongMap.empty[Int]
    private val ids   = scala.collection.mutable.ArrayBuffer.empty[Long]
    def apply(r: Row, i: Int): Int =
      if (r.isNullAt(i)) -1
      else {
        val v = r.getLong(i)
        index.getOrElseUpdate(v, { ids += v; ids.length - 1 })
      }
    def size: Int        = ids.length
    def id(k: Int): Long = ids(k)
  }
}
