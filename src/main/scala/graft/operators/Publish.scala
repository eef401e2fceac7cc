package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Audited dataset publication: a corpus export is only trustworthy if the
  * reader can PROVE it got the bytes the writer meant — at 100 TB a lost
  * task file, a half-replaced directory, or a stray extra part file is
  * silent row loss/duplication that no schema check catches.
  *
  * `publish` writes the parquet data, then re-reads WHAT LANDED and stamps
  * a `_MANIFEST.json` with the row count and an order-independent content
  * checksum (sum of per-row xxhash64 over all columns, mod a prime — the
  * same commutative-signature trick the star-CC fixpoint test uses, so the
  * checksum is independent of partitioning and row order). `validate`
  * recomputes both from the files and compares. The manifest write is the
  * LAST step, so a crashed publish leaves no manifest — unvalidatable, not
  * silently wrong.
  *
  * The audit read-back is a deliberate second scan (the cost of proof);
  * both scans are plain distributed jobs, nothing driver-sized anywhere.
  */
object Publish {

  /** count + order/partitioning-independent content checksum. */
  case class Manifest(rows: Long, checksum: Long)

  private val P = graft.functions.PolyHashExpr.P

  private def signature(df: DataFrame): Manifest = {
    import org.apache.spark.sql.types.DecimalType
    // xxhash64 SKIPS null arguments (the seed-chained accumulator passes
    // through unchanged), so rows differing only in WHICH column is null —
    // (null, "x") vs ("x", null) — would hash identically. Interleaving an
    // isNull flag (itself never null) before every column keeps the hashed
    // argument stream distinct per null pattern.
    val rowHash =
      xxhash64(df.columns.flatMap(c => Seq(col(c).isNull.cast("int"), col(c))): _*)
    // Each term is < P (~1e9); a LongType SUM overflows past ~9.2e9 rows —
    // inside this module's own 100 TB design point, and under ANSI mode the
    // overflow THROWS instead of wrapping. Accumulate in DECIMAL(38,0)
    // (headroom to ~1e29 rows) and fold back mod P at the end.
    val dec = DecimalType(38, 0)
    val r = df
      .agg(
        count(lit(1)).as("n"),
        coalesce(
          pmod(sum(pmod(rowHash, lit(P)).cast(dec)), lit(P).cast(dec)).cast("long"),
          lit(0L)).as("h"))
      .head()
    Manifest(r.getLong(0), r.getLong(1))
  }

  private def manifestPath(path: String) = new Path(path, "_MANIFEST.json")

  /** Write `df` to `path` (overwrite), audit what landed, stamp the
    * manifest. Returns the manifest.
    */
  def publish(spark: SparkSession, df: DataFrame, path: String): Manifest = {
    df.write.mode("overwrite").parquet(path)
    val m    = signature(spark.read.parquet(path))
    val conf = spark.sessionState.newHadoopConf()
    val mp   = manifestPath(path)
    val fs   = mp.getFileSystem(conf)
    val tmp  = new Path(mp.getParent, s".${mp.getName}.tmp")
    val out  = fs.create(tmp, true)
    try out.write(s"""{"rows":${m.rows},"checksum":${m.checksum}}""".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(mp)) fs.delete(mp, false)
    if (!fs.rename(tmp, mp))
      throw new java.io.IOException(s"publish: cannot promote manifest $tmp")
    m
  }

  /** Recompute the signature from the files and compare to the stamped
    * manifest. Returns (stamped, recomputed); they match iff the dataset
    * is exactly what was published. Throws if no manifest exists (an
    * unaudited or crashed publish must not validate).
    */
  def validate(spark: SparkSession, path: String): (Manifest, Manifest) = {
    val conf = spark.sessionState.newHadoopConf()
    val mp   = manifestPath(path)
    val fs   = mp.getFileSystem(conf)
    if (!fs.exists(mp))
      throw new java.io.FileNotFoundException(s"validate: no manifest at $mp")
    val in  = fs.open(mp)
    val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val rx  = """\{"rows":(\d+),"checksum":(\d+)\}""".r
    val stamped = raw.trim match {
      case rx(n, h) => Manifest(n.toLong, h.toLong)
      case other    => throw new java.io.IOException(s"validate: malformed manifest: $other")
    }
    (stamped, signature(spark.read.parquet(path)))
  }
}
