package graft.sources

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Landing / event JSON document writes — the reference's whole-object S3
  * PUT contract re-expressed (reference
  * parse_canserver_filtered_log.py:350-356, infer_stationary_states.py:135-141,
  * infer_autopilot_states.py:116-122).
  *
  * One JSON document per hour (`canserver_YYYY-MM-DD_HH-00-00.json`, HH =
  * bucket END hour) and per day (`canserver-events_YYYY-MM-DD.json`, ISO —
  * the reference's day/month/year swap in the autopilot name is a bug we do
  * not replicate, SURVEY §2.7-8). Documents are written compact (not
  * indent=2) — content-equivalent, byte-layout divergence documented.
  *
  * The documents are write-only exports: the hourly landing documents are
  * the reference's output contract, and every engine stage reads the
  * `landing/` parquet table they are channelized from (`graft.Jobs`).
  *
  * Writes go through the Hadoop FileSystem API from executors, so the same
  * code addresses file://, hdfs:// or s3a:// targets. An empty input writes
  * no file (the reference's non-empty checks, infer_stationary_states.py:73)
  * because each partition writes only the documents it holds; no separate
  * emptiness job runs.
  */
object LandingIO {

  /** Write one named single-object JSON file per row of `docs`: (name, doc).
    *
    * Each document goes through `textWriter`. Overwrites go through
    * FileContext's atomic Rename.OVERWRITE where the
    * filesystem provides one (posix/HDFS): a crash can then never leave the
    * destination missing — readers see the old document or the new one.
    * Filesystems without an AbstractFileSystem binding (e.g. s3a) fall back
    * to delete-then-rename, whose delete->rename window is the object
    * store's own non-atomic-rename limitation. Stale `.*.json.tmp` files
    * from a crashed earlier run are swept before writing (single concurrent
    * writer per outDir assumed, as with MergeSink).
    */
  private def writeDocs(docs: DataFrame, outDir: String): Unit = {
    // Session Hadoop conf (spark.hadoop.* — s3a credentials etc.) serialized
    // into the closure; executor-side `new Configuration()` only sees
    // classpath XML and would break s3a:// targets.
    val conf = new SerializableConfiguration(docs.sparkSession.sessionState.newHadoopConf())
    // sweep tmp leftovers of a crashed run (top level + per-device subdirs)
    val fs = FileSystem.get(new URI(outDir), conf.value)
    Seq(".*.json.tmp", "*/.*.json.tmp").foreach { g =>
      Option(fs.globStatus(new Path(outDir, g))).getOrElse(Array.empty)
        .foreach(st => fs.delete(st.getPath, false))
    }
    docs
      .select(col("name"), col("doc"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.nonEmpty) {
          val write = textWriter(outDir, conf.value)
          rows.foreach(r => write(new Path(outDir, r.getString(0) + ".json"), r.getString(1) + "\n"))
        }
      }
  }

  /** The engine's write-then-rename of small text files under `dir` (the
    * JSON documents, the parse's watermark carry): each write goes to a
    * hidden temp name, invisible to Spark scans, and is renamed over its
    * destination, so a reader (or a crash) never sees a partial file.
    * Creating the temp file creates missing parent directories.
    */
  private[graft] def textWriter(dir: String, conf: Configuration): (Path, String) => Unit = {
    val fs = FileSystem.get(new URI(dir), conf)
    fs.setWriteChecksum(false) // no .crc sidecars next to documents
    // atomic-overwrite rename where supported; None => fallback path
    val fc =
      try Some(org.apache.hadoop.fs.FileContext.getFileContext(new URI(dir), conf))
      catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }
    (dest, text) => {
      val tmp = new Path(dest.getParent, "." + dest.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8"))
      finally out.close()
      fc match {
        case Some(c) =>
          c.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        case None =>
          if (fs.exists(dest)) fs.delete(dest, false)
          if (!fs.rename(tmp, dest))
            sys.error(s"LandingIO: rename $tmp -> $dest failed")
      }
    }
  }

  /** Hourly landing documents from CanPipelines.channelize output, laid out
    * under a per-device subdirectory (the reference writes each document
    * under its org's land_dir — one S3 prefix per vehicle).
    */
  def writeLandingDocs(landing: DataFrame, outDir: String): Unit =
    writeDocs(
      landing.select(
        docName(landing, col("filename")).as("name"),
        to_json(struct(col("accel"), col("gyro"), col("location"), col("speed"), col("ap_status"))).as("doc")),
      outDir)

  /** Device-prefixed document name when the frame carries a device column. */
  private def docName(df: DataFrame, base: Column): Column =
    if (df.columns.contains("device"))
      when(col("device").isNull || col("device") === "", base)
        .otherwise(concat_ws("/", col("device"), base))
    else base

  /** Day documents for stationary intervals: (start, end) epoch-sec rows ->
    * {"IMU-telematics": {"stationary-state": [{start,end}...]}} per day
    * (per device when the intervals are device-keyed).
    */
  def writeStationaryDocs(intervals: DataFrame, outDir: String): Unit = {
    val dev = if (intervals.columns.contains("device")) Seq(col("device")) else Seq.empty
    val daily = intervals
      .withColumn("date", to_date(timestamp_seconds(col("start"))))
      .groupBy(dev :+ col("date"): _*)
      .agg(sort_array(collect_list(struct(col("start"), col("end")))).as("iv"))
    val named = daily.select(
      docName(daily, concat(lit("canserver-events_"), date_format(col("date"), "yyyy-MM-dd"))).as("name"),
      to_json(struct(struct(col("iv").as("stationary-state")).as("IMU-telematics"))).as("doc"))
    writeDocs(named, outDir)
  }

  /** Day documents for autopilot transitions, from CanPipelines.autopilotDaily:
    * {"auditory": {"engagement": [...], "disengagement": [...]}} — ALL
    * transitions kept (reference keeps only the last per status, §2.7-6).
    */
  def writeAutopilotDocs(daily: DataFrame, outDir: String): Unit =
    writeDocs(
      daily.select(
        docName(daily, concat(lit("canserver-events_"), date_format(col("date"), "yyyy-MM-dd"))).as("name"),
        to_json(struct(col("auditory"))).as("doc")),
      outDir)
}
