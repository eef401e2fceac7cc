package graft.sources.canserver

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.decode.{CanRecord, CanserverTokenizer}

/** The read-only `canserver` file format (SURVEY §4.3): each log file is
  * one unsplit input, tokenized by `CanserverTokenizer.tokenizeChunked`
  * over the open stream (a bounded buffer, no whole-file read), with the
  * frame-id predicate applied inside the tokenize loop so filtered frames
  * never become rows (the reference does the same by hand at
  * parse_canserver_filtered_log.py:264).
  *
  *   spark.read.format("canserver").load("/path/to/logs")
  *   spark.readStream.format("canserver").schema(CanserverFileFormat.Schema).load(dir)
  *
  * Everything else is Spark's file source: the batch file index (globs,
  * hidden `_`/`.` names skipped, `recursiveFileLookup`, PATH_NOT_FOUND for a
  * missing path) and, for streams, `FileStreamSource` (`maxFilesPerTrigger`,
  * `Trigger.AvailableNow`, `maxFileAge`, and a seen-file log compacted every
  * `spark.sql.streaming.fileSource.log.compactInterval` batches, so an
  * offset is a log index, not a file list).
  */
class CanserverFileFormat extends FileFormat with DataSourceRegister {
  override def shortName(): String = "canserver"

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(CanserverFileFormat.Schema)

  override def prepareWrite(
      spark: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("canserver is a read-only format")

  // the tokenizer's running sync time starts at the file's magic header
  override def isSplitable(spark: SparkSession, options: Map[String, String], path: Path): Boolean = false

  override def buildReader(
      spark: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val frameIds = CanserverFileFormat.frameIds(filters)
    val columns  = requiredSchema.fieldNames.map(CanserverFileFormat.Schema.fieldIndex)
    val conf     = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    (file: PartitionedFile) => {
      val path = file.toPath
      val in   = path.getFileSystem(conf.value.value).open(path)
      // one task reads several small files in turn: close each at its end,
      // and at task completion for a task that fails or stops early
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      // a buffer no larger than the file: logs are often tens of KB
      val chunk  = math.min(8L << 20, file.fileSize).toInt
      val tokens = CanserverTokenizer.tokenizeChunked(in, path.toString, chunk)
      val records = new Iterator[CanRecord] {
        def hasNext: Boolean = tokens.hasNext || { in.close(); false }
        def next(): CanRecord = tokens.next()
      }
      val pathUtf = UTF8String.fromString(path.toString)
      frameIds.fold[Iterator[CanRecord]](records)(ids => records.filter(r => ids(r.frameId))).map { r =>
        val all = Array[Any](pathUtf, r.frameId, r.busId, r.length, r.payloadLong, r.frameTimeMicros)
        new GenericInternalRow(columns.map(all))
      }
    }
  }
}

object CanserverFileFormat {
  /** One row per tokenized frame; signals decode downstream (CanExpressions). */
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("frame_id", IntegerType, nullable = false),
    StructField("bus_id", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("payload_long", LongType, nullable = false),
    StructField("frame_time_micros", LongType, nullable = false)))

  /** The frame ids `frame_id = k` and `frame_id IN (...)` admit. Pushed
    * filters are CONJUNCTIVE, so the sets intersect (`frame_id = 273 AND
    * frame_id IN (599, 921)` admits nothing); other filters stay with Spark,
    * which re-evaluates every filter above the scan.
    */
  private[canserver] def frameIds(filters: Seq[Filter]): Option[Set[Int]] =
    filters.collect {
      case EqualTo("frame_id", v: Integer)                          => Set(v.intValue)
      case In("frame_id", vs) if vs.forall(_.isInstanceOf[Integer]) => vs.map(_.asInstanceOf[Integer].intValue).toSet
    }.reduceOption(_ intersect _)
}
