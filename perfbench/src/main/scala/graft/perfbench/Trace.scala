package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's collectors: one `SparkListener` for job, stage and task
  * metrics, one `StreamingQueryListener` for per-trigger progress, and named
  * spans around each public call. Counters only grow; callers read deltas
  * with `snapshot`.
  */
final class Trace(spark: SparkSession) {

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)

  /** Current value of every counter (`peak_exec_mem_bytes` is the largest
    * single-task peak so far; every other counter is a running sum).
    */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.view.mapValues(_.get).toMap
  }

  /** Waits for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext, 10000L)

  /** Stage task time is attributed to a layer by the SQL execution its job
    * belongs to — inside a streaming batch every stage carries the query's
    * `start` call site, so the call site cannot tell the sinks apart — and
    * to the span that was open when the job started, as
    * `task_ms.<layer>.<span>`. An execution that writes parquet is
    * `MergeSink`'s (the only parquet writer on the CAN path); one that
    * renders `to_json` documents, or runs at a `LandingIO` call site, is
    * `LandingIO`'s.
    */
  private def classify(executionId: Long, text: String): Unit = {
    val layer =
      if (text.contains("InsertIntoHadoopFsRelationCommand")) Some("merge")
      else if (text.contains("LandingIO.scala") || text.contains("StructsToJson")) Some("landingio")
      else None
    layer.foreach(execLayer.put(executionId, _))
  }

  private val SpanProp  = "perfbench.span"
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageKey  = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        classify(s.executionId, s.description + "\n" + s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        classify(u.executionId, u.physicalPlanDescription)
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      for {
        p     <- Option(j.properties)
        id    <- Option(p.getProperty("spark.sql.execution.id"))
        layer <- Option(execLayer.get(id.toLong))
        span   = Option(p.getProperty(SpanProp)).getOrElse("none")
      } j.stageIds.foreach(stageKey.put(_, s"task_ms.$layer.$span"))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      val info = s.stageInfo
      Option(stageKey.remove(info.stageId))
        .foreach(add(_, Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        counters.computeIfAbsent("peak_exec_mem_bytes", _ => new AtomicLong())
          .accumulateAndGet(m.peakExecutionMemory, (a: Long, b: Long) => math.max(a, b))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("triggers", 1)
      add("input_rows", p.numInputRows)
      add("add_batch_ms", d("addBatch"))
      add("planning_ms", d("queryPlanning"))
      add("offset_ms", d("latestOffset") + d("getBatch"))
      add("wal_commit_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("state_rows", s.numRowsTotal)
        add("state_bytes", s.memoryUsedBytes)
      }
    }
  }

  private var attached = false

  /** Registers (or removes) both listeners; untraced units run detached. */
  def attach(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }

  private val origin = System.nanoTime()
  private val spans  = mutable.ArrayBuffer.empty[String]
  private var open   = List.empty[Int]

  /** Times `body` under `name`: accumulated as `span.<name>` (wall
    * microseconds) and kept as a record with its parent span, written out
    * by `writeSpans`. Spans nest on the calling thread.
    */
  def span[A](name: String)(body: => A): A = {
    val sc     = spark.sparkContext
    val outer  = sc.getLocalProperty(SpanProp)
    val id     = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += ""
    open = id :: open
    sc.setLocalProperty(SpanProp, name) // streaming threads inherit it
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      add(s"span.$name", (t1 - t0) / 1000L)
      spans(id) = f"""{"id": $id, "parent": $parent, "name": "$name", "start_ms": ${(t0 - origin) / 1e6}%.3f, "end_ms": ${(t1 - origin) / 1e6}%.3f}"""
      open = open.tail
      sc.setLocalProperty(SpanProp, outer)
    }
  }

  /** Every span recorded so far, one JSON object per line. */
  def writeSpans(p: java.nio.file.Path): Unit =
    java.nio.file.Files.write(p, (spans.mkString("\n") + "\n").getBytes("UTF-8"))
}

object Trace {

  /** Per-key difference of two snapshots. */
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  /** Sums a sequence of per-unit deltas. */
  def sum(ds: Seq[Map[String, Long]]): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long]
    ds.foreach(_.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0L) + v })
    acc.toMap
  }
}
