package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded multi-file CANServer-v2 log generator for the CAN workloads.
  *
  * Records use the same encoding as `graft.BenchLog`: a 0xCE sync per
  * second, 0xCF frames for speed (599), accel (273), gyro (257) and GPS (79)
  * at 10 Hz, and the autopilot state (921) at 1 Hz. On top of that each file
  * may carry:
  *   - out-of-order ticks: a tick is written up to 1.1 s after later ticks
  *     (inside the pipeline's 1.2 s watermark tolerance);
  *   - noise bytes between ticks (bytes the grammar skips);
  *   - a truncated tail (a frame cut short at end of file);
  *   - an invalid header (the whole file is rejected).
  *
  * Every accepted tick is also recorded in a `Truth`, which derives the
  * expected landing documents and event documents with plain loops over the
  * emitted samples — independent of the Spark pipelines under test.
  */
object CanGen {

  /** 2023-11-14 22:00:00 UTC: backlogs that span three hours cross midnight,
    * so day documents split.
    */
  val BaseMs: Long = 1699999200000L

  /** One log object to write. Times are epoch milliseconds. */
  final case class FileSpec(
      device: String,
      name: String,
      startMs: Long,
      durMs: Long,
      noise: Boolean = false,
      truncateTail: Boolean = false,
      invalidHeader: Boolean = false)

  /** Size of what was written, for the workload's stated input size. */
  final case class Written(files: Int, bytes: Long, frames: Long) {
    def +(o: Written): Written = Written(files + o.files, bytes + o.bytes, frames + o.frames)
  }

  val Empty: Written = Written(0, 0L, 0L)

  /** Per-device speed/autopilot schedule: alternating stationary and moving
    * phases of seeded random length, fixed for the whole timeline so a
    * device's state carries across files and invocations.
    */
  final class Schedule(seed: Long, device: String) {
    // phase boundaries (ms offsets from BaseMs), with the phase's speed code
    // (500 = 0 km/h) and autopilot code
    private val starts = mutable.ArrayBuffer(0L)
    private val speedU = mutable.ArrayBuffer.empty[Int]
    private val apCode = mutable.ArrayBuffer.empty[Int]
    private val rng    = new java.util.SplittableRandom(seed * 1000003L + device.hashCode)

    private def extendTo(ms: Long): Unit =
      while (starts.last <= ms) {
        val stationary = speedU.size % 2 == 0
        // stationary phases of 4..40 s straddle the 13 s emit threshold
        val lenMs = if (stationary) 4000L + rng.nextLong(36000L) else 3000L + rng.nextLong(30000L)
        speedU += (if (stationary) 500 else 520 + rng.nextInt(1500))
        apCode += (if (stationary) (if (rng.nextInt(4) == 0) 0 else 2) else (if (rng.nextBoolean()) 3 else 2))
        starts += starts.last + lenMs
      }

    /** (speed code, autopilot code) at `ms` after BaseMs. */
    def at(ms: Long): (Int, Int) = {
      extendTo(ms)
      var lo = 0
      var hi = speedU.size - 1
      while (lo < hi) { // last phase whose start <= ms
        val mid = (lo + hi + 1) >>> 1
        if (starts(mid) <= ms) lo = mid else hi = mid - 1
      }
      (speedU(lo), apCode(lo))
    }
  }

  // noise bytes avoid the grammar's record tags and the magic's first byte
  private val NoiseBytes: Array[Byte] =
    (0 until 256).filterNot(b => b == 0xcd || b == 0xce || b == 0xcf || b == 'C'.toInt).map(_.toByte).toArray

  /** Write `spec` under `rawDir/<device>/<name>` and record its accepted
    * ticks in `truth` (none when the header is invalid).
    */
  def write(rawDir: Path, spec: FileSpec, schedules: String => Schedule, truth: Truth, seed: Long): Written = {
    val rng   = new java.util.SplittableRandom(seed * 7919L + spec.name.hashCode * 31L + spec.device.hashCode)
    val sched = schedules(spec.device)
    val out   = new java.io.ByteArrayOutputStream(1 << 20)
    val magic = if (spec.invalidHeader) "CANSERVER_v1_CANSERVER" else "CANSERVER_v2_CANSERVER"
    out.write(magic.getBytes("ASCII"))
    def u8(b: Int): Unit = out.write(b & 0xff)
    def sync(micros: Long): Unit = { u8(0xce); (0 until 8).foreach(i => u8((micros >>> (8 * i)).toInt)) }
    def frame(off: Int, id: Int, p: Array[Byte]): Unit = {
      u8(0xcf); u8(off); u8(off >> 8); u8(id); u8(id >> 8); u8(p.length); out.write(p)
    }

    // ticks every 100 ms; the write order lets a tick slip up to 1.1 s
    val nTicks = (spec.durMs / 100).toInt
    val order = (0 until nTicks)
      .map(i => (i * 100L + rng.nextLong(1100L), i))
      .sortBy(_._1)
      .map(_._2)
    var curSyncSec = Long.MinValue
    var frames     = 0L
    order.foreach { i =>
      val ms        = spec.startMs + i * 100L
      val (su, ap)  = sched.at(ms - BaseMs)
      val sec       = Math.floorDiv(ms, 1000L)
      if (sec != curSyncSec) { sync(sec * 1000000L); curSyncSec = sec }
      val off = (ms - sec * 1000L).toInt
      frame(off, 599, Array[Byte](0, ((su & 0xf) << 4).toByte, (su >> 4).toByte))
      frame(off, 273, Array[Byte](i.toByte, 1, (i * 17).toByte, 2, 3, 4))
      frame(off, 257, Array[Byte](5, 6, (i % 13).toByte, 7, 8, 9))
      frame(off, 79, Array[Byte](1, 2, 3, 4, 5, 6, 7))
      frames += 4
      val withAp = ms % 1000L == 0L
      if (withAp) { frame(off, 921, Array[Byte](ap.toByte)); frames += 1 }
      if (!spec.invalidHeader) truth.add(spec.device, ms * 1000L, su == 500, if (withAp) Some(ap) else None)
      if (spec.noise && rng.nextInt(50) == 0)
        (0 until 1 + rng.nextInt(40)).foreach(_ => out.write(NoiseBytes(rng.nextInt(NoiseBytes.length))))
    }
    if (spec.truncateTail) { // a speed frame cut after its id: never decoded
      u8(0xcf); u8(0); u8(0); u8(599 & 0xff)
    }
    val dir = rawDir.resolve(spec.device)
    Files.createDirectories(dir)
    val bytes = out.toByteArray
    Files.write(dir.resolve(spec.name), bytes)
    Written(1, bytes.length.toLong, frames)
  }

  /** Device names `dev00`.. */
  def devices(n: Int): Seq[String] = (0 until n).map(i => f"dev$i%02d")

  /** The episode plan. Step 0 is the backfill backlog: `nDevices` x
    * `nHours`, one `minutes`-long log per device-hour at a seeded offset
    * inside the hour; every other file carries noise, every third a
    * truncated tail, and one extra file has an invalid header. Steps
    * 1..`steps` are trickle invocations: each lands the next `segSec`
    * seconds per device after the backlog, plus one late `segSec` segment
    * inside the backlog's first hour, which the parse stage's watermark
    * drops (and the truth model says so). Needs `nHours` >= 2 so the late
    * segment lies wholly below the watermark.
    */
  def plan(seed: Long, nDevices: Int, nHours: Int, minutes: Int, steps: Int, segSec: Int): Seq[Seq[FileSpec]] = {
    require(nHours >= 2, "the late segment needs a backlog of at least two hours")
    val rng  = new java.util.SplittableRandom(seed)
    val devs = devices(nDevices)
    val backlog = for {
      (d, di) <- devs.zipWithIndex
      h       <- 0 until nHours
    } yield {
      val within = rng.nextLong((60 - minutes) * 60L) * 1000L
      val k      = di * nHours + h
      FileSpec(d, f"h$h%02d.log", BaseMs + h * 3600000L + within, minutes * 60000L,
        noise = k % 2 == 0, truncateTail = k % 3 == 0)
    }
    val rejected = FileSpec(devs.head, "rejected.log", BaseMs + 600000L, 60000L, invalidHeader = true)
    val trickle = (1 to steps).map { k =>
      val startMs = BaseMs + nHours * 3600000L + (k - 1) * segSec * 1000L
      devs.zipWithIndex.map { case (d, di) =>
        FileSpec(d, f"t$k%03d.log", startMs, segSec * 1000L, noise = (k + di) % 2 == 0, truncateTail = (k + di) % 3 == 0)
      } :+ FileSpec(devs(rng.nextInt(nDevices)), f"late$k%03d.log",
        BaseMs + rng.nextLong(3600L - segSec) * 1000L, segSec * 1000L, noise = true)
    }
    (backlog :+ rejected) +: trickle
  }
}

/** Expected pipeline outputs, derived by plain loops over the ticks the
  * generator emitted. Models the parse stage's 1.2 s watermark at the
  * invocation level: `beginInvocation` fixes the watermark from every tick
  * accepted so far, and a tick at or below it is dropped.
  */
final class Truth {
  import Truth.Expected

  // device -> tick micros -> (speed is zero, autopilot code at this tick)
  private val ticks = mutable.Map.empty[String, mutable.TreeMap[Long, (Boolean, Option[Int])]]
  private var maxAccepted = Long.MinValue
  private var watermark   = Long.MinValue

  def beginInvocation(): Unit =
    if (maxAccepted != Long.MinValue) watermark = maxAccepted - 1200000L

  def add(device: String, micros: Long, zero: Boolean, ap: Option[Int]): Unit =
    if (micros > watermark) {
      ticks.getOrElseUpdate(device, mutable.TreeMap.empty)(micros) = (zero, ap)
      maxAccepted = math.max(maxAccepted, micros)
    }

  /** The outputs expected from everything accepted so far. */
  def expected: Expected = Expected(landing, stationary, autopilot)

  private def sec(micros: Long): Double = micros.toDouble / 1e6

  private def day(s: Double): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(math.floor(s).toLong, 86400L)).toString

  /** `device/canserver_YYYY-MM-DD_HH-00-00` (end hour) -> (ticks, autopilot samples). */
  def landing: Map[String, (Int, Int)] = {
    val out = mutable.Map.empty[String, (Int, Int)]
    for ((d, m) <- ticks; (us, (_, ap)) <- m) {
      val endSec = (Math.floorDiv(us, 3600000000L) + 1) * 3600L
      val t      = java.time.LocalDateTime.ofEpochSecond(endSec, 0, java.time.ZoneOffset.UTC)
      val key    = f"$d/canserver_${t.toLocalDate}_${t.getHour}%02d-00-00"
      val (n, a) = out.getOrElse(key, (0, 0))
      out(key) = (n + 1, a + ap.size)
    }
    out.toMap
  }

  /** `device/canserver-events_YYYY-MM-DD` -> stationary (start, end) in order:
    * maximal zero-speed runs spanning >= 13 s, trimmed 3 s each side, filed
    * under the day of the trimmed start.
    */
  def stationary: Map[String, Seq[(Double, Double)]] = {
    val out = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    for ((d, m) <- ticks) {
      var first, last = Double.NaN
      def close(): Unit = {
        if (!first.isNaN && last - first >= 13.0) {
          val iv = (first + 3.0, last - 3.0)
          out.getOrElseUpdate(s"$d/canserver-events_${day(iv._1)}", mutable.ArrayBuffer.empty) += iv
        }
        first = Double.NaN
      }
      for ((us, (zero, _)) <- m) {
        if (zero) { if (first.isNaN) first = sec(us); last = sec(us) }
        else close()
      }
      close()
    }
    out.view.mapValues(_.sorted.toSeq).toMap
  }

  /** `device/canserver-events_YYYY-MM-DD` -> status -> (ts, code) in order:
    * engagement when the code becomes 3 from <= 2, disengagement on the
    * reverse edge, over each device's autopilot samples in time order.
    */
  def autopilot: Map[String, Map[String, Seq[(Double, Int)]]] = {
    val out = mutable.Map.empty[String, mutable.Map[String, mutable.ArrayBuffer[(Double, Int)]]]
    for ((d, m) <- ticks) {
      var prev = -1
      for ((us, (_, Some(code))) <- m) {
        val status =
          if (prev >= 0 && prev <= 2 && code == 3) Some("engagement")
          else if (prev == 3 && code <= 2) Some("disengagement")
          else None
        status.foreach { s =>
          out.getOrElseUpdate(s"$d/canserver-events_${day(sec(us))}", mutable.Map.empty)
            .getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((sec(us), code))
        }
        prev = code
      }
    }
    out.view.mapValues(_.view.mapValues(_.sorted.toSeq).toMap).toMap
  }
}

object Truth {

  /** Expected landing counts and event documents, keyed by document name. */
  final case class Expected(
      landing: Map[String, (Int, Int)],
      stationary: Map[String, Seq[(Double, Double)]],
      autopilot: Map[String, Map[String, Seq[(Double, Int)]]])
}
