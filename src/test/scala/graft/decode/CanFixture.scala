package graft.decode

import java.nio.file.{Files, Paths}

/** Synthetic CANServer-v2 byte-stream builder (FIXTURES.md §1) plus an
  * INDEPENDENT reference-style decoder.
  *
  * RefStyleDecode deliberately mirrors the reference's string-of-bits
  * formulation (reference parse_canserver_filtered_log.py:92-103 bin_to_dec,
  * :150-184 slicing of '{0:08b}' strings) instead of CanCodec's shift/mask
  * arithmetic — so agreement between the two is evidence the bit layout is
  * right, not a tautology.
  */
object CanFixture {

  def header: Array[Byte] = CanserverTokenizer.Magic

  def timesync(micros: Long): Array[Byte] =
    0xce.toByte +: (0 until 8).map(i => ((micros >>> (8 * i)) & 0xff).toByte).toArray

  def mark(s: String): Array[Byte] =
    Array(0xcd.toByte, s.length.toByte) ++ s.getBytes("ASCII")

  def frame(offsetMs: Int, frameId: Int, busId: Int, payload: Array[Byte]): Array[Byte] =
    Array(
      0xcf.toByte,
      (offsetMs & 0xff).toByte,
      ((offsetMs >> 8) & 0xff).toByte,
      (frameId & 0xff).toByte,
      ((frameId >> 8) & 0xff).toByte,
      (((busId & 0x0f) << 4) | (payload.length & 0x0f)).toByte) ++ payload

  def file(parts: Array[Byte]*): Array[Byte] = header ++ parts.flatten

  /** Speed frame (0x257) payload for v KPH: u12 = (v+40)/0.08 -> bytes
    * [0, (u&0xF)<<4, u>>4].
    */
  def speedPayload(v: Double): Array[Byte] = {
    val u = math.round((v + 40.0) / 0.08).toInt
    Array[Byte](0x00, ((u & 0x0f) << 4).toByte, (u >> 4).toByte)
  }

  /** The cross-file fixture: two logs of one device, t0 = 2023-11-14
    * 22:13:20 UTC. File A: zero speed t0..t0+10 s, AP code 2 at its end —
    * neither the 10 s run nor an edge is complete inside this file. File B:
    * code 3 at its first frame, zeros to t0+20 s, then moving — the run is
    * t0..t0+20 s across both files.
    */
  object CrossFile {
    private val t0 = 1700000000L * 1000000L
    private def zeros(secs: Range) = secs.flatMap(i => frame(i * 1000, 599, 0, speedPayload(0.0))).toArray
    private def ap(sec: Int, code: Byte) = frame(sec * 1000, 921, 0, Array[Byte](code))

    def writeA(raw: String): Unit =
      Files.write(Paths.get(raw, "a.log"), file(timesync(t0), zeros(0 to 10), ap(5, 2), ap(10, 2)))

    def writeB(raw: String): Unit =
      Files.write(
        Paths.get(raw, "b.log"),
        file(timesync(t0), ap(11, 3), zeros(11 to 20), frame(21000, 599, 0, speedPayload(30.0)), ap(21, 3)))
  }

  /** Independent decode: bit-string slicing, as the reference does it. */
  object RefStyleDecode {
    private def bits(b: Int): String = {
      val s = Integer.toBinaryString(b & 0xff)
      "0" * (8 - s.length) + s
    }

    /** Two's-complement of a bit string (reference bin_to_dec :92-103). */
    def binToDec(s: String): Long = {
      val mag = s.tail.foldLeft(0L)((acc, c) => acc * 2 + (if (c == '1') 1L else 0L))
      if (s.head == '1') mag - (1L << (s.length - 1)) else mag
    }

    private def s16le(p: Array[Byte], off: Int): Long =
      binToDec(bits(p(off + 1)) + bits(p(off)))

    def accel(p: Array[Byte]): (Double, Double, Double) =
      (0.00125 * s16le(p, 0), 0.00125 * s16le(p, 2), 0.00125 * s16le(p, 4))

    def gyro(p: Array[Byte]): (Double, Double, Double) = {
      val yaw   = 0.0001 * s16le(p, 0)
      val pitch = 0.00025 * binToDec(bits(p(3)).tail + bits(p(2)))
      val roll  = 0.00025 * binToDec(bits(p(5)).drop(2) + bits(p(4)) + bits(p(3)).head.toString)
      (yaw, pitch, roll)
    }

    def speed(p: Array[Byte]): Double =
      0.08 * java.lang.Long.parseLong(bits(p(2)) + bits(p(1)).take(4), 2) - 40.0

    def gps(p: Array[Byte]): (Double, Double) = {
      val lat  = 1e-6 * binToDec(bits(p(3)).drop(4) + bits(p(2)) + bits(p(1)) + bits(p(0)))
      val long = 1e-6 * binToDec(bits(p(6)) + bits(p(5)) + bits(p(4)) + bits(p(3)).take(4))
      (lat, long)
    }

    def apCode(p: Array[Byte]): Int =
      Integer.parseInt(bits(p(0)).drop(4), 2)
  }
}
