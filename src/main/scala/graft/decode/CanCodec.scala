package graft.decode

/** Bit-exact CANServer-v2 signal codec — pure Scala form.
  *
  * The single spec is the reference decoder
  * (reference parse_canserver_filtered_log.py:92-103 two's-complement helper,
  * :146-184 per-frame decodes, scale constants :111-116). Every formula here
  * is that math re-derived over a little-endian-packed payload word; the unit
  * tests assert equality against independently-computed expectations at the
  * sign/width boundaries of each field.
  *
  * Payload representation: CAN payloads are at most 8 bytes, so the whole
  * payload packs losslessly into one Long (byte i -> bits 8i..8i+7). All
  * field extraction is then integer shift/mask arithmetic — the same form
  * the Column expressions (CanExpressions) and the DuckDB oracle use, which
  * is what makes the decode cross-engine verifiable.
  */
object CanCodec {

  val FrameAccel = 273
  val FrameGyro  = 257
  val FrameGps   = 79
  val FrameSpeed = 599
  val FrameAp    = 921

  val DecodedFrameIds: Set[Int] = Set(FrameAccel, FrameGyro, FrameGps, FrameSpeed, FrameAp)

  val AccelScale     = 0.00125
  val YawScale       = 0.0001
  val PitchRollScale = 0.00025
  val SpeedScale     = 0.08
  val SpeedOffset    = -40.0
  val GnssFactor     = 1e-6

  /** code -> state name (reference parse_canserver_filtered_log.py:109-110).
    * Codes it lacks have no name; the reference KeyErrors on them (SURVEY
    * §2.7-7).
    */
  val ApStates: Map[Int, String] = Map(
    0  -> "DISABLED",
    1  -> "UNAVAILABLE",
    2  -> "AVAILABLE",
    3  -> "ACTIVE_NOMINAL",
    4  -> "ACTIVE_RESTRICTED",
    5  -> "ACTIVE_NAV",
    8  -> "ABORTING",
    9  -> "ABORTED",
    14 -> "FAULT",
    15 -> "SNA")

  /** state name -> code; total over ApStates (the reference's reverse map
    * drops FAULT/SNA and KeyErrors on them — SURVEY §2.7-7; ours is total).
    */
  val ApCodes: Map[String, Int] = ApStates.map(_.swap)

  /** Two's-complement interpretation of the low `bits` bits of v. */
  def signExtend(v: Long, bits: Int): Long =
    if ((v & (1L << (bits - 1))) != 0) v - (1L << bits) else v

  /** Pack payload bytes little-endian into a Long (byte 0 = lowest 8 bits). */
  def packLE(payload: Array[Byte]): Long = {
    var acc = 0L
    var i   = 0
    val n   = math.min(payload.length, 8)
    while (i < n) { acc |= (payload(i) & 0xffL) << (8 * i); i += 1 }
    acc
  }

  @inline private def byte(p: Long, i: Int): Long = (p >>> (8 * i)) & 0xffL

  // --- frame 273: 3x s16 LE x 0.00125 (m/s^2) --------------------------------
  def accelLong(p: Long): Double = AccelScale * signExtend(p & 0xffffL, 16)
  def accelLat(p: Long): Double  = AccelScale * signExtend((p >>> 16) & 0xffffL, 16)
  def accelVert(p: Long): Double = AccelScale * signExtend((p >>> 32) & 0xffffL, 16)

  // --- frame 257: yaw s16 LE; pitch/roll 15-bit cross-byte (rad/s) -----------
  def gyroYaw(p: Long): Double = YawScale * signExtend(p & 0xffffL, 16)

  /** pitch = {byte3 bits6..0 || byte2}, 15-bit two's-complement. */
  def gyroPitch(p: Long): Double =
    PitchRollScale * signExtend(((byte(p, 3) & 0x7fL) << 8) | byte(p, 2), 15)

  /** roll = {byte5 bits5..0 || byte4 || byte3 bit7}, 15-bit two's-complement. */
  def gyroRoll(p: Long): Double =
    PitchRollScale * signExtend(
      ((byte(p, 5) & 0x3fL) << 9) | (byte(p, 4) << 1) | (byte(p, 3) >>> 7),
      15)

  // --- frame 599: 12-bit unsigned {byte2 || byte1 bits7..4} (KPH) ------------
  def speedKph(p: Long): Double =
    SpeedScale * ((byte(p, 2) << 4) | (byte(p, 1) >>> 4)) + SpeedOffset

  // --- frame 79: 28-bit two's-complement lat/long (degrees) ------------------
  /** lat = {byte3 bits3..0 || byte2 || byte1 || byte0}. */
  def gpsLat(p: Long): Double =
    GnssFactor * signExtend(((byte(p, 3) & 0x0fL) << 24) | (byte(p, 2) << 16) | (byte(p, 1) << 8) | byte(p, 0), 28)

  /** long = {byte6 || byte5 || byte4 || byte3 bits7..4}. */
  def gpsLong(p: Long): Double =
    GnssFactor * signExtend((byte(p, 6) << 20) | (byte(p, 5) << 12) | (byte(p, 4) << 4) | (byte(p, 3) >>> 4), 28)

  // --- frame 921: 4-bit state code -------------------------------------------
  def apCode(p: Long): Int = (p & 0x0fL).toInt
}
