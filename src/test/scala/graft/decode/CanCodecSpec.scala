package graft.decode

import org.scalatest.funsuite.AnyFunSuite

import CanFixture.RefStyleDecode

/** Bit-exact decode contract: CanCodec (shift/mask) must equal the
  * independent bit-string formulation at sign/width boundaries and on
  * arbitrary payloads.
  */
class CanCodecSpec extends AnyFunSuite {

  private def pay(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  private def check(p: Array[Byte]): Unit = {
    val packed = CanCodec.packLE(p)
    if (p.length >= 6) {
      val (al, aa, av) = RefStyleDecode.accel(p)
      assert(CanCodec.accelLong(packed) === al)
      assert(CanCodec.accelLat(packed) === aa)
      assert(CanCodec.accelVert(packed) === av)
      val (gy, gp, gr) = RefStyleDecode.gyro(p)
      assert(CanCodec.gyroYaw(packed) === gy)
      assert(CanCodec.gyroPitch(packed) === gp)
      assert(CanCodec.gyroRoll(packed) === gr)
    }
    if (p.length >= 3) assert(CanCodec.speedKph(packed) === RefStyleDecode.speed(p))
    if (p.length >= 7) {
      val (lat, lon) = RefStyleDecode.gps(p)
      assert(CanCodec.gpsLat(packed) === lat)
      assert(CanCodec.gpsLong(packed) === lon)
    }
    if (p.length >= 1) assert(CanCodec.apCode(packed) === RefStyleDecode.apCode(p))
  }

  test("accel sign boundaries: s16 min/max/zero/-1") {
    // 0x8000=-32768, 0x7FFF=32767, 0xFFFF=-1 (little-endian byte order)
    check(pay(0x00, 0x80, 0xff, 0x7f, 0xff, 0xff))
    check(pay(0x01, 0x00, 0x00, 0x00, 0x00, 0x00))
  }

  test("gyro pitch/roll 15-bit boundaries (cross-byte fields)") {
    // pitch MSB = byte3 bit6; roll spans byte5 low-6 | byte4 | byte3 bit7
    check(pay(0x00, 0x00, 0xff, 0x40, 0x00, 0x00)) // pitch = -16384+255... sign edge
    check(pay(0x00, 0x00, 0x00, 0x3f, 0xff, 0x3f)) // pitch max region, roll max region
    check(pay(0x00, 0x00, 0x00, 0x80, 0x00, 0x20)) // roll sign bit + byte3 bit7 LSB
    check(pay(0x00, 0x00, 0xff, 0xff, 0xff, 0xff)) // all ones
  }

  test("speed 12-bit unsigned boundaries") {
    assert(CanCodec.speedKph(CanCodec.packLE(pay(0x00, 0x00, 0x00))) === -40.0)
    // 0xFFF: byte2=0xFF, byte1 high nibble=0xF
    assert(CanCodec.speedKph(CanCodec.packLE(pay(0x00, 0xf0, 0xff))) === 0.08 * 4095 - 40.0)
    check(pay(0x00, 0xf0, 0xff))
  }

  test("gps 28-bit two's-complement boundaries") {
    // lat = {b3 low nibble || b2 || b1 || b0}: sign bit = b3 bit3
    check(pay(0xff, 0xff, 0xff, 0x07, 0x00, 0x00, 0x00)) // +max lat
    check(pay(0x00, 0x00, 0x00, 0x08, 0x00, 0x00, 0x00)) // -min lat
    // long = {b6 || b5 || b4 || b3 high nibble}: sign bit = b6 bit7
    check(pay(0x00, 0x00, 0x00, 0xf0, 0xff, 0xff, 0x7f)) // +max long
    check(pay(0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x80)) // -min long
  }

  test("ap state map matches the reference dict; unknown codes -> None") {
    def apState(p: Long) = CanCodec.ApStates.get(CanCodec.apCode(p))
    assert(apState(3) === Some("ACTIVE_NOMINAL"))
    assert(apState(15) === Some("SNA"))
    assert(apState(14) === Some("FAULT"))
    assert(apState(6) === None) // reference KeyErrors here (SURVEY §2.7-7)
    assert(CanCodec.ApCodes("FAULT") === 14) // total reverse map
  }

  test("property: arbitrary 8-byte payloads decode identically to the bit-string form") {
    val rnd = new scala.util.Random(42) // deterministic
    (1 to 2000).foreach { _ =>
      val p = Array.fill(8)(rnd.nextInt(256).toByte)
      check(p)
    }
  }

  test("packLE round-trips bytes little-endian") {
    assert(CanCodec.packLE(pay(0x01, 0x02)) === 0x0201L)
    assert(CanCodec.packLE(pay(0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff)) === -1L)
    assert(CanCodec.packLE(Array.empty[Byte]) === 0L)
  }
}
