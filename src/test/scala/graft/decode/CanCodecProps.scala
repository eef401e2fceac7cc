package graft.decode

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** ScalaCheck domain laws for the binary codec and tokenizer (SURVEY §5.1
  * and §5.5): decode is TOTAL and in-range on arbitrary payload bytes,
  * encode∘decode round-trips every field at random signal values (including
  * the sign/width boundaries the generators are biased toward), and the
  * tokenizer never throws and always terminates on arbitrary byte noise.
  */
object CanCodecProps extends Properties("CanCodec") {
  import CanCodec._

  override def overrideParameters(p: Test.Parameters): Test.Parameters = graft.FixedSeed(p, 3L)

  private val anyPayload: Gen[Long] = Gen.long

  // ---- totality / range -----------------------------------------------------

  property("decodes are total and in field range on arbitrary payloads") =
    forAll(anyPayload) { p =>
      val accel = Seq(accelLong(p), accelLat(p), accelVert(p))
      val gyro  = Seq(gyroYaw(p), gyroPitch(p), gyroRoll(p))
      Prop.all(
        accel.forall(a => a >= AccelScale * -32768 && a <= AccelScale * 32767),
        gyroYaw(p) >= YawScale * -32768 && gyroYaw(p) <= YawScale * 32767,
        Seq(gyroPitch(p), gyroRoll(p)).forall(g =>
          g >= PitchRollScale * -16384 && g <= PitchRollScale * 16383),
        speedKph(p) >= SpeedOffset && speedKph(p) <= SpeedScale * 4095 + SpeedOffset,
        Seq(gpsLat(p), gpsLong(p)).forall(g =>
          g >= GnssFactor * -134217728 && g <= GnssFactor * 134217727),
        apCode(p) >= 0 && apCode(p) <= 15,
        gyro.forall(g => !g.isNaN))
    }

  // ---- encode ∘ decode round trips ------------------------------------------

  /** signed field value biased to the two's-complement boundaries */
  private def signed(bits: Int): Gen[Long] = {
    val lo = -(1L << (bits - 1)); val hi = (1L << (bits - 1)) - 1
    Gen.frequency(
      8 -> Gen.choose(lo, hi),
      1 -> Gen.oneOf(lo, hi, 0L, -1L, 1L))
  }

  private def u(v: Long, bits: Int): Long = v & ((1L << bits) - 1)

  property("accel: s16 LE encode round-trips") =
    forAll(signed(16), signed(16), signed(16)) { (x, y, z) =>
      val p = u(x, 16) | (u(y, 16) << 16) | (u(z, 16) << 32)
      accelLong(p) == AccelScale * x &&
      accelLat(p) == AccelScale * y &&
      accelVert(p) == AccelScale * z
    }

  property("gyro: yaw s16 + 15-bit cross-byte pitch/roll encode round-trips") =
    forAll(signed(16), signed(15), signed(15)) { (yaw, pitch, roll) =>
      val pu = u(pitch, 15); val ru = u(roll, 15)
      // pitch = {b3 bits6..0 || b2}; roll = {b5 bits5..0 || b4 || b3 bit7}
      val b2 = pu & 0xffL
      val b3 = ((pu >> 8) & 0x7fL) | ((ru & 1L) << 7)
      val b4 = (ru >> 1) & 0xffL
      val b5 = (ru >> 9) & 0x3fL
      val p  = u(yaw, 16) | (b2 << 16) | (b3 << 24) | (b4 << 32) | (b5 << 40)
      gyroYaw(p) == YawScale * yaw &&
      gyroPitch(p) == PitchRollScale * pitch &&
      gyroRoll(p) == PitchRollScale * roll
    }

  property("speed: 12-bit encode round-trips") =
    forAll(Gen.choose(0L, 4095L)) { su =>
      // speed = {b2 || b1 bits7..4}
      val p = ((su & 0xfL) << 12) | ((su >> 4) << 16)
      speedKph(p) == SpeedScale * su + SpeedOffset
    }

  property("gps: 28-bit nibble-split encode round-trips") =
    forAll(signed(28), signed(28)) { (lat, lon) =>
      val lu = u(lat, 28); val gu = u(lon, 28)
      // lat = {b3 bits3..0 || b2 || b1 || b0}; long = {b6 || b5 || b4 || b3 bits7..4}
      val p = (lu & 0xffL) | (((lu >> 8) & 0xffL) << 8) | (((lu >> 16) & 0xffL) << 16) |
        ((((lu >> 24) & 0xfL) | ((gu & 0xfL) << 4)) << 24) |
        (((gu >> 4) & 0xffL) << 32) | (((gu >> 12) & 0xffL) << 40) | (((gu >> 20) & 0xffL) << 48)
      gpsLat(p) == GnssFactor * lat && gpsLong(p) == GnssFactor * lon
    }

  property("signExtend inverts unsigned masking for any width") =
    forAll(Gen.choose(2, 62).flatMap(b => signed(b).map(v => (b, v)))) { case (bits, v) =>
      signExtend(u(v, bits), bits) == v
    }

  property("packLE is lossless for payloads up to 8 bytes") =
    forAll(Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)))) { bs =>
      val p = packLE(bs.toArray)
      bs.zipWithIndex.forall { case (b, i) => ((p >>> (8 * i)) & 0xffL) == (b & 0xffL) }
    }

  // ---- tokenizer totality ---------------------------------------------------

  property("tokenize is total and terminates on arbitrary bytes after a valid header") =
    forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte))) { noise =>
      val bytes = CanserverTokenizer.Magic ++ noise.toArray
      val recs  = CanserverTokenizer.tokenize(bytes).toList // must not throw/hang
      val st    = CanserverTokenizer.stats(bytes)
      recs.length.toLong == st.n_frames && recs.forall(r => r.length >= 0 && r.length <= 8)
    }

  property("tokenize of headerless bytes is empty") =
    forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte))) { noise =>
      val bytes = noise.toArray
      !CanserverTokenizer.hasValidHeader(bytes) ==> Prop(
        CanserverTokenizer.tokenize(bytes).isEmpty)
    }

  // ---- chunked reader equivalence ------------------------------------------

  // bytes biased toward grammar tags so records (not just noise) straddle
  // chunk boundaries; arbitrary chunk sizes down to 1 (clamped internally)
  private val grammarish: Gen[Byte] = Gen.frequency(
    (3, Gen.oneOf(0xcd, 0xce, 0xcf).map(_.toByte)),
    (1, Gen.const('C'.toByte)),
    (6, Gen.choose(-128, 127).map(_.toByte)))

  property("tokenizeChunked == tokenize for arbitrary bytes and chunk sizes") =
    forAll(Gen.listOf(grammarish), Gen.choose(1, 4096)) { (noise, chunk) =>
      val bytes = CanserverTokenizer.Magic ++ noise.toArray
      val whole = CanserverTokenizer.tokenize(bytes).toList
      val chunked = CanserverTokenizer
        .tokenizeChunked(new java.io.ByteArrayInputStream(bytes), "", chunk)
        .toList
      chunked == whole
    }
}
