package graft.rtcm

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** `Crc24q.compute` (slicing-by-8, two big-endian ints per step, a
  * bytewise tail) equals a bit-at-a-time CRC-24Q kept here: every
  * length 0–1100 at every start offset mod 8, so every split between
  * the 8-byte steps and the tail is taken, and random ranges of random
  * arrays. Fixed seeds; about a second together. */
class Crc24qPropertiesSpec extends AnyFunSuite {

  /** CRC-24Q one bit at a time, straight from the polynomial. */
  private def reference(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xFF) << 16
      var k = 0
      while (k < 8) {
        crc <<= 1
        if ((crc & 0x1000000) != 0) crc ^= 0x1864CFB
        k += 1
      }
      i += 1
    }
    crc & 0xFFFFFF
  }

  test("the published check value") {
    assert(Crc24q.compute("123456789".getBytes("US-ASCII")) == 0xCDE703)
  }

  test("every length 0-1100 at every start offset mod 8 matches the bitwise CRC") {
    val rnd = new java.util.Random(20261019L)
    val bytes = new Array[Byte](1100 + 8)
    rnd.nextBytes(bytes)
    for (len <- 0 to 1100; from <- 0 until 8)
      assert(Crc24q.compute(bytes, from, from + len) == reference(bytes, from, from + len),
        s"len=$len from=$from")
  }

  test("random ranges of random arrays match the bitwise CRC") {
    val gen = for {
      n <- Gen.choose(0, 3000)
      bytes <- Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      a <- Gen.choose(0, bytes.length)
      b <- Gen.choose(0, bytes.length)
    } yield (bytes, math.min(a, b), math.max(a, b))
    val params = Test.Parameters.default
      .withMinSuccessfulTests(2000)
      .withInitialSeed(Seed(20261019L))
    val res = Test.check(params, Prop.forAllNoShrink(gen) { case (bytes, from, until) =>
      Crc24q.compute(bytes, from, until) == reference(bytes, from, until)
    })
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}
