package graft.rtcm

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Properties of `BitReader` against a bit-by-bit reference reader
  * (below, the reader's former implementation): over random byte
  * arrays, start offsets, payload bounds and sequences of reads of
  * widths 0–63 (masks up to 130 bits), `uint`, `int`, `bool`, `skip`,
  * `mask` and `maskInto` return the reference's values and leave it at
  * the same position, and a read past the end throws the reference's
  * `IllegalArgumentException` message. The decoder reads frames in
  * place with a bounded reader, and a dead letter lands that message.
  *
  * Driven by `org.scalacheck.Test.check` from a fixed seed, without
  * shrinking: 3000 cases per property, well under a second each. */
class BitReaderPropertiesSpec extends AnyFunSuite {
  import BitReaderPropertiesSpec._

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(3000)
    .withInitialSeed(Seed(20261019L))

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  private val width: Gen[Int] = Gen.choose(0, 63)

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> width.map(Uint),
    3 -> width.map(SInt),
    2 -> Gen.const(Bool),
    1 -> width.map(Skip),
    2 -> Gen.choose(0, 130).map(Mask))

  /** An array, a start bit and an end byte (the payload bound). */
  private val readerGen: Gen[(Array[Byte], Int, Int)] = for {
    n <- Gen.choose(0, 24)
    bytes <- Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    endByte <- Gen.choose(0, n)
    start <- Gen.choose(0, endByte * 8)
  } yield (bytes, start, endByte)

  private def outcome(f: => Any): Either[String, Any] =
    try Right(f match {
      case a: Array[Boolean] => a.toSeq
      case v => v
    })
    catch { case e: IllegalArgumentException => Left(e.getMessage) }

  /** Every op gives the same outcome on both readers, and both end up
    * at the same position. */
  private def agree(r: BitReader, ref: ReferenceBitReader, ops: List[Op]): Boolean =
    ops.forall { op =>
      val (got, want) = op match {
        case Uint(n) => (outcome(r.uint(n)), outcome(ref.uint(n)))
        case SInt(n) => (outcome(r.int(n)), outcome(ref.int(n)))
        case Bool => (outcome(r.bool()), outcome(ref.bool()))
        case Skip(n) => (outcome(r.skip(n)), outcome(ref.skip(n)))
        case Mask(n) =>
          val out = Array.fill(n + 3)(true) // maskInto leaves the tail alone
          val counted = outcome((r.maskInto(out, n), out.toSeq))
          val wanted = outcome(ref.mask(n)).map(m =>
            (m.asInstanceOf[Seq[Boolean]].count(identity),
              m.asInstanceOf[Seq[Boolean]] ++ Seq(true, true, true)))
          (counted, wanted)
      }
      got == want && r.position == ref.position && r.remaining == ref.remaining
    }

  test("reads over a whole array equal the bit-by-bit reference") {
    check(Prop.forAllNoShrink(readerGen, Gen.listOf(opGen)) { case ((bytes, start, _), ops) =>
      agree(new BitReader(bytes, start), new ReferenceBitReader(bytes, start), ops)
    })
  }

  test("a reader bounded inside its array reads like one over the bound's bytes only") {
    check(Prop.forAllNoShrink(readerGen, Gen.listOf(opGen)) { case ((bytes, start, endByte), ops) =>
      agree(new BitReader(bytes, start, endByte * 8),
        new ReferenceBitReader(bytes.take(endByte), start), ops)
    })
  }

  test("mask equals maskInto's bits") {
    check(Prop.forAllNoShrink(readerGen, Gen.choose(0, 130)) { case ((bytes, start, _), n) =>
      val viaMask = outcome(new BitReader(bytes, start).mask(n))
      val out = new Array[Boolean](n)
      val viaInto = outcome { new BitReader(bytes, start).maskInto(out, n); out.toSeq }
      viaMask == viaInto
    })
  }
}

object BitReaderPropertiesSpec {
  sealed trait Op
  final case class Uint(n: Int) extends Op
  final case class SInt(n: Int) extends Op
  case object Bool extends Op
  final case class Skip(n: Int) extends Op
  final case class Mask(n: Int) extends Op

  /** The bit-at-a-time reader `BitReader` replaced: the reference for
    * values, positions and error messages. */
  final class ReferenceBitReader(val bytes: Array[Byte], startBit: Int = 0) {
    private var pos: Int = startBit

    def position: Int = pos
    def remaining: Int = bytes.length * 8 - pos

    def uint(n: Int): Long = {
      require(n >= 0 && n <= 63, s"uint width $n")
      require(remaining >= n, s"need $n bits, have $remaining")
      var v = 0L
      var i = 0
      while (i < n) {
        val bit = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
        v = (v << 1) | bit
        pos += 1
        i += 1
      }
      v
    }

    def int(n: Int): Long = {
      val v = uint(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }

    def bool(): Boolean = uint(1) == 1L

    def skip(n: Int): Unit = {
      require(remaining >= n, s"skip $n bits, have $remaining")
      pos += n
    }

    def mask(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var i = 0
      while (i < n) { out(i) = bool(); i += 1 }
      out
    }
  }
}
