package graft.rtcm

import graft.etl.SyntheticRtcm
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Properties of `RtcmFraming` over random byte streams: valid frames
  * of every message kind the encoder writes, interleaved with random
  * garbage (preamble bytes included) and cut at random chunk
  * boundaries. The NTRIP source's reader threads fold `feed` over each
  * connection's reads exactly like this, and `DecodeFrames` walks
  * their chunks by the length headers `splitPacked` splits on
  * (`packedFrameEnd`), so these properties are the live path's framing
  * contract.
  *
  * Driven by `org.scalacheck.Test.check` from a fixed seed, without
  * shrinking; the four properties take a few seconds together. */
class FramingPropertiesSpec extends AnyFunSuite {
  import FramingPropertiesSpec.Stream

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(300)
    .withInitialSeed(Seed(20261018L))

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  private val msmTypes = Seq(1074, 1075, 1077, 1084, 1085, 1087, 1094, 1095, 1097,
    1104, 1105, 1107, 1114, 1115, 1117, 1124, 1125, 1127)

  /** One valid frame: an MSM4/5/7 of any constellation, an ARP
    * 1005/1006, a legacy 1004/1012 or a 1029 text message. */
  private val frameGen: Gen[Array[Byte]] = for {
    seed <- Gen.long
    kind <- Gen.choose(0, 5)
    msm <- Gen.oneOf(msmTypes)
  } yield {
    val rnd = new java.util.Random(seed)
    val station = rnd.nextInt(4096)
    kind match {
      case 0 | 1 | 2 =>
        RtcmEncoder.msmFrame(SyntheticRtcm.msm(rnd, msm, station, rnd.nextInt(86400) * 1000L))
      case 3 =>
        val withHeight = rnd.nextBoolean()
        RtcmEncoder.arpFrame(ArpMessage(if (withHeight) 1006 else 1005, station,
          rnd.nextInt(1 << 30).toLong, rnd.nextInt(1 << 30).toLong, rnd.nextInt(1 << 30).toLong,
          if (withHeight) Some(rnd.nextInt(60000).toLong) else None))
      case 4 =>
        RtcmEncoder.legacyFrame(LegacyObsMessage(if (rnd.nextBoolean()) 1004 else 1012,
          station, rnd.nextInt(86400) * 1000L, 1 + rnd.nextInt(8)))
      case _ =>
        val text = scala.util.Random.javaRandomToRandom(rnd).alphanumeric.take(rnd.nextInt(40)).mkString
        RtcmEncoder.textFrame(TextMessage(1029, station, 60310, rnd.nextInt(86400), text.length, text))
    }
  }

  /** Random garbage, often holding a preamble byte. */
  private val garbageGen: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.const(Array.emptyByteArray),
    2 -> Gen.containerOf[Array, Byte](Gen.frequency(
      1 -> Gen.const(RtcmFraming.Preamble),
      6 -> Gen.choose(Byte.MinValue, Byte.MaxValue))))

  private val streamGen: Gen[Stream] = for {
    n <- Gen.choose(0, 24)
    frames <- Gen.listOfN(n, frameGen)
    gaps <- Gen.listOfN(n + 1, garbageGen)
  } yield Stream(frames.toVector,
    gaps.head ++ frames.zip(gaps.tail).flatMap { case (f, g) => f ++ g }.toArray)

  /** `bytes` cut at random boundaries (empty chunks included). */
  private def chunksGen(bytes: Array[Byte]): Gen[Vector[Array[Byte]]] =
    Gen.listOf(Gen.choose(0, bytes.length)).map { cuts =>
      val bounds = (0 +: cuts.sorted :+ bytes.length).toVector
      bounds.zip(bounds.tail).map { case (a, b) => java.util.Arrays.copyOfRange(bytes, a, b) }
    }

  private def seqs(fs: Seq[Array[Byte]]): Seq[Seq[Byte]] = fs.map(_.toSeq)

  test("folding feed over any chunking gives the frames of the whole stream") {
    check(Prop.forAllNoShrink(streamGen.flatMap(s => chunksGen(s.bytes).map(s -> _))) {
      case (s, chunks) =>
        var st = RtcmFraming.emptyState
        val folded = chunks.flatMap { c =>
          val (next, fs) = RtcmFraming.feed(st, c)
          st = next
          fs
        }
        seqs(folded) == seqs(RtcmFraming.frames(s.bytes))
    })
  }

  test("the carried state never exceeds maxBuffer") {
    val gen = for {
      s <- streamGen
      chunks <- chunksGen(s.bytes)
      maxBuffer <- Gen.choose(6, 2048)
    } yield (chunks, maxBuffer)
    check(Prop.forAllNoShrink(gen) { case (chunks, maxBuffer) =>
      var st = RtcmFraming.emptyState
      chunks.forall { c =>
        // the bound keeps the newest bytes, and counts what it drops
        val unbounded = RtcmFraming.feedCounted(st, c, Int.MaxValue).state.buffer
        val fed = RtcmFraming.feedCounted(st, c, maxBuffer)
        st = fed.state
        st.size <= maxBuffer &&
          fed.truncatedBytes == math.max(0, unbounded.length - maxBuffer) &&
          st.buffer.toSeq == unbounded.toSeq.takeRight(maxBuffer)
      }
    })
  }

  test("every valid frame in the garbage is recovered, in order") {
    // a trailing run of zeros longer than any frame decides a false
    // preamble left at the end, as more live bytes would
    val tail = new Array[Byte](1029 + 6)
    check(Prop.forAllNoShrink(streamGen) { s =>
      seqs(RtcmFraming.frames(s.bytes ++ tail)) == seqs(s.frames)
    })
  }

  test("splitPacked returns concatenated frames unchanged") {
    check(Prop.forAllNoShrink(Gen.listOf(frameGen)) { frames =>
      seqs(RtcmFraming.splitPacked(frames.toArray.flatten).toSeq) == seqs(frames)
    })
  }
}

object FramingPropertiesSpec {
  /** A stream: the valid frames in order, and their bytes with garbage
    * around each. */
  final case class Stream(frames: Vector[Array[Byte]], bytes: Array[Byte])
}
