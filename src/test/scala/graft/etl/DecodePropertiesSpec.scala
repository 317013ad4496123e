package graft.etl

import graft.rtcm._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Decode never throws, and the `DecodeFrames` node's hand-written row
  * writer lands exactly what `decodeOne` builds. Random sequences mix
  * every message kind the decoder knows — MSM4/5/7 of all six
  * constellations, ARP 1005/1006, legacy 1004/1012 and 1029 text — with
  * CRC-valid frames whose payloads are truncated or garbled copies of
  * such frames. Each sequence is one partition, so one writer writes
  * every kind back to back: a null bit, a struct offset or an MSM
  * column left over from the previous frame would show as a row that
  * differs from `decodeOne`'s.
  *
  * Driven by `org.scalacheck.Test.check` from a fixed seed, without
  * shrinking: 60 sequences of up to 48 frames, one Spark job each, a
  * few seconds in all. */
class DecodePropertiesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(60)
    .withInitialSeed(Seed(20261020L))

  private val msmTypes = Seq(1074, 1075, 1077, 1084, 1085, 1087, 1094, 1095, 1097,
    1104, 1105, 1107, 1114, 1115, 1117, 1124, 1125, 1127)

  /** One valid frame of any kind. */
  private val validGen: Gen[Array[Byte]] = for {
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
          rnd.nextInt(1 << 30).toLong, -rnd.nextInt(1 << 30).toLong, rnd.nextInt(1 << 30).toLong,
          if (withHeight) Some(rnd.nextInt(60000).toLong) else None))
      case 4 =>
        RtcmEncoder.legacyFrame(LegacyObsMessage(if (rnd.nextBoolean()) 1004 else 1012,
          station, rnd.nextInt(86400) * 1000L, 1 + rnd.nextInt(8)))
      case _ =>
        val text = scala.util.Random.javaRandomToRandom(rnd).alphanumeric.take(rnd.nextInt(40)).mkString
        RtcmEncoder.textFrame(TextMessage(1029, station, 60310, rnd.nextInt(86400), text.length, text))
    }
  }

  /** A valid frame's payload, cut short or with bits flipped, framed
    * again with a valid CRC. */
  private val brokenGen: Gen[Array[Byte]] = for {
    frame <- validGen
    truncate <- Gen.oneOf(true, false)
    cut <- Gen.choose(0, frame.length - 6)
    flips <- Gen.listOfN(3, Gen.choose(0, (frame.length - 6) * 8 - 1))
  } yield {
    val payload = frame.slice(3, frame.length - 3)
    if (truncate) RtcmEncoder.frame(payload.take(cut))
    else {
      flips.filter(_ >= 0).foreach(b => payload(b >> 3) = (payload(b >> 3) ^ (0x80 >> (b & 7))).toByte)
      RtcmEncoder.frame(payload)
    }
  }

  private val sequenceGen: Gen[List[Array[Byte]]] = for {
    n <- Gen.choose(1, 48)
    frames <- Gen.listOfN(n, Gen.frequency(3 -> validGen, 1 -> brokenGen))
  } yield frames

  test("decode yields one row per frame, equal to decodeOne, dead letters included") {
    import spark.implicits._
    var deadLetters = 0
    var observations = 0
    val res = Test.check(params, Prop.forAllNoShrink(sequenceGen) { frames =>
      val encoded = frames.zipWithIndex.map { case (f, i) =>
        EncodedFrame("PROP", SyntheticRtcm.T0Micros + i * 1000L, f)
      }
      val expected = encoded.map(RtcmPipeline.decodeOne)
      val got = RtcmPipeline.decode(spark.sparkContext.parallelize(encoded, 1).toDS())
        .collect().toSeq
      deadLetters += expected.count(_.error.isDefined)
      observations += expected.map(_.observations.size).sum
      got.size == frames.size &&
        got.map(_.error.isDefined) == expected.map(_.error.isDefined) &&
        got == expected
    })
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    // the sequences held what the comparison must cover
    assert(deadLetters > 0 && observations > 0)
  }
}
