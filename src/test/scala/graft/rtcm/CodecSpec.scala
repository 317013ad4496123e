package graft.rtcm

import org.scalatest.funsuite.AnyFunSuite

class Crc24qSpec extends AnyFunSuite {
  test("appending the CRC yields a self-validating frame (seeded sweep)") {
    val rnd = new java.util.Random(7)
    for (_ <- 0 until 200) {
      val bytes = new Array[Byte](3 + rnd.nextInt(200))
      rnd.nextBytes(bytes)
      val crc = Crc24q.compute(bytes)
      val framed = bytes ++ Array(((crc >> 16) & 0xFF).toByte,
        ((crc >> 8) & 0xFF).toByte, (crc & 0xFF).toByte)
      assert(Crc24q.frameValid(framed))
    }
  }

  test("single-bit flips are detected (seeded sweep)") {
    val rnd = new java.util.Random(11)
    for (_ <- 0 until 500) {
      val bytes = new Array[Byte](20)
      rnd.nextBytes(bytes)
      val crc = Crc24q.compute(bytes)
      val bitPos = rnd.nextInt(160)
      val flipped = bytes.clone()
      flipped(bitPos / 8) = (flipped(bitPos / 8) ^ (1 << (bitPos % 8))).toByte
      assert(Crc24q.compute(flipped) != crc)
    }
  }

  test("known zero-prefix behavior: crc of empty is 0") {
    assert(Crc24q.compute(Array.emptyByteArray) == 0)
  }
}

class BitReaderSpec extends AnyFunSuite {
  test("uint reads big-endian across byte boundaries") {
    // 0b1101_0011 0b0000_0001 = 0xD3 0x01
    val r = new BitReader(Array(0xD3.toByte, 0x01.toByte))
    assert(r.uint(4) == 0xD)
    assert(r.uint(8) == 0x30)
    assert(r.uint(4) == 0x1)
  }

  test("int sign-extends two's complement") {
    val w = new BitWriter
    w.int(-5, 14).int(8191, 14).int(-8192, 14)
    val r = new BitReader(w.toBytes)
    assert(r.int(14) == -5)
    assert(r.int(14) == 8191)
    assert(r.int(14) == -8192)
  }

  test("writer/reader round-trip arbitrary fields (seeded sweep)") {
    val rnd = new java.util.Random(13)
    for (_ <- 0 until 300) {
      val fields = (0 until 30).map { _ =>
        val n = 1 + rnd.nextInt(48)
        val v = math.abs(rnd.nextLong()) % (1L << n)
        (n, v)
      }
      val w = new BitWriter
      fields.foreach { case (n, v) => w.uint(v, n) }
      val r = new BitReader(w.toBytes)
      fields.foreach { case (n, v) => assert(r.uint(n) == v) }
    }
  }
}

class FramingSpec extends AnyFunSuite {
  private def someFrame(seed: Int): Array[Byte] = {
    val rnd = new java.util.Random(seed)
    val payload = new Array[Byte](8 + rnd.nextInt(64))
    rnd.nextBytes(payload)
    RtcmEncoder.frame(payload)
  }

  test("extracts frames with garbage prefix (alignment scan)") {
    val f1 = someFrame(1)
    val f2 = someFrame(2)
    val garbage = Array[Byte](0x01, 0x7F, 0x55, 0x00)
    val (_, frames) = RtcmFraming.feed(RtcmFraming.emptyState, garbage ++ f1 ++ f2)
    assert(frames.map(_.toSeq) == Vector(f1.toSeq, f2.toSeq))
  }

  test("carries partial frames across chunk boundaries") {
    val f = someFrame(3)
    val (split, _) = (f.length / 2, ())
    val (s1, out1) = RtcmFraming.feed(RtcmFraming.emptyState, f.take(split))
    assert(out1.isEmpty)
    val (_, out2) = RtcmFraming.feed(s1, f.drop(split))
    assert(out2.map(_.toSeq) == Vector(f.toSeq))
  }

  test("realigns after a corrupted frame (drop one byte and rescan)") {
    val f1 = someFrame(4)
    val corrupt = f1.clone()
    corrupt(5) = (corrupt(5) ^ 0x10).toByte // flip a payload bit → CRC fails
    val f2 = someFrame(5)
    val (_, frames) = RtcmFraming.feed(RtcmFraming.emptyState, corrupt ++ f2)
    assert(frames.map(_.toSeq) == Vector(f2.toSeq))
  }

  test("arbitrary chunking never loses or duplicates frames (seeded sweep)") {
    for (seed <- 1L to 60L) {
      val rnd = new java.util.Random(seed)
      val nFrames = 1 + rnd.nextInt(50)
      val frames = (0 until nFrames).map(i => someFrame(seed.toInt * 1000 + i))
      val stream = frames.flatten.toArray
      var state = RtcmFraming.emptyState
      val got = Vector.newBuilder[Array[Byte]]
      var pos = 0
      while (pos < stream.length) {
        val len = math.min(1 + rnd.nextInt(97), stream.length - pos)
        val (s2, out) = RtcmFraming.feed(state, java.util.Arrays.copyOfRange(stream, pos, pos + len))
        state = s2
        got ++= out
        pos += len
      }
      assert(got.result().map(_.toSeq) == frames.map(_.toSeq), s"seed=$seed")
    }
  }

  test("residual buffer is bounded under garbage flood") {
    val garbage = new Array[Byte](3 << 20)
    java.util.Arrays.fill(garbage, 0x11.toByte)
    val (s, out) = RtcmFraming.feed(RtcmFraming.emptyState, garbage)
    assert(out.isEmpty)
    assert(s.size <= RtcmFraming.DefaultMaxBuffer)
  }

  test("a Framer counts what its maxBuffer bound truncates") {
    val f = someFrame(6)
    // a preamble whose length header promises a 1029-byte frame, then 37 zeros
    val promise = Array[Byte](RtcmFraming.Preamble, 0x03, 0xFF.toByte) ++ new Array[Byte](37)
    val framer = new RtcmFraming.Framer(maxBuffer = 16)
    assert(framer.push(promise).isEmpty)
    assert(framer.counts == RtcmFraming.Counts(0L, 0L, 24L, 24L))
    // the 16 kept bytes hold no preamble: the next read skips them
    assert(framer.push(f).map(_.toSeq).contains(f.toSeq))
    assert(framer.counts == RtcmFraming.Counts(1L, 0L, 40L, 24L))
  }

  test("a Framer joins the frames one read completes and drops its residual at reset") {
    val Seq(f1, f2, f3) = Seq(7, 8, 9).map(someFrame)
    val framer = new RtcmFraming.Framer
    assert(framer.push(f1 ++ f2 ++ f3.take(5)).map(_.toSeq).contains((f1 ++ f2).toSeq))
    framer.reset()
    assert(framer.counts == RtcmFraming.Counts(2L, 0L, 5L, 0L))
    // framing starts afresh: no CRC reject against the dropped residual
    assert(framer.push(f3).map(_.toSeq).contains(f3.toSeq))
    assert(framer.counts == RtcmFraming.Counts(3L, 0L, 5L, 0L))
  }
}

class GnssTimeSpec extends AnyFunSuite {
  private val us = 1000000L
  // 2024-01-01T12:00:00Z
  private val noon = (1704067200L + 12 * 3600) * us

  test("same-day epoch resolves to the receive date") {
    // obs at 11:59:59.250
    val epochMs = ((11 * 3600 + 59 * 60 + 59) * 1000 + 250).toLong
    val got = GnssTime.resolveEpochMicros(1077, epochMs, noon)
    assert(got == (1704067200L + 11 * 3600 + 59 * 60 + 59) * us + 250000L)
  }

  test("epoch more than 5h behind rolls to next day") {
    val epochMs = (2 * 3600) * 1000L // 02:00 vs now 12:00 → -10h → next day
    val got = GnssTime.resolveEpochMicros(1077, epochMs, noon)
    assert(got == (1704067200L + 86400L + 2 * 3600) * us)
  }

  test("epoch 4h behind stays same day") {
    val epochMs = (8 * 3600) * 1000L
    val got = GnssTime.resolveEpochMicros(1077, epochMs, noon)
    assert(got == (1704067200L + 8 * 3600) * us)
  }

  test("GLONASS message types shift -3h (UTC(SU))") {
    val epochMs = (12 * 3600) * 1000L
    for (t <- Seq(1081, 1087, 1009, 1012)) {
      val got = GnssTime.resolveEpochMicros(t, epochMs, noon)
      assert(got == (1704067200L + 9 * 3600) * us, s"type $t")
    }
    // non-GLONASS unshifted
    assert(GnssTime.resolveEpochMicros(1077, epochMs, noon) ==
      (1704067200L + 12 * 3600) * us)
  }
}
