package graft.rtcm

import org.scalatest.funsuite.AnyFunSuite

class MsmSpec extends AnyFunSuite {

  private def roundTrip(msg: MsmMessage): MsmMessage = {
    val frame = RtcmEncoder.msmFrame(msg)
    assert(Crc24q.frameValid(frame))
    RtcmDecoder.decodeFrame(frame).asInstanceOf[MsmMessage]
  }

  test("MSM encode→decode round-trips across flavors (seeded sweep)") {
    // one MsmColumns reused across every message, as the ingest path
    // reuses one per task, reads like a fresh decode of each
    val reused = new MsmColumns
    def same(a: MsmMessage, b: MsmMessage): Boolean =
      a.header.copy(satMask = null, signalMask = null, cellMask = null) ==
        b.header.copy(satMask = null, signalMask = null, cellMask = null) &&
        a.header.satMask.toSeq == b.header.satMask.toSeq &&
        a.header.signalMask.toSeq == b.header.signalMask.toSeq &&
        a.header.cellMask.toSeq == b.header.cellMask.toSeq &&
        a.sats.toSeq == b.sats.toSeq && a.cells.toSeq == b.cells.toSeq
    for (seed <- 1 to 40; msgType <- Seq(1074, 1075, 1077, 1084, 1085, 1094, 1104, 1115, 1126)) {
      val rnd = new java.util.Random(seed)
      val flavor = msgType % 10
      if (flavor >= 4) {
        val epochMs = if (msgType >= 1081 && msgType <= 1087) rnd.nextInt(86400000).toLong
          else rnd.nextInt(1 << 30).toLong & ((1L << 30) - 1)
        val synthetic = graft.etl.SyntheticRtcm.msm(rnd, msgType, 42, epochMs % (if (msgType >= 1081 && msgType <= 1087) 1L << 27 else 1L << 30))
        // MSM5/7 carry extended info (the synthetic corpus leaves it 0)
        val in = if (flavor != 5 && flavor != 7) synthetic
          else synthetic.copy(sats = synthetic.sats.map(_.copy(extendedInfo = 1 + rnd.nextInt(15))))
        val out = roundTrip(in)
        assert(out.header.messageType == in.header.messageType)
        assert(out.header.stationId == in.header.stationId)
        assert(out.header.epochMs == in.header.epochMs)
        assert(out.header.glonassDow == in.header.glonassDow)
        assert(out.header.satMask.toSeq == in.header.satMask.toSeq)
        assert(out.header.signalMask.toSeq == in.header.signalMask.toSeq)
        assert(out.header.cellMask.toSeq == in.header.cellMask.toSeq)
        assert(out.sats.toSeq == in.sats.toSeq, s"type $msgType seed $seed")
        assert(out.cells.toSeq == in.cells.toSeq, s"type $msgType seed $seed")
        val frame = RtcmEncoder.msmFrame(in)
        RtcmDecoder.decodeMsm(frame, 3, frame.length - 3, reused)
        assert(same(reused.toMessage, out), s"type $msgType seed $seed")
      }
    }
  }

  test("MSM7 expansion math matches hand computation") {
    // 2 sats (G05, G12), 2 signals (L1C idx1, L2W idx9), full cell mask
    val satMask = new Array[Boolean](64); satMask(4) = true; satMask(11) = true
    val sigMask = new Array[Boolean](32); sigMask(1) = true; sigMask(9) = true
    val cellMask = Array(true, true, true, false)
    val header = MsmHeader(1077, 7, 43200000L, false, 0, 0, 0, false, 0,
      satMask, sigMask, cellMask, None)
    val sats = Array(MsmSat(80, 0, 512, -100), MsmSat(75, 0, 256, 250))
    val cells = Array(
      MsmCell(1000L, -2000L, 5, false, 320, 40),
      MsmCell(-500L, 750L, 6, true, 640, -30),
      MsmCell(0L, 0L, 7, false, 160, 0))
    val msg = MsmMessage(header, sats, cells)
    val receive = 1704067200L * 1000000L + 43201L * 1000000L // 12:00:01 UTC
    val obs = MsmExpander.expand(msg, "TEST", receive)

    assert(obs.map(o => (o.satId, o.satSignal)) ==
      Seq(("G05", "L1C"), ("G05", "L2W"), ("G12", "L1C")))
    val r1 = 80 + 512 / 1024.0
    assert(obs(0).obsCode == r1 + 1000 * math.pow(2, -29))
    assert(obs(0).obsPhase == r1 + (-2000) * math.pow(2, -31))
    assert(obs(0).obsDoppler == -100 + 40 * 0.0001)
    assert(obs(0).obsSnr == 320 * math.pow(2, -4))
    assert(obs(0).obsLockTimeIndicator == 5)
    val r2 = 75 + 256 / 1024.0
    assert(obs(2).obsCode == r2 + 0.0)
    assert(obs(2).obsDoppler == 250 + 0.0)
    // epoch: 43200000 ms = 12:00:00.000 on the receive date
    assert(obs(0).obsEpochMicros == (1704067200L + 43200L) * 1000000L)
  }

  test("MSM5 uses 2^-24/2^-29 scalings and unscaled SNR") {
    val satMask = new Array[Boolean](64); satMask(0) = true
    val sigMask = new Array[Boolean](32); sigMask(1) = true
    val header = MsmHeader(1075, 7, 1000L, false, 0, 0, 0, false, 0,
      satMask, sigMask, Array(true), None)
    val msg = MsmMessage(header, Array(MsmSat(50, 0, 0, 10)),
      Array(MsmCell(4096L, 1024L, 3, false, 45, 100)))
    val obs = MsmExpander.expand(msg, "M", 1704067200L * 1000000L)
    assert(obs.head.obsCode == 50 + 4096 * math.pow(2, -24))
    assert(obs.head.obsPhase == 50 + 1024 * math.pow(2, -29))
    assert(obs.head.obsSnr == 45.0)
  }

  test("MSM4/MSM6 decode but do not expand (reference parity)") {
    val rnd = new java.util.Random(3)
    val m4 = graft.etl.SyntheticRtcm.msm(rnd, 1074, 1, 1000L)
    assert(MsmExpander.expand(m4, "M", 0L).isEmpty)
  }

  test("GLONASS MSM epoch carries DOW and TOD separately") {
    val rnd = new java.util.Random(5)
    val in = graft.etl.SyntheticRtcm.msm(rnd, 1085, 9, 37800500L) // 10:30:00.5 TOD
    val out = roundTrip(in)
    assert(out.header.glonassDow.contains(3))
    assert(out.header.epochMs == 37800500L)
  }

  test("ARP 1005/1006 round-trip and scaling") {
    val a6 = ArpMessage(1006, 1234, 35123456789L, -9012345678L, 52987654321L, Some(12345L))
    val frame = RtcmEncoder.arpFrame(a6)
    val out = RtcmDecoder.decodeFrame(frame).asInstanceOf[ArpMessage]
    assert(out == a6)
    val a5 = ArpMessage(1005, 1, -1L, 0L, 1L, None)
    assert(RtcmDecoder.decodeFrame(RtcmEncoder.arpFrame(a5)) == a5)
  }

  test("legacy 1004/1012 decode structurally with satCount") {
    for (t <- Seq(1001, 1002, 1003, 1004, 1009, 1010, 1011, 1012)) {
      val in = LegacyObsMessage(t, 55, 123456L, 5)
      val out = RtcmDecoder.decodeFrame(RtcmEncoder.legacyFrame(in))
        .asInstanceOf[LegacyObsMessage]
      assert(out == in, s"type $t")
    }
  }

  test("1029 text round-trips UTF-8") {
    val in = TextMessage(1029, 3, 60310, 43200, 5, "hello")
    val out = RtcmDecoder.decodeFrame(RtcmEncoder.textFrame(in))
      .asInstanceOf[TextMessage]
    assert(out == in)
  }
}
