package graft.rtcm

/** One decoded (satellite × signal) observation — matches the
  * reference's 10-field observation tuple
  * (reference: src/decoderclasses.py:238-249) with the epoch as
  * absolute microseconds.
  */
final case class Observation(
    mountPoint: String,
    obsEpochMicros: Long,
    messageType: Int,
    satId: String,
    satSignal: String,
    obsCode: Double,
    obsPhase: Double,
    obsDoppler: Double,
    obsSnr: Double,
    obsLockTimeIndicator: Int)

/** MSM message → per-(satellite, signal) observation rows.
  *
  * Scaling + cell-walk semantics from the reference
  * (src/decoderclasses.py:166-254): coarse range `ri + mod/1024` ms
  * combined with fine code/phase deltas (2^-24 / 2^-29 for MSM5,
  * 2^-29 / 2^-31 for MSM7), doppler `rate + fine·1e-4`, SNR ×1 (MSM5)
  * or ×2^-4 (MSM7). Only MSM5/MSM7 expand — the reference defines
  * scalings (and its sat-field indexing) only for flavors 5 and 7;
  * all other MSM flavors yield metadata rows only
  * (src/decoderclasses.py:206-214 leaves the scalings unbound, the
  * resulting error is swallowed at :251-253).
  */
object MsmExpander {

  /** Satellite ids per constellation prefix, indexed by satellite-mask
    * position: `G01` … `G64`. Built once, so expansion formats none. */
  private val satIdTable: Map[String, Array[String]] =
    SignalTables.constellationPrefix.values.map { p =>
      p -> Array.tabulate(64)(i => f"$p${i + 1}%02d")
    }.toMap

  def expand(msg: MsmMessage, mountPoint: String, receiveMicros: Long): Seq[Observation] = {
    val t = msg.header.messageType
    val flavor = t % 10
    if (flavor != 5 && flavor != 7) return Nil

    val (codeFineScale, phaseFineScale, snrScale) =
      if (flavor == 5) (math.pow(2, -24), math.pow(2, -29), 1.0)
      else (math.pow(2, -29), math.pow(2, -31), math.pow(2, -4))

    val obsEpochMicros = GnssTime.resolveEpochMicros(t, msg.header.epochMs, receiveMicros)
    val idTable = satIdTable(SignalTables.constellationPrefix(SignalTables.msmConstellation(t)))
    val signals = SignalTables.presentSignals(t, msg.header.signalMask)
    val signalCount = signals.length
    val satIds: IndexedSeq[String] =
      (0 until 64).collect { case i if msg.header.satMask(i) => idTable(i) }

    val out = Vector.newBuilder[Observation]
    var cellNo = 0
    var satNo = 0
    while (satNo < msg.sats.length) {
      val sat = msg.sats(satNo)
      val roughRange = sat.roughRangeInt + sat.roughRangeMod / 1024.0
      val roughRate = sat.roughRangeRate.toDouble
      var sigNo = 0
      while (sigNo < signalCount) {
        if (msg.header.cellMask(satNo * signalCount + sigNo)) {
          val cell = msg.cells(cellNo)
          out += Observation(
            mountPoint = mountPoint,
            obsEpochMicros = obsEpochMicros,
            messageType = t,
            satId = satIds(satNo),
            satSignal = signals(sigNo),
            obsCode = roughRange + cell.codeFine * codeFineScale,
            obsPhase = roughRange + cell.phaseFine * phaseFineScale,
            obsDoppler = roughRate + cell.rateFine * 0.0001,
            obsSnr = cell.cnr * snrScale,
            obsLockTimeIndicator = cell.lockTime)
          cellNo += 1
        }
        sigNo += 1
      }
      satNo += 1
    }
    out.result()
  }
}
