package graft.rtcm

/** One decoded (satellite × signal) observation — matches the
  * reference's 10-field observation tuple
  * (reference: src/decoderclasses.py:238-249) with the epoch as
  * absolute microseconds.
  */
private[graft] final case class Observation(
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
  *
  * [[walk]] is the one cell walk: it hands each cell's satellite and
  * signal (as mask positions) and scaled values to a [[CellOut]].
  * [[expand]] builds `Observation`s from it; the ingest path's row
  * writer (`graft.plans.DecodeFrames`) writes them into Spark rows,
  * with nothing allocated per cell.
  */
object MsmExpander {

  /** Receives one message's cells from [[walk]], in wire order. */
  trait CellOut {
    /** `satPos` indexes the 64-bit satellite mask, `sigPos` the 32-bit
      * signal mask: [[satIds]] and [[signalNames]] name them. */
    def cell(satPos: Int, sigPos: Int, code: Double, phase: Double, doppler: Double,
             snr: Double, lockTime: Int): Unit
  }

  /** Satellite ids per constellation prefix, indexed by satellite-mask
    * position: `G01` … `G64`. Built once, so expansion formats none. */
  private val satIdTable: Map[String, Array[String]] =
    SignalTables.constellationPrefix.values.map { p =>
      p -> Array.tabulate(64)(i => f"$p${i + 1}%02d")
    }.toMap

  /** Whether an MSM message type expands to observations (MSM5/MSM7). */
  def expands(messageType: Int): Boolean = {
    val flavor = messageType % 10
    flavor == 5 || flavor == 7
  }

  /** Satellite ids of an MSM message type's constellation, by satellite-mask position. */
  def satIds(messageType: Int): Array[String] =
    satIdTable(SignalTables.constellationPrefix(SignalTables.msmConstellation(messageType)))

  /** Signal names of an MSM message type's constellation, by signal-mask position. */
  def signalNames(messageType: Int): IndexedSeq[String] =
    SignalTables.signalNames(SignalTables.msmConstellation(messageType))

  private val Msm5CodeScale = math.pow(2, -24)
  private val Msm5PhaseScale = math.pow(2, -29)
  private val Msm7CodeScale = math.pow(2, -29)
  private val Msm7PhaseScale = math.pow(2, -31)
  private val Msm7SnrScale = math.pow(2, -4)

  /** Hand every cell of `m` to `out`, if its type [[expands]]. */
  def walk(m: MsmFields, out: CellOut): Unit = if (expands(m.messageType)) {
    val msm5 = m.messageType % 10 == 5
    val codeFineScale = if (msm5) Msm5CodeScale else Msm7CodeScale
    val phaseFineScale = if (msm5) Msm5PhaseScale else Msm7PhaseScale
    val snrScale = if (msm5) 1.0 else Msm7SnrScale

    // the present signals' mask positions, in mask order
    // (reference: src/rtcm3.py:62-68)
    val signalMask = m.signalMask
    val sigPos = new Array[Int](signalMask.length)
    var signalCount = 0
    var i = 0
    while (i < signalMask.length) {
      if (signalMask(i)) { sigPos(signalCount) = i; signalCount += 1 }
      i += 1
    }
    val satMask = m.satMask
    val cellMask = m.cellMask
    var satPos = -1
    var cellNo = 0
    var satNo = 0
    while (satNo < m.satCount) {
      satPos += 1
      while (!satMask(satPos)) satPos += 1
      val roughRange = m.roughRangeInt(satNo) + m.roughRangeMod(satNo) / 1024.0
      val roughRate = m.roughRangeRate(satNo).toDouble
      var sigNo = 0
      while (sigNo < signalCount) {
        if (cellMask(satNo * signalCount + sigNo)) {
          out.cell(satPos, sigPos(sigNo),
            roughRange + m.codeFine(cellNo) * codeFineScale,
            roughRange + m.phaseFine(cellNo) * phaseFineScale,
            roughRate + m.rateFine(cellNo) * 0.0001,
            m.cnr(cellNo) * snrScale,
            m.lockTime(cellNo))
          cellNo += 1
        }
        sigNo += 1
      }
      satNo += 1
    }
  }

  def expand(msg: MsmMessage, mountPoint: String, receiveMicros: Long): Seq[Observation] = {
    val t = msg.messageType
    if (!expands(t)) return Nil
    val obsEpochMicros = GnssTime.resolveEpochMicros(t, msg.header.epochMs, receiveMicros)
    val ids = satIds(t)
    val signals = signalNames(t)
    val out = Vector.newBuilder[Observation]
    walk(msg, (satPos, sigPos, code, phase, doppler, snr, lockTime) =>
      out += Observation(
        mountPoint = mountPoint,
        obsEpochMicros = obsEpochMicros,
        messageType = t,
        satId = ids(satPos),
        satSignal = signals(sigPos),
        obsCode = code,
        obsPhase = phase,
        obsDoppler = doppler,
        obsSnr = snr,
        obsLockTimeIndicator = lockTime))
    out.result()
  }
}
