package graft.rtcm

/** Decoded RTCM v3 message IR — the typed equivalent of the
  * reference's `[head, satData, signalData]` lists
  * (reference: src/rtcm3.py:114-175).
  */
sealed trait RtcmMessage {
  def messageType: Int
}

/** MSM header (types 1071–1127; reference: src/rtcm3.py:98-111,360-366).
  * For GLONASS MSM (1081–1087) the 30-bit epoch field carries
  * 3-bit day-of-week + 27-bit time-of-day-ms; `epochMs` is then the
  * 27-bit TOD and `glonassDow` the DOW (src/rtcm3.py:106-110).
  */
final case class MsmHeader(
    messageType: Int,
    stationId: Int,
    epochMs: Long,
    multipleMessage: Boolean,
    issueOfDataStation: Int,
    clockSteering: Int,
    externalClock: Int,
    smoothing: Boolean,
    smoothingInterval: Int,
    satMask: Array[Boolean],   // 64 bits, index i → satellite i+1
    signalMask: Array[Boolean], // 32 bits, index i → signal-table row i
    cellMask: Array[Boolean],   // numSats × numSignals bits
    glonassDow: Option[Int])

/** Per-satellite MSM fields (field widths vary by MSM flavor; unused
  * fields are 0 / -1). Flavors (reference: src/rtcm3.py:367-374):
  * MSM1/2/3: roughRangeMod only; MSM4/6: +roughRangeInt;
  * MSM5/7: +extendedInfo +roughRangeRate. */
final case class MsmSat(
    roughRangeInt: Int,    // uint8 integer milliseconds (MSM4-7)
    extendedInfo: Int,     // uint4 (MSM5/7)
    roughRangeMod: Int,    // uint10 1/1024 ms
    roughRangeRate: Int)   // int14 m/s (MSM5/7)

/** Per-cell (satellite × signal) MSM fields, semantic order shared by
  * MSM5 (int15/int22/uint4/bool/uint6/int15) and MSM7
  * (int20/int24/uint10/bool/uint10/int15); MSM1-4/6 fill the fields
  * they carry (reference: src/rtcm3.py:376-391). */
final case class MsmCell(
    codeFine: Long,
    phaseFine: Long,
    lockTime: Int,
    halfCycleAmbiguity: Boolean,
    cnr: Int,
    rateFine: Int)

/** What observation expansion (`MsmExpander.walk`) reads of one MSM
  * message: its masks, and its satellite and cell fields by index
  * (satellites and cells in wire order). [[MsmMessage]] holds them as
  * objects; [[MsmColumns]] as primitive arrays reused from frame to
  * frame. */
trait MsmFields {
  def messageType: Int
  def satMask: Array[Boolean]
  def signalMask: Array[Boolean]
  /** At least `satCount` × (signals in `signalMask`) bits. */
  def cellMask: Array[Boolean]
  def satCount: Int
  def cellCount: Int
  def roughRangeInt(sat: Int): Int
  def roughRangeMod(sat: Int): Int
  def roughRangeRate(sat: Int): Int
  def codeFine(cell: Int): Long
  def phaseFine(cell: Int): Long
  def lockTime(cell: Int): Int
  def cnr(cell: Int): Int
  def rateFine(cell: Int): Int
}

final case class MsmMessage(
    header: MsmHeader,
    sats: Array[MsmSat],
    cells: Array[MsmCell]) extends RtcmMessage with MsmFields {
  def messageType: Int = header.messageType
  def satMask: Array[Boolean] = header.satMask
  def signalMask: Array[Boolean] = header.signalMask
  def cellMask: Array[Boolean] = header.cellMask
  def satCount: Int = sats.length
  def cellCount: Int = cells.length
  def roughRangeInt(sat: Int): Int = sats(sat).roughRangeInt
  def roughRangeMod(sat: Int): Int = sats(sat).roughRangeMod
  def roughRangeRate(sat: Int): Int = sats(sat).roughRangeRate
  def codeFine(cell: Int): Long = cells(cell).codeFine
  def phaseFine(cell: Int): Long = cells(cell).phaseFine
  def lockTime(cell: Int): Int = cells(cell).lockTime
  def cnr(cell: Int): Int = cells(cell).cnr
  def rateFine(cell: Int): Int = cells(cell).rateFine
}

/** One MSM message decoded into primitive arrays by
  * `RtcmDecoder.decodeMsm`, which overwrites it with the next message:
  * the ingest hot path decodes every MSM frame of a task into one of
  * these, so a frame allocates nothing per satellite or cell. Arrays
  * only grow; fields a flavor does not carry read 0. `toMessage` copies
  * it out as an [[MsmMessage]]. Not thread-safe. */
final class MsmColumns extends MsmFields {
  var messageType: Int = 0
  var stationId: Int = 0
  /** Milliseconds of day; for GLONASS the 27-bit time of day. */
  var epochMs: Long = 0L
  var multipleMessage: Boolean = false
  var issueOfDataStation: Int = 0
  var clockSteering: Int = 0
  var externalClock: Int = 0
  var smoothing: Boolean = false
  var smoothingInterval: Int = 0
  /** GLONASS day of week, -1 for other constellations. */
  var glonassDow: Int = -1
  val satMask: Array[Boolean] = new Array[Boolean](64)
  val signalMask: Array[Boolean] = new Array[Boolean](32)
  var cellMask: Array[Boolean] = Array.emptyBooleanArray
  var satCount: Int = 0
  var signalCount: Int = 0
  var cellCount: Int = 0

  private[rtcm] var rangeInt, extInfo, rangeMod, rangeRate = Array.emptyIntArray
  private[rtcm] var code, phase = Array.emptyLongArray
  private[rtcm] var lock, cnrs, rates = Array.emptyIntArray
  private[rtcm] var half = Array.emptyBooleanArray

  def roughRangeInt(sat: Int): Int = rangeInt(sat)
  def roughRangeMod(sat: Int): Int = rangeMod(sat)
  def roughRangeRate(sat: Int): Int = rangeRate(sat)
  def codeFine(cell: Int): Long = code(cell)
  def phaseFine(cell: Int): Long = phase(cell)
  def lockTime(cell: Int): Int = lock(cell)
  def cnr(cell: Int): Int = cnrs(cell)
  def rateFine(cell: Int): Int = rates(cell)

  private def grown(n: Int, have: Int): Int = if (have >= n) have else math.max(n, 2 * have)

  /** Room for `sats` satellites, `maskBits` cell-mask bits and `cells` cells. */
  private[rtcm] def sizeFor(sats: Int, maskBits: Int, cells: Int): Unit = {
    if (rangeInt.length < sats) {
      val n = grown(sats, rangeInt.length)
      rangeInt = new Array[Int](n); extInfo = new Array[Int](n)
      rangeMod = new Array[Int](n); rangeRate = new Array[Int](n)
    }
    if (cellMask.length < maskBits) cellMask = new Array[Boolean](grown(maskBits, cellMask.length))
    if (code.length < cells) {
      val n = grown(cells, code.length)
      code = new Array[Long](n); phase = new Array[Long](n); lock = new Array[Int](n)
      half = new Array[Boolean](n); cnrs = new Array[Int](n); rates = new Array[Int](n)
    }
  }

  def toMessage: MsmMessage = MsmMessage(
    MsmHeader(messageType, stationId, epochMs, multipleMessage, issueOfDataStation,
      clockSteering, externalClock, smoothing, smoothingInterval, satMask.clone(),
      signalMask.clone(), java.util.Arrays.copyOf(cellMask, satCount * signalCount),
      if (glonassDow >= 0) Some(glonassDow) else None),
    Array.tabulate(satCount)(i => MsmSat(rangeInt(i), extInfo(i), rangeMod(i), rangeRate(i))),
    Array.tabulate(cellCount)(i =>
      MsmCell(code(i), phase(i), lock(i), half(i), cnrs(i), rates(i))))
}

/** Station antenna reference point, types 1005/1006
  * (reference: src/rtcm3.py:133-147,344-357). ECEF in 0.1 mm units. */
final case class ArpMessage(
    messageType: Int,
    stationId: Int,
    ecefX: Long,
    ecefY: Long,
    ecefZ: Long,
    antennaHeight: Option[Long]) extends RtcmMessage

/** Legacy GPS/GLONASS RTK observables 1001–1004 / 1009–1012: decoded
  * structurally (satCount from the header, obs bits validated) but —
  * matching the reference — never expanded to observation rows
  * (reference: src/decoderclasses.py:84-87 DECODER_MAP has no entry).
  */
final case class LegacyObsMessage(
    messageType: Int,
    stationId: Int,
    epoch: Long,     // GPS TOW ms (30 bit) or GLONASS TOD ms (27 bit)
    satCount: Int) extends RtcmMessage

/** Unicode text message 1029 (reference: src/rtcm3.py:80-96,342). */
final case class TextMessage(
    messageType: Int,
    stationId: Int,
    mjd: Int,
    utcSeconds: Int,
    utfChars: Int,
    text: String) extends RtcmMessage

/** Message types with no structural decoder — metadata row only
  * (reference: src/rtcm3.py:171-172 "Message type not implemented"). */
final case class OpaqueMessage(messageType: Int) extends RtcmMessage
