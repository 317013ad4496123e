package graft.rtcm

/** RTCM v3 payload decoder: bytes → typed message IR.
  *
  * Layouts follow the reference's bitstring typesets
  * (reference: src/rtcm3.py:114-175,315-391) but are implemented as
  * straight-line reads of a [[BitReader]] bounded to the payload, read
  * in place. MSM payloads decode into [[MsmColumns]]: `decodeMsm` fills
  * a caller's reused one (the ingest hot path), `decodeFrame` a fresh
  * one that it copies out as an [[MsmMessage]].
  */
object RtcmDecoder {

  /** Decode a complete frame (3-byte header + payload + 3-byte CRC).
    * CRC is assumed already validated by the framing layer. */
  def decodeFrame(frame: Array[Byte]): RtcmMessage = {
    require(frame.length >= 6, "frame too short")
    decodePayload(frame, 3, frame.length - 3)
  }

  /** Decode the payload region bytes[from, until). */
  def decodePayload(bytes: Array[Byte], from: Int, until: Int): RtcmMessage = {
    val r = payload(bytes, from, until)
    messageType(bytes, from, until) match {
      case t if t >= 1001 && t <= 1004 => decodeLegacyGps(r)
      case t if t >= 1009 && t <= 1012 => decodeLegacyGlonass(r)
      case 1005 | 1006                 => decodeArp(r)
      case t if isMsm(t)               =>
        val m = new MsmColumns
        decodeMsm(r, m)
        m.toMessage
      case 1029                        => decodeText(r)
      case t                           => OpaqueMessage(t)
    }
  }

  /** The message number: the first 12 bits of the payload bytes[from, until). */
  def messageType(bytes: Array[Byte], from: Int, until: Int): Int =
    payload(bytes, from, until).uint(12).toInt

  /** Decode the MSM payload bytes[from, until) into `into`, overwriting
    * the message it held. */
  def decodeMsm(bytes: Array[Byte], from: Int, until: Int, into: MsmColumns): Unit =
    decodeMsm(payload(bytes, from, until), into)

  private def payload(bytes: Array[Byte], from: Int, until: Int): BitReader = {
    if (from < 0 || from > until || until > bytes.length)
      throw new IllegalArgumentException(s"payload [$from, $until) of a ${bytes.length}-byte array")
    new BitReader(bytes, from * 8, until * 8)
  }

  def isMsm(t: Int): Boolean =
    (t >= 1071 && t <= 1077) || (t >= 1081 && t <= 1087) ||
      (t >= 1091 && t <= 1097) || (t >= 1101 && t <= 1107) ||
      (t >= 1111 && t <= 1117) || (t >= 1121 && t <= 1127)

  // ---- legacy GPS 1001-1004 (reference: src/rtcm3.py:320-328) ----
  private def decodeLegacyGps(r: BitReader): LegacyObsMessage = {
    val t = r.uint(12).toInt
    val stationId = r.uint(12).toInt
    val tow = r.uint(30)
    r.bool() // synchronous flag
    val satCount = r.uint(5).toInt
    r.bool(); r.skip(3) // smoothing + interval
    val obsBits = t match {
      case 1001 => 58; case 1002 => 74; case 1003 => 110; case 1004 => 134
    }
    var i = 0
    while (i < satCount) { r.skip(obsBits); i += 1 } // structural validation
    LegacyObsMessage(t, stationId, tow, satCount)
  }

  // ---- legacy GLONASS 1009-1012 (reference: src/rtcm3.py:331-339) ----
  private def decodeLegacyGlonass(r: BitReader): LegacyObsMessage = {
    val t = r.uint(12).toInt
    val stationId = r.uint(12).toInt
    val tod = r.uint(27)
    r.bool()
    val satCount = r.uint(5).toInt
    r.bool(); r.skip(3)
    val obsBits = t match {
      case 1009 => 63; case 1010 => 79; case 1011 => 115; case 1012 => 139
    }
    var i = 0
    while (i < satCount) { r.skip(obsBits); i += 1 }
    LegacyObsMessage(t, stationId, tod, satCount)
  }

  // ---- station ARP 1005/1006 (reference: src/rtcm3.py:344-357) ----
  private def decodeArp(r: BitReader): ArpMessage = {
    val t = r.uint(12).toInt
    val stationId = r.uint(12).toInt
    r.skip(6)            // ITRF realization year
    r.bool(); r.bool(); r.bool() // GPS/GLONASS/Galileo indicators
    r.bool()             // reference-station indicator
    val x = r.int(38)
    r.bool()             // single receiver oscillator
    r.skip(1)
    val y = r.int(38)
    r.skip(2)
    val z = r.int(38)
    val antHgt = if (t == 1006) Some(r.uint(16)) else None
    ArpMessage(t, stationId, x, y, z, antHgt)
  }

  // ---- text 1029 (reference: src/rtcm3.py:342) ----
  private def decodeText(r: BitReader): TextMessage = {
    val t = r.uint(12).toInt
    val stationId = r.uint(12).toInt
    val mjd = r.uint(16).toInt
    val utc = r.uint(17).toInt
    val utfChars = r.uint(7).toInt
    val charBytes = r.uint(8).toInt
    val sb = new Array[Byte](charBytes)
    var i = 0
    while (i < charBytes) { sb(i) = r.uint(8).toByte; i += 1 }
    TextMessage(t, stationId, mjd, utc, utfChars, new String(sb, "UTF-8"))
  }

  // ---- MSM 1071-1127 (reference: src/rtcm3.py:98-111,149-167,360-391) ----
  private def decodeMsm(r: BitReader, m: MsmColumns): Unit = {
    val t = r.uint(12).toInt
    m.messageType = t
    m.stationId = r.uint(12).toInt
    val rawEpoch = r.uint(30)
    m.multipleMessage = r.bool()
    m.issueOfDataStation = r.uint(3).toInt
    r.skip(7) // reserved
    m.clockSteering = r.uint(2).toInt
    m.externalClock = r.uint(2).toInt
    m.smoothing = r.bool()
    m.smoothingInterval = r.uint(3).toInt
    val numSats = r.maskInto(m.satMask, 64)
    val numSignals = r.maskInto(m.signalMask, 32)
    val maskBits = numSats * numSignals
    m.sizeFor(numSats, maskBits, 0)
    val numCells = r.maskInto(m.cellMask, maskBits)
    m.sizeFor(numSats, maskBits, numCells)
    m.satCount = numSats
    m.signalCount = numSignals
    m.cellCount = numCells

    // GLONASS epoch: 3-bit day-of-week + 27-bit time-of-day-ms packed
    // into the 30-bit epoch field (reference: src/rtcm3.py:106-110).
    if (t >= 1081 && t <= 1087) {
      m.epochMs = rawEpoch & ((1L << 27) - 1)
      m.glonassDow = (rawEpoch >> 27).toInt
    } else {
      m.epochMs = rawEpoch
      m.glonassDow = -1
    }

    // Field-major on the wire: all field-1 values, then all field-2 …
    // (reference reads "N*uint:w" per field then transposes,
    // src/rtcm3.py:159-166; we read field-major directly into arrays).
    // Fields a flavor does not carry are zeroed.
    val flavor = t % 10
    flavor match {
      case 1 | 2 | 3 =>
        zero(m.rangeInt, numSats); zero(m.extInfo, numSats)
        readUints(r, m.rangeMod, numSats, 10); zero(m.rangeRate, numSats)
      case 4 | 6 =>
        readUints(r, m.rangeInt, numSats, 8); zero(m.extInfo, numSats)
        readUints(r, m.rangeMod, numSats, 10); zero(m.rangeRate, numSats)
      case 5 | 7 =>
        readUints(r, m.rangeInt, numSats, 8)
        readUints(r, m.extInfo, numSats, 4)
        readUints(r, m.rangeMod, numSats, 10)
        readInts(r, m.rangeRate, numSats, 14)
      case other => throw new IllegalArgumentException(s"MSM flavor $other")
    }

    flavor match {
      case 1 =>
        readLongs(r, m.code, numCells, 15)
        zero(m.phase, numCells); zero(m.lock, numCells); zero(m.half, numCells)
        zero(m.cnrs, numCells); zero(m.rates, numCells)
      case 2 =>
        zero(m.code, numCells)
        readLongs(r, m.phase, numCells, 22)
        readUints(r, m.lock, numCells, 4)
        readBools(r, m.half, numCells)
        zero(m.cnrs, numCells); zero(m.rates, numCells)
      case 3 | 4 | 5 =>
        readLongs(r, m.code, numCells, 15)
        readLongs(r, m.phase, numCells, 22)
        readUints(r, m.lock, numCells, 4)
        readBools(r, m.half, numCells)
        if (flavor >= 4) readUints(r, m.cnrs, numCells, 6) else zero(m.cnrs, numCells)
        if (flavor == 5) readInts(r, m.rates, numCells, 15) else zero(m.rates, numCells)
      case 6 | 7 =>
        readLongs(r, m.code, numCells, 20)
        readLongs(r, m.phase, numCells, 24)
        readUints(r, m.lock, numCells, 10)
        readBools(r, m.half, numCells)
        readUints(r, m.cnrs, numCells, 10)
        if (flavor == 7) readInts(r, m.rates, numCells, 15) else zero(m.rates, numCells)
    }
  }

  private def readUints(r: BitReader, a: Array[Int], n: Int, width: Int): Unit = {
    var i = 0
    while (i < n) { a(i) = r.uint(width).toInt; i += 1 }
  }

  private def readInts(r: BitReader, a: Array[Int], n: Int, width: Int): Unit = {
    var i = 0
    while (i < n) { a(i) = r.int(width).toInt; i += 1 }
  }

  private def readLongs(r: BitReader, a: Array[Long], n: Int, width: Int): Unit = {
    var i = 0
    while (i < n) { a(i) = r.int(width); i += 1 }
  }

  /** One-bit unsigned fields (the half-cycle ambiguity flags). */
  private def readBools(r: BitReader, a: Array[Boolean], n: Int): Unit = {
    var i = 0
    while (i < n) { a(i) = r.uint(1) == 1L; i += 1 }
  }

  private def zero(a: Array[Int], n: Int): Unit = java.util.Arrays.fill(a, 0, n, 0)
  private def zero(a: Array[Long], n: Int): Unit = java.util.Arrays.fill(a, 0, n, 0L)
  private def zero(a: Array[Boolean], n: Int): Unit = java.util.Arrays.fill(a, 0, n, false)
}
