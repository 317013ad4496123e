package graft.rtcm

/** CRC-24Q (Qualcomm), generator polynomial 0x864CFB — the integrity
  * check appended to every RTCM v3 frame. Table-driven, table derived
  * from the polynomial at class-load (reference: src/crc.py:296-324
  * genLookup; published RTCM 10403 / Qualcomm spec).
  */
object Crc24q {
  private final val Poly = 0x864CFB
  private final val Width = 24
  private final val TopBit = 1 << (Width - 1)
  private final val Mask = 0xFFFFFF

  private val table: Array[Int] = {
    val t = new Array[Int](256)
    var index = 0
    while (index < 256) {
      var r = index << (Width - 8)
      var k = 0
      while (k < 8) {
        r = if ((r & TopBit) != 0) (r << 1) ^ Poly else r << 1
        k += 1
      }
      t(index) = r & Mask
      index += 1
    }
    t
  }

  /** CRC over bytes[from, until). */
  def compute(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc = ((crc << 8) ^ table(((bytes(i) & 0xFF) ^ (crc >>> 16)) & 0xFF)) & Mask
      i += 1
    }
    crc
  }

  def compute(bytes: Array[Byte]): Int = compute(bytes, 0, bytes.length)

  /** Validate a complete frame: CRC over all but the trailing 3 bytes
    * must equal the trailing 24 bits. */
  def frameValid(frame: Array[Byte]): Boolean = frameValid(frame, 0, frame.length)

  /** [[frameValid]] over the frame at bytes[from, until), in place. */
  def frameValid(bytes: Array[Byte], from: Int, until: Int): Boolean = {
    if (until - from < 6) return false
    val calc = compute(bytes, from, until - 3)
    val stored = ((bytes(until - 3) & 0xFF) << 16) |
      ((bytes(until - 2) & 0xFF) << 8) |
      (bytes(until - 1) & 0xFF)
    calc == stored
  }
}
