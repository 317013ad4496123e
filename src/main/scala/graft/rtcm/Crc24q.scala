package graft.rtcm

/** CRC-24Q (Qualcomm), generator polynomial 0x864CFB — the integrity
  * check appended to every RTCM v3 frame (reference: src/crc.py:296-324
  * genLookup; published RTCM 10403 / Qualcomm spec). MSB first, zero
  * initial value, no final XOR.
  *
  * Computed by slicing-by-8 (Kounavis & Berry, ISCC 2005): the 24-bit
  * CRC is held in the top of a 32-bit register (polynomial
  * `0x864CFB00`), and each step reads eight bytes as two big-endian
  * ints and looks them up in eight 256-entry tables, where table `k`
  * is a byte's effect followed by `k` zero bytes. The last `< 8` bytes
  * go through table 0 one at a time. Tables are derived from the
  * polynomial at class load.
  */
object Crc24q {
  private final val Poly32 = 0x864CFB00

  /** `tables(k * 256 + b)`: the register after byte `b` and then `k`
    * zero bytes, from a zero register. */
  private val tables: Array[Int] = {
    val t = new Array[Int](8 * 256)
    var b = 0
    while (b < 256) {
      var r = b << 24
      var k = 0
      while (k < 8) {
        r = if (r < 0) (r << 1) ^ Poly32 else r << 1
        k += 1
      }
      t(b) = r
      b += 1
    }
    var k = 1
    while (k < 8) {
      b = 0
      while (b < 256) {
        val prev = t((k - 1) * 256 + b)
        t(k * 256 + b) = (prev << 8) ^ t(prev >>> 24)
        b += 1
      }
      k += 1
    }
    t
  }

  private val BigEndian = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Int]], java.nio.ByteOrder.BIG_ENDIAN)

  /** CRC over bytes[from, until). */
  def compute(bytes: Array[Byte], from: Int, until: Int): Int = {
    val t = tables
    var crc = 0 // CRC-24 in bits 31..8
    var i = from
    while (i + 8 <= until) {
      val a = crc ^ (BigEndian.get(bytes, i): Int)
      val b = BigEndian.get(bytes, i + 4): Int
      crc = t(7 * 256 + (a >>> 24)) ^ t(6 * 256 + ((a >>> 16) & 0xFF)) ^
        t(5 * 256 + ((a >>> 8) & 0xFF)) ^ t(4 * 256 + (a & 0xFF)) ^
        t(3 * 256 + (b >>> 24)) ^ t(2 * 256 + ((b >>> 16) & 0xFF)) ^
        t(256 + ((b >>> 8) & 0xFF)) ^ t(b & 0xFF)
      i += 8
    }
    while (i < until) {
      crc = (crc << 8) ^ t(((crc >>> 24) ^ bytes(i)) & 0xFF)
      i += 1
    }
    crc >>> 8
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
