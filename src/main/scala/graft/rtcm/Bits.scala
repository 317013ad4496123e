package graft.rtcm

/** Big-endian bit cursor over bytes `[startBit, endBit)` of an array —
  * the decode substrate for RTCM v3 messages (fields are
  * arbitrary-width big-endian ints). Pure JVM, no Spark dependency; it
  * runs once per frame on the ingest hot path, so a read allocates
  * nothing: a field of up to 56 bits comes from one big-endian 8-byte
  * window (one bounds check), a wider one from two, and a mask is
  * unpacked from such windows. A decoder reads a frame's payload in
  * place by bounding the cursor at the payload's end.
  *
  * A read past `endBit` throws `IllegalArgumentException` with the
  * message `require` would give; a dead-lettered frame keeps that
  * message as landed data, so the messages are part of the contract.
  *
  * Bit-layout semantics follow the reference's bitstring format
  * strings (reference: src/rtcm3.py:315-391).
  */
final class BitReader(val bytes: Array[Byte], startBit: Int, endBit: Int) {
  def this(bytes: Array[Byte], startBit: Int) = this(bytes, startBit, bytes.length * 8)
  def this(bytes: Array[Byte]) = this(bytes, 0)

  private var pos: Int = startBit

  def position: Int = pos
  def remaining: Int = endBit - pos

  /** Read an unsigned big-endian field of `n` bits (n <= 63). */
  def uint(n: Int): Long = {
    if (n < 0 || n > 63) fail(s"uint width $n")
    if (endBit - pos < n) needBits(n)
    val v =
      if (n <= 56) window(pos, n)
      else (window(pos, n - 32) << 32) | window(pos + n - 32, 32)
    pos += n
    v
  }

  /** Read a two's-complement signed field of `n` bits. */
  def int(n: Int): Long = {
    val v = uint(n)
    if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
  }

  def bool(): Boolean = {
    if (endBit - pos < 1) needBits(1)
    val bit = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
    pos += 1
    bit == 1
  }

  def skip(n: Int): Unit = {
    if (endBit - pos < n) fail(s"skip $n bits, have $remaining")
    pos += n
  }

  /** Read `n` bits as a mask, MSB first (mask(0) = first bit on wire). */
  def mask(n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    maskInto(out, n)
    out
  }

  /** Read `n` bits into `out(0 until n)`, as [[mask]] does, and return
    * how many are set. */
  def maskInto(out: Array[Boolean], n: Int): Int = {
    // a mask read bit by bit would stop at the end on a one-bit read
    if (endBit - pos < n) { pos = endBit; needBits(1) }
    var set = 0
    var i = 0
    while (i < n) {
      val w = math.min(56, n - i)
      val v = window(pos, w)
      pos += w
      var j = w - 1
      while (j >= 0) {
        val bit = ((v >>> j) & 1L) != 0
        out(i) = bit
        if (bit) set += 1
        i += 1
        j -= 1
      }
    }
    set
  }

  /** The `n` bits (0..56) at bit `p`, which the caller has bounds-checked. */
  private def window(p: Int, n: Int): Long =
    if (n == 0) 0L
    else {
      val b = p >> 3
      val word =
        if (b + 8 <= bytes.length) BitReader.BigEndian.get(bytes, b): Long
        else {
          // the array's last bytes: zeros stand in past its end
          var w = 0L
          var i = b
          while (i < b + 8) { w = (w << 8) | (if (i < bytes.length) bytes(i) & 0xFF else 0); i += 1 }
          w
        }
      (word << (p & 7)) >>> (64 - n)
    }

  private def needBits(n: Int): Nothing = fail(s"need $n bits, have $remaining")

  private def fail(message: String): Nothing =
    throw new IllegalArgumentException("requirement failed: " + message)
}

private object BitReader {
  private val BigEndian = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.BIG_ENDIAN)
}

/** Append-only big-endian bit writer (test-fixture / 1029 encode path). */
final class BitWriter {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
  private var bitLen = 0

  def lengthBits: Int = bitLen

  def uint(value: Long, n: Int): this.type = {
    require(n >= 0 && n <= 63 && value >= 0 && (n == 63 || value < (1L << n)),
      s"uint $value does not fit in $n bits")
    var i = n - 1
    while (i >= 0) {
      val bit = ((value >> i) & 1L).toInt
      if ((bitLen & 7) == 0) buf += 0
      if (bit == 1) buf(bitLen >> 3) = (buf(bitLen >> 3) | (1 << (7 - (bitLen & 7)))).toByte
      bitLen += 1
      i -= 1
    }
    this
  }

  def int(value: Long, n: Int): this.type = {
    require(value >= -(1L << (n - 1)) && value < (1L << (n - 1)),
      s"int $value does not fit in $n bits")
    uint(if (value < 0) value + (1L << n) else value, n)
  }

  def bool(b: Boolean): this.type = uint(if (b) 1 else 0, 1)

  def maskBits(m: Array[Boolean]): this.type = { m.foreach(bool); this }

  /** Zero-pad to a byte boundary and return the bytes. */
  def toBytes: Array[Byte] = {
    val out = buf.toArray
    out
  }
}
