package graft.rtcm

/** RTCM v3 frame alignment over an unbounded byte stream.
  *
  * Wire format (reference: src/ntripclient.py:20-21,523-554):
  * {{{
  * frame := 0xD3 | 6 reserved bits | 10-bit payload length
  *        | payload | 24-bit CRC-24Q over everything before it
  * }}}
  *
  * Semantics mirrored from the reference's state machine: scan for the
  * 0xD3 preamble byte-aligned, peek the length, wait for the full
  * frame, CRC-check; on mismatch drop ONE byte and realign
  * (src/ntripclient.py:546-552). State is the residual buffer — kept
  * bounded (maxBuffer) so a connection's framing state can't grow
  * without limit at scale (SURVEY.md §7 risk 6).
  *
  * One core ([[scan]]) serves both front ends. It checks each
  * candidate's CRC where it lies, in the buffer, and only records where
  * the valid frames start; nothing is copied until a frame is known
  * good. [[feed]] is the pure function of (state, chunk) →
  * (state', frames) that `RtcmPipeline.frameChunks` folds over batch
  * rows. Streams are framed where their bytes are read, one [[Framer]]
  * per connection, which runs the same core in place over one growable
  * residual buffer: the NTRIP source's reader threads,
  * `NtripDurableLog.drain` and the replay harness
  * (`StreamingReplay.run`) all hand Spark chunks of whole frames.
  */
object RtcmFraming {
  final val Preamble: Byte = 0xD3.toByte

  /** Residual undecoded bytes carried between chunks. */
  final case class State(buffer: Array[Byte]) {
    def size: Int = buffer.length
  }
  val emptyState: State = State(Array.emptyByteArray)

  final val DefaultMaxBuffer: Int = 1 << 20 // 1 MiB per connection

  /** What one [[feedCounted]] call did: the new state, the complete
    * CRC-valid frames, how many candidate frames failed their CRC
    * (each costs the framer one dropped byte), and how many carried
    * bytes the `maxBuffer` bound dropped. */
  final case class Fed(state: State, frames: Vector[Array[Byte]], crcRejects: Int,
                       truncatedBytes: Int)

  /** Feed one chunk; returns the new state and any complete CRC-valid
    * frames (each including header + payload + CRC). */
  def feed(state: State, chunk: Array[Byte],
           maxBuffer: Int = DefaultMaxBuffer): (State, Vector[Array[Byte]]) = {
    val fed = feedCounted(state, chunk, maxBuffer)
    (fed.state, fed.frames)
  }

  /** [[feed]], also counting CRC rejects and `maxBuffer` truncation. */
  def feedCounted(state: State, chunk: Array[Byte], maxBuffer: Int = DefaultMaxBuffer): Fed = {
    val buf =
      if (state.buffer.isEmpty) chunk
      else {
        val b = new Array[Byte](state.buffer.length + chunk.length)
        System.arraycopy(state.buffer, 0, b, 0, state.buffer.length)
        System.arraycopy(chunk, 0, b, state.buffer.length, chunk.length)
        b
      }
    val found = new Found
    val start = scan(buf, buf.length, found)
    val frames = Vector.tabulate(found.count) { i =>
      val s = found.starts(i)
      java.util.Arrays.copyOfRange(buf, s, s + frameLength(buf, s))
    }
    val keep = residualStart(start, buf.length, maxBuffer)
    val residual = if (keep == 0) buf else java.util.Arrays.copyOfRange(buf, keep, buf.length)
    Fed(State(residual), frames, found.crcRejects, keep - start)
  }

  /** The length of the frame whose preamble is at `bytes(start)`, from
    * its 10-bit length header. */
  private def frameLength(bytes: Array[Byte], start: Int): Int =
    (((bytes(start + 1) & 0x03) << 8) | (bytes(start + 2) & 0xFF)) + 6

  /** Where the carried residual starts: at `start`, the first byte no
    * frame consumed, unless the `maxBuffer` bound keeps only the newest
    * bytes of `len`. */
  private def residualStart(start: Int, len: Int, maxBuffer: Int): Int =
    math.max(start, len - maxBuffer)

  /** The CRC-valid frames one [[scan]] found, by start offset, and its
    * CRC rejects. */
  private final class Found {
    var starts = new Array[Int](64)
    var count = 0
    var bytes = 0
    var crcRejects = 0

    def clear(): Unit = { count = 0; bytes = 0; crcRejects = 0 }

    def add(start: Int, len: Int): Unit = {
      if (count == starts.length) starts = java.util.Arrays.copyOf(starts, count * 2)
      starts(count) = start
      count += 1
      bytes += len
    }

    /** The found frames of `buf`, copied back to back into one array. */
    def joined(buf: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](bytes)
      var at = 0
      var i = 0
      while (i < count) {
        val len = frameLength(buf, starts(i))
        System.arraycopy(buf, starts(i), out, at, len)
        at += len
        i += 1
      }
      out
    }
  }

  /** The framing core: scans `buf[0, len)` for the preamble
    * byte-aligned, waits for a whole candidate frame, and checks its CRC
    * where it lies. A valid frame is recorded in `found` and skipped
    * whole; a mismatch drops ONE byte and realigns. Returns the offset
    * of the first byte not consumed, where an unfinished candidate (or
    * fewer than 6 bytes) starts. */
  private def scan(buf: Array[Byte], len: Int, found: Found): Int = {
    var start = 0
    while (true) {
      while (start < len && buf(start) != Preamble) start += 1
      if (len - start < 6) return start // not enough bytes for header+CRC
      val frameLen = frameLength(buf, start)
      if (len - start < frameLen) return start // incomplete frame: wait for more bytes
      if (Crc24q.frameValid(buf, start, start + frameLen)) {
        found.add(start, frameLen)
        start += frameLen
      } else {
        start += 1 // CRC mismatch: drop one byte, realign
        found.crcRejects += 1
      }
    }
    start
  }

  /** What a [[Framer]] has kept and dropped so far: `frames` emitted,
    * candidate frames that failed their CRC, `skippedBytes` read that
    * are in no frame (noise, CRC rejects, truncation and residuals
    * dropped by [[Framer.reset]]), and the part of those that the
    * `maxBuffer` bound truncated. */
  final case class Counts(frames: Long, crcRejects: Long, skippedBytes: Long,
                          truncatedBytes: Long)

  /** One connection's framing: [[feedCounted]]'s core run over its
    * reads, in place. [[push]] appends a read to one growable residual
    * buffer, checks each candidate's CRC where it lies, and copies the
    * CRC-valid frames the read completed once, back to back, into the
    * chunk it returns, so a chunk of whole frames carries the receive
    * time of the read that completed them. The residual (an unfinished
    * candidate, shorter than the longest frame, 1029 bytes, unless
    * `maxBuffer` is smaller) moves to the front of the buffer. One
    * thread pushes; [[counts]] may be read from any. */
  final class Framer(maxBuffer: Int = DefaultMaxBuffer) {
    private var buf = new Array[Byte](8192)
    private var len = 0
    private val found = new Found
    @volatile private var counted = Counts(0L, 0L, 0L, 0L)

    def counts: Counts = counted

    /** The whole frames `read` completed, back to back, or None. */
    def push(read: Array[Byte]): Option[Array[Byte]] = push(read, read.length)

    /** The whole frames `read[0, n)` completed, back to back, or None. */
    def push(read: Array[Byte], n: Int): Option[Array[Byte]] = {
      if (buf.length - len < n) buf = java.util.Arrays.copyOf(buf, math.max(len + n, buf.length * 2))
      System.arraycopy(read, 0, buf, len, n)
      val before = len
      len += n
      found.clear()
      val start = scan(buf, len, found)
      val chunk = if (found.count == 0) None else Some(found.joined(buf))
      val keep = residualStart(start, len, maxBuffer)
      System.arraycopy(buf, keep, buf, 0, len - keep)
      len -= keep
      val c = counted
      counted = Counts(c.frames + found.count, c.crcRejects + found.crcRejects,
        c.skippedBytes + before + n - len - found.bytes, c.truncatedBytes + keep - start)
      chunk
    }

    /** Drop the unfinished residual, counting it as skipped: the
      * connection ended, and its bytes could only fail a CRC against
      * the next one. */
    def reset(): Unit = {
      val c = counted
      counted = c.copy(skippedBytes = c.skippedBytes + len)
      len = 0
    }
  }

  /** Convenience: extract all frames from a self-contained byte blob. */
  def frames(data: Array[Byte]): Vector[Array[Byte]] = feed(emptyState, data)._2

  /** The frames of `packed`, which holds whole frames back to back (as
    * a [[Framer]]'s chunks do, having already checked their CRCs): each
    * frame's extent comes from its 10-bit length header, with
    * no search and no CRC (see [[packedFrameEnd]]). A single frame
    * spanning all of `packed` is returned as `packed` itself, uncopied. */
  def splitPacked(packed: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var pos = 0
    override def hasNext: Boolean = pos < packed.length
    override def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException("no frame left")
      val end = packedFrameEnd(packed, pos)
      val frame =
        if (pos == 0 && end == packed.length) packed
        else java.util.Arrays.copyOfRange(packed, pos, end)
      pos = end
      frame
    }
  }

  /** The end of the frame that starts at byte `pos` of `packed` (whole
    * frames back to back), from its length header. A byte that is not a
    * preamble where a frame must start, or a length that runs past the
    * end, throws `IllegalArgumentException`: such input was not framed
    * by a [[Framer]]. */
  def packedFrameEnd(packed: Array[Byte], pos: Int): Int = {
    if (packed.length - pos < 6 || packed(pos) != Preamble)
      throw new IllegalArgumentException(
        s"requirement failed: no whole RTCM frame at byte $pos of a ${packed.length}-byte packed chunk")
    val end = pos + frameLength(packed, pos)
    if (end > packed.length)
      throw new IllegalArgumentException(
        s"requirement failed: RTCM frame at byte $pos runs to byte $end, past the ${packed.length}-byte packed chunk")
    end
  }
}
