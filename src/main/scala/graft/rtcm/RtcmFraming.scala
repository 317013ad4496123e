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
  * Pure function of (state, chunk) → (state', frames), so one fold
  * serves every front end. Streams are framed where their bytes are
  * read, one [[Framer]] per connection: the NTRIP source's reader
  * threads, `NtripDurableLog.drain` and the replay harness
  * (`StreamingReplay.run`) all hand Spark chunks of whole frames.
  * `RtcmPipeline.frameChunks` folds it over batch rows.
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
    var buf =
      if (state.buffer.isEmpty) chunk
      else {
        val b = new Array[Byte](state.buffer.length + chunk.length)
        System.arraycopy(state.buffer, 0, b, 0, state.buffer.length)
        System.arraycopy(chunk, 0, b, state.buffer.length, chunk.length)
        b
      }
    val frames = Vector.newBuilder[Array[Byte]]
    var start = 0
    var crcRejects = 0

    def scanPreamble(): Unit = {
      while (start < buf.length && buf(start) != Preamble) start += 1
    }

    var done = false
    while (!done) {
      scanPreamble()
      if (buf.length - start < 6) {
        done = true // not enough bytes for header+CRC
      } else {
        val payloadLen = ((buf(start + 1) & 0x03) << 8) | (buf(start + 2) & 0xFF)
        val frameLen = payloadLen + 6
        if (buf.length - start < frameLen) {
          done = true // incomplete frame: wait for more bytes
        } else {
          if (Crc24q.frameValid(buf, start, start + frameLen)) {
            frames += java.util.Arrays.copyOfRange(buf, start, start + frameLen)
            start += frameLen
          } else {
            start += 1 // CRC mismatch: drop one byte, realign
            crcRejects += 1
          }
        }
      }
    }
    var residual =
      if (start == 0) buf
      else java.util.Arrays.copyOfRange(buf, start, buf.length)
    // Bound the carried state: a hostile/garbled stream must not grow
    // it without limit. Keep the newest bytes.
    val truncated = math.max(0, residual.length - maxBuffer)
    if (truncated > 0)
      residual = java.util.Arrays.copyOfRange(residual, truncated, residual.length)
    Fed(State(residual), frames.result(), crcRejects, truncated)
  }

  /** What a [[Framer]] has kept and dropped so far: `frames` emitted,
    * candidate frames that failed their CRC, `skippedBytes` read that
    * are in no frame (noise, CRC rejects, truncation and residuals
    * dropped by [[Framer.reset]]), and the part of those that the
    * `maxBuffer` bound truncated. */
  final case class Counts(frames: Long, crcRejects: Long, skippedBytes: Long,
                          truncatedBytes: Long)

  /** One connection's framing: [[feedCounted]] folded over its reads.
    * [[push]] returns the CRC-valid frames a read completed, joined back
    * to back into one chunk, so a chunk of whole frames carries the
    * receive time of the read that completed them. One thread pushes;
    * [[counts]] may be read from any. */
  final class Framer(maxBuffer: Int = DefaultMaxBuffer) {
    private var state = emptyState
    @volatile private var counted = Counts(0L, 0L, 0L, 0L)

    def counts: Counts = counted

    /** The whole frames `read` completed, back to back, or None. */
    def push(read: Array[Byte]): Option[Array[Byte]] = {
      val fed = feedCounted(state, read, maxBuffer)
      val frames = fed.frames
      val frameBytes = frames.map(_.length.toLong).sum
      val c = counted
      counted = Counts(c.frames + frames.size, c.crcRejects + fed.crcRejects,
        c.skippedBytes + state.size + read.length - fed.state.size - frameBytes,
        c.truncatedBytes + fed.truncatedBytes)
      state = fed.state
      if (frames.isEmpty) None
      else if (frames.size == 1) Some(frames.head)
      else {
        val all = new Array[Byte](frameBytes.toInt)
        var at = 0
        frames.foreach { f => System.arraycopy(f, 0, all, at, f.length); at += f.length }
        Some(all)
      }
    }

    /** Drop the unfinished residual, counting it as skipped: the
      * connection ended, and its bytes could only fail a CRC against
      * the next one. */
    def reset(): Unit = {
      val c = counted
      counted = c.copy(skippedBytes = c.skippedBytes + state.size)
      state = emptyState
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
    val end = pos + (((packed(pos + 1) & 0x03) << 8) | (packed(pos + 2) & 0xFF)) + 6
    if (end > packed.length)
      throw new IllegalArgumentException(
        s"requirement failed: RTCM frame at byte $pos runs to byte $end, past the ${packed.length}-byte packed chunk")
    end
  }
}
