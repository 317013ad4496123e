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
  * bounded (maxBuffer) so per-key streaming state can't grow without
  * limit at scale (SURVEY.md §7 risk 6).
  *
  * Pure function of (state, chunk) → (state', frames), so one fold
  * serves every front end: the NTRIP source's reader threads run it per
  * connection as bytes arrive, `RtcmStreaming.frameStream` carries the
  * state per mountpoint for other chunk streams, and
  * `RtcmPipeline.frameChunks` folds it over batch rows.
  */
object RtcmFraming {
  final val Preamble: Byte = 0xD3.toByte

  /** Residual undecoded bytes carried between chunks. */
  final case class State(buffer: Array[Byte]) {
    def size: Int = buffer.length
  }
  val emptyState: State = State(Array.emptyByteArray)

  final val DefaultMaxBuffer: Int = 1 << 20 // 1 MiB per mountpoint

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
          val frame = java.util.Arrays.copyOfRange(buf, start, start + frameLen)
          if (Crc24q.frameValid(frame)) {
            frames += frame
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
    // per-key state without limit. Keep the newest bytes.
    val truncated = math.max(0, residual.length - maxBuffer)
    if (truncated > 0)
      residual = java.util.Arrays.copyOfRange(residual, truncated, residual.length)
    Fed(State(residual), frames.result(), crcRejects, truncated)
  }

  /** Convenience: extract all frames from a self-contained byte blob. */
  def frames(data: Array[Byte]): Vector[Array[Byte]] = feed(emptyState, data)._2

  /** The frames of `packed`, which holds whole frames back to back (as
    * the NTRIP source's chunks do, [[feed]] having already checked their
    * CRCs): each frame's extent comes from its 10-bit length header, with
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
    * by [[feed]]. */
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
