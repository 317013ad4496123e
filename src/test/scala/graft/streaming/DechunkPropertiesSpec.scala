package graft.streaming

import java.io.{IOException, InputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.etl.SyntheticRtcm
import graft.rtcm.RtcmFraming
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The NTRIP client's de-chunking read (`ResponseReader.read`) over
  * random HTTP chunked bodies that arrive in random pieces, split
  * inside size lines and CRLFs, and the framing of what it reads.
  *
  * Driven by `org.scalacheck.Test.check` from fixed seeds, without
  * shrinking; the properties take a few seconds together. */
class DechunkPropertiesSpec extends AnyFunSuite {
  import DechunkPropertiesSpec._

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(Seed(20261019L))

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  /** Reads `wire` through a `ResponseReader` into one reused
    * `NtripClient.ReadSize` array until -1, handing each read to `got`.
    * Fails if a read is empty or, having returned bytes, had blocked
    * after the first of them arrived. */
  private def readAll(wire: Wire, got: (Array[Byte], Int) => Unit): Unit = {
    val reader = new ResponseReader(wire)
    val into = new Array[Byte](NtripClient.ReadSize)
    var payloadAt = 0
    var n = 0
    while (n >= 0) {
      wire.blockedAt.clear()
      n = reader.read(into, chunked = true)
      if (n >= 0) {
        assert(n >= 1 && n <= NtripClient.ReadSize, s"read of $n bytes")
        // the read blocked only while waiting for its first byte
        val first = wire.payloadOffsets(payloadAt)
        assert(wire.blockedAt.forall(_ <= first),
          s"read blocked at wire bytes ${wire.blockedAt} after its first byte (wire byte $first)")
        got(into, n)
        payloadAt += n
      }
    }
    assert(reader.read(into, chunked = true) == -1, "a read after the end")
  }

  test("reads yield the payload of any chunking and read split, each at most ReadSize") {
    check(Prop.forAllNoShrink(Gen.long) { seed =>
      val rnd = new java.util.Random(seed)
      val payload = new Array[Byte](rnd.nextInt(40000))
      rnd.nextBytes(payload)
      val out = new java.io.ByteArrayOutputStream
      readAll(Wire(payload, rnd), (into, n) => out.write(into, 0, n))
      out.toByteArray.sameElements(payload)
    })
  }

  test("pushing the reads through a Framer gives feed's frames and counts over the whole stream") {
    check(Prop.forAllNoShrink(Gen.long) { seed =>
      val rnd = new java.util.Random(seed)
      val stream = rtcmStream(rnd)
      val framer = new RtcmFraming.Framer
      val chunks = Vector.newBuilder[Array[Byte]]
      readAll(Wire(stream, rnd), (into, n) => framer.push(into, n).foreach(chunks += _))
      framer.reset()
      val fed = RtcmFraming.feedCounted(RtcmFraming.emptyState, stream)
      val frameBytes = fed.frames.map(_.length.toLong).sum
      chunks.result().flatMap(RtcmFraming.splitPacked).map(_.toSeq) == fed.frames.map(_.toSeq) &&
        framer.counts == RtcmFraming.Counts(fed.frames.size.toLong, fed.crcRejects.toLong,
          stream.length - frameBytes, fed.truncatedBytes.toLong)
    })
  }

  test("a live read returns the chunk that arrived without waiting for the next") {
    // the first piece holds a whole chunk and half of the next size line
    val pieces = Iterator("5\r\nabcde\r\n3\r".getBytes(ISO_8859_1))
    val in = new InputStream {
      private var cur = Array.emptyByteArray
      private var at = 0
      override def read(): Int = throw new UnsupportedOperationException
      override def available(): Int = cur.length - at
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (at == cur.length) {
          if (!pieces.hasNext) fail("the read blocked for more bytes")
          cur = pieces.next(); at = 0
        }
        val k = math.min(len, cur.length - at)
        System.arraycopy(cur, at, b, off, k)
        at += k
        k
      }
    }
    val into = new Array[Byte](NtripClient.ReadSize)
    val n = new ResponseReader(in).read(into, chunked = true)
    assert(new String(into, 0, n, ISO_8859_1) == "abcde")
  }

  test("a bad chunk size line throws an IOException naming it; a large one is read in pieces") {
    def read(wire: String): Int = new ResponseReader(
      new java.io.ByteArrayInputStream(wire.getBytes(ISO_8859_1)))
      .read(new Array[Byte](NtripClient.ReadSize), chunked = true)
    Seq("zz", "-5", "7fffffff", "80000000", "1 2", "0x10", " ;ext=1").foreach { line =>
      val e = intercept[IOException](read(s"$line\r\nabc"))
      assert(e.getMessage == "bad HTTP chunk size line: \"" + line + "\"", line)
    }
    val long = "1" * 2000
    assert(intercept[IOException](read(s"$long\r\nabc")).getMessage.contains("1" * 64))
    // the largest size accepted, with an extension: the bytes that came
    // are returned, and the stream then ends inside the chunk
    val reader = new ResponseReader(
      new java.io.ByteArrayInputStream("7ffffffd;x=y\r\nabc".getBytes(ISO_8859_1)))
    val into = new Array[Byte](NtripClient.ReadSize)
    assert(reader.read(into, chunked = true) == 3)
    intercept[java.io.EOFException](reader.read(into, chunked = true))
  }
}

object DechunkPropertiesSpec {
  /** `payload` as an HTTP chunked body: chunks of 1–5000 bytes, hex
    * sizes in either case, some with a `;ext`, then the terminal chunk
    * and bytes that are not part of the body. Arrives in random pieces
    * of 1–700 bytes: `available` is what is left of the current piece,
    * and a read that must wait for the next piece records the wire
    * offset it starts at in `blockedAt`. `payloadOffsets(i)` is the wire
    * offset of payload byte `i`. */
  final class Wire private (bytes: Array[Byte], pieceEnds: Array[Int],
                            val payloadOffsets: Array[Int]) extends InputStream {
    val blockedAt = scala.collection.mutable.ArrayBuffer.empty[Int]
    private var at = 0
    private var piece = -1 // the piece being read; pieceEnds(piece) ends it

    override def available(): Int = if (piece < 0) 0 else pieceEnds(piece) - at
    override def read(): Int = throw new UnsupportedOperationException
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (piece < 0 || at == pieceEnds(piece)) {
        if (piece + 1 == pieceEnds.length) return -1
        piece += 1
        blockedAt += at
      }
      val k = math.min(len, pieceEnds(piece) - at)
      System.arraycopy(bytes, at, b, off, k)
      at += k
      k
    }
  }

  object Wire {
    def apply(payload: Array[Byte], rnd: java.util.Random): Wire = {
      val out = new java.io.ByteArrayOutputStream
      def ascii(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
      val offsets = new Array[Int](payload.length)
      var p = 0
      while (p < payload.length) {
        val n = math.min(1 + rnd.nextInt(5000), payload.length - p)
        val hex = Integer.toHexString(n)
        ascii((if (rnd.nextBoolean()) hex else hex.toUpperCase) +
          (if (rnd.nextInt(4) == 0) ";ext=" + rnd.nextInt(100) else "") + "\r\n")
        var i = 0
        while (i < n) { offsets(p + i) = out.size + i; i += 1 }
        out.write(payload, p, n)
        ascii("\r\n")
        p += n
      }
      ascii("0\r\n\r\n")
      ascii("5\r\nnot a body byte\r\n") // after the terminal chunk
      val bytes = out.toByteArray
      val ends = Iterator.iterate(0)(e => math.min(bytes.length, e + 1 + rnd.nextInt(700)))
        .drop(1).takeWhile(_ < bytes.length).toArray :+ bytes.length
      new Wire(bytes, ends, offsets)
    }
  }

  /** Frames with garbage between them (preambles included), a frame
    * with a broken CRC now and then, and maybe a cut last frame. */
  def rtcmStream(rnd: java.util.Random): Array[Byte] = {
    val frames = SyntheticRtcm.framesFor("MNT0", rnd.nextInt(4096), rnd.nextInt(60),
      rnd.nextLong()).map(_._2)
    val out = new java.io.ByteArrayOutputStream
    frames.foreach { f =>
      val g = new Array[Byte](if (rnd.nextBoolean()) 0 else rnd.nextInt(20))
      rnd.nextBytes(g)
      if (g.nonEmpty && rnd.nextInt(3) == 0) g(rnd.nextInt(g.length)) = RtcmFraming.Preamble
      out.write(g)
      val frame = f.clone()
      if (rnd.nextInt(10) == 0) {
        val i = 3 + rnd.nextInt(frame.length - 3)
        frame(i) = (frame(i) ^ 0x10).toByte
      }
      out.write(frame)
    }
    if (frames.nonEmpty && rnd.nextBoolean()) out.write(frames.head, 0, rnd.nextInt(frames.head.length))
    out.toByteArray
  }
}
