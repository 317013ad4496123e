package graft.etl

import graft.plans.{DecodeFramesExec, DecodeFramesStrategy}
import graft.rtcm._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the `DecodeFrames` plan node (`RtcmPipeline.decode`) with
  * `decodeOne`, frame by frame. The batch path, the streaming path and
  * the ingest benchmark's digest all go through the node, so a row
  * conversion bug they share would show nowhere else. */
class DecodeFramesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One frame of every message kind the decoder knows: MSM4/5/7 of all
    * six constellations, ARP 1005/1006, legacy 1004/1012, a text
    * message, and a CRC-valid junk payload that becomes a dead letter. */
  private def everyKind: Seq[Array[Byte]] = {
    val rnd = new java.util.Random(7L)
    val msm = Seq(1074, 1075, 1077, 1084, 1085, 1087, 1094, 1095, 1097,
      1104, 1105, 1107, 1114, 1115, 1117, 1124, 1125, 1127).map(t =>
      RtcmEncoder.msmFrame(SyntheticRtcm.msm(rnd, t, 200, 43200000L + t)))
    val arp = Seq(
      RtcmEncoder.arpFrame(ArpMessage(1005, 200, 35000000123L, 9000000456L, 52000000789L, None)),
      RtcmEncoder.arpFrame(ArpMessage(1006, 200, 35000000124L, 9000000457L, 52000000790L,
        Some(15000L))))
    val legacy = Seq(
      RtcmEncoder.legacyFrame(LegacyObsMessage(1004, 200, 43200000L, 5)),
      RtcmEncoder.legacyFrame(LegacyObsMessage(1012, 200, 43200000L, 3)))
    val text = RtcmEncoder.textFrame(TextMessage(1029, 200, 60310, 43200, 5, "hello"))
    val w = new BitWriter
    w.uint(1077, 12).uint(1, 12).uint(5, 8) // far too short for an MSM header
    msm ++ arp ++ legacy ++ Seq(text, RtcmEncoder.frame(w.toBytes))
  }

  /** The synthetic corpus plus a mountpoint carrying every kind, split
    * into chunks at frame-misaligned boundaries. */
  private def chunks: Seq[RawChunk] = {
    val body = everyKind.flatMap(_.toSeq).toArray
    val kinds = body.grouped(37).zipWithIndex.map { case (b, i) =>
      RawChunk("KINDS", SyntheticRtcm.T0Micros + i * 1000L, i.toLong, b)
    }.toSeq
    SyntheticRtcm.corpus(2, 64) ++ kinds
  }

  private def frames(s: SparkSession): Dataset[EncodedFrame] = {
    import s.implicits._
    RtcmPipeline.frameChunks(s.createDataset(chunks))
  }

  private def sorted(fs: Seq[DecodedFrame]): Seq[DecodedFrame] =
    fs.sortBy(f => (f.rtcm_package_id, f.toString))

  test("decode equals decodeOne frame by frame, including every None and dead letter") {
    val fs = frames(spark).persist()
    try {
      val expected = fs.collect().toSeq.map(RtcmPipeline.decodeOne)
      assert(RtcmPipeline.decode(fs).collect().toSeq == expected)
      // the corpus covers what the comparison must cover
      val types = expected.map(_.rtcm_msg_type).toSet
      assert(Set(1074, 1075, 1077, 1127, 1005, 1006, 1004, 1012, 1029, -1).subsetOf(types))
      assert(expected.exists(_.error.isDefined))
      assert(expected.exists(_.rtcm_sat_count.isEmpty) && expected.exists(_.rtcm_sat_count.isDefined))
      assert(expected.exists(_.coordinates.exists(_.antenna_height.isEmpty)))
      assert(expected.exists(_.coordinates.exists(_.antenna_height.isDefined)))
      assert(expected.flatMap(_.observations).map(_.sat_id.head).toSet ==
        Set('G', 'R', 'E', 'S', 'J', 'C'))
    } finally fs.unpersist()
  }

  test("the node's schema is the DecodedFrame encoder's, with no object serializer") {
    val d = RtcmPipeline.decode(frames(spark))
    assert(d.schema == Encoders.product[DecodedFrame].schema)
    val qe = d.queryExecution
    assert(qe.sparkPlan.collectFirst { case e: DecodeFramesExec => e }.isDefined)
    assert(!qe.optimizedPlan.exists {
      case s: SerializeFromObject => s.schema == d.schema
      case _ => false
    })
  }

  test("the node plans in a session built without GraftExtensions") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(DecodeFramesStrategy))
    val fs = frames(fresh)
    val expected = fs.collect().toSeq.map(RtcmPipeline.decodeOne)
    assert(RtcmPipeline.decode(fs).collect().toSeq == expected)
    assert(fresh.experimental.extraStrategies.contains(DecodeFramesStrategy))
  }

  /** Every kind of frame, packed whole and back to back into chunks of
    * one to four frames, each chunk with its own receive time. */
  private def packedChunks: Seq[(RawChunk, Seq[Array[Byte]])] = {
    val kinds = everyKind
    val sizes = Iterator.continually(Seq(1, 3, 2, 4)).flatten
    val out = Seq.newBuilder[(RawChunk, Seq[Array[Byte]])]
    var rest = kinds
    var i = 0
    while (rest.nonEmpty) {
      val (fs, more) = rest.splitAt(sizes.next())
      out += RawChunk("PACKED", SyntheticRtcm.T0Micros + i * 1000L, i.toLong,
        fs.flatMap(_.toSeq).toArray) -> fs
      rest = more
      i += 1
    }
    out.result()
  }

  test("a row of N whole frames decodes to the rows of its N frames") {
    import spark.implicits._
    val chunked = packedChunks
    assert(chunked.exists(_._2.size > 1))
    val perFrame = chunked.flatMap { case (c, fs) =>
      fs.map(f => EncodedFrame(c.mountPoint, c.receiveMicros, f))
    }
    val packed = chunked.map { case (c, _) => EncodedFrame(c.mountPoint, c.receiveMicros, c.data) }
    val got = RtcmPipeline.decode(spark.createDataset(packed)).collect().toSeq
    assert(got == RtcmPipeline.decode(spark.createDataset(perFrame)).collect().toSeq)
    assert(got == perFrame.map(RtcmPipeline.decodeOne))
  }

  test("the node fails loudly on a frame length that runs past the row's end") {
    import spark.implicits._
    val whole = everyKind.take(3).flatMap(_.toSeq).toArray
    val cut = EncodedFrame("PACKED", SyntheticRtcm.T0Micros, whole.dropRight(2))
    val err = intercept[Exception] {
      RtcmPipeline.decode(spark.createDataset(Seq(cut))).collect()
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains("past the")), messages.mkString(" | "))
  }

  test("decodeStream fails a query fed raw reads, naming mountpoint, receive time and offset") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a transport read no Framer saw: it starts with garbage
    val raw = SyntheticRtcm.corpus(1, 8).head
    val input = MemoryStream[RawChunk]
    val q = graft.streaming.RtcmStreaming.decodeStream(input.toDS()).writeStream
      .format("noop").start()
    try {
      input.addData(raw)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
      assert(messages.exists(m =>
        m.contains(s"chunk of mountpoint ${raw.mountPoint} (receiveMicros ${raw.receiveMicros})") &&
          m.contains(s"at byte 0 of a ${raw.data.length}-byte packed chunk")), messages.mkString(" | "))
    } finally q.stop()
  }

  test("decodeStream lands the same rows as the batch decode") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = graft.streaming.StreamingReplay.framed(chunks)
    val input = MemoryStream[RawChunk]
    val q = graft.streaming.RtcmStreaming.decodeStream(input.toDS()).writeStream
      .format("memory").queryName("decode_frames_parity")
      .outputMode(OutputMode.Append)
      .start()
    try {
      all.grouped(all.size / 3 + 1).foreach { part =>
        input.addData(part)
        q.processAllAvailable()
      }
      val streamed = spark.table("decode_frames_parity").as[DecodedFrame].collect().toSeq
      val batch = RtcmPipeline.decode(frames(spark)).collect().toSeq
      assert(streamed.size == batch.size)
      assert(sorted(streamed) == sorted(batch))
    } finally q.stop()
  }
}
