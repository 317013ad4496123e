package graft.streaming

import java.io.{BufferedReader, InputStreamReader}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

import graft.etl.{RtcmPipeline, SparkTestSession, SyntheticRtcm}
import graft.rtcm.RtcmFraming
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once live-source option: NtripClient → durable log of
  * whole-frame chunks (atomically-rolled JSON files) → Spark file
  * streaming source → the stateless decode. The restart tests kill the
  * query mid-stream, append more live data to the log, restart from
  * the same checkpoint, and assert every frame landed exactly once —
  * the delivery the raw TCP source cannot give. */
class DurableLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One-shot chunked caster for a fixed frame list. */
  private def serve(server: ServerSocket, frames: Seq[Array[Byte]]): Thread = {
    val t = new Thread(() => {
      val sock = server.accept()
      try {
        val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
        Iterator.continually(rd.readLine()).takeWhile(l => l != null && l.nonEmpty).foreach(_ => ())
        val out = sock.getOutputStream
        def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
        w("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
        val body = frames.flatMap(_.toSeq).toArray
        var off = 0
        val lens = Iterator.continually(Seq(9, 41, 103, 222)).flatten
        while (off < body.length) {
          val n = math.min(lens.next(), body.length - off)
          w(f"$n%x\r\n"); out.write(body, off, n); w("\r\n")
          off += n
        }
        w("0\r\n\r\n")
        out.flush()
      } finally sock.close()
    })
    t.setDaemon(true)
    t.start()
    t
  }

  /** Drains one caster connection serving `frames` into the log, every
    * read stamped `receiveMicros`. */
  private def drainCasterToLog(frames: Seq[Array[Byte]], logDir: java.nio.file.Path,
                               startSeq: Long, receiveMicros: Long): NtripDurableLog.Drained = {
    val server = new ServerSocket(0)
    try {
      serve(server, frames)
      val c = new NtripClient("127.0.0.1", server.getLocalPort)
      c.openStream("MNT0")
      val drained = NtripDurableLog.drain(c, "MNT0", logDir, () => receiveMicros, rollEvery = 5,
        startSeq = startSeq)
      c.close()
      drained
    } finally server.close()
  }

  test("restart replays from the durable log without loss or duplication") {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val root = Files.createTempDirectory("graft-durable")
    val logDir = root.resolve("log")
    val outDir = root.resolve("out").toString
    val ckDir = root.resolve("ck").toString

    val phase1 = SyntheticRtcm.framesFor("MNT0", 100, 40, 61L).map(_._2)
    val phase2 = SyntheticRtcm.framesFor("MNT0", 101, 20, 62L).map(_._2)
    assert((phase1 ++ phase2).map(_.toSeq).distinct.size == 60)

    def runQuery(): Unit = {
      val q = RtcmStreaming.decodeStream(NtripDurableLog.readStream(spark, logDir.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1: live data → log → query lands it, then "crashes" (stop)
    val d1 = drainCasterToLog(phase1, logDir, startSeq = 0L, 1700000000000000L)
    val n1 = d1.lines
    assert(n1 > 0)
    assert(d1.framing == RtcmFraming.Counts(40L, 0L, 0L, 0L))
    runQuery()
    val afterPhase1 = spark.read.parquet(outDir).count()
    assert(afterPhase1 == 40, s"phase 1 landed $afterPhase1")

    // while "down": more live data arrives; the writer resumes its
    // numbering from the directory (its own restart story)
    val resumeAt = NtripDurableLog.nextSeq(logDir, "MNT0")
    assert(resumeAt == n1)
    drainCasterToLog(phase2, logDir, startSeq = resumeAt, 1700000100000000L)

    // the writer framed the frame-misaligned reads: each line is whole
    // frames, and the lines in seq order are the served frames
    val logged = NtripDurableLog.readBatch(spark, logDir.toString).collect().sortBy(_.seq)
    assert(logged.map(_.seq).toSeq == logged.indices.map(_.toLong))
    assert(logged.flatMap(c => RtcmFraming.splitPacked(c.data)).map(_.toSeq).toSeq ==
      (phase1 ++ phase2).map(_.toSeq))

    // restart from the SAME checkpoint: only the new files replay
    runQuery()
    val ids = spark.read.parquet(outDir).select("rtcm_package_id").as[Long].collect()
    assert(ids.length == 60, s"expected 60 frames exactly once, got ${ids.length}")
    val expected = RtcmPipeline.decode(RtcmPipeline.frameChunks(
      NtripDurableLog.readBatch(spark, logDir.toString))).select("rtcm_package_id").as[Long]
    assert(ids.sorted.toSeq == expected.collect().sorted.toSeq)
  }

  test("windowed dashboard aggregate survives a mid-stream restart exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    // the full streaming-analytics loop under failure: durable log →
    // stateless decode → watermarked 30 s gap windows →
    // parquet sink, killed between two live phases and restarted from
    // the same checkpoint; the landed windows must EQUAL the batch
    // recompute over the whole log — no lost, duplicated, or partial
    // window despite open window state at the kill point
    val root = Files.createTempDirectory("graft-durable-win")
    val logDir = root.resolve("log")
    val outDir = root.resolve("out").toString
    val ckDir = root.resolve("ck").toString

    // one connection per frame, 5 s of receive time apart → each phase
    // spans several 30 s windows, however the bytes are read
    var micros = 1700000000000000L
    def drainEach(frames: Seq[Array[Byte]], startSeq: Long): Long =
      frames.foldLeft(startSeq) { (seq, f) =>
        micros += 5000000L
        seq + drainCasterToLog(Seq(f), logDir, seq, micros).lines
      } - startSeq
    val phase1 = SyntheticRtcm.framesFor("MNT0", 100, 40, 71L).map(_._2)
    val phase2 = SyntheticRtcm.framesFor("MNT0", 101, 40, 72L).map(_._2)

    def runQuery(): Unit = {
      val decoded = RtcmStreaming.decodeStream(
        NtripDurableLog.readStream(spark, logDir.toString))
      val q = DashboardStreams.gapHeatmap(decoded, watermark = "2 minutes")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }

    val n1 = drainEach(phase1, 0L)
    assert(n1 == 40) // a frame is completed by one read: one line
    runQuery() // "crash" with windows open
    val resumeAt = NtripDurableLog.nextSeq(logDir, "MNT0")
    assert(resumeAt == n1)
    val n2 = drainEach(phase2, resumeAt)
    // watermark flush: one frame far past everything
    micros += 600000000L
    drainCasterToLog(phase1.take(1), logDir, startSeq = resumeAt + n2, micros)
    runQuery() // restart from the same checkpoint

    // ground truth: the batch pipeline over the SAME durable log,
    // minus windows the flush could not close (≥ watermark horizon)
    val allChunks = NtripDurableLog.readBatch(spark, logDir.toString)
    val batchPkgs = RtcmPipeline.packages(RtcmPipeline.decode(RtcmPipeline.frameChunks(allChunks)))
    // the watermark the flush frame's receive time sets
    val horizon = micros / 1000000L - 120
    val expected = batchPkgs
      .filter(col("rtcm_obs_epoch").isNotNull)
      .groupBy(graft.queries.Q.bucket(col("receive_time"), 30).as("bucket"),
        col("mountpoint"))
      .agg(count(lit(1)).as("n"))
      .filter(col("bucket") + 30 <= horizon)
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(outDir)
      .filter(col("bucket") + 30 <= horizon)
      .collect().map(_.toSeq).toSet
    assert(got == expected, s"streamed windows != batch recompute")
    assert(got.size >= 4, s"expected several closed windows, got ${got.size}")
    // exactly-once: no duplicate (bucket, mountpoint) rows landed
    val all = spark.read.parquet(outDir).collect()
    assert(all.map(r => (r.getLong(0), r.getString(1))).distinct.length == all.length)
  }

  test("the drain reports the framing counts the NTRIP source reports for the same bytes") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // garbage with preambles, a frame with a broken CRC, noise between
    // frames, and a last frame cut short: every count is exercised
    val rnd = new java.util.Random(65L)
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 30, 66L).map(_._2)
    val body = scala.collection.mutable.ArrayBuffer.empty[Byte]
    frames.zipWithIndex.foreach { case (f, i) =>
      val g = new Array[Byte](rnd.nextInt(12))
      rnd.nextBytes(g)
      if (g.nonEmpty && i % 3 == 0) g(0) = RtcmFraming.Preamble
      body ++= g
      body ++= (if (i == 7) f.updated(f.length - 2, (f(f.length - 2) ^ 0x21).toByte) else f)
    }
    body ++= frames.head.take(25)
    val bytes = body.toArray

    val drained = drainCasterToLog(Seq(bytes), Files.createTempDirectory("graft-durable-counts"),
      startSeq = 0L, 1700000000000000L)
    val whole = RtcmFraming.feedCounted(RtcmFraming.emptyState, bytes)
    assert(drained.framing == RtcmFraming.Counts(whole.frames.size.toLong, whole.crcRejects.toLong,
      bytes.length - whole.frames.map(_.length.toLong).sum, 0L))
    assert(drained.framing.crcRejects >= 1 && drained.framing.skippedBytes > 25, drained)

    val server = new ServerSocket(0)
    try {
      serve(server, Seq(bytes))
      val stream = new NtripMicroBatchStream(new CaseInsensitiveStringMap(Map(
        "host" -> "127.0.0.1", "port" -> server.getLocalPort.toString,
        "mountpoints" -> "MNT0").asJava))
      try {
        // the reader drops its residual when the stream ends
        def reported: RtcmFraming.Counts = {
          val m = stream.metrics(java.util.Optional.empty()).asScala
          RtcmFraming.Counts(m("MNT0.frames").toLong, m("MNT0.crcRejects").toLong,
            m("MNT0.skippedBytes").toLong, m("MNT0.truncatedBytes").toLong)
        }
        val deadline = System.currentTimeMillis() + 10000
        while (reported != drained.framing && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(reported == drained.framing)
      } finally stream.stop()
    } finally server.close()
  }

  test("a log of raw reads, written before the writer framed them, fails naming its file") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val logDir = Files.createTempDirectory("graft-durable-raw")
    val read = SyntheticRtcm.framesFor("MNT0", 100, 1, 63L).head._2.take(10)
    val old = logDir.resolve("MNT0-000000000000.json")
    Files.write(old, (s"""{"mountPoint":"MNT0","receiveMicros":1,"seq":0,"data":"""" +
      java.util.Base64.getEncoder.encodeToString(read) + "\"}\n").getBytes(UTF_8))
    def names(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
        .exists(m => m.contains("without a frames field") && m.contains(old.getFileName.toString))

    val batchErr = intercept[Exception](NtripDurableLog.readBatch(spark, logDir.toString).collect())
    assert(names(batchErr), batchErr)
    val q = RtcmStreaming.decodeStream(NtripDurableLog.readStream(spark, logDir.toString))
      .writeStream.format("noop").start()
    try {
      val streamErr = intercept[StreamingQueryException](q.processAllAvailable())
      assert(names(streamErr), streamErr)
    } finally q.stop()
  }
}
