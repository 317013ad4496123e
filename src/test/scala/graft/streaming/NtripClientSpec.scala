package graft.streaming

import java.io.{BufferedReader, InputStreamReader}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.etl.{RawChunk, SparkTestSession, SyntheticRtcm}
import graft.rtcm.{Crc24q, RtcmFraming}
import org.scalatest.funsuite.AnyFunSuite

/** Live-socket NTRIP path: a localhost caster serving a chunked
  * HTTP body (the reference's transfer mode, ntripclient.py:437-455)
  * feeds the client → `RtcmFraming.Framer` (in the source's reader
  * threads, as bytes arrive) → stateless decode — the byte-level
  * contract end-to-end over a real TCP connection. */
class NtripClientSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The largest chunk a reader buffers: the frames one read of
    * `NtripClient.ReadSize` bytes completes, the first of which may
    * start in the residual, which is shorter than a 1029-byte frame. */
  private val MaxChunkBytes = NtripClient.ReadSize + 1028

  /** Every read of the client's open stream, each copied out of the
    * `NtripClient.ReadSize` array it was read into. */
  private def readAll(c: NtripClient): Vector[Array[Byte]] = {
    val read = new Array[Byte](NtripClient.ReadSize)
    Iterator.continually(c.read(read)).takeWhile(_ >= 0)
      .map(n => java.util.Arrays.copyOf(read, n)).toVector
  }

  /** One-shot caster: handles a single connection. Chunked RTCM body
    * split at deliberately frame-misaligned boundaries. Captures the
    * request header lines for wire-format assertions. */
  private def serveOnce(server: ServerSocket, frames: Seq[Array[Byte]],
                        chunkLens: Iterator[Int],
                        reqSink: Seq[String] => Unit = _ => ()): Thread = {
    val t = new Thread(() => {
      val sock = server.accept()
      try {
        val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
        val req = Iterator.continually(rd.readLine())
          .takeWhile(l => l != null && l.nonEmpty).toSeq
        reqSink(req)
        val out = sock.getOutputStream
        def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
        // a real caster accepts ONLY GET on the client path — the
        // reference's stream request line (ntripclient.py:160)
        if (req.head.startsWith("GET / ")) {
          w("HTTP/1.1 200 OK\r\n\r\n")
          w("CAS;caster;2101\r\nSTR;MNT0;MNT0;RTCM 3.2\r\nENDSOURCETABLE\r\n")
        } else if (!req.head.startsWith("GET /")) {
          w("HTTP/1.1 405 Method Not Allowed\r\n\r\n")
        } else {
          assert(req.head.startsWith("GET /MNT0 "), req.head)
          assert(req.exists(_.startsWith("Ntrip-Version: Ntrip/2.0")))
          w("HTTP/1.1 200 OK\r\nContent-Type: gnss/data\r\nTransfer-Encoding: chunked\r\n\r\n")
          val body = frames.flatMap(_.toSeq).toArray
          var off = 0
          while (off < body.length) {
            val n = math.min(chunkLens.next(), body.length - off)
            w(f"$n%x\r\n")
            out.write(body, off, n)
            w("\r\n")
            off += n
          }
          w("0\r\n\r\n")
        }
        out.flush()
      } finally sock.close()
    })
    t.setDaemon(true)
    t.start()
    t
  }

  /** Multi-connection caster: serves the mountpoint each request asks
    * for (chunked), until closed. */
  private def serveMany(server: ServerSocket,
                        perMount: Map[String, Seq[Array[Byte]]]): Thread = {
    val t = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          val h = new Thread(() => {
            try {
              val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
              val req = Iterator.continually(rd.readLine())
                .takeWhile(l => l != null && l.nonEmpty).toSeq
              val mount = req.head.split(" ")(1).stripPrefix("/")
              val out = sock.getOutputStream
              def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
              w("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
              val body = perMount(mount).flatMap(_.toSeq).toArray
              var off = 0
              val lens = Iterator.continually(Seq(11, 47, 96, 201)).flatten
              while (off < body.length) {
                val n = math.min(lens.next(), body.length - off)
                w(f"$n%x\r\n"); out.write(body, off, n); w("\r\n")
                off += n
              }
              w("0\r\n\r\n")
              out.flush()
            } finally sock.close()
          })
          h.setDaemon(true)
          h.start()
        }
      } catch { case _: Throwable => () } // server closed
    })
    t.setDaemon(true)
    t.start()
    t
  }

  test("DataSourceV2 micro-batch source: live caster → readStream → framer") {
    import graft.etl.RtcmPipeline
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val frames = Map(
      "MNT0" -> SyntheticRtcm.framesFor("MNT0", 100, 30, 42L).map(_._2),
      "MNT1" -> SyntheticRtcm.framesFor("MNT1", 101, 30, 43L).map(_._2))
    val server = new ServerSocket(0)
    try {
      serveMany(server, frames)
      val chunks = spark.readStream
        .format("graft.streaming.NtripSourceProvider")
        .option("host", "127.0.0.1").option("port", server.getLocalPort.toString)
        .option("mountpoints", "MNT0,MNT1")
        .load()
        .as[RawChunk]
      val q = chunks
        .writeStream.format("memory").queryName("ntrip_dsv2_out")
        .outputMode(OutputMode.Append).start()
      try {
        // the batch framer over the landed chunks finds their frames
        def framed = RtcmPipeline.frameChunks(spark.table("ntrip_dsv2_out").as[RawChunk])
        val deadline = System.currentTimeMillis() + 30000
        while (framed.count() < 60 && System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
          q.processAllAvailable()
        }
        val got = framed
          .selectExpr("mountPoint", "frame").collect()
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(got == frames.map { case (m, fs) => m -> fs.map(_.toSeq).toSet })
      } finally q.stop()
    } finally server.close()
  }

  test("maxChunksPerTrigger bounds each micro-batch (admission control)") {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    // a read returns up to ReadSize bytes whatever the HTTP chunks, so
    // the body must outgrow 7 of the largest chunks a read can complete
    // for the stream to need more than one 7-chunk batch
    val frames = Map("MNT0" -> SyntheticRtcm.framesFor("MNT0", 100, 400, 44L).map(_._2))
    assert(frames("MNT0").map(_.length).sum > 7 * MaxChunkBytes)
    val server = new ServerSocket(0)
    try {
      serveMany(server, frames)
      val chunks = spark.readStream
        .format("graft.streaming.NtripSourceProvider")
        .option("host", "127.0.0.1").option("port", server.getLocalPort.toString)
        .option("mountpoints", "MNT0")
        .option("maxChunksPerTrigger", "7")
        .load()
        .as[RawChunk]
      val q = chunks.writeStream.format("memory").queryName("ntrip_ratelimit_out")
        .outputMode(OutputMode.Append).start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        def total(): Long = spark.table("ntrip_ratelimit_out").count()
        var last = -1L
        while (System.currentTimeMillis() < deadline &&
          (total() == 0 || total() != last)) {
          last = total()
          Thread.sleep(200)
          q.processAllAvailable()
        }
        assert(total() > 7) // stream fully drained over multiple batches
        val batchSizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
        assert(batchSizes.nonEmpty)
        assert(batchSizes.max <= 7, batchSizes.mkString(","))
      } finally q.stop()
    } finally server.close()
  }

  test("sourcetable request over a live socket is GET /") {
    val server = new ServerSocket(0)
    val captured = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    try {
      serveOnce(server, Nil, Iterator.empty, captured.set)
      val c = new NtripClient("127.0.0.1", server.getLocalPort)
      val table = c.sourceTable()
      assert(table.last == "ENDSOURCETABLE")
      assert(table.exists(_.startsWith("STR;MNT0")))
      val req = captured.get()
      assert(req.head.startsWith("GET / HTTP/1.1"), req.head)
      assert(req.exists(_.startsWith("Date: ")), req.mkString("|"))
    } finally server.close()
  }

  test("stream request wire format: GET /<mount>, Basic auth, NMEA GGA line") {
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 3, 45L).map(_._2)
    val server = new ServerSocket(0)
    val captured = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    try {
      val gga = "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47"
      serveOnce(server, frames, Iterator.continually(64), captured.set)
      val c = new NtripClient("127.0.0.1", server.getLocalPort)
      c.openStream("MNT0", user = Some("u"), passwd = Some("p"), nmeaGga = Some(gga))
      val req = captured.get()
      // the reference's client stream request (ntripclient.py:159-169):
      // GET verb — a real caster rejects POST (that's the server/upload
      // verb, ntripclient.py:216) — plus version, auth, GGA, Date
      assert(req.head == "GET /MNT0 HTTP/1.1", req.head)
      assert(req.exists(_ == "Ntrip-Version: Ntrip/2.0"), req.mkString("|"))
      assert(req.exists(_.startsWith("Authorization: Basic ")), req.mkString("|"))
      assert(req.contains(s"Ntrip-GGA: $gga"), req.mkString("|"))
      assert(req.exists(_.matches("Date: \\w{3}, \\d{2} \\w{3} \\d{4} \\d{2}:\\d{2}:\\d{2} GMT")),
        req.mkString("|"))
      c.close()
    } finally server.close()
  }

  test("TLS caster (self-signed localhost): stream over SSLSocket") {
    import java.io.FileInputStream
    import java.security.KeyStore
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    import scala.sys.process._

    val dir = java.nio.file.Files.createTempDirectory("graft-tls")
    val ksPath = dir.resolve("caster.p12").toString
    // SAN ip entry: the client enables HTTPS endpoint identification,
    // which matches an IP peer against subjectAltName, not CN
    val genOk = Seq("keytool", "-genkeypair", "-alias", "graft", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ksPath,
      "-storepass", "changeit", "-dname", "CN=127.0.0.1",
      "-ext", "SAN=ip:127.0.0.1", "-validity", "2").! == 0
    assert(genOk, "keytool self-signed keypair generation failed")

    val ks = KeyStore.getInstance("PKCS12")
    val fis = new FileInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val serverCtx = SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    // client trusts exactly the caster's self-signed cert — the test
    // analogue of the reference's ssl=True https path (ntripclient.py:64-67)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val clientCtx = SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)

    val frames = SyntheticRtcm.framesFor("MNT0", 100, 10, 46L).map(_._2)
    val server = serverCtx.getServerSocketFactory.createServerSocket(0)
    try {
      serveOnce(server, frames, Iterator.continually(Seq(13, 77, 190)).flatten)
      val c = new NtripClient("127.0.0.1", server.getLocalPort,
        tls = true, sslContext = Some(clientCtx))
      c.openStream("MNT0")
      assert(c.chunked, c.responseHeader.mkString("|"))
      val got = readAll(c).flatten
      assert(got == frames.flatMap(_.toSeq))
      c.close()
    } finally server.close()
  }

  test("chunked live stream → client → Framer: whole frames") {
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 40, 42L).map(_._2)
    val server = new ServerSocket(0)
    try {
      // chunk lengths cycle through frame-misaligned sizes: every
      // chunk boundary lands mid-frame somewhere, so realign + carry
      // state are exercised over the live socket
      serveOnce(server, frames, Iterator.continually(Seq(7, 33, 64, 129, 250)).flatten)
      val client = new NtripClient("127.0.0.1", server.getLocalPort)
      client.openStream("MNT0", user = Some("u"), passwd = Some("p"))
      assert(client.chunked, client.responseHeader.mkString("|"))
      val reads = readAll(client)
      client.close()
      // the reads are the de-chunked body, each at most one array
      assert(reads.forall(r => r.nonEmpty && r.length <= NtripClient.ReadSize))
      assert(reads.flatten == frames.flatMap(_.toSeq))

      // the framer carries each partial frame to the read that ends it
      val framer = new RtcmFraming.Framer
      val chunks = reads.flatMap(framer.push)
      assert(chunks.flatMap(RtcmFraming.splitPacked).map(_.toSeq) == frames.map(_.toSeq))
      framer.reset()
      assert(framer.counts == RtcmFraming.Counts(40L, 0L, 0L, 0L))
    } finally server.close()
  }

  // --- NtripMicroBatchStream driver-buffer behavior (direct harness) ---

  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import org.apache.spark.sql.util.CaseInsensitiveStringMap
  import scala.jdk.CollectionConverters._

  private def mkStream(port: Int, extra: (String, String)*): NtripMicroBatchStream =
    new NtripMicroBatchStream(new CaseInsensitiveStringMap(
      (Map("host" -> "127.0.0.1", "port" -> port.toString, "mountpoints" -> "MNT0")
        ++ extra).asJava))

  /** Plans the micro-batch `[start, end)` and checks its partitioning:
    * one partition per mountpoint present, each holding that
    * mountpoint's chunks in arrival order, together exactly the
    * buffer's slice (whatever the rebase and clamp made of it). Returns
    * the planned chunks. */
  private def planChecked(stream: NtripMicroBatchStream, start: Long, end: Long): Seq[RawChunk] = {
    val slice = stream.bufferSlice(start, end)
    val parts = stream.planInputPartitions(NtripOffset(start), NtripOffset(end))
      .map(_.asInstanceOf[NtripInputPartition]).toSeq
    assert(parts.map(_.mount) == slice.map(_.mountPoint).distinct.sorted)
    def key(c: RawChunk) = (c.mountPoint, c.receiveMicros, c.seq, c.data.toSeq)
    parts.foreach { p =>
      assert(p.chunks.map(key) == slice.filter(_.mountPoint == p.mount).map(key))
      assert(p.chunks.map(_.seq).sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
        s"${p.mount}: chunks out of arrival order")
    }
    parts.flatMap(_.chunks)
  }

  /** Manual micro-batch loop: latestOffset → plan → commit until
    * `expectedBytes` have been read or the deadline passes. Returns
    * every planned chunk. */
  private def drainAll(stream: NtripMicroBatchStream, startN: Long,
                       expectedBytes: Long, deadlineMs: Long = 30000): Seq[RawChunk] = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var cur = startN
    val got = Seq.newBuilder[RawChunk]
    var total = 0L
    while (total < expectedBytes && System.currentTimeMillis() < deadline) {
      val end = stream.latestOffset(NtripOffset(cur), ReadLimit.allAvailable())
        .asInstanceOf[NtripOffset].n
      if (end > cur) {
        val chunks = planChecked(stream, cur, end)
        got ++= chunks
        total += chunks.map(_.data.length.toLong).sum
        stream.commit(NtripOffset(end))
        cur = end
      } else Thread.sleep(50)
    }
    got.result()
  }

  private def bytes(chunks: Seq[RawChunk]): Long = chunks.map(_.data.length.toLong).sum

  test("micro-batches plan one packed partition per mountpoint present, in arrival order") {
    val perMount = Seq("MNT0", "MNT1", "MNT2").zipWithIndex.map { case (m, i) =>
      m -> SyntheticRtcm.framesFor(m, 100 + i, 60, 50L + i).map(_._2)
    }.toMap
    val bodyBytes = perMount.values.flatten.map(_.length.toLong).sum
    val server = new ServerSocket(0)
    try {
      serveMany(server, perMount)
      val stream = mkStream(server.getLocalPort, "mountpoints" -> "MNT0,MNT1,MNT2")
      try {
        val got = drainAll(stream, 0L, bodyBytes)
        assert(bytes(got) == bodyBytes)
        // each mountpoint's chunks, in planned order, are its body
        perMount.foreach { case (m, frames) =>
          assert(got.filter(_.mountPoint == m).flatMap(_.data.toSeq) == frames.flatMap(_.toSeq), m)
        }
      } finally stream.stop()
    } finally server.close()
  }

  test("maxBufferedChunks bounds driver memory while the query stalls, then resumes") {
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 400, 47L).map(_._2)
    val bodyBytes = frames.map(_.length.toLong).sum
    // more than 8 of the largest chunks: the reader must hit the cap
    assert(bodyBytes > 8 * MaxChunkBytes)
    val server = new ServerSocket(0)
    try {
      serveMany(server, Map("MNT0" -> frames))
      val stream = mkStream(server.getLocalPort, "maxBufferedChunks" -> "8")
      try {
        // stalled query: nothing consumes; the reader must block on the
        // cap (TCP backpressure), not grow the buffer
        val stallUntil = System.currentTimeMillis() + 1500
        var maxSeen = 0
        while (System.currentTimeMillis() < stallUntil) {
          maxSeen = math.max(maxSeen, stream.bufferedCount)
          Thread.sleep(25)
        }
        assert(maxSeen <= 8, s"buffer grew past cap: $maxSeen")
        assert(maxSeen == 8, s"the reader stopped at $maxSeen chunks, short of the cap")
        // resume: the stalled stream must still deliver every byte
        val total = bytes(drainAll(stream, 0L, bodyBytes))
        assert(total == bodyBytes, s"$total != $bodyBytes")
      } finally stream.stop()
    } finally server.close()
  }

  test("restart rebase: checkpointed offset beyond fresh counter loses no live chunks") {
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 30, 48L).map(_._2)
    val bodyBytes = frames.map(_.length.toLong).sum
    val server = new ServerSocket(0)
    try {
      serveMany(server, Map("MNT0" -> frames))
      val stream = mkStream(server.getLocalPort)
      try {
        // let live chunks accumulate before the "recovered" query asks
        val deadline = System.currentTimeMillis() + 10000
        while (stream.bufferedCount == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(25)
        assert(stream.bufferedCount > 0)
        // driver restart: Spark first REPLAYS the pending checkpointed
        // batch [500, 520) via planInputPartitions (no latestOffset
        // yet), then commits its end — the rebase must anchor on the
        // batch END or that commit drops the live chunks buffered here
        val replayed = planChecked(stream, 500L, 520L)
        assert(replayed.isEmpty, "pre-restart data cannot be replayed from a live socket")
        stream.commit(NtripOffset(520L))
        val total = bytes(drainAll(stream, 520L, bodyBytes))
        assert(total == bodyBytes, s"$total != $bodyBytes — live chunks were dropped")
      } finally stream.stop()
    } finally server.close()
  }

  // --- reader-side framing and the stateless live plan ---

  /** Caster serving one body per connection, in order, each as HTTP
    * chunks of frame-misaligned lengths. A body marked `cut` ends with a
    * chunk that promises 64 bytes, sends 10 zeros and closes the socket:
    * the client reads the 10 bytes, which are in no frame, and then sees
    * the connection drop mid-frame. */
  private def serveConnections(server: ServerSocket, bodies: Seq[(Array[Byte], Boolean)]): Thread = {
    val t = new Thread(() => {
      try {
        bodies.foreach { case (body, cut) =>
          val sock = server.accept()
          try {
            val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
            Iterator.continually(rd.readLine()).takeWhile(l => l != null && l.nonEmpty).foreach(_ => ())
            val out = sock.getOutputStream
            def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
            w("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
            val lens = Iterator.continually(Seq(13, 61, 150, 7, 300)).flatten
            var off = 0
            while (off < body.length) {
              val n = math.min(lens.next(), body.length - off)
              w(f"$n%x\r\n"); out.write(body, off, n); w("\r\n")
              off += n
            }
            if (cut) { w(f"${64}%x\r\n"); out.write(new Array[Byte](10)) }
            else w("0\r\n\r\n")
            out.flush()
          } finally sock.close()
        }
      } catch { case _: Throwable => () } // server closed
    })
    t.setDaemon(true)
    t.start()
    t
  }

  test("reader frames each connection like RtcmFraming and reports what it drops") {
    val rnd = new java.util.Random(61L)
    def noise(n: Int): Array[Byte] = {
      val g = new Array[Byte](n)
      rnd.nextBytes(g)
      g.map(b => if (b == RtcmFraming.Preamble) 0.toByte else b)
    }
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 40, 60L).map(_._2)
    // garbage prefix, noise after every fifth frame, frame 3's CRC broken
    val prefix = noise(37)
    val body = scala.collection.mutable.ArrayBuffer.empty[Byte] ++= prefix
    val starts = new Array[Int](frames.size)
    var noiseBytes = 0
    frames.zipWithIndex.foreach { case (f, i) =>
      starts(i) = body.length
      if (i == 3) body ++= f.updated(f.length - 1, (f.last ^ 0x5A).toByte) else body ++= f
      if (i % 5 == 1) { val g = noise(1 + i % 4); body ++= g; noiseBytes += g.length }
    }
    val whole = body.toArray
    val good = frames.indices.filter(_ != 3)
    // the first connection drops 20 bytes into frame 30; the second
    // serves the whole body
    val cutAt = starts(30) + 20
    val first = whole.take(cutAt)
    val delivered = first ++ new Array[Byte](10) // and the cut chunk's zeros
    val expected = good.filter(_ < 30).map(frames) ++ good.map(frames)
    def key(fs: Seq[Array[Byte]]) = fs.map(_.toSeq)
    // the batch framer over each connection's delivered bytes agrees
    assert(key(RtcmFraming.frames(delivered) ++ RtcmFraming.frames(whole)) ==
      key(expected))
    val noiseBeforeCut = frames.indices.filter(i => i % 5 == 1 && i < 30).map(i => 1 + i % 4).sum
    val skipped = (prefix.length + noiseBeforeCut + frames(3).length + 20 + 10) +
      (prefix.length + noiseBytes + frames(3).length)
    assert(skipped == delivered.length + whole.length - expected.map(_.length).sum)
    // both connections serve the broken frame 3; on the first, the cut
    // chunk's zeros also complete the extent that frame 30's length
    // header promises (an ARP frame, shorter than 30 bytes), which fails
    // its CRC; nothing else does
    assert(frames(30).length < 30)
    val crcRejects = Seq(delivered, whole).map(RtcmFraming.feedCounted(RtcmFraming.emptyState, _).crcRejects).sum
    assert(crcRejects == 3)

    val server = new ServerSocket(0)
    try {
      serveConnections(server, Seq(first -> true, whole -> false))
      val stream = mkStream(server.getLocalPort)
      try {
        val got = drainAll(stream, 0L, expected.map(_.length.toLong).sum)
        got.foreach { c =>
          val split = RtcmFraming.splitPacked(c.data).toSeq
          assert(split.nonEmpty && split.forall(Crc24q.frameValid), "not whole frames")
          assert(split.flatMap(_.toSeq) == c.data.toSeq)
        }
        assert(key(got.flatMap(c => RtcmFraming.splitPacked(c.data))) == key(expected))
        import scala.jdk.CollectionConverters._
        val deadline = System.currentTimeMillis() + 10000
        def metrics = stream.metrics(java.util.Optional.empty()).asScala.toMap
        while (!metrics.get("MNT0.skippedBytes").contains(skipped.toString) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
        val m = metrics
        assert(m("MNT0.frames") == expected.size.toString, m)
        assert(m("MNT0.skippedBytes") == skipped.toString, m)
        assert(m("MNT0.truncatedBytes") == "0", m)
        assert(m("MNT0.crcRejects") == crcRejects.toString, m)
        assert(m("MNT0.reconnects") == "1", m)
        assert(m("MNT0.lastReconnectCause").matches("java\\.[\\w.]+Exception: .+"), m)
      } finally stream.stop()
    } finally server.close()
  }

  /** Caster that answers the n-th connection with `responses(n)`, raw
    * bytes after the request header, and then closes it. */
  private def serveRaw(server: ServerSocket, responses: Seq[Array[Byte]]): Thread = {
    val t = new Thread(() => {
      try {
        responses.foreach { response =>
          val sock = server.accept()
          try {
            val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
            Iterator.continually(rd.readLine()).takeWhile(l => l != null && l.nonEmpty).foreach(_ => ())
            sock.getOutputStream.write(response)
            sock.getOutputStream.flush()
          } finally sock.close()
        }
      } catch { case _: Throwable => () } // server closed
    })
    t.setDaemon(true)
    t.start()
    t
  }

  test("a caster's chunk size line cannot kill the reader: it reconnects and says why") {
    def ascii(s: String) = s.getBytes(ISO_8859_1)
    val header = "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    val frames = SyntheticRtcm.framesFor("MNT0", 100, 20, 64L).map(_._2)
    val body = frames.flatten.toArray
    // a chunk of almost 2 GiB that ends after 100 bytes (an allocation
    // by the size line would fail), a size line that is not hex, then a
    // good stream
    val responses = Seq(
      ascii(header + "7ffffff0\r\n") ++ new Array[Byte](100),
      ascii(header + "zz\r\n"),
      ascii(header + f"${body.length}%x\r\n") ++ body ++ ascii("\r\n0\r\n\r\n"))
    val server = new ServerSocket(0)
    try {
      serveRaw(server, responses)
      val stream = mkStream(server.getLocalPort)
      try {
        val got = drainAll(stream, 0L, body.length.toLong)
        assert(got.flatMap(c => RtcmFraming.splitPacked(c.data)).map(_.toSeq) == frames.map(_.toSeq))
        val m = stream.metrics(java.util.Optional.empty()).asScala.toMap
        assert(m("MNT0.frames") == frames.size.toString, m)
        assert(m("MNT0.reconnects") == "2", m)
        assert(m("MNT0.lastReconnectCause") ==
          "java.io.IOException: bad HTTP chunk size line: \"zz\"", m)
        // the 100 bytes read of the huge chunk are in no frame
        assert(m("MNT0.skippedBytes") == "100", m)
      } finally stream.stop()
    } finally server.close()
  }

  test("a caster's header line cannot kill the reader: it reconnects and names the limit") {
    def ascii(s: String) = s.getBytes(ISO_8859_1)
    val frames = SyntheticRtcm.framesFor("MNT0", 101, 20, 65L).map(_._2)
    val body = frames.flatten.toArray
    // a header line one character past the bound, then a good stream
    val junk = "X-Junk: " + "x" * (NtripClient.MaxResponseLine - 7)
    val responses = Seq(
      ascii(s"HTTP/1.1 200 OK\r\n$junk\r\n\r\n"),
      ascii("HTTP/1.1 200 OK\r\n\r\n") ++ body)
    val server = new ServerSocket(0)
    try {
      serveRaw(server, responses)
      val stream = mkStream(server.getLocalPort)
      try {
        val got = drainAll(stream, 0L, body.length.toLong)
        assert(got.flatMap(c => RtcmFraming.splitPacked(c.data)).map(_.toSeq) == frames.map(_.toSeq))
        val m = stream.metrics(java.util.Optional.empty()).asScala.toMap
        assert(m("MNT0.frames") == frames.size.toString, m)
        assert(m("MNT0.reconnects") == "1", m)
        assert(m("MNT0.lastReconnectCause") ==
          "java.io.IOException: NTRIP response line (MaxResponseLine) longer than " +
            s"${NtripClient.MaxResponseLine} characters: \"${junk.take(64)}...\"", m)
      } finally stream.stop()
    } finally server.close()
  }

  test("a header of too many lines and a sourcetable past its bounds throw naming the limit") {
    def ascii(s: String) = s.getBytes(ISO_8859_1)
    val ok = "HTTP/1.1 200 OK\r\n"
    val record = "STR;" + "x" * 996 + "\r\n"
    val responses = Seq(
      ascii(ok + "X-A: b\r\n" * NtripClient.MaxHeaderLines + "\r\n"),
      ascii(ok + "\r\nSTR;" + "x" * NtripClient.MaxResponseLine + "\r\n"),
      ascii(ok + "\r\n" + record * (NtripClient.MaxSourceTableBytes / record.length + 1).toInt +
        "ENDSOURCETABLE\r\n"))
    val server = new ServerSocket(0)
    try {
      serveRaw(server, responses)
      def refused() = intercept[java.io.IOException](
        new NtripClient("127.0.0.1", server.getLocalPort).sourceTable()).getMessage
      assert(refused() == s"NTRIP response header has more than ${NtripClient.MaxHeaderLines} " +
        "lines (MaxHeaderLines)")
      assert(refused().startsWith("NTRIP sourcetable line (MaxResponseLine) longer than " +
        s"${NtripClient.MaxResponseLine} characters"))
      assert(refused() == "NTRIP sourcetable longer than " +
        s"${NtripClient.MaxSourceTableBytes} bytes (MaxSourceTableBytes)")
    } finally server.close()
  }

  private def ntripChunks(port: Int, mounts: String): org.apache.spark.sql.Dataset[RawChunk] = {
    import spark.implicits._
    spark.readStream.format("graft.streaming.NtripSourceProvider")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("mountpoints", mounts)
      .load().as[RawChunk]
  }

  test("decodeStream over the NTRIP source: no state, one stage per batch, batch-decode rows") {
    import graft.etl.{DecodedFrame, RtcmPipeline}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    // bodies with garbage, noise and frame-misaligned splits
    val bodies = Seq("MNT0", "MNT1").zipWithIndex.map { case (m, i) =>
      m -> SyntheticRtcm.chunksFor(m, 100 + i, 48, 70L + i).flatMap(_.data.toSeq).toArray
    }.toMap
    val now = System.currentTimeMillis() * 1000L
    val reference = RtcmPipeline.decode(RtcmPipeline.frameChunks(spark.createDataset(
      bodies.toSeq.flatMap { case (m, b) =>
        b.grouped(100).zipWithIndex.map { case (c, i) => RawChunk(m, now + i, i.toLong, c) }
      }))).collect().toSeq
    def normal(fs: Seq[DecodedFrame]) =
      fs.map(_.copy(rtcm_package_id = 0L, receive_micros = 0L)).sortBy(_.toString)

    val stages = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marker = s"ntripspec-${java.util.UUID.randomUUID()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => stages.merge(b, Integer.valueOf(1),
            (a: Integer, c: Integer) => Integer.valueOf(a.intValue + c.intValue)))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
    }
    val server = new ServerSocket(0)
    try {
      serveMany(server, bodies.map { case (m, b) => m -> Seq(b) })
      spark.sparkContext.addSparkListener(listener)
      val q = RtcmStreaming.decodeStream(ntripChunks(server.getLocalPort, "MNT0,MNT1"))
        .writeStream.format("memory").queryName("ntrip_stateless_out")
        .outputMode(OutputMode.Append).start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        def landed(): Long = spark.table("ntrip_stateless_out").count()
        while (landed() < reference.size && System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
          q.processAllAvailable()
        }
        val got = spark.table("ntrip_stateless_out").as[DecodedFrame].collect().toSeq
        assert(normal(got) == normal(reference))
        assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty))
        assert(q.lastProgress.stateOperators.isEmpty)
        val sourceMetrics = q.lastProgress.sources.head.metrics
        assert(sourceMetrics.get("MNT0.frames").toLong + sourceMetrics.get("MNT1.frames").toLong ==
          reference.size)
      } finally q.stop()
      // listener events arrive in order: once a job submitted after the
      // query stopped is seen, every batch's stages have been counted
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      import scala.jdk.CollectionConverters._
      val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSet
      assert(batches.nonEmpty)
      assert(stages.asScala.toMap.filter { case (b, _) => batches(b) } ==
        batches.map(_ -> Integer.valueOf(1)).toMap, "one stage per micro-batch")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      server.close()
    }
  }

  test("a second NTRIP → JDBC ingest query compiles at most one generated class") {
    import graft.etl.{RecordingJdbc, Sinks}
    import org.apache.spark.metrics.source.CodegenMetrics
    val bodies = Seq("MNT0", "MNT1").zipWithIndex.map { case (m, i) =>
      m -> SyntheticRtcm.framesFor(m, 100 + i, 40, 90L + i).map(_._2)
    }.toMap
    val frames = bodies.values.map(_.size).sum
    val pkgSql = Sinks.insertSql("rtcm_packages", Sinks.PackagesColumns, 1)
    def landed(): Int = RecordingJdbc.execs.toArray(Array.empty[RecordingJdbc.Exec])
      .filter(_.sql == pkgSql).map(_.rows).sum
    val server = new ServerSocket(0)
    try {
      serveMany(server, bodies)
      // the code generator's cache counts a compile only on a miss
      def compilesOfOneQuery(): Long = {
        RecordingJdbc.clear()
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val q = RtcmStreaming.startJdbcSink(
          RtcmStreaming.decodeStream(ntripChunks(server.getLocalPort, "MNT0,MNT1")),
          new RecordingJdbc.Factory,
          java.nio.file.Files.createTempDirectory("graft_compiles_ckpt").toString)
        try {
          val deadline = System.currentTimeMillis() + 60000
          while (landed() < frames && System.currentTimeMillis() < deadline) Thread.sleep(50)
          assert(landed() == frames)
        } finally q.stop()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val first = compilesOfOneQuery()
      val second = compilesOfOneQuery()
      info(s"compiles: first query $first, second query $second")
      assert(second <= 1, s"the second query compiled $second classes (the first $first)")
    } finally server.close()
  }

  test("decodeStream is one stateless DecodeFrames plan for every input") {
    import graft.plans.DecodeFrames
    import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // planning only: no query starts, so the source never connects
    val ntrip = ntripChunks(1, "MNT0")
    val logDir = java.nio.file.Files.createTempDirectory("graft-durable-plan").toString
    val inputs = Map(
      "NTRIP source" -> ntrip,
      "union of sources" -> ntrip.union(ntripChunks(1, "MNT1")),
      "MemoryStream" -> MemoryStream[RawChunk].toDS(),
      "map over the source" -> ntrip.map(c => c.copy(data = c.data.drop(1))),
      "durable-log replay" -> NtripDurableLog.readStream(spark, logDir))
    inputs.foreach { case (name, chunks) =>
      val plan = RtcmStreaming.decodeStream(chunks).queryExecution.analyzed
      assert(plan.exists(_.isInstanceOf[DecodeFrames]), name)
      assert(!plan.exists(_.isInstanceOf[FlatMapGroupsWithState]), name)
    }
  }
}
