package graft.streaming

import java.io.{BufferedReader, InputStreamReader}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.etl.{RecordingJdbc, Sinks, SyntheticRtcm}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Live-path ingest benchmark (dev tool, test scope for the
  * RecordingJdbc seam): 45 synthetic mountpoints served over real TCP
  * (chunked HTTP) → NtripClient → durable chunk log → Spark streaming
  * decode → EXECUTED JDBC sink, with one induced mid-stream restart.
  *
  * Reports wire drain rate, sustained end-to-end rows/s, a sink-side
  * latency histogram (insert wall-time minus wire receive-time, which
  * includes the 1 s trigger cadence and backlog drain — the casters
  * stream unthrottled), and the exactly-once check: after the
  * restart, recorded package rows dedupe by the deterministic
  * rtcm_package_id to EXACTLY the frame count, with identical
  * payloads across any replayed batch (the idempotency a real
  * endpoint turns into exactly-once via ON CONFLICT DO NOTHING).
  *
  * Run: sbt "Test/runMain graft.streaming.LiveIngestBench [mounts] [frames/mount]"
  */
object LiveIngestBench {

  /** Multi-connection caster: serves the mountpoint each request asks
    * for, chunked, then closes. */
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
              val lens = Iterator.continually(Seq(128, 256, 512, 1024)).flatten
              while (off < body.length) {
                val n = math.min(lens.next(), body.length - off)
                w(f"$n%x\r\n"); out.write(body, off, n); w("\r\n")
                off += n
              }
              w("0\r\n\r\n")
              out.flush()
            } catch { case _: Throwable => () } finally sock.close()
          })
          h.setDaemon(true)
          h.start()
        }
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  // sink-side latency samples (micros), recorded inside foreachBatch
  private val latencies = new ConcurrentLinkedQueue[Long]()

  def main(args: Array[String]): Unit = {
    val nMounts = args.headOption.map(_.toInt).getOrElse(45)
    val framesPerMount = args.drop(1).headOption.map(_.toInt).getOrElse(800)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = Files.createTempDirectory("graft-live-ingest")
    val logDir = root.resolve("log")
    val ckDir = root.resolve("ck").toString

    val mounts = (0 until nMounts).map(i => f"MNT$i%02d")
    def framesFor(phase: Int): Map[String, Seq[Array[Byte]]] =
      mounts.zipWithIndex.map { case (m, i) =>
        m -> SyntheticRtcm.framesFor(m, 100 + i, framesPerMount / 2,
          seed = 1000L * (i + 1) + phase).map(_._2)
      }.toMap

    /** Drain every mountpoint concurrently from a live caster into the
      * durable log; returns (frames served, wall seconds). */
    def drainPhase(perMount: Map[String, Seq[Array[Byte]]]): (Long, Double) = {
      val server = new ServerSocket(0)
      val srv = serveMany(server, perMount)
      val t0 = System.nanoTime()
      val threads = mounts.map { m =>
        val t = new Thread(() => {
          val c = new NtripClient("127.0.0.1", server.getLocalPort)
          c.openStream(m)
          NtripDurableLog.drain(c, m, logDir,
            () => System.currentTimeMillis() * 1000L,
            startSeq = NtripDurableLog.nextSeq(logDir, m))
          c.close()
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      server.close(); srv.interrupt()
      (perMount.values.map(_.size.toLong).sum, wall)
    }

    def runQuery(stopAfterBatches: Int): Double = {
      val decoded = RtcmStreaming.decodeStream(NtripDurableLog.readStream(spark, logDir.toString))
      val t0 = System.nanoTime()
      val q = decoded.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.etl.DecodedFrame], _: Long) =>
          val b = batch.persist()
          try {
            Sinks.writeDecodedBatchJdbc(b, new RecordingJdbc.Factory)
            val now = System.currentTimeMillis() * 1000L
            b.collect().foreach(f => latencies.add(now - f.receive_micros))
          } finally { b.unpersist(); () }
        }
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      if (stopAfterBatches > 0) {
        // induced restart: kill after the first data lands
        while (RecordingJdbc.execs.size() == 0) Thread.sleep(50)
        q.stop()
      } else {
        q.processAllAvailable()
        q.stop()
      }
      (System.nanoTime() - t0) / 1e9
    }

    RecordingJdbc.clear()
    latencies.clear()

    // phase 1: live drain, query starts, then is KILLED mid-stream
    val (n1, drain1) = drainPhase(framesFor(1))
    val w1 = runQuery(stopAfterBatches = 1)
    // while "down", more live data arrives (writer resumes numbering)
    val (n2, drain2) = drainPhase(framesFor(2))
    // restart from the same checkpoint, drain everything
    val w2 = runQuery(stopAfterBatches = 0)

    val totalFrames = n1 + n2
    import scala.jdk.CollectionConverters._
    val landed = RecordingJdbc.execs.asScala.toVector.flatMap(e => e.params.map(e.sql -> _))
    val pkgRows = landed.filter(_._1.startsWith("INSERT INTO rtcm_packages"))
    val obsRows = landed.filter(_._1.startsWith("INSERT INTO observations"))
    val byId = pkgRows.groupBy(_._2.head) // rtcm_package_id is param 1
    val distinctIds = byId.size
    val maxVariants = if (byId.isEmpty) 0 else byId.values.map(_.map(_._2).distinct.size).max
    val lats = latencies.asScala.toVector.map(_ / 1000.0).sorted // ms
    def pct(p: Double) = if (lats.isEmpty) 0.0 else lats(((lats.size - 1) * p).toInt)
    val hist = Seq(0.5, 0.9, 0.99, 1.0).map(p => f"p${(p * 100).toInt}%d=${pct(p)}%.0fms").mkString(" ")

    println(f"""{"metric":"live_ingest","mounts":$nMounts,"frames":$totalFrames,"wire_frames_per_s":${totalFrames / (drain1 + drain2)}%.0f,"e2e_obs_rows":${obsRows.size},"e2e_obs_rows_per_s":${obsRows.size / (w1 + w2)}%.0f,"pkg_inserts":${pkgRows.size},"distinct_pkg_ids":$distinctIds,"exactly_once_ids":${distinctIds == totalFrames},"replay_identical":${maxVariants <= 1},"latency":"$hist","query_wall_s":${w1 + w2}%.1f}""")
    assert(distinctIds == totalFrames,
      s"LOSS OR PHANTOM: $distinctIds distinct package ids != $totalFrames frames")
    assert(maxVariants <= 1, "replayed batch wrote a DIFFERENT payload for the same id")
    spark.stop()
  }
}
