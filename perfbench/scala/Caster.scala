package perfbench

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.etl.SyntheticRtcm
import graft.rtcm.RtcmFraming

/** The load generator: a localhost NTRIP caster in its own process.
  *
  * It builds a seeded `SyntheticRtcm` corpus per mountpoint and serves
  * any `GET /<mount>` with chunked transfer encoding:
  *
  *  - `backfill` mounts (`MNTnn`, and the `WRMnn` warm-up mounts) get
  *    the whole corpus as fast as TCP allows — garbage prefix,
  *    inter-frame noise, 64..575-byte chunks that split frames — then
  *    the stream ends;
  *  - `live` mounts (`LIVnn`) get one frame per tick of a fixed
  *    schedule (`rate` frames/s per mount, mounts staggered within a
  *    tick). The schedule never waits on the reader; how late each
  *    write finished is recorded.
  *
  * Before it listens it writes, into `--dir`, each mountpoint's byte
  * stream (`<mount>.bin`) and a manifest with the frame and cell
  * counts a correct sink must land. The cell counts come from parsing
  * the MSM headers here, independently of the engine's decoder. A
  * `port` file announces that it listens. When a `stop` file appears
  * (the engine writes it after measuring), the caster writes
  * `caster.json` (live schedule, per-frame lateness, connection times)
  * and exits. A kind of mount given 0 frames is not served.
  *
  * Usage: Caster --dir D --seed N --mounts M --frames F --warm-frames W
  *                --rate R --live-frames L
  */
object Caster {
  final case class Stream(bytes: Array[Byte], chunkEnds: Array[Int], frames: Int, cells: Long)

  /** Cells of one MSM frame: popcount of its cell mask (header layout
    * DF002..DF396; 0 for non-MSM frames). */
  def msmCells(frame: Array[Byte]): Int = {
    def bits(pos: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        val p = pos + i
        v = (v << 1) | ((frame(3 + p / 8) >> (7 - p % 8)) & 1)
        i += 1
      }
      v
    }
    val t = bits(0, 12).toInt
    val msm = (t >= 1071 && t <= 1077) || (t >= 1081 && t <= 1087) ||
      (t >= 1091 && t <= 1097) || (t >= 1111 && t <= 1117) || (t >= 1121 && t <= 1127) ||
      (t >= 1101 && t <= 1107)
    if (!msm) return 0
    val satPos = 12 + 12 + 30 + 1 + 3 + 7 + 2 + 2 + 1 + 3
    val nSat = java.lang.Long.bitCount(bits(satPos, 64))
    val nSig = java.lang.Long.bitCount(bits(satPos + 64, 32))
    var cells = 0
    var i = 0
    while (i < nSat * nSig) { cells += bits(satPos + 96 + i, 1).toInt; i += 1 }
    cells
  }

  def mountSeed(seed: Long, mount: String): Long =
    seed * 1000003L + mount.hashCode.toLong

  /** Backfill stream: exactly SyntheticRtcm's chunked corpus. */
  def backfillStream(mount: String, station: Int, nFrames: Int, seed: Long): Stream = {
    val s = mountSeed(seed, mount)
    val chunks = SyntheticRtcm.chunksFor(mount, station, nFrames, s)
    val bytes = chunks.flatMap(_.data).toArray
    val ends = chunks.scanLeft(0)(_ + _.data.length).tail.toArray
    val frames = SyntheticRtcm.framesFor(mount, station, nFrames, s).map(_._2)
    Stream(bytes, ends, frames.length, frames.map(msmCells(_).toLong).sum)
  }

  /** Live stream: garbage prefix, then one chunk per frame (with the
    * occasional noise bytes in front of it); chunk k is sent at tick k. */
  def liveStream(mount: String, station: Int, nFrames: Int, seed: Long): Stream = {
    val s = mountSeed(seed, mount)
    val rnd = new java.util.Random(s ^ 0x5DEECE66DL)
    def noise(n: Int): Array[Byte] = {
      val g = new Array[Byte](n)
      rnd.nextBytes(g)
      g.map(b => if (b == RtcmFraming.Preamble) 0.toByte else b)
    }
    val frames = SyntheticRtcm.framesFor(mount, station, nFrames, s).map(_._2)
    val out = new java.io.ByteArrayOutputStream()
    val ends = new Array[Int](frames.length)
    out.write(noise(17))
    frames.zipWithIndex.foreach { case (f, k) =>
      if (k > 0 && rnd.nextInt(10) == 0) out.write(noise(1 + rnd.nextInt(5)))
      out.write(f)
      ends(k) = out.size()
    }
    Stream(out.toByteArray, ends, frames.length, frames.map(msmCells(_).toLong).sum)
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(arg(args, "dir"))
    val seed = arg(args, "seed").toLong
    val nMounts = arg(args, "mounts").toInt
    val frames = arg(args, "frames").toInt
    val warmFrames = arg(args, "warm-frames").toInt
    val rate = arg(args, "rate").toDouble
    val liveFrames = arg(args, "live-frames").toInt
    Files.createDirectories(dir)

    val streams: Map[String, Stream] = (1 to nMounts).flatMap { i =>
      val station = 100 + i
      Seq(
        (f"MNT$i%02d", frames, (m: String) => backfillStream(m, station, frames, seed)),
        (f"WRM$i%02d", warmFrames, (m: String) => backfillStream(m, station, warmFrames, seed + 7)),
        (f"LIV$i%02d", liveFrames, (m: String) => liveStream(m, station, liveFrames, seed)))
        .collect { case (m, n, make) if n > 0 => m -> make(m) }
    }.toMap
    val manifest = streams.toSeq.sortBy(_._1).map { case (m, s) =>
      Files.write(dir.resolve(s"$m.bin"), s.bytes)
      s""""$m": {"frames": ${s.frames}, "cells": ${s.cells}}"""
    }.mkString("{", ", ", "}")
    Files.writeString(dir.resolve("manifest.json"), manifest)

    val periodNanos = (1e9 / rate).toLong
    val liveMounts = (1 to nMounts).map(i => f"LIV$i%02d")
    @volatile var liveBaseNanos = 0L // System.nanoTime of tick 0 of mount LIV01
    // µs late, per live mount and frame
    val late: Map[String, Array[Long]] =
      liveMounts.filter(streams.contains).map(m => m -> new Array[Long](streams(m).frames)).toMap
    val served = new ConcurrentLinkedQueue[String]()
    // nanoTime ↔ epoch-µs anchor, so the schedule is reported in the
    // clock the engine stamps acknowledgements with
    val anchorNanos = System.nanoTime()
    val anchorMicros = Endpoint.nowMicros()

    def serve(sock: Socket): Unit = {
      try {
        sock.setTcpNoDelay(true)
        val rd = new BufferedReader(new InputStreamReader(sock.getInputStream, ISO_8859_1))
        val req = Iterator.continually(rd.readLine()).takeWhile(l => l != null && l.nonEmpty).toSeq
        val mount = req.head.split(" ")(1).stripPrefix("/")
        val stream = streams(mount)
        val out: OutputStream = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
        def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
        def chunk(from: Int, until: Int): Unit = {
          w(Integer.toHexString(until - from)); w("\r\n")
          out.write(stream.bytes, from, until - from); w("\r\n")
        }
        w("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
        served.add(s"""["$mount", ${Endpoint.nowMicros()}]""")
        if (mount.startsWith("LIV")) {
          val slot = liveMounts.indexOf(mount)
          val base = synchronized {
            // tick 0 a little after the first live connection, so every
            // mount's reader is attached before the schedule starts
            if (liveBaseNanos == 0L) {
              liveBaseNanos = System.nanoTime() + 300000000L
              val tmp = dir.resolve("live_base.tmp")
              Files.writeString(tmp, (anchorMicros + (liveBaseNanos - anchorNanos) / 1000L).toString)
              Files.move(tmp, dir.resolve("live_base"))
            }
            liveBaseNanos
          }
          out.flush()
          var from = 0
          var k = 0
          while (k < stream.frames) {
            val due = base + k * periodNanos + slot * periodNanos / liveMounts.size
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            chunk(from, stream.chunkEnds(k))
            out.flush()
            late(mount)(k) = (System.nanoTime() - due) / 1000L
            from = stream.chunkEnds(k)
            k += 1
          }
        } else {
          var from = 0
          stream.chunkEnds.foreach { e => chunk(from, e); from = e }
        }
        w("0\r\n\r\n")
        out.flush()
        // orderly end: wait for the reader to close its side
        val in = sock.getInputStream
        while (in.read() >= 0) ()
      } catch { case _: java.io.IOException => () } finally sock.close()
    }

    val server = new ServerSocket(0, 64, java.net.InetAddress.getLoopbackAddress)
    val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => serve(s), "caster-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () }
    }, "caster-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    // the port file appears last: its presence means "ready"
    val tmp = dir.resolve("port.tmp")
    Files.writeString(tmp, server.getLocalPort.toString)
    Files.move(tmp, dir.resolve("port"))

    val stop: Path = dir.resolve("stop")
    while (!Files.exists(stop)) Thread.sleep(20)
    server.close()
    val baseMicros =
      if (liveBaseNanos == 0L) 0L else anchorMicros + (liveBaseNanos - anchorNanos) / 1000L
    val lateUs = late.toSeq.sortBy(_._1)
      .map { case (m, a) => s""""$m": ${a.mkString("[", ",", "]")}""" }.mkString("{", ", ", "}")
    Files.writeString(dir.resolve("caster.json"),
      s"""{"live_base_micros": $baseMicros, "period_micros": ${periodNanos / 1000.0}, """ +
      s""""live_mounts": ${liveMounts.map(m => "\"" + m + "\"").mkString("[", ",", "]")}, """ +
      s""""late_micros": $lateUs, "served": ${served.asScala.mkString("[", ",", "]")}}""")
  }
}
