package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{DecodedFrame, RawChunk, RtcmPipeline, Sinks}
import graft.rtcm.{MsmExpander, MsmMessage, RtcmDecoder, RtcmFraming}
import graft.streaming.RtcmStreaming
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The engine side of one benchmark run, in one JVM.
  *
  * It sets the workload up `--setup-trials` times (each trial a fresh
  * session plus the workload's warm-up), measures for `--seconds`,
  * then checks what landed and writes the raw record (`result.json`)
  * that `run.py` turns into metrics. With `--trace 1` it also installs
  * the [[Trace]] listeners and replays the workload's bytes through the
  * codec single-threaded.
  *
  * Usage: Engine --workload W --seconds S --trace 0|1 --cores N
  *               --work DIR --caster DIR --setup-trials K --warmup S
  *               --data DIR --panels-in-flight P   (the last two: live_mixed)
  */
object Engine {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Bench's session settings, with the run's core count. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- JSON output helpers --------------------------------------------
  private def js(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
  private def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- ingest -----------------------------------------------------------

  /** Frames per mountpoint, from the caster's manifest. */
  def readManifest(caster: Path): Map[String, Long] = {
    val txt = Files.readString(caster.resolve("manifest.json"))
    """"(\w+)": \{"frames": (\d+),""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** Per micro-batch record of the sink layer (benchmark-side spans). */
  final case class SinkBatch(batchId: Long, ms: Double, executes: Long, connections: Long,
                             rows: Long, endMicros: Long, observations: Long)

  private val queries = new java.util.concurrent.atomic.AtomicInteger()
  private val t0Nanos = System.nanoTime()
  /** Progress line on stderr (the run's engine.log). */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0Nanos) / 1e9}%8.3f s  $what")

  final class Ingest(spark: SparkSession, port: Int, work: Path) {
    val sinkBatches = mutable.ArrayBuffer.empty[SinkBatch]
    @volatile private var target: Long = Long.MaxValue
    @volatile private var done = new CountDownLatch(1)
    @volatile private var doneBatch = -1L

    /** Start a streaming query over `mounts`; it counts as done once
      * `expectFrames` packages have been acknowledged. */
    def start(mounts: Seq[String], expectFrames: Long): StreamingQuery = {
      import spark.implicits._
      target = expectFrames
      done = new CountDownLatch(1)
      val n = queries.incrementAndGet()
      note(s"query $n on ${mounts.mkString(",")}")
      val chunks = spark.readStream.format("graft.streaming.NtripSourceProvider")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("mountpoints", mounts.mkString(","))
        .load().as[RawChunk]
      RtcmStreaming.decodeStream(chunks).writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", work.resolve(s"checkpoint-$n").toString)
        .foreachBatch { (batch: Dataset[DecodedFrame], batchId: Long) =>
          val sc = spark.sparkContext
          sc.setLocalProperty("perfbench.layer", "sink")
          val st = Endpoint.store
          val (e0, c0, r0) = st.synchronized((st.executes, st.connections, st.packages + st.observations))
          val t0 = System.nanoTime()
          try Sinks.writeDecodedBatchJdbc(batch, Endpoint.Factory)
          finally sc.setLocalProperty("perfbench.layer", null)
          val ms = (System.nanoTime() - t0) / 1e6
          val (e1, c1, r1, acked, obs) = st.synchronized(
            (st.executes, st.connections, st.packages + st.observations, st.packages, st.observations))
          sinkBatches.synchronized(sinkBatches += SinkBatch(batchId, ms, e1 - e0, c1 - c0, r1 - r0,
            Endpoint.nowMicros(), obs))
          if (acked >= target && done.getCount > 0) { doneBatch = batchId; done.countDown() }
          ()
        }
        // the cadence of RtcmStreaming.startJdbcSink
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
    }

    /** Wait until every expected package is acked, let that batch
      * commit and report its progress, then stop the query. */
    def await(q: StreamingQuery, timeoutS: Long): Unit = {
      val ok = done.await(timeoutS, TimeUnit.SECONDS)
      val end = System.nanoTime() + 5000000000L
      while (ok && Option(q.lastProgress).forall(_.batchId < doneBatch) && System.nanoTime() < end)
        Thread.sleep(5)
      q.stop()
      require(ok, s"ingest did not land all frames within ${timeoutS}s " +
        s"(acked ${Endpoint.store.packages} of $target)")
    }
  }

  /** Everything the sink landed for one query, as JSON. */
  def storeJson(s: Endpoint.Store, startMicros: Long, endMicros: Long): String = s.synchronized {
    obj(
      "start_micros" -> startMicros.toString, "end_micros" -> endMicros.toString,
      "last_ack_micros" -> s.lastAckMicros.toString,
      "packages" -> s.packages.toString, "distinct_packages" -> s.packageIds.size.toString,
      "duplicates" -> s.duplicates.toString, "observations" -> s.observations.toString,
      "package_digest" -> js(java.lang.Long.toHexString(s.packageDigest)),
      "observation_digest" -> js(java.lang.Long.toHexString(s.observationDigest)),
      "coordinates" -> obj(s.coordinates.toSeq.sortBy(_._1).map { case (m, h) =>
        m -> arr(h.toSeq.sorted.map(x => js(java.lang.Long.toHexString(x)))) }: _*),
      "ack_log" -> arr(s.ackLog.map { case (t, m, c) => arr(Seq(t.toString, js(m), c.toString)) }))
  }

  /** The digests of `RtcmPipeline.decode(frameChunks(...))` over the
    * bytes the caster served on `mounts`. */
  def oracleJson(spark: SparkSession, caster: Path, mounts: Seq[String]): String = {
    import spark.implicits._
    val now = Endpoint.nowMicros()
    val chunks = mounts.flatMap { m =>
      val bytes = Files.readAllBytes(caster.resolve(s"$m.bin"))
      bytes.grouped(4096).zipWithIndex.map { case (b, i) => RawChunk(m, now + i, i.toLong, b) }
    }
    val decoded = RtcmPipeline.decode(RtcmPipeline.frameChunks(spark.createDataset(chunks))).persist()
    def digest(df: DataFrame, fields: Seq[String]): (Long, Long) =
      df.select(fields.head, fields.tail: _*).rdd.mapPartitions { it =>
        var sum = 0L
        var count = 0L
        it.foreach { r => sum += Digest.row(fields, f => r.getAs[Any](f)); count += 1 }
        Iterator((sum, count))
      }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    try {
      val (pd, pc) = digest(RtcmPipeline.packages(decoded), Digest.PackageFields)
      val (od, oc) = digest(RtcmPipeline.observations(decoded), Digest.ObservationFields)
      val coords = RtcmPipeline.coordinates(decoded)
        .select(Digest.CoordinateFields.head, Digest.CoordinateFields.tail: _*).collect()
        .groupBy(_.getString(0)).map { case (m, rows) =>
          m -> rows.map(r => Digest.row(Digest.CoordinateFields, f => r.getAs[Any](f))).toSeq.sorted }
      val errors = RtcmPipeline.errors(decoded).count()
      obj("packages" -> pc.toString, "observations" -> oc.toString,
        "package_digest" -> js(java.lang.Long.toHexString(pd)),
        "observation_digest" -> js(java.lang.Long.toHexString(od)),
        "decode_errors" -> errors.toString,
        "coordinates" -> obj(coords.toSeq.sortBy(_._1).map { case (m, hs) =>
          m -> arr(hs.map(x => js(java.lang.Long.toHexString(x)))) }: _*))
    } finally { decoded.unpersist(); () }
  }

  /** Single-threaded replay of the served bytes through framing,
    * decode and MSM expansion — the `rtcm` layer's costs. Each phase
    * is timed `reps` times; the median is kept. */
  def codecReplayJson(caster: Path, mounts: Seq[String], reps: Int = 3): String = {
    val streams = mounts.map(m => m -> Files.readAllBytes(caster.resolve(s"$m.bin")))
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    var frames: Seq[(String, Array[Byte])] = Nil
    val framingNs = median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      frames = streams.flatMap { case (m, bytes) =>
        var st = RtcmFraming.emptyState
        bytes.grouped(512).flatMap { c =>
          val (s2, fs) = RtcmFraming.feed(st, c); st = s2; fs
        }.map(m -> _).toVector
      }
      (System.nanoTime() - t0).toDouble
    })
    val totalBytes = streams.map(_._2.length.toLong).sum
    val frameBytes = frames.map(_._2.length.toLong).sum
    // CRC rejects: preamble bytes the framer skipped with a full header after them
    val crcRejects = streams.map { case (m, bytes) =>
      val mine = frames.filter(_._1 == m).map(_._2)
      var pos = 0
      var rejects = 0L
      mine.foreach { f =>
        while (!java.util.Arrays.equals(bytes, pos, pos + f.length, f, 0, f.length)) {
          if (bytes(pos) == RtcmFraming.Preamble && bytes.length - pos >= 6) rejects += 1
          pos += 1
        }
        pos += f.length
      }
      rejects
    }.sum
    var msgs: Seq[(String, graft.rtcm.RtcmMessage)] = Nil
    val decodeNs = median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      msgs = frames.map { case (m, f) => m -> RtcmDecoder.decodeFrame(f) }
      (System.nanoTime() - t0).toDouble
    })
    val msm = msgs.collect { case (m, x: MsmMessage) => (m, x) }
    val now = Endpoint.nowMicros()
    var obs = 0L
    val expandNs = median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      obs = msm.map { case (m, x) => MsmExpander.expand(x, m, now).size.toLong }.sum
      (System.nanoTime() - t0).toDouble
    })
    obj("bytes" -> totalBytes.toString, "frames" -> frames.size.toString,
      "skipped_bytes" -> (totalBytes - frameBytes).toString, "crc_rejects" -> crcRejects.toString,
      "obs" -> obs.toString, "framing_ns" -> num(framingNs), "decode_ns" -> num(decodeNs),
      "expand_ns" -> num(expandNs))
  }

  // ---- dashboard --------------------------------------------------------

  final case class Panel(name: String, startMicros: Long, endMicros: Long, constructMs: Double,
                         actionMs: Double, rows: Long, digest: Long, error: Option[String])

  /** One closed-loop Grafana client: a refresh runs the 17 dashboard
    * panels with at most `inFlight` of them running and returns when all
    * are done. The first result of each panel is kept for the oracle
    * check. */
  final class DashboardClient(spark: SparkSession, data: String, cores: Int) {
    val panels: Seq[(String, (SparkSession, String) => DataFrame)] =
      graft.queries.Dashboard.defs.toSeq.filterNot(_._1.endsWith("_bigpath")).sortBy(_._1)
    private val pool = Executors.newFixedThreadPool(cores)
    val firstResults = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    def refresh(inFlight: Int): Seq[Panel] = {
      val slots = new java.util.concurrent.Semaphore(inFlight)
      val futures = panels.map { case (name, fn) =>
        slots.acquire()
        pool.submit(() => {
          val sc = spark.sparkContext
          sc.setLocalProperty("perfbench.layer", "queries")
          val start = Endpoint.nowMicros()
          val t0 = System.nanoTime()
          try {
            val df = fn(spark, data)
            val t1 = System.nanoTime()
            val rows = df.collect()
            val t2 = System.nanoTime()
            firstResults.synchronized {
              if (!firstResults.contains(name)) firstResults(name) = (rows, df.schema)
            }
            Panel(name, start, Endpoint.nowMicros(), (t1 - t0) / 1e6, (t2 - t1) / 1e6,
              rows.length, rows.map(_.hashCode.toLong * 0x9E3779B97F4A7C15L).sum, None)
          } catch {
            case e: Exception =>
              Panel(name, start, Endpoint.nowMicros(), (System.nanoTime() - t0) / 1e6, 0, 0, 0,
                Some(e.toString))
          } finally {
            sc.setLocalProperty("perfbench.layer", null)
            slots.release()
          }
        })
      }
      futures.map(_.get())
    }

    def close(): Unit = { pool.shutdownNow(); () }

    /** Write each panel's first result for the DuckDB comparison. */
    def dumpFirstResults(out: Path): Unit = firstResults.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
  }

  def panelJson(p: Panel): String = obj(
    "name" -> js(p.name), "start_micros" -> p.startMicros.toString,
    "end_micros" -> p.endMicros.toString, "construct_ms" -> num(p.constructMs),
    "action_ms" -> num(p.actionMs), "rows" -> p.rows.toString,
    "digest" -> js(java.lang.Long.toHexString(p.digest)),
    "error" -> p.error.map(js).getOrElse("null"))

  def refreshJson(r: Seq[Panel]): String = arr(r.map(panelJson))

  // ---- the run ----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val work = Paths.get(arg(args, "work"))
    val caster = Paths.get(arg(args, "caster"))
    val trials = arg(args, "setup-trials").toInt
    require(Set("ingest_backfill", "live_mixed")(workload), workload)
    val live = workload == "live_mixed"

    def waitFor(p: Path, timeoutS: Double): Unit = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!Files.exists(p)) {
        require(System.nanoTime() < end, s"timed out waiting for $p")
        Thread.sleep(10)
      }
    }
    // the caster builds its corpus while the first session starts
    lazy val port = {
      waitFor(caster.resolve("port"), 120)
      Files.readString(caster.resolve("port")).trim.toInt
    }
    lazy val manifest = readManifest(caster)
    def mountsOf(prefix: String) = manifest.keys.filter(_.startsWith(prefix)).toSeq.sorted
    def framesOf(ms: Seq[String]) = ms.map(manifest).sum

    var root: SparkSession = null
    var spark: SparkSession = null
    var ingest: Ingest = null
    var dash: SparkSession = null
    var client: DashboardClient = null
    val warmups = mutable.ArrayBuffer.empty[String]

    // ---- setup trials: a fresh session and a warm-up stream through
    // the whole ingest path. The first trial also starts the
    // SparkContext and (live_mixed) runs one dashboard refresh beside
    // the stream; later trials clone a new session from it, so the
    // median trial is the warm set-up cost of the ingest path ----
    val setupS = (1 to trials).map { _ =>
      val t0 = System.nanoTime()
      val first = root == null
      if (first) { root = session(cores, work); spark = root }
      else spark = root.newSession()
      val refresh = if (!live || !first) None else {
        dash = spark.newSession()
        client = new DashboardClient(dash, arg(args, "data"), cores)
        val c = client
        // the warm-up refresh runs on every core: only its results count
        val th = new Thread(() => { val r = c.refresh(cores); warmups.synchronized(warmups += refreshJson(r)) })
        th.start()
        Some(th)
      }
      ingest = new Ingest(spark, port, work)
      val warm = mountsOf("WRM")
      Endpoint.reset()
      ingest.await(ingest.start(warm, framesOf(warm)), 120)
      refresh.foreach(_.join())
      note("setup trial done")
      (System.nanoTime() - t0) / 1e9
    }

    ingest.sinkBatches.clear()
    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      t.install(spark)
      if (dash != null) dash.listenerManager.register(t.queryListener(dash))
    }
    def openWindow(): Unit = trace.foreach(_.windowStartMs = System.currentTimeMillis())
    def closeWindow(): Unit = trace.foreach(_.windowEndMs = System.currentTimeMillis())

    val sections = mutable.ArrayBuffer.empty[(String, String)]
    val mounts = mountsOf(if (live) "LIV" else "MNT")
    val warmupS = arg(args, "warmup").toDouble
    if (!live) {
      // back-to-back catch-up rounds over the same backlog, each a
      // fresh query: at least one unmeasured (the JIT is still compiling
      // the decode path), then measured ones while the next round is
      // expected to end within half a round of the window
      def rounds(forS: Double): Seq[String] = {
        val out = mutable.ArrayBuffer.empty[String]
        val t0 = System.nanoTime()
        var last = 0.0
        while (out.isEmpty || (System.nanoTime() - t0) / 1e9 + last / 2 < forS) {
          val r0 = System.nanoTime()
          Endpoint.reset()
          val start = Endpoint.nowMicros()
          ingest.await(ingest.start(mounts, framesOf(mounts)), 120)
          out += storeJson(Endpoint.store, start, Endpoint.nowMicros())
          last = (System.nanoTime() - r0) / 1e9
        }
        out.toSeq
      }
      rounds(warmupS)
      ingest.sinkBatches.clear()
      openWindow()
      sections += "rounds" -> arr(rounds(seconds))
      closeWindow()
    } else {
      // one live query; the dashboard client refreshes in a closed loop
      // through the measured window, which starts `warmup` seconds
      // after the caster's first scheduled frame
      Endpoint.reset()
      val start = Endpoint.nowMicros()
      val q = ingest.start(mounts, framesOf(mounts))
      waitFor(caster.resolve("live_base"), 30)
      val base = Files.readString(caster.resolve("live_base")).trim.toLong
      val w0 = base + (warmupS * 1e6).toLong
      val w1 = w0 + (seconds * 1e6).toLong
      while (Endpoint.nowMicros() < w0) Thread.sleep(1)
      openWindow()
      val refreshes = mutable.ArrayBuffer.empty[String]
      val inFlight = arg(args, "panels-in-flight").toInt
      while (Endpoint.nowMicros() < w1) refreshes += refreshJson(client.refresh(inFlight))
      closeWindow()
      ingest.await(q, 60)
      sections += "live" -> storeJson(Endpoint.store, start, Endpoint.nowMicros())
      sections += "window_micros" -> arr(Seq(w0.toString, w1.toString))
      sections += "refreshes" -> arr(refreshes)
      sections += "warmups" -> arr(warmups)
      client.dumpFirstResults(work.resolve("panels"))
      client.close()
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(work.resolve("oracle_sql.json"), obj(client.panels.map(_._1)
        .map(n => n -> oracle.get(n).map(js).getOrElse("null")): _*))
    }
    Files.writeString(caster.resolve("stop"), "")
    note("measured")
    sections += "mounts" -> arr(mounts.map(js))
    sections += "sink_batches" -> arr(ingest.sinkBatches.synchronized(ingest.sinkBatches.toVector)
      .map(b => arr(Seq(b.endMicros.toString, b.observations.toString))))
    sections += "oracle" -> oracleJson(spark, caster, mounts)
    note("batch decode oracle done")

    trace.foreach { t =>
      Thread.sleep(1000) // let the listener bus drain
      t.uninstall(spark)
      sections += "codec" -> codecReplayJson(caster, mounts)
      sections += "trace" -> traceJson(t, ingest)
    }
    val record = obj(Seq(
      "workload" -> js(workload), "cores" -> cores.toString,
      "setup_s" -> arr(setupS.map(num)), "peak_rss_mb" -> num(peakRssMb())) ++ sections: _*)
    Files.writeString(work.resolve("result.json"), record)
    note("result written")
    root.stop()
  }

  def traceJson(t: Trace, ingest: Ingest): String = {
    def accJson(a: t.Acc) = obj("jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
      "task_ms" -> a.taskMs.toString, "gc_ms" -> a.gcMs.toString,
      "spill_bytes" -> a.spillBytes.toString, "peak_exec_bytes" -> a.peakExecBytes.toString,
      "input_bytes" -> a.inputBytes.toString, "shuffle_bytes" -> a.shuffleBytes.toString)
    val progress = t.progress.synchronized(t.progress.toVector).map { e =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val src = p.sources.headOption
      def off(s: String) = Option(s).filter(_.nonEmpty).map(_.trim.toLong).getOrElse(0L)
      obj("batch" -> p.batchId.toString, "input_rows" -> p.numInputRows.toString,
        "duration_ms" -> obj(d.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
        "backlog" -> src.map(s => (off(s.latestOffset) - off(s.endOffset)).toString).getOrElse("0"),
        "state_rows" -> p.stateOperators.headOption.map(_.numRowsTotal.toString).getOrElse("0"),
        "state_bytes" -> p.stateOperators.headOption.map(_.memoryUsedBytes.toString).getOrElse("0"))
    }
    val sink = Option(ingest).map(i => i.sinkBatches.synchronized(i.sinkBatches.toVector))
      .getOrElse(Vector.empty[SinkBatch])
    obj(
      "window_ms" -> arr(Seq(t.windowStartMs.toString, t.windowEndMs.toString)),
      "layers" -> obj(t.byLayer.asScala.toSeq.sortBy(_._1).map { case (k, a) => k -> accJson(a) }: _*),
      "total" -> accJson(t.totals),
      "source_scan_tasks" -> arr(t.sourceScanTasks.map(_.toString)),
      "progress" -> arr(progress),
      "sink_batches" -> arr(sink.map(b => obj("batch" -> b.batchId.toString, "ms" -> num(b.ms),
        "executes" -> b.executes.toString, "connections" -> b.connections.toString,
        "rows" -> b.rows.toString))),
      "query_executions" -> t.queryExecutions.toString, "plan_ms" -> t.planMs.toString)
  }
}
