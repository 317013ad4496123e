package graft.streaming

import graft.etl.{DecodedFrame, RawChunk, SyntheticRtcm}
import graft.rtcm.RtcmFraming
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The dashboard's time-bucket panels (Q2 rate / Q5 flow / Q8 gap
  * shapes) served DIRECTLY from the live decode stream as watermarked
  * event-time window aggregates — the streaming analog of the
  * reference's Grafana-over-continuously-ingested-table architecture
  * (`RTCM monitor.json:248`, :645, :949): there the DB table absorbs
  * the stream and the panel query re-aggregates it; here the window
  * aggregate IS the panel, state bounded by the watermark horizon.
  *
  * Scale design: per-trigger state is one partial aggregate per open
  * (window × mountpoint) — independent of stream length; Append mode
  * emits each window exactly once when the watermark passes its end,
  * so a downstream sink sees the same rows the batch query computes
  * over the landed table. Window starts are epoch-aligned, making
  * `unix_timestamp(window.start)` equal the batch `Q.bucket` value
  * bit-for-bit.
  *
  * Output parity with the batch dashboard queries is oracle-checked:
  * `rtcm_{gap_heatmap,rate,flow}_stream` in [[graft.queries.RtcmQueries]]
  * replay the synthetic corpus through this path and are hash-compared
  * by the gate against the SAME SQL the batch dump satisfies.
  *
  * LATE-DATA POLICY (the watermark trade, stated): a row whose event
  * time is older than the current watermark arrives after its window
  * closed and is DROPPED by the aggregation — it appears in a batch
  * recompute over the landed table but never in the stream output
  * (StreamingSpec pins this divergence). Size the watermark to the
  * source's real disorder bound; the NTRIP transport stamps receive
  * time at read, so disorder is bounded by micro-batch interleave,
  * not by station clocks.
  */
object DashboardStreams {

  private def withEventTime(decoded: Dataset[DecodedFrame], watermark: String): DataFrame =
    decoded.toDF()
      .withColumn("receive_time", timestamp_micros(col("receive_micros")))
      .withWatermark("receive_time", watermark)

  /** Q8 shape (gap heatmap): obs-bearing package count per 30 s window
    * per mountpoint — parity with RtcmQueries `rtcm_gap_heatmap`. */
  def gapHeatmap(decoded: Dataset[DecodedFrame],
                 watermark: String = "2 minutes"): DataFrame =
    withEventTime(decoded, watermark)
      .filter(col("rtcm_obs_epoch_micros").isNotNull)
      .groupBy(window(col("receive_time"), "30 seconds").as("w"), col("mountpoint"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("mountpoint"), col("n"))

  /** Q2 shape (sat-count rate timeseries): sum of satellite counts per
    * 60 s window per mountpoint over the window length, 6-dp fixed
    * output (same exact-arithmetic pattern as the batch q02). */
  def rateTimeseries(decoded: Dataset[DecodedFrame],
                     watermark: String = "2 minutes"): DataFrame =
    withEventTime(decoded, watermark)
      .filter(col("rtcm_sat_count").isNotNull)
      .groupBy(window(col("receive_time"), "60 seconds").as("w"), col("mountpoint"))
      .agg(round(sum(col("rtcm_sat_count")).cast(DoubleType) / 60, 6)
        .cast(DecimalType(18, 6)).cast(DoubleType).as("rate"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("mountpoint"), col("rate"))

  /** Q5 shape (data-flow timeseries): message bytes per 30 s window per
    * mountpoint, plus kB/s at 9-dp fixed output (batch q05 pattern). */
  def flowTimeseries(decoded: Dataset[DecodedFrame],
                     watermark: String = "2 minutes"): DataFrame =
    withEventTime(decoded, watermark)
      .groupBy(window(col("receive_time"), "30 seconds").as("w"), col("mountpoint"))
      .agg(sum(col("rtcm_msg_size")).cast(LongType).as("bytes"),
        round(sum(col("rtcm_msg_size")).cast(DoubleType) / 30 / 8 / 1024, 9)
          .cast(DecimalType(18, 9)).cast(DoubleType).as("kbps"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("mountpoint"),
        col("bytes"), col("kbps"))

  /** Q12 shape (GPS SNR pivot) over the per-observation stream — event
    * time is the GNSS OBSERVATION EPOCH, not the receive time, so the
    * watermark tracks satellite time (use [[StreamingReplay
    * .epochAlignedFlush]] when replaying: a flush whose observation
    * epoch also sits at the far-future receive time). Exact
    * fixed-point per-signal averages, same arithmetic as the batch
    * `rtcm_snr_pivot`. */
  def snrPivot(decoded: Dataset[DecodedFrame],
               watermark: String = "2 minutes"): DataFrame = {
    import graft.queries.Q
    def p(sig: String) = {
      val sm = sum(when(col("sat_signal") === sig,
        graft.functions.GraftFunctions.scaledLong(col("obs_snr"), 4)))
      val c = count(when(col("sat_signal") === sig, col("obs_snr")))
      Q.fixedDec(Q.rhu(sm, c, 100), 6).as(s"avg_snr_$sig")
    }
    graft.etl.RtcmPipeline.observations(decoded)
      .filter(col("constellation") === "GPS")
      .withWatermark("obs_epoch", watermark)
      .groupBy(window(col("obs_epoch"), "60 seconds").as("w"), col("mountpoint"))
      .agg(p("L1C"), p("L2W"), p("L2X"), p("L5X"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("mountpoint"),
        col("avg_snr_L1C"), col("avg_snr_L2W"), col("avg_snr_L2X"), col("avg_snr_L5X"))
  }
}

/** Replays a finite chunk corpus through a streaming transform in
  * arrival-ordered micro-batches and returns the materialized
  * append-mode output — the harness that lets a watermarked streaming
  * aggregation be value-checked against its batch twin (and by the
  * DuckDB gate) on identical input.
  *
  * The corpus is framed first, per mountpoint in `seq` order, as a
  * reader frames its connection (an `RtcmFraming.Framer`): each chunk
  * that completes frames becomes one chunk of them, with its receive
  * time and seq. The framed chunks are fed in `nBatches`
  * event-time-ordered slices (open windows must survive every
  * boundary), then
  * one far-future frame on the [[FlushMount]] sentinel advances the
  * watermark past every real window so Append mode emits them all;
  * callers drop the sentinel's own rows by mountpoint. */
object StreamingReplay {
  val FlushMount = "ZZFLUSH"
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Default flush: a frame far past the corpus in RECEIVE time —
    * advances receive-time watermarks. */
  def defaultFlush(maxT: Long): RawChunk = {
    val (_, frame) = SyntheticRtcm.framesFor(FlushMount, 999, 1, 7L).head
    RawChunk(FlushMount, maxT + 600000000L, 0L, frame)
  }

  /** Flush whose MSM OBSERVATION EPOCH also sits at the far-future
    * receive time (epoch seconds-of-day of the flush receive instant,
    * so GNSS-time resolution lands next to it) — advances watermarks
    * keyed on `obs_epoch`, which [[defaultFlush]] cannot (its
    * observation epoch resolves near the corpus start). */
  def epochAlignedFlush(maxT: Long): RawChunk = {
    val t = maxT + 600000000L
    val secOfDayMs = ((t / 1000000L) % 86400L) * 1000L
    val frame = graft.rtcm.RtcmEncoder.msmFrame(
      SyntheticRtcm.msm(new java.util.Random(7L), 1077, 999, secOfDayMs))
    RawChunk(FlushMount, t, 0L, frame)
  }

  def run(s: SparkSession, chunks: Seq[RawChunk], nBatches: Int,
          flush: Long => RawChunk = defaultFlush)
         (transform: Dataset[RawChunk] => DataFrame): DataFrame = {
    import s.implicits._
    // arrival order = event-time order (all mounts stream
    // concurrently); per-mount seq order is preserved because chunk
    // receive times increase with seq
    val ordered = framed(chunks).sortBy(c => (c.receiveMicros, c.mountPoint, c.seq))
    replay(s, ordered, flush(chunks.iterator.map(_.receiveMicros).max), nBatches)(transform)
  }

  /** The drive loop behind [[run]], for any element type: `rows` fed
    * in arrival order in `nBatches` slices through a `MemoryStream`,
    * then `flush` twice (see below), into an Append-mode memory sink;
    * returns the materialized output. */
  def replay[T: Encoder](s: SparkSession, rows: Seq[T], flush: T, nBatches: Int)
         (transform: Dataset[T] => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: SQLContext = s.sqlContext
    val input = MemoryStream[T]
    val out = transform(input.toDS())
    val name = s"graft_replay_${counter.incrementAndGet()}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-replay-ckpt")
    // a replay corpus is small; per-trigger cost is dominated by state
    // store instances × triggers, so run the stream with few shuffle
    // partitions (the streaming query captures the conf at start —
    // production streams size this to the cluster, not to this replay)
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    val oldNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // no-data micro-batches OFF (optimization round 18, the
    // ReplayHarness rationale): Append emission for windows a batch's
    // watermark closes then happens in the NEXT batch with data, so
    // the engine skips the full-plan empty batch it otherwise runs
    // after EVERY processAllAvailable (measured: half of a replay's
    // micro-batches). A SECOND flush below is what flushes the windows
    // the first flush's watermark closed — flush rows themselves never
    // close and callers drop the sentinel's rows.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = try {
      out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt.toString)
        .start()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", oldParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", oldNoData)
    }
    try {
      rows.grouped(math.max(1, rows.size / nBatches + 1)).foreach { g =>
        input.addData(g)
        q.processAllAvailable()
      }
      input.addData(flush)
      q.processAllAvailable()
      input.addData(flush)
      q.processAllAvailable()
      val table = s.table(name)
      // materialize before the query/table lifecycle ends
      val result = s.createDataFrame(table.collectAsList(), table.schema)
      s.catalog.dropTempView(name)
      result
    } finally {
      q.stop()
      graft.operators.ArtifactDir.deleteTree(ckpt)
    }
  }

  /** `chunks` framed per mountpoint in `seq` order, one
    * `RtcmFraming.Framer` each, as a reader frames its connection: every
    * chunk that completes frames becomes one chunk of them, keeping its
    * receive time and seq. */
  def framed(chunks: Seq[RawChunk]): Seq[RawChunk] =
    chunks.groupBy(_.mountPoint).values.toSeq.flatMap { cs =>
      val framer = new RtcmFraming.Framer
      cs.sortBy(_.seq).flatMap(c => framer.push(c.data).map(f => c.copy(data = f)))
    }
}
