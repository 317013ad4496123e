package graft.queries

import graft.etl.{RtcmPipeline, SyntheticRtcm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end RTCM pipeline queries over a deterministic synthetic
  * corpus (SyntheticRtcm, seed-fixed): transport chunks → framing →
  * CRC → decode → MSM expansion → table projections → dashboard-shaped
  * analytics.
  *
  * Oracle strategy: the pipeline itself isn't SQL-expressible, but its
  * OUTPUT TABLES are — graft.Verify dumps `rtcm_packages_e2e` /
  * `rtcm_observations_e2e` / `rtcm_coordinates_e2e` as parquet, and
  * every derived dashboard query here carries DuckDB oracle SQL that
  * reads those dumps back (`__GRAFT_OUT__` is substituted with the
  * verify out-dir at dump time). That turns the decode chain's
  * analytics layer into value-checked queries instead of rows-only;
  * only the byte-level stages (framing/CRC, checked exhaustively in
  * ScalaTest) and the dump projections themselves stay rows-only.
  */
object RtcmQueries extends QueryModule {
  import Q._

  private val NMounts = 4
  private val NFrames = 240

  /** Where the oracle SQL finds the e2e dumps; graft.Verify replaces
    * this with the actual out-dir when writing oracle_sql.json. */
  val OutDirToken = "__GRAFT_OUT__"
  private def dump(name: String): String =
    s"read_parquet('$OutDirToken/$name/*.parquet')"

  // The corpus is deterministic, so the decoded Dataset is computed
  // once per session and shared by all queries here. Identity-keyed
  // (IdentityHashMap — hash-code keys can collide) with explicit
  // eviction of stopped sessions on access: a Dataset strongly
  // references its session, so weak references could never collect
  // entries anyway (round-1 ADVICE), and eviction keeps a long-lived
  // JVM from both leaking corpora and resurrecting a Dataset bound to
  // a stopped context.
  private val cache = new java.util.IdentityHashMap[
    SparkSession, org.apache.spark.sql.Dataset[graft.etl.DecodedFrame]]()

  private def decoded(s: SparkSession): org.apache.spark.sql.Dataset[graft.etl.DecodedFrame] =
    cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      }
      Option(cache.get(s)).getOrElse {
        import s.implicits._
        val chunks = s.createDataset(SyntheticRtcm.corpus(NMounts, NFrames))
          .repartition(8, col("mountPoint"))
        val d = RtcmPipeline.decode(RtcmPipeline.frameChunks(chunks)).persist()
        cache.put(s, d)
        d
      }
    }

  /** rtcm_packages: one metadata row per CRC-valid frame. */
  private def packages(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.packages(decoded(s)).orderBy("mountpoint", "receive_time", "rtcm_package_id")

  /** Per-(sat, signal) observation rows from MSM5/MSM7 expansion. */
  private def observations(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.observations(decoded(s))
      .orderBy("mountpoint", "obs_epoch", "sat_id", "sat_signal")

  /** All ARP fixes (append log) — the base the upsert view derives from. */
  private def coordinatesAll(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.coordinates(decoded(s))
      .orderBy("mountpoint", "receive_time", "rtcm_package_id")

  /** Latest ARP per mountpoint (upsert-table semantics as window
    * dedup), timestamps as epoch micros for engine-exact compare. */
  private def coordinatesLatest(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.latestCoordinates(decoded(s))
      .select(col("mountpoint"), unix_micros(col("receive_time")).as("receive_epoch_us"),
        col("rtcm_package_id"), col("ecef_x"), col("ecef_y"), col("ecef_z"),
        col("antenna_height"))
      .orderBy("mountpoint")

  private val coordinatesLatestSql =
    s"""SELECT mountpoint, epoch_us(receive_time) AS receive_epoch_us, rtcm_package_id,
       |  ecef_x, ecef_y, ecef_z, antenna_height
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY mountpoint
       |        ORDER BY receive_time DESC, rtcm_package_id DESC) AS rn
       |      FROM ${dump("rtcm_coordinates_e2e")}) c
       |WHERE rn = 1 ORDER BY 1""".stripMargin

  /** Q12-shaped SNR pivot over the decoded GPS observations
    * (Disturbances.json:122): exact avg SNR per minute per signal,
    * fixed column set incl. never-emitted L5X. SNR steps are dyadic
    * (1 and 2^-4 dBHz), so the scaled-long davg pattern is exact. */
  private def snrPivot(s: SparkSession, d: String): DataFrame = {
    def p(sig: String) = {
      val sm = sum(when(col("sat_signal") === sig,
        graft.functions.GraftFunctions.scaledLong(col("obs_snr"), 4)))
      val c = count(when(col("sat_signal") === sig, col("obs_snr")))
      fixedDec(rhu(sm, c, 100), 6).as(s"avg_snr_$sig")
    }
    RtcmPipeline.observations(decoded(s))
      .filter(col("constellation") === "GPS")
      .groupBy(bucket(col("obs_epoch"), 60).as("bucket"), col("mountpoint"))
      .agg(p("L1C"), p("L2W"), p("L2X"), p("L5X"))
      .orderBy("bucket", "mountpoint")
  }

  private val snrPivotSql = {
    def p(sig: String) = fixedDecSql(rhuSql(
      s"SUM(CASE WHEN sat_signal = '$sig' THEN CAST(ROUND(obs_snr * 1e4, 0) AS BIGINT) END)",
      s"COUNT(CASE WHEN sat_signal = '$sig' THEN obs_snr END)", 100), 6) + s" AS avg_snr_$sig"
    s"""SELECT ${bucketSql("obs_epoch", 60)} AS bucket, mountpoint,
       |  ${p("L1C")}, ${p("L2W")}, ${p("L2X")}, ${p("L5X")}
       |FROM ${dump("rtcm_observations_e2e")}
       |WHERE constellation = 'GPS'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Q9-shaped latency: receive_time vs obs_epoch seconds-of-day delta
    * per (mountpoint, constellation) (RTCM monitor.json:1072), exact
    * integer latency + davg. */
  private def latency(s: SparkSession, d: String): DataFrame = {
    val leap = when(col("constellation").isin("GPS", "GALILEO"), 18L)
      .when(col("constellation") === "BEIDOU", 4L).otherwise(0L)
    val lat = pmod(unix_timestamp(col("receive_time")) + leap, lit(86400L)) -
      pmod(unix_timestamp(col("rtcm_obs_epoch")), lit(86400L))
    RtcmPipeline.packages(decoded(s))
      .filter(col("rtcm_obs_epoch").isNotNull)
      .groupBy(col("mountpoint"), col("constellation"))
      .agg(davg(lat).as("avg_latency_s"), max(lat).as("max_latency_s"),
        min(lat).as("min_latency_s"), count(lit(1)).as("n"))
      .orderBy("mountpoint", "constellation")
  }

  private val latencySql = {
    // DuckDB % is remainder (sign of dividend); both operands are
    // non-negative epoch seconds here so it equals Spark's pmod.
    val lat = """((CAST(floor(epoch(receive_time)) AS BIGINT)
      | + CASE WHEN constellation IN ('GPS','GALILEO') THEN 18
      |        WHEN constellation = 'BEIDOU' THEN 4 ELSE 0 END) % 86400
      | - CAST(floor(epoch(rtcm_obs_epoch)) AS BIGINT) % 86400)"""
      .stripMargin.replace("\n", "")
    s"""SELECT mountpoint, constellation,
       |  ${davgSql(lat)} AS avg_latency_s,
       |  MAX($lat) AS max_latency_s, MIN($lat) AS min_latency_s, COUNT(*) AS n
       |FROM ${dump("rtcm_packages_e2e")}
       |WHERE rtcm_obs_epoch IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Data-gap heatmap over packages (Q8 shape, RTCM monitor.json:949). */
  private def gaps(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.packages(decoded(s))
      .filter(col("rtcm_obs_epoch").isNotNull)
      .groupBy(bucket(col("receive_time"), 30).as("bucket"), col("mountpoint"))
      .agg(count(col("rtcm_obs_epoch")).as("n"))
      .orderBy("bucket", "mountpoint")

  private val gapsSql =
    s"""SELECT ${bucketSql("receive_time", 30)} AS bucket, mountpoint,
       |  COUNT(rtcm_obs_epoch) AS n
       |FROM ${dump("rtcm_packages_e2e")}
       |WHERE rtcm_obs_epoch IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** SQL-facing CRC audit via the codegen'd crc24q expression: every
    * synthetic frame's stored CRC matches a recompute over its body
    * (the same LUT the framing layer uses). Rows-only: crc24q has no
    * DuckDB equivalent; exhaustive value checks live in Crc24qSpec. */
  private def crcAudit(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.crc24q
    import s.implicits._
    val frames = SyntheticRtcm.mountPoints(NMounts).zipWithIndex.flatMap { case (m, i) =>
      SyntheticRtcm.framesFor(m, 100 + i, NFrames, 42L + i).map { case (_, f) => (m, f) }
    }
    s.createDataset(frames).toDF("mountpoint", "frame")
      .withColumn("calc_crc", crc24q(expr("substring(frame, 1, length(frame) - 3)")))
      .withColumn("stored_crc",
        expr("conv(hex(substring(frame, length(frame) - 2, 3)), 16, 10)").cast("int"))
      .groupBy(col("mountpoint"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("calc_crc") === col("stored_crc"), 1L).otherwise(0L)).as("n_valid"))
      .orderBy("mountpoint")
  }

  /** Q16-shaped template-variable query from the Disturbances
    * dashboard: DISTINCT signals per constellation, ordered (the list
    * feeding the SNR panels' column sets). */
  private def templateSignals(s: SparkSession, d: String): DataFrame =
    RtcmPipeline.observations(decoded(s))
      .select(col("constellation"), col("sat_signal")).distinct()
      .orderBy("constellation", "sat_signal")

  private val templateSignalsSql =
    s"""SELECT DISTINCT constellation, sat_signal
       |FROM ${dump("rtcm_observations_e2e")}
       |ORDER BY 1, 2""".stripMargin

  // ---- streaming window-aggregate parity (Q2/Q5/Q8 shapes) ----
  //
  // The same corpus is replayed through the LIVE path — framed per
  // mountpoint as a reader frames its connection → MemoryStream →
  // stateless decode → watermarked event-time window aggregate
  // (graft.streaming.DashboardStreams) — in three micro-batches plus a
  // watermark-advancing flush. The oracle is the batch SQL over the
  // batch pipeline's own e2e dump, so a hash match proves streaming ==
  // batch END TO END: reader-side framing, decode, epoch-aligned window
  // starts, exact fixed-point aggregate arithmetic, and Append-mode
  // window-close semantics across batch boundaries.
  private def streamed(s: SparkSession)(
      shape: org.apache.spark.sql.Dataset[graft.etl.DecodedFrame] => DataFrame): DataFrame =
    graft.streaming.StreamingReplay.run(s, SyntheticRtcm.corpus(NMounts, NFrames), 3)(in =>
      shape(graft.streaming.RtcmStreaming.decodeStream(in)))
      .filter(col("mountpoint") =!= graft.streaming.StreamingReplay.FlushMount)

  private def gapsStream(s: SparkSession, d: String): DataFrame =
    streamed(s)(graft.streaming.DashboardStreams.gapHeatmap(_))
      .orderBy("bucket", "mountpoint")

  private def rateStream(s: SparkSession, d: String): DataFrame =
    streamed(s)(graft.streaming.DashboardStreams.rateTimeseries(_))
      .orderBy("bucket", "mountpoint")

  private def flowStream(s: SparkSession, d: String): DataFrame =
    streamed(s)(graft.streaming.DashboardStreams.flowTimeseries(_))
      .orderBy("bucket", "mountpoint")

  // Q12 shape: event time is the GNSS observation epoch, so the
  // replay flushes with an epoch-aligned frame (see
  // StreamingReplay.epochAlignedFlush)
  private def snrStream(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingReplay.run(s, SyntheticRtcm.corpus(NMounts, NFrames), 3,
        graft.streaming.StreamingReplay.epochAlignedFlush)(in =>
      graft.streaming.DashboardStreams.snrPivot(
        graft.streaming.RtcmStreaming.decodeStream(in)))
      .filter(col("mountpoint") =!= graft.streaming.StreamingReplay.FlushMount)
      .orderBy("bucket", "mountpoint")

  private val rateStreamSql =
    s"""SELECT ${bucketSql("receive_time", 60)} AS bucket, mountpoint,
       |  CAST(CAST(ROUND(CAST(SUM(rtcm_sat_count) AS DOUBLE)/60, 6) AS DECIMAL(18,6)) AS DOUBLE) AS rate
       |FROM ${dump("rtcm_packages_e2e")}
       |WHERE rtcm_sat_count IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val flowStreamSql =
    s"""SELECT ${bucketSql("receive_time", 30)} AS bucket, mountpoint,
       |  CAST(SUM(rtcm_msg_size) AS BIGINT) AS bytes,
       |  CAST(CAST(ROUND(CAST(SUM(rtcm_msg_size) AS DOUBLE)/30/8/1024, 9) AS DECIMAL(18,9)) AS DOUBLE) AS kbps
       |FROM ${dump("rtcm_packages_e2e")}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  override def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rtcm_template_signals" -> templateSignals,
    "rtcm_crc_audit" -> crcAudit,
    "rtcm_packages_e2e" -> packages,
    "rtcm_observations_e2e" -> observations,
    "rtcm_coordinates_e2e" -> coordinatesAll,
    "rtcm_coordinates_latest" -> coordinatesLatest,
    "rtcm_snr_pivot" -> snrPivot,
    "rtcm_latency_stats" -> latency,
    "rtcm_gap_heatmap" -> gaps,
    "rtcm_gap_heatmap_stream" -> gapsStream,
    "rtcm_rate_stream" -> rateStream,
    "rtcm_flow_stream" -> flowStream,
    "rtcm_snr_stream" -> snrStream)

  /** Derived analytics get oracles over the e2e parquet dumps; the
    * dumps themselves and the CRC audit stay rows-only. The three
    * `_stream` queries run the STREAMING path but are checked against
    * the BATCH dump's SQL — that equality is the streaming-parity
    * contract. */
  override def oracle: Map[String, String] = Map(
    "rtcm_template_signals" -> templateSignalsSql,
    "rtcm_coordinates_latest" -> coordinatesLatestSql,
    "rtcm_snr_pivot" -> snrPivotSql,
    "rtcm_latency_stats" -> latencySql,
    "rtcm_gap_heatmap" -> gapsSql,
    "rtcm_gap_heatmap_stream" -> gapsSql,
    "rtcm_rate_stream" -> rateStreamSql,
    "rtcm_flow_stream" -> flowStreamSql,
    "rtcm_snr_stream" -> snrPivotSql)
}
