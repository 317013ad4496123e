package graft.etl

import graft.plans.{DecodeFrames, DecodeFramesStrategy}
import graft.rtcm._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graftshim.PlanDataFrame
import org.apache.spark.sql.functions._

/** Raw byte chunk as delivered by a transport (NTRIP body read, Kafka
  * record, replay file). `seq` preserves intra-mountpoint arrival
  * order inside a batch. */
final case class RawChunk(mountPoint: String, receiveMicros: Long, seq: Long, data: Array[Byte])

/** One complete CRC-valid RTCM frame + its arrival envelope
  * (reference envelope: src/ingestion.py:325-332). `RtcmStreaming.decodeStream`
  * also reads streamed chunks, whole frames back to back, as this
  * type: `RtcmPipeline.decode` splits them. */
final case class EncodedFrame(mountPoint: String, receiveMicros: Long, frame: Array[Byte])

/** Observation output row (matches `*_observations` columns,
  * initdb/11-gps_observations.sql). */
private[graft] final case class ObsOut(
    obs_epoch_micros: Long,
    sat_id: String,
    sat_signal: String,
    obs_code: Double,
    obs_phase: Double,
    obs_doppler: Double,
    obs_snr: Double,
    obs_lock_time_indicator: Int)

/** Station-coordinate output (matches `coordinates`,
  * initdb/02-coordinates.sql; meters). */
final case class CoordOut(ecef_x: Double, ecef_y: Double, ecef_z: Double,
    antenna_height: Option[Double])

/** One decoded frame: package metadata + nested obs/coord payloads +
  * dead-letter error. Decoded ONCE per frame; the per-table outputs
  * are projections/explodes of this Dataset (no re-decode). */
final case class DecodedFrame(
    rtcm_package_id: Long,
    mountpoint: String,
    receive_micros: Long,
    rtcm_msg_type: Int,
    rtcm_msg_size: Int,
    rtcm_sat_count: Option[Int],
    rtcm_obs_epoch_micros: Option[Long],
    constellation: String,
    observations: Seq[ObsOut],
    coordinates: Option[CoordOut],
    error: Option[String])

/** Batch decode pipeline: bytes → frames → typed rows → table
  * DataFrames (SURVEY.md §2.1-§2.2, S3-S6 + D1-D11).
  *
  * Scale design: batch framing is per-mountpoint sequential (keyed
  * repartition — the only shuffle), decode is embarrassingly parallel
  * (the [[graft.plans.DecodeFrames]] node, one output row per frame,
  * written straight into Spark's row format), and the table outputs
  * are narrow projections of one decoded Dataset. Decode is one frame
  * walk ([[walkFrame]]) with two outputs: `decodeOne` builds a
  * `DecodedFrame`, and the node's row writer writes the same values
  * into a row, with nothing allocated per observation and no code
  * generated per query. The streaming path
  * (`RtcmStreaming.decodeStream`) has no framing stage at all: every
  * chunk stream is framed where its bytes are read (the NTRIP source's
  * reader threads, the durable-log writer, the replay harness), so
  * each chunk holds whole frames, and the same node splits and decodes
  * them in the source stage (for the NTRIP source, one input partition
  * per mountpoint), with no state and no shuffle. At 100 TB the
  * decoded set would be written partitioned by (date(receive_time),
  * constellation) and the obs explode runs map-side — no additional
  * shuffle.
  */
object RtcmPipeline {

  /** Deterministic 64-bit package id — stable across retries so obs
    * rows can carry the package FK without a sink round-trip
    * (SURVEY.md §7 risk 2). FNV-1a over the identifying fields. */
  def packageId(mountPoint: String, receiveMicros: Long, frame: Array[Byte]): Long =
    packageId(mountPoint, receiveMicros, frame, 0, frame.length)

  /** [[packageId]] of the frame at bytes[from, until). */
  def packageId(mountPoint: String, receiveMicros: Long, bytes: Array[Byte], from: Int,
                until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < mountPoint.length) {
      val c = mountPoint.charAt(i)
      h = (h ^ (c & 0xFF)) * 0x100000001b3L
      h = (h ^ ((c >> 8) & 0xFF)) * 0x100000001b3L
      i += 1
    }
    i = 0
    while (i < 8) { h = (h ^ ((receiveMicros >> (8 * i)) & 0xFF)) * 0x100000001b3L; i += 1 }
    i = from
    while (i < until) { h = (h ^ (bytes(i) & 0xFF)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Receives what [[walkFrame]] decoded from one frame, as plain
    * values: one call per frame, whose result the walk returns. `id`,
    * `mount`, `micros` and `size` are the frame's package id, mountpoint,
    * receive time and length in bytes. */
  trait FrameOut[R] {
    /** An MSM frame; `m` holds its fields until the next frame, and
      * `epochMicros` is its resolved epoch. */
    def msm(id: Long, mount: String, micros: Long, size: Int, constellation: String,
            epochMicros: Long, m: MsmColumns): R
    /** A station ARP (1005/1006), ECEF and antenna height in meters. */
    def arp(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
            constellation: String, x: Double, y: Double, z: Double, height: Option[Double]): R
    /** Any other frame that decoded: no observations, no coordinates. */
    def other(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
              constellation: String): R
    /** A frame whose decode threw: `error` is the exception's `toString`. */
    def deadLetter(id: Long, mount: String, micros: Long, size: Int, error: String): R
  }

  /** The one frame walk: package id, message dispatch, epoch resolution
    * and constellation for the frame at bytes[from, until), handed to
    * `out`. An MSM payload decodes into `msm`, which the caller reuses
    * from frame to frame. Any exception, the output's own included,
    * becomes a dead letter instead of the reference's log-and-drop
    * (src/decoderclasses.py:67-69): the same rows survive, and errors
    * stay queryable. */
  def walkFrame[R](mount: String, micros: Long, bytes: Array[Byte], from: Int, until: Int,
                   msm: MsmColumns, out: FrameOut[R]): R = {
    val id = packageId(mount, micros, bytes, from, until)
    val size = until - from
    try {
      require(size >= 6, "frame too short")
      val payload = from + 3
      val end = until - 3
      val t = RtcmDecoder.messageType(bytes, payload, end)
      val constellation = SignalTables.constellation(t)
      if (RtcmDecoder.isMsm(t)) {
        RtcmDecoder.decodeMsm(bytes, payload, end, msm)
        out.msm(id, mount, micros, size, constellation,
          GnssTime.resolveEpochMicros(t, msm.epochMs, micros), msm)
      } else RtcmDecoder.decodePayload(bytes, payload, end) match {
        case a: ArpMessage =>
          // 0.1 mm integer units → meters (reference: src/decoderclasses.py:144-152)
          out.arp(id, mount, micros, t, size, constellation, a.ecefX / 10000.0,
            a.ecefY / 10000.0, a.ecefZ / 10000.0, a.antennaHeight.map(_ / 10000.0))
        case _ => out.other(id, mount, micros, t, size, constellation)
      }
    } catch {
      case e: Exception => out.deadLetter(id, mount, micros, size, e.toString)
    }
  }

  /** [[walkFrame]]'s object output: one `DecodedFrame`. */
  private object DecodedFrames extends FrameOut[DecodedFrame] {
    def msm(id: Long, mount: String, micros: Long, size: Int, constellation: String,
            epochMicros: Long, m: MsmColumns): DecodedFrame = {
      val ids = if (MsmExpander.expands(m.messageType)) MsmExpander.satIds(m.messageType) else null
      val signals = if (ids == null) null else MsmExpander.signalNames(m.messageType)
      val obs = Vector.newBuilder[ObsOut]
      MsmExpander.walk(m, (satPos, sigPos, code, phase, doppler, snr, lockTime) =>
        obs += ObsOut(epochMicros, ids(satPos), signals(sigPos), code, phase, doppler, snr,
          lockTime))
      DecodedFrame(id, mount, micros, m.messageType, size, Some(m.satCount), Some(epochMicros),
        constellation, obs.result(), None, None)
    }
    def arp(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
            constellation: String, x: Double, y: Double, z: Double,
            height: Option[Double]): DecodedFrame =
      DecodedFrame(id, mount, micros, msgType, size, None, None, constellation, Nil,
        Some(CoordOut(x, y, z, height)), None)
    def other(id: Long, mount: String, micros: Long, msgType: Int, size: Int,
              constellation: String): DecodedFrame =
      DecodedFrame(id, mount, micros, msgType, size, None, None, constellation, Nil, None, None)
    def deadLetter(id: Long, mount: String, micros: Long, size: Int,
                   error: String): DecodedFrame =
      DecodedFrame(id, mount, micros, -1, size, None, None, "GNSS", Nil, None, Some(error))
  }

  /** Decode a single frame envelope (pure; unit-testable): [[walkFrame]]
    * with the object output. */
  def decodeOne(f: EncodedFrame): DecodedFrame =
    walkFrame(f.mountPoint, f.receiveMicros, f.frame, 0, f.frame.length, new MsmColumns,
      DecodedFrames)

  /** Frame raw byte chunks (batch): per-mountpoint sequential fold of
    * the framing state machine, arrival order restored via `seq`.
    *
    * Memory-bounded like the streaming path: instead of buffering a
    * mountpoint's whole replay to sort it (a huge mountpoint could OOM
    * an executor), the chunks are hash-repartitioned on the key and
    * secondary-sorted by Spark's EXTERNAL sort (spills to disk), then
    * folded lazily per partition — the only per-key state held at once
    * is the framing state machine's bounded carry buffer. */
  def frameChunks(chunks: Dataset[RawChunk]): Dataset[EncodedFrame] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.repartition(col("mountPoint"))
      .sortWithinPartitions(col("mountPoint"), col("seq"))
      .mapPartitions { it =>
        var current: String = null
        var state = RtcmFraming.emptyState
        it.flatMap { chunk =>
          if (chunk.mountPoint != current) {
            current = chunk.mountPoint
            state = RtcmFraming.emptyState
          }
          val (s2, frames) = RtcmFraming.feed(state, chunk.data)
          state = s2
          frames.map(fr => EncodedFrame(chunk.mountPoint, chunk.receiveMicros, fr))
        }
      }
  }

  /** Decode every frame as the [[graft.plans.DecodeFrames]] plan node:
    * [[walkFrame]] with the node's row writer, so rows go from the
    * frames' columns to `DecodedFrame` rows, equal to `decodeOne`'s,
    * without a JVM object per row or per observation. The batch path
    * (`frameChunks`) and the streaming path (`RtcmStreaming.decodeStream`)
    * both land here. Each row's `frame` holds whole frames back to back
    * (one, as `RtcmFraming.feed` emits them, or a chunk of the NTRIP
    * source); a row that does not fails the node with an
    * `IllegalArgumentException`. */
  def decode(frames: Dataset[EncodedFrame]): Dataset[DecodedFrame] = {
    val spark = frames.sparkSession
    import spark.implicits._
    graft.functions.GraftExtensions.ensureStrategy(spark, DecodeFramesStrategy)
    val child = frames.select(col("mountPoint"), col("receiveMicros"), col("frame"))
    PlanDataFrame.ofRows(spark, DecodeFrames.over(child.queryExecution.analyzed))
      .as[DecodedFrame]
  }

  /** `rtcm_packages` projection (initdb/01-rtcm_packages.sql). */
  def packages(decoded: Dataset[DecodedFrame]): DataFrame =
    decoded.select(
      col("rtcm_package_id"),
      timestamp_micros(col("receive_micros")).as("receive_time"),
      col("mountpoint"),
      timestamp_micros(col("rtcm_obs_epoch_micros")).as("rtcm_obs_epoch"),
      col("rtcm_msg_type"),
      col("rtcm_msg_size"),
      col("rtcm_sat_count"),
      col("constellation"))

  /** Unified observations table with constellation routing column —
    * the 6 per-constellation tables are filters of this
    * (SURVEY.md §1.4). */
  def observations(decoded: Dataset[DecodedFrame]): DataFrame =
    decoded
      .filter(size(col("observations")) > 0)
      .select(col("rtcm_package_id"), col("mountpoint"), col("constellation"),
        col("rtcm_msg_type"), explode(col("observations")).as("o"))
      .select(
        col("rtcm_package_id"),
        col("mountpoint"),
        col("constellation"),
        col("rtcm_msg_type"),
        timestamp_micros(col("o.obs_epoch_micros")).as("obs_epoch"),
        col("o.sat_id").as("sat_id"),
        col("o.sat_signal").as("sat_signal"),
        col("o.obs_code").as("obs_code"),
        col("o.obs_phase").as("obs_phase"),
        col("o.obs_doppler").as("obs_doppler"),
        col("o.obs_snr").as("obs_snr"),
        col("o.obs_lock_time_indicator").as("obs_lock_time_indicator"))

  /** All ARP fixes (append log; upsert semantics are a view, see
    * `latestCoordinates`). */
  def coordinates(decoded: Dataset[DecodedFrame]): DataFrame =
    decoded
      .filter(col("coordinates").isNotNull)
      .select(
        col("rtcm_package_id"),
        col("mountpoint"),
        timestamp_micros(col("receive_micros")).as("receive_time"),
        col("rtcm_msg_type"),
        col("coordinates.ecef_x").as("ecef_x"),
        col("coordinates.ecef_y").as("ecef_y"),
        col("coordinates.ecef_z").as("ecef_z"),
        col("coordinates.antenna_height").as("antenna_height"))

  /** Which ARP fix is a mountpoint's current one: the latest
    * `receive_micros`, ties broken by the larger `rtcm_package_id`.
    * Keys most significant first, both descending. `latestCoordinates`
    * orders its window by these columns and the JDBC sink
    * (`Sinks.writeDecodedBatchJdbc`) picks fixes by them via `laterFix`. */
  val LatestFixKeys: Seq[(String, DecodedFrame => Long)] = Seq(
    "receive_micros" -> (_.receive_micros),
    "rtcm_package_id" -> (_.rtcm_package_id))

  /** The later of two fixes of one mountpoint under `LatestFixKeys`. */
  def laterFix(a: DecodedFrame, b: DecodedFrame): DecodedFrame =
    LatestFixKeys.iterator.map { case (_, key) => java.lang.Long.compare(key(a), key(b)) }
      .find(_ != 0).fold(a)(c => if (c > 0) a else b)

  /** The `coordinates` table's upsert-on-mountpoint semantics
    * (initdb/99-stored_procedures.sql:208-231) as a window dedup:
    * latest fix per mountpoint. One shuffle on the key. */
  def latestCoordinates(decoded: Dataset[DecodedFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("mountpoint")
      .orderBy(LatestFixKeys.map { case (c, _) => col(c).desc }: _*)
    coordinates(decoded
      .filter(col("coordinates").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .as[DecodedFrame](decoded.encoder))
  }

  /** Register the reference's per-constellation observation tables
    * (gps_observations … sbas_observations, SURVEY.md §1.4) as views
    * over the unified table — name-level query parity without 6
    * physical copies; constellation is a partition column so each
    * view prunes to its partitions on the landed layout. */
  def registerConstellationViews(decoded: Dataset[DecodedFrame]): Unit = {
    val obs = observations(decoded)
    Seq("GPS" -> "gps", "GLONASS" -> "glonass", "GALILEO" -> "galileo",
      "BEIDOU" -> "beidou", "QZSS" -> "qzss", "SBAS" -> "sbas").foreach {
      case (constellation, prefix) =>
        obs.filter(col("constellation") === constellation)
          .createOrReplaceTempView(s"${prefix}_observations")
    }
    packages(decoded).createOrReplaceTempView("rtcm_packages")
    latestCoordinates(decoded).createOrReplaceTempView("coordinates")
  }

  /** Dead-letter rows (decode failures). */
  def errors(decoded: Dataset[DecodedFrame]): DataFrame =
    decoded.filter(col("error").isNotNull)
      .select(col("rtcm_package_id"), col("mountpoint"),
        timestamp_micros(col("receive_micros")).as("receive_time"), col("error"))
}
