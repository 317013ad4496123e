package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Sink-side SQL builders for the JDBC/TimescaleDB landing path
  * (SURVEY.md §2.1 S5–S9). The container has no database, so the
  * builders are exercised by unit tests on the generated statements;
  * `writeDecodedBatchJdbc` is the production wiring for each
  * micro-batch of the decoded stream.
  *
  * Scale notes: appends are single-row prepared INSERTs sent through
  * JDBC `addBatch`/`executeBatch` (amortized round trips, the
  * reference's stored-procedure motivation); upserts are
  * `INSERT .. ON CONFLICT` keyed exactly like the reference's stored
  * procedures (coordinates: mountpoint; sourcetable:
  * (mountpoint, countrycode, casterprovider)).
  */
object Sinks {

  /** Multi-row INSERT for an append table (S5/S6 analog of
    * insert_rtcm_packages / insert_*_observations). */
  def insertSql(table: String, columns: Seq[String], nRows: Int): String = {
    require(nRows > 0)
    val row = columns.map(_ => "?").mkString("(", ", ", ")")
    s"INSERT INTO $table (${columns.mkString(", ")}) VALUES " +
      Seq.fill(nRows)(row).mkString(", ")
  }

  /** Upsert statement (S7/S8 analog of upsert_coordinates /
    * insert_sourcetable_constants): update all non-key columns on
    * conflict. */
  def upsertSql(table: String, columns: Seq[String], conflictKeys: Seq[String]): String = {
    val nonKeys = columns.filterNot(conflictKeys.contains)
    val sets = nonKeys.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${columns.mkString(", ")}) VALUES " +
      columns.map(_ => "?").mkString("(", ", ", ")") +
      s" ON CONFLICT (${conflictKeys.mkString(", ")}) DO UPDATE SET $sets"
  }

  /** Disconnect/reconnect event pair (S9 analog of
    * insert_disconnect_log / update_reconnect_log). */
  def disconnectInsertSql(table: String): String =
    s"INSERT INTO $table (mountpoint, disconnect_time) VALUES (?, ?) RETURNING id"

  def reconnectUpdateSql(table: String): String =
    s"UPDATE $table SET reconnect_time = ? WHERE id = ?"

  /** Statement plan for one micro-batch of the decoded stream: which
    * statement each output table gets (the foreachBatch body executes
    * these over JDBC; parquet mode in RtcmStreaming is the test
    * stand-in). */
  def batchStatementPlan(batchRows: Map[String, Int]): Seq[(String, String)] =
    batchRows.toSeq.sortBy(_._1).flatMap {
      case ("rtcm_packages", n) if n > 0 =>
        Seq("rtcm_packages" ->
          insertSql("rtcm_packages", PackagesColumns, math.min(n, BatchRows)))
      case ("observations", n) if n > 0 =>
        Seq("observations" ->
          insertSql("observations", ObservationsColumns, math.min(n, BatchRows)))
      case ("coordinates", n) if n > 0 =>
        Seq("coordinates" -> upsertSql("coordinates", CoordinatesColumns, Seq("mountpoint")))
      case _ => Nil
    }

  /** How a batch obtains its JDBC connections. Serializable so the
    * append path can open one connection PER PARTITION on executors;
    * a DriverManager-URL factory is the production impl, a recording
    * fake is the test impl (no DB in this container). */
  trait ConnectionFactory extends Serializable {
    def connect(): java.sql.Connection
  }

  final case class UrlConnectionFactory(url: String, props: Map[String, String])
      extends ConnectionFactory {
    override def connect(): java.sql.Connection = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      java.sql.DriverManager.getConnection(url, p)
    }
  }

  /** The landed-table schemas (reference: initdb/01-rtcm_packages.sql,
    * initdb/11-*_observations.sql, initdb/02-coordinates.sql) — the
    * executed statements name EXACTLY these columns, not whatever the
    * projection DataFrames happen to carry (e.g. the engine-side
    * `constellation` routing column is not a reference table column). */
  val PackagesColumns: Seq[String] = Seq(
    "rtcm_package_id", "receive_time", "mountpoint", "rtcm_obs_epoch",
    "rtcm_msg_type", "rtcm_msg_size", "rtcm_sat_count")
  val ObservationsColumns: Seq[String] = Seq(
    "rtcm_package_id", "mountpoint", "constellation", "obs_epoch", "sat_id",
    "sat_signal", "obs_code", "obs_phase", "obs_doppler", "obs_snr",
    "obs_lock_time_indicator")

  val CoordinatesColumns: Seq[String] = Seq(
    "mountpoint", "ecef_x", "ecef_y", "ecef_z", "antenna_height", "rtcm_package_id")

  /** Rows per `executeBatch`. */
  private val BatchRows = 500

  /** The executable foreachBatch body for the relational landing path
    * (S5–S7), run as ONE Spark job: every partition appends its packages
    * and observations over one connection and returns its latest ARP fix
    * per mountpoint; the driver keeps one fix per mountpoint and upserts
    * it only after every append has been acknowledged. The parquet sink
    * in RtcmStreaming remains the no-DB stand-in. */
  def writeDecodedBatchJdbc(batch: Dataset[DecodedFrame],
                            factory: ConnectionFactory): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val fixes = batch.mapPartitions(frames => appendPartition(frames, factory)).collect()
    upsertCoordinates(fixes.groupBy(_.mountpoint).values.map(_.reduce(RtcmPipeline.laterFix))
      .toSeq.sortBy(_.mountpoint), factory)
  }

  /** Appends one partition's frames with single-row prepared INSERTs.
    * Frames go in groups of `BatchRows`: a group's package rows are
    * executed first, then its observation rows, so an observation row
    * never executes before the package row it references, and every
    * `executeBatch` carries at most `BatchRows` rows. Binds the value
    * types Spark's `Row` conversion yields (boxed numbers, String,
    * `java.sql.Timestamp`, null for None), in `PackagesColumns` /
    * `ObservationsColumns` order. Returns the partition's latest ARP fix
    * per mountpoint. */
  private def appendPartition(frames: Iterator[DecodedFrame],
                              factory: ConnectionFactory): Iterator[DecodedFrame] = {
    if (!frames.hasNext) return Iterator.empty
    def ts(micros: Long): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(micros)
    val latest = mutable.HashMap.empty[String, DecodedFrame]
    val conn = factory.connect()
    try {
      val pk = conn.prepareStatement(insertSql("rtcm_packages", PackagesColumns, 1))
      try {
        val obs = conn.prepareStatement(insertSql("observations", ObservationsColumns, 1))
        try {
          var pendingObs = 0
          frames.grouped(BatchRows).foreach { group =>
            group.foreach { f =>
              pk.setObject(1, Long.box(f.rtcm_package_id))
              pk.setObject(2, ts(f.receive_micros))
              pk.setObject(3, f.mountpoint)
              pk.setObject(4, f.rtcm_obs_epoch_micros.map(ts).orNull)
              pk.setObject(5, Int.box(f.rtcm_msg_type))
              pk.setObject(6, Int.box(f.rtcm_msg_size))
              pk.setObject(7, f.rtcm_sat_count.map(Int.box).orNull)
              pk.addBatch()
            }
            pk.executeBatch()
            group.foreach { f =>
              f.observations.foreach { o =>
                obs.setObject(1, Long.box(f.rtcm_package_id))
                obs.setObject(2, f.mountpoint)
                obs.setObject(3, f.constellation)
                obs.setObject(4, ts(o.obs_epoch_micros))
                obs.setObject(5, o.sat_id)
                obs.setObject(6, o.sat_signal)
                obs.setObject(7, Double.box(o.obs_code))
                obs.setObject(8, Double.box(o.obs_phase))
                obs.setObject(9, Double.box(o.obs_doppler))
                obs.setObject(10, Double.box(o.obs_snr))
                obs.setObject(11, Int.box(o.obs_lock_time_indicator))
                obs.addBatch()
                pendingObs += 1
                if (pendingObs >= BatchRows) { obs.executeBatch(); pendingObs = 0 }
              }
              if (f.coordinates.isDefined)
                latest(f.mountpoint) = latest.get(f.mountpoint).fold(f)(RtcmPipeline.laterFix(f, _))
            }
          }
          if (pendingObs > 0) obs.executeBatch()
        } finally obs.close()
      } finally pk.close()
    } finally conn.close()
    latest.valuesIterator
  }

  /** Driver-side upsert of the latest fix per mountpoint — the
    * reference's `upsert_coordinates` ON CONFLICT semantics executed
    * verbatim. */
  private def upsertCoordinates(fixes: Seq[DecodedFrame], factory: ConnectionFactory): Unit =
    if (fixes.nonEmpty) {
      val conn = factory.connect()
      try {
        val st = conn.prepareStatement(upsertSql("coordinates", CoordinatesColumns, Seq("mountpoint")))
        try {
          fixes.foreach { f =>
            val c = f.coordinates.get
            st.setObject(1, f.mountpoint)
            st.setObject(2, Double.box(c.ecef_x))
            st.setObject(3, Double.box(c.ecef_y))
            st.setObject(4, Double.box(c.ecef_z))
            st.setObject(5, c.antenna_height.map(Double.box).orNull)
            st.setObject(6, Long.box(f.rtcm_package_id))
            st.addBatch()
          }
          st.executeBatch()
          ()
        } finally st.close()
      } finally conn.close()
    }
}
