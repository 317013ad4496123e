package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

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

  /** The `DecodedFrame` columns the landing path reads, bound by name
    * so the binding ordinals below do not depend on the batch's column
    * order. */
  private val LandedFrameColumns: Seq[String] = Seq(
    "rtcm_package_id", "mountpoint", "receive_micros", "rtcm_msg_type", "rtcm_msg_size",
    "rtcm_sat_count", "rtcm_obs_epoch_micros", "constellation", "observations", "coordinates")

  /** The executable foreachBatch body for the relational landing path
    * (S5–S7), run as ONE Spark job: every partition appends its packages
    * and observations over one connection and returns its latest ARP fix
    * per mountpoint; the driver keeps one fix per mountpoint and upserts
    * it only after every append has been acknowledged. Rows are bound
    * straight from the batch's own `InternalRow`s (a terminal writer,
    * like Spark's own `ForeachBatchSink`), with no `DecodedFrame` object
    * per row and no projection: the batch `ForeachBatchSink` hands over
    * is a `LogicalRDD` over the micro-batch's rows, which are read as
    * they are, so a new query compiles no code here; any other batch is
    * read through its `queryExecution.toRdd`. Ordinals come from the
    * batch's schema by name. The parquet sink in RtcmStreaming remains
    * the no-DB stand-in. */
  def writeDecodedBatchJdbc(batch: Dataset[DecodedFrame],
                            factory: ConnectionFactory): Unit = {
    val rows = batch.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd
      case _ => batch.queryExecution.toRdd
    }
    val fields = FrameFields(batch.schema)
    val fixes = rows.mapPartitions(appendPartition(_, fields, factory)).collect()
    upsertCoordinates(fixes.groupBy(_.mountpoint).values.map(_.reduce(RtcmPipeline.laterFix))
      .toSeq.sortBy(_.mountpoint), factory)
  }

  /** Ordinals, looked up by name, of the `LandedFrameColumns` in a
    * batch row, and of the nested observation and coordinate fields
    * inside their structs. */
  private final case class FrameFields(top: Seq[Int], obsFields: Int, obs: Seq[Int],
                                       coordFields: Int, coord: Seq[Int])
  private object FrameFields {
    def apply(schema: StructType): FrameFields = {
      val o = schema("observations").dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType]
      val c = schema("coordinates").dataType.asInstanceOf[StructType]
      FrameFields(LandedFrameColumns.map(schema.fieldIndex), o.length,
        Seq("obs_epoch_micros", "sat_id", "sat_signal", "obs_code", "obs_phase", "obs_doppler",
          "obs_snr", "obs_lock_time_indicator").map(o.fieldIndex),
        c.length, Seq("ecef_x", "ecef_y", "ecef_z", "antenna_height").map(c.fieldIndex))
    }
  }

  /** Appends one partition's frames (rows with the `LandedFrameColumns`)
    * with single-row prepared INSERTs, binding each frame while its row
    * is current (the row iterator reuses its row, so nothing is kept or
    * copied). Package and observation rows go into two JDBC batches of
    * at most `BatchRows` rows each. The pending package batch is executed
    * before every observation `executeBatch`, and first at the end, so an
    * observation row never executes before the package row it
    * references. Binds the value types Spark's `Row` conversion yields
    * (boxed numbers, String, `java.sql.Timestamp`, null for null), in
    * `PackagesColumns` / `ObservationsColumns` order; a frame's
    * observations share their epoch, so consecutive equal epochs bind
    * one `Timestamp`, and strings come from a [[StringCache]]. Returns
    * the partition's latest ARP fix per mountpoint. */
  private def appendPartition(rows: Iterator[InternalRow], fields: FrameFields,
                              factory: ConnectionFactory): Iterator[DecodedFrame] = {
    if (!rows.hasNext) return Iterator.empty
    def ts(micros: Long): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(micros)
    val strings = new StringCache
    val Seq(fId, fMount, fMicros, fType, fSize, fSats, fEpoch, fConstellation, fObs, fCoord) =
      fields.top
    val Seq(oEpoch, oSat, oSignal, oCode, oPhase, oDoppler, oSnr, oLock) = fields.obs
    val Seq(cX, cY, cZ, cHeight) = fields.coord
    val latest = mutable.HashMap.empty[String, DecodedFrame]
    var epochMicros = 0L
    var epoch: java.sql.Timestamp = null
    def epochTs(micros: Long): java.sql.Timestamp = {
      if (epoch == null || micros != epochMicros) { epochMicros = micros; epoch = ts(micros) }
      epoch
    }
    val conn = factory.connect()
    try {
      val pk = conn.prepareStatement(insertSql("rtcm_packages", PackagesColumns, 1))
      try {
        val obs = conn.prepareStatement(insertSql("observations", ObservationsColumns, 1))
        try {
          var pendingPk = 0
          var pendingObs = 0
          def executePackages(): Unit = if (pendingPk > 0) { pk.executeBatch(); pendingPk = 0 }
          def executeObservations(): Unit = if (pendingObs > 0) {
            executePackages()
            obs.executeBatch()
            pendingObs = 0
          }
          rows.foreach { f =>
            val id = Long.box(f.getLong(fId))
            val mount = strings(f.getUTF8String(fMount))
            pk.setObject(1, id)
            pk.setObject(2, ts(f.getLong(fMicros)))
            pk.setObject(3, mount)
            pk.setObject(4, if (f.isNullAt(fEpoch)) null else ts(f.getLong(fEpoch)))
            pk.setObject(5, Int.box(f.getInt(fType)))
            pk.setObject(6, Int.box(f.getInt(fSize)))
            pk.setObject(7, if (f.isNullAt(fSats)) null else Int.box(f.getInt(fSats)))
            pk.addBatch()
            pendingPk += 1
            if (pendingPk >= BatchRows) executePackages()
            val constellation = strings(f.getUTF8String(fConstellation))
            val cells = f.getArray(fObs)
            var i = 0
            while (i < cells.numElements()) {
              val o = cells.getStruct(i, fields.obsFields)
              obs.setObject(1, id)
              obs.setObject(2, mount)
              obs.setObject(3, constellation)
              obs.setObject(4, epochTs(o.getLong(oEpoch)))
              obs.setObject(5, strings(o.getUTF8String(oSat)))
              obs.setObject(6, strings(o.getUTF8String(oSignal)))
              obs.setObject(7, Double.box(o.getDouble(oCode)))
              obs.setObject(8, Double.box(o.getDouble(oPhase)))
              obs.setObject(9, Double.box(o.getDouble(oDoppler)))
              obs.setObject(10, Double.box(o.getDouble(oSnr)))
              obs.setObject(11, Int.box(o.getInt(oLock)))
              obs.addBatch()
              pendingObs += 1
              if (pendingObs >= BatchRows) executeObservations()
              i += 1
            }
            if (!f.isNullAt(fCoord)) {
              // only the fields laterFix and upsertCoordinates read
              val c = f.getStruct(fCoord, fields.coordFields)
              val fix = DecodedFrame(f.getLong(fId), mount, f.getLong(fMicros), f.getInt(fType),
                f.getInt(fSize), None, None, constellation, Nil,
                Some(CoordOut(c.getDouble(cX), c.getDouble(cY), c.getDouble(cZ),
                  if (c.isNullAt(cHeight)) None else Some(c.getDouble(cHeight)))), None)
              latest(mount) = latest.get(mount).fold(fix)(RtcmPipeline.laterFix(fix, _))
            }
          }
          executePackages()
          executeObservations()
        } finally obs.close()
      } finally pk.close()
    } finally conn.close()
    latest.valuesIterator
  }

  /** The `String` of each distinct `UTF8String` a partition binds
    * (mountpoints, constellations, satellite ids, signal names: a few
    * dozen values over millions of cells). A string of at most 7 bytes,
    * as all of these are, is keyed by its bytes and length packed into
    * one `Long` (`getPrefix` holds the first bytes, the length fills the
    * low byte that a string this short leaves zero), so a lookup neither
    * hashes nor compares the bytes; a longer one is keyed by a copy of
    * itself. */
  private final class StringCache {
    private val short = mutable.LongMap.empty[String]
    private val long = new java.util.HashMap[UTF8String, String]()

    def apply(u: UTF8String): String =
      if (u.numBytes <= 7) {
        val key = u.getPrefix | u.numBytes
        var s = short.getOrNull(key)
        if (s == null) { s = u.toString; short.update(key, s) }
        s
      } else {
        var s = long.get(u)
        if (s == null) { s = u.toString; long.put(u.clone(), s) }
        s
      }
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
