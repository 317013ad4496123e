package perfbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}

import scala.collection.mutable

import graft.etl.Sinks

/** Order-independent content digest of landed rows.
  *
  * A row hashes only the fields that do not depend on when the engine
  * received the bytes: the package id and `receive_time` are left
  * out, and observation epochs enter modulo one day (the resolved
  * epoch keeps the message's time of day; the date comes from the
  * receive clock). Rows combine by 64-bit addition, so the digest is
  * independent of row order and counts every duplicate. */
object Digest {
  final val DayMicros: Long = 86400L * 1000000L

  val PackageFields: Seq[String] = Seq(
    "mountpoint", "rtcm_msg_type", "rtcm_msg_size", "rtcm_sat_count", "rtcm_obs_epoch")
  val ObservationFields: Seq[String] = Seq(
    "mountpoint", "constellation", "obs_epoch", "sat_id", "sat_signal", "obs_code",
    "obs_phase", "obs_doppler", "obs_snr", "obs_lock_time_indicator")
  val CoordinateFields: Seq[String] = Seq(
    "mountpoint", "ecef_x", "ecef_y", "ecef_z", "antenna_height")

  private def mix(h0: Long, v: Long): Long = {
    var h = (h0 ^ v) * 0x9E3779B97F4A7C15L
    h ^= h >>> 29
    h * 0xBF58476D1CE4E5B9L
  }

  private def valueBits(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case s: String =>
      var h = 0xcbf29ce484222325L
      s.foreach { c => h = (h ^ c) * 0x100000001b3L }
      h
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case f: java.lang.Float => java.lang.Double.doubleToLongBits(f.doubleValue)
    case n: java.lang.Number => n.longValue
    case t: java.sql.Timestamp =>
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      Math.floorMod(micros, DayMicros)
    case t: java.time.Instant =>
      Math.floorMod(t.getEpochSecond * 1000000L + t.getNano / 1000, DayMicros)
    case other => other.toString.hashCode.toLong
  }

  /** Hash of one row, reading `fields` through `get`. */
  def row(fields: Seq[String], get: String => Any): Long = {
    var h = 0x2545F4914F6CDD1DL
    fields.foreach(f => h = mix(h, valueBits(get(f))))
    h
  }
}

/** The benchmark's in-process JDBC endpoint: a counting stand-in for
  * the database behind `Sinks.writeDecodedBatchJdbc`. Every
  * `executeBatch` is an acknowledgement: it lands the rows, checks
  * package ids for duplicates, folds the rows into the content digest
  * and logs, per mountpoint, the cumulative number of packages acked
  * and when. */
object Endpoint {
  final class Store {
    val packageIds = new mutable.LongMap[Unit]()
    var duplicates = 0L
    var packages = 0L
    var observations = 0L
    var packageDigest = 0L
    var observationDigest = 0L
    /** Every upserted coordinate row's hash, per mountpoint. */
    val coordinates = mutable.Map.empty[String, mutable.Set[Long]]
    val ackedPerMount = mutable.Map.empty[String, Long]
    /** (ack time µs, mountpoint, cumulative packages acked for it). */
    val ackLog = mutable.ArrayBuffer.empty[(Long, String, Long)]
    var executes = 0L
    var connections = 0L
    var lastAckMicros = 0L
  }

  @volatile private var current = new Store
  def store: Store = current
  def reset(): Unit = synchronized { current = new Store }

  def nowMicros(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  private def acknowledge(table: String, cols: Map[String, Int],
                          rows: Seq[Array[AnyRef]]): Unit = synchronized {
    val s = current
    val now = nowMicros()
    s.executes += 1
    s.lastAckMicros = now
    table match {
      case "rtcm_packages" =>
        val idCol = cols("rtcm_package_id")
        val mountCol = cols("mountpoint")
        val touched = mutable.LinkedHashSet.empty[String]
        rows.foreach { r =>
          val id = r(idCol).asInstanceOf[java.lang.Long].longValue
          if (s.packageIds.contains(id)) s.duplicates += 1 else s.packageIds.update(id, ())
          s.packages += 1
          s.packageDigest += Digest.row(Digest.PackageFields, f => r(cols(f)))
          val m = r(mountCol).asInstanceOf[String]
          s.ackedPerMount(m) = s.ackedPerMount.getOrElse(m, 0L) + 1
          touched += m
        }
        touched.foreach(m => s.ackLog += ((now, m, s.ackedPerMount(m))))
      case "observations" =>
        rows.foreach { r =>
          s.observations += 1
          s.observationDigest += Digest.row(Digest.ObservationFields, f => r(cols(f)))
        }
      case "coordinates" =>
        rows.foreach { r =>
          s.coordinates.getOrElseUpdate(r(cols("mountpoint")).asInstanceOf[String],
            mutable.Set.empty[Long]) += Digest.row(Digest.CoordinateFields, f => r(cols(f)))
        }
      case other => throw new IllegalArgumentException(s"unexpected table $other")
    }
  }

  /** `INSERT INTO t (a, b, c) VALUES ...` → (t, column → index). */
  private[perfbench] def parseInsert(sql: String): (String, Map[String, Int]) = {
    val m = """(?s)INSERT INTO (\w+) \(([^)]*)\).*""".r
    sql match {
      case m(table, cols) =>
        (table, cols.split(",").map(_.trim).zipWithIndex.toMap)
      case _ => throw new IllegalArgumentException(s"unexpected statement: $sql")
    }
  }

  private def defaultFor(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case _ => null
  }

  private def statement(sql: String): PreparedStatement = {
    val (table, cols) = parseInsert(sql)
    var row = new Array[AnyRef](cols.size)
    val pending = mutable.ArrayBuffer.empty[Array[AnyRef]]
    val handler: InvocationHandler = (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "setObject" =>
          row(args(0).asInstanceOf[Integer].intValue - 1) = args(1); null
        case "addBatch" => pending += row; row = new Array[AnyRef](cols.size); null
        case "executeBatch" =>
          acknowledge(table, cols, pending.toSeq)
          val n = pending.length
          pending.clear()
          Array.fill(n)(1)
        case "toString" => s"perfbench-statement($table)"
        case _ => defaultFor(m)
      }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]), handler)
      .asInstanceOf[PreparedStatement]
  }

  def connect(): Connection = {
    synchronized { current.connections += 1 }
    val handler: InvocationHandler = (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "prepareStatement" => statement(args(0).asInstanceOf[String])
        case "getAutoCommit" => java.lang.Boolean.TRUE
        case "toString" => "perfbench-connection"
        case _ => defaultFor(m)
      }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), handler)
      .asInstanceOf[Connection]
  }

  /** What the sink is handed: serializable, resolves to this JVM's
    * endpoint wherever it is deserialized (local mode). */
  case object Factory extends Sinks.ConnectionFactory {
    override def connect(): Connection = Endpoint.connect()
  }
}
