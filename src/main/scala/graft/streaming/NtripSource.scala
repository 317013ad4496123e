package graft.streaming

import java.util
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming DataSourceV2 for live NTRIP casters — the
  * survey's S1 Spark mapping ("custom MicroBatchStream") realized:
  *
  * ```
  * spark.readStream.format("graft.streaming.NtripSourceProvider")
  *   .option("host", "caster.example").option("port", "2101")
  *   .option("mountpoints", "MNT0,MNT1")
  *   .option("user", "u").option("passwd", "p")
  *   .load()                                   // schema = RawChunk
  * ```
  *
  * One driver-side reader thread per mountpoint drains an NtripClient
  * (chunked/raw body reads) into a BOUNDED in-memory buffer
  * (`maxBufferedChunks`; readers block when full, pushing
  * backpressure to the caster via TCP flow control); offsets are the
  * global count of buffered chunks and micro-batches read buffer
  * slices — the same driver-buffered design as Spark's own socket
  * source, with the same delivery caveat: a live TCP byte stream is
  * not replayable, so this source is at-least-once across driver
  * restarts (the reference's ingest makes the identical trade; the
  * restart rebase below guarantees no post-restart live chunk is
  * dropped). For exactly-once, interpose [[NtripDurableLog]]: the
  * client drains to rolled files and Spark's file streaming source
  * replays them, with the rest of the pipeline unchanged.
  *
  * Options: `host`, `port`, `mountpoints` (csv), `user`/`passwd`,
  * `tls` (SSLSocketFactory; https casters), `nmeaGga` (VRS
  * mountpoints), `maxChunksPerTrigger` (admission control),
  * `maxBufferedChunks` (driver-heap bound, default 65536).
  */
class NtripSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NtripSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NtripTable(new CaseInsensitiveStringMap(properties))
}

private final class NtripTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"ntrip://${options.get("host")}:${options.get("port")}"
  override def schema(): StructType = NtripSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NtripSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new NtripMicroBatchStream(options)
        override def toBatch: Batch =
          throw new UnsupportedOperationException("ntrip is a streaming source")
      }
    }
}

private final case class NtripOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private final class NtripMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val host = options.get("host")
  private val port = options.getInt("port", 2101)
  private val mounts = options.get("mountpoints").split(",").map(_.trim).filter(_.nonEmpty)
  private val user = Option(options.get("user"))
  private val passwd = Option(options.get("passwd"))
  private val tls = options.getBoolean("tls", false)
  private val nmeaGga = Option(options.get("nmeaGga"))
  // backpressure (§2.4): cap chunks admitted per micro-batch so a
  // burst (or a backlog after a stall) drains in bounded batches
  // instead of one giant one
  private val maxPerTrigger: Option[Long] =
    Option(options.get("maxChunksPerTrigger")).map(_.toLong)
  // driver-heap bound: readers STOP READING THE SOCKET when this many
  // chunks are buffered and unconsumed — backpressure propagates to
  // the caster via TCP flow control instead of growing the heap. A
  // stalled query therefore costs kernel-buffer memory, not driver
  // memory. Default generous but finite.
  private val maxBuffered: Int = options.getInt("maxBufferedChunks", 65536)

  /** Buffered chunks in arrival order; index = offset. */
  private val buffer = new ArrayBuffer[(String, Long, Long, Array[Byte])]()
  private val stopped = new AtomicBoolean(false)
  private var committed = 0L // absolute offset of buffer.head
  // After a driver restart the checkpointed offsets can exceed this
  // fresh process's counter (committed=0): without a rebase,
  // planInputPartitions clamps the recovered batch to empty and the
  // first commit(end) drops live chunks that were never planned into
  // any batch — silent at-most-once. Rebase once, on the first offset
  // request, so live chunks map to offsets AT/AFTER the checkpointed
  // watermark. The watermark is the recovered batch's END (the commit
  // that will follow): rebasing to its start would put chunks buffered
  // during that batch's execution inside [start, end) — planned never,
  // dropped by commit(end).
  private var rebased = false

  private def rebaseTo(watermark: Long): Unit = buffer.synchronized {
    if (!rebased) {
      rebased = true
      // unconditional max: nothing has been planned yet, so moving
      // buffer.head to the watermark is always safe — a conditional
      // `watermark > committed + buffer.length` guard would SKIP the
      // rebase when a fast caster already buffered past the watermark,
      // and the recovered batch's commit would then drop never-planned
      // live chunks
      if (watermark > committed) committed = watermark
    }
  }

  private val readers: Seq[Thread] = mounts.toIndexedSeq.map { mount =>
    val t = new Thread(() => {
      var seq = 0L
      var orderlyEnd = false
      // abnormal errors (caster drop, read timeout) RECONNECT with
      // backoff — the reference client's infinite-retry behavior
      // (src/ingestion.py:119-132); an orderly end of stream (terminal
      // 0-length chunk / clean EOF → readChunk None) ends the reader
      var backoffMs = 1000L
      while (!stopped.get() && !orderlyEnd) {
        val client = new NtripClient(host, port, tls = tls)
        try {
          client.openStream(mount, user, passwd, nmeaGga = nmeaGga)
          backoffMs = 1000L
          var chunk = client.readChunk()
          while (chunk.isDefined && !stopped.get()) {
            val micros = System.currentTimeMillis() * 1000L
            buffer.synchronized {
              // bound the buffer: block (and stop draining the socket)
              // until the query consumes — natural TCP backpressure
              while (buffer.length >= maxBuffered && !stopped.get())
                buffer.wait(200L)
              if (!stopped.get()) buffer += ((mount, micros, seq, chunk.get))
            }
            seq += 1
            chunk = if (stopped.get()) None else client.readChunk()
          }
          orderlyEnd = chunk.isEmpty && !stopped.get()
        } catch {
          // stop() interrupts the reader; InterruptedException is not NonFatal
          case e if stopped.get() && (NonFatal(e) || e.isInstanceOf[InterruptedException]) =>
            () // orderly shutdown
          case NonFatal(_) =>
            try Thread.sleep(backoffMs) catch { case _: InterruptedException => () }
            backoffMs = math.min(backoffMs * 2, 300000L) // cap 5 min (reference cap)
        } finally client.close()
      }
    }, s"ntrip-reader-$mount")
    t.setDaemon(true)
    t.start()
    t
  }

  override def initialOffset(): Offset = NtripOffset(0L)
  override def deserializeOffset(json: String): Offset = NtripOffset(json.toLong)

  private def available(): Long =
    buffer.synchronized { committed + buffer.length.toLong }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    rebaseTo(start.asInstanceOf[NtripOffset].n)
    val avail = available()
    limit match {
      case r: ReadMaxRows =>
        NtripOffset(math.min(avail, start.asInstanceOf[NtripOffset].n + r.maxRows()))
      case _ => NtripOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset = NtripOffset(available())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NtripOffset].n
    val e = end.asInstanceOf[NtripOffset].n
    // recovery can replay a checkpointed batch before any latestOffset
    // call — rebase here too (to the batch END: its commit is the
    // watermark) so that commit cannot drop live rows
    rebaseTo(e)
    val rows = buffer.synchronized {
      // clamp to what the buffer still holds: after a restart the
      // checkpointed range may predate this process's buffer (live TCP
      // is not replayable — the documented at-least-once trade), and
      // must not crash the query
      val lo = math.max(0L, s - committed).toInt
      val hi = math.min(buffer.length.toLong, math.max(0L, e - committed)).toInt
      (lo until hi).map(buffer(_)).toArray
    }
    Array(NtripInputPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[NtripInputPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (m, micros, seq, data) = rows(i)
        InternalRow(UTF8String.fromString(m), micros, seq, data)
      }
      override def close(): Unit = ()
    }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[NtripOffset].n
    buffer.synchronized {
      // clamp like planInputPartitions: a checkpointed offset from a
      // previous process can exceed what this buffer ever held
      val drop = math.min(math.max(0L, e - committed), buffer.length.toLong).toInt
      if (drop > 0) buffer.remove(0, drop)
      committed = math.max(committed, e)
      buffer.notifyAll() // wake readers blocked on the buffer bound
    }
  }

  /** Test seam: current number of buffered, unconsumed chunks. */
  private[streaming] def bufferedCount: Int = buffer.synchronized(buffer.length)

  override def stop(): Unit = {
    stopped.set(true)
    readers.foreach(_.interrupt())
  }
}

private final case class NtripInputPartition(
    rows: Array[(String, Long, Long, Array[Byte])]) extends InputPartition

object NtripSource {
  /** Matches `etl.RawChunk`, so `.as[RawChunk]` feeds the pipeline. */
  val Schema: StructType = StructType(Seq(
    StructField("mountPoint", StringType, nullable = false),
    StructField("receiveMicros", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}
