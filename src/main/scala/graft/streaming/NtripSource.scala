package graft.streaming

import java.util
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.etl.RawChunk
import graft.rtcm.RtcmFraming
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl}
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
  * and frames the bytes as they arrive, as the reference's reader does
  * (src/ntripclient.py:523-544): it pushes each connection's reads
  * through an `RtcmFraming.Framer` and buffers only whole frames. A
  * read is `NtripClient.read` into one 4096-byte array
  * (`NtripClient.ReadSize`): the body bytes the socket already holds,
  * de-chunked, so a backlog arrives in full arrays and a live frame as
  * soon as it is sent. A buffered chunk is the CRC-valid frames that
  * one such bounded read completed, back to back, stamped with that
  * read's receive time; a read that completes no frame buffers nothing.
  * On reconnect the unfinished residual is dropped (it could only fail
  * CRC against the new stream) and framing starts afresh. Because every
  * chunk is whole frames, `RtcmStreaming.decodeStream` decodes this
  * source with no streaming state.
  *
  * The buffer is BOUNDED (`maxBufferedChunks`; readers block when full,
  * pushing backpressure to the caster via TCP flow control), and so is
  * each chunk: the frames one read completes end in that read's at most
  * 4096 bytes, and only the first of them can begin before it, in the
  * carried residual, which is shorter than the longest frame (1029
  * bytes). A chunk is therefore at most 4096 + 1028 = 5124 bytes, and
  * the buffer at most `maxBufferedChunks` × 5124 bytes (about 320 MiB at
  * the default 65536), whatever HTTP chunk sizes the caster sends. Offsets
  * are the global count of buffered chunks and micro-batches read
  * buffer slices — the same driver-buffered design as Spark's own
  * socket source. A micro-batch is planned as one input partition per
  * mountpoint present in its slice, each holding that mountpoint's
  * chunks in arrival order (see [[NtripInputPartition]]). The same delivery
  * caveat applies: a live TCP byte stream is
  * not replayable, so this source is at-least-once across driver
  * restarts (the reference's ingest makes the identical trade; the
  * restart rebase below guarantees no post-restart live chunk is
  * dropped). For exactly-once, interpose [[NtripDurableLog]]: the
  * client drains to rolled files and Spark's file streaming source
  * replays them, with the rest of the pipeline unchanged.
  *
  * Options: `host`, `port`, `mountpoints` (csv), `user`/`passwd`,
  * `tls` (SSLSocketFactory; https casters), `nmeaGga` (VRS
  * mountpoints), `maxChunksPerTrigger` (admission control, in buffered
  * chunks of whole frames), `maxBufferedChunks` (driver-heap bound in
  * buffered chunks of whole frames, default 65536).
  *
  * Each micro-batch's progress reports, per mountpoint `M`, in
  * `StreamingQueryProgress.sources(i).metrics`: `M.frames` (frames
  * framed), `M.skippedBytes` (bytes read that are in no frame: noise,
  * CRC rejects, truncation and residuals dropped at reconnect),
  * `M.truncatedBytes` (the part of those that the framer's
  * `maxBuffer` bound dropped), `M.crcRejects` (candidate frames that
  * failed their CRC), `M.reconnects`, and
  * `M.lastReconnectCause` (class and message of the last error that
  * ended a connection; absent until one does).
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

/** One mountpoint's reader: its framer (reset at each reconnect) and
  * its connection history. */
private final class ReaderCounters {
  val framer = new RtcmFraming.Framer
  val reconnects = new AtomicLong
  @volatile var lastReconnectCause: Option[String] = None
}

private final class NtripMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {

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
  private val buffer = new ArrayBuffer[RawChunk]()
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

  private val counters: Map[String, ReaderCounters] =
    mounts.map(_ -> new ReaderCounters).toMap

  private val readers: Seq[Thread] = mounts.toIndexedSeq.map { mount =>
    val t = new Thread(() => {
      val count = counters(mount)
      val framer = count.framer
      val read = new Array[Byte](NtripClient.ReadSize)
      var seq = 0L
      var orderlyEnd = false
      // abnormal errors (caster drop, read timeout) RECONNECT with
      // backoff — the reference client's infinite-retry behavior
      // (src/ingestion.py:119-132); an orderly end of stream (terminal
      // 0-length chunk / clean EOF → read -1) ends the reader
      var backoffMs = 1000L
      while (!stopped.get() && !orderlyEnd) {
        val client = new NtripClient(host, port, tls = tls)
        try {
          client.openStream(mount, user, passwd, nmeaGga = nmeaGga)
          backoffMs = 1000L
          var n = client.read(read)
          while (n >= 0 && !stopped.get()) {
            val micros = System.currentTimeMillis() * 1000L
            framer.push(read, n).foreach { data =>
              buffer.synchronized {
                // bound the buffer: block (and stop draining the socket)
                // until the query consumes — natural TCP backpressure
                while (buffer.length >= maxBuffered && !stopped.get())
                  buffer.wait(200L)
                if (!stopped.get()) buffer += RawChunk(mount, micros, seq, data)
              }
              seq += 1
            }
            n = if (stopped.get()) -1 else client.read(read)
          }
          orderlyEnd = n < 0 && !stopped.get()
        } catch {
          // stop() interrupts the reader; InterruptedException is not NonFatal
          case e if stopped.get() && (NonFatal(e) || e.isInstanceOf[InterruptedException]) =>
            () // orderly shutdown
          case NonFatal(e) =>
            count.reconnects.incrementAndGet()
            count.lastReconnectCause = Some(e.toString)
            try Thread.sleep(backoffMs) catch { case _: InterruptedException => () }
            backoffMs = math.min(backoffMs * 2, 300000L) // cap 5 min (reference cap)
        } finally {
          client.close()
          // this connection's residual dies with it
          framer.reset()
        }
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
    NtripInputPartition.perMountpoint(bufferSlice(s, e))
  }

  /** The buffered chunks at offsets `[start, end)`, in arrival order. */
  private[streaming] def bufferSlice(start: Long, end: Long): IndexedSeq[RawChunk] =
    buffer.synchronized {
      // clamp to what the buffer still holds: after a restart the
      // checkpointed range may predate this process's buffer (live TCP
      // is not replayable — the documented at-least-once trade), and
      // must not crash the query
      val lo = math.max(0L, start - committed).toInt
      val hi = math.min(buffer.length.toLong, math.max(0L, end - committed)).toInt
      buffer.slice(lo, hi).toIndexedSeq
    }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[NtripInputPartition]
      private val mount = UTF8String.fromString(p.mount)
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.size }
      override def get(): InternalRow = InternalRow(mount, p.micros(i), p.seqs(i), p.data(i))
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

  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] = {
    val m = new util.TreeMap[String, String]()
    counters.foreach { case (mount, c) =>
      val framed = c.framer.counts
      m.put(s"$mount.frames", framed.frames.toString)
      m.put(s"$mount.skippedBytes", framed.skippedBytes.toString)
      m.put(s"$mount.truncatedBytes", framed.truncatedBytes.toString)
      m.put(s"$mount.crcRejects", framed.crcRejects.toString)
      m.put(s"$mount.reconnects", c.reconnects.get.toString)
      c.lastReconnectCause.foreach(m.put(s"$mount.lastReconnectCause", _))
    }
    m
  }

  /** Test seam: current number of buffered, unconsumed chunks. */
  private[streaming] def bufferedCount: Int = buffer.synchronized(buffer.length)

  override def stop(): Unit = {
    stopped.set(true)
    readers.foreach(_.interrupt())
  }
}

/** One mountpoint's chunks of a micro-batch, in arrival order: chunk
  * `i` holds the bytes `data(i)`, received at `micros(i)` with reader
  * sequence number `seqs(i)`. The driver serializes a partition as
  * primitive arrays and the chunks' own byte arrays, with no object per
  * chunk around them, and the partition reader hands those arrays to
  * Spark uncopied. */
private final class NtripInputPartition(
    val mount: String,
    val micros: Array[Long],
    val seqs: Array[Long],
    val data: Array[Array[Byte]]) extends InputPartition {
  def size: Int = micros.length
  def chunks: IndexedSeq[RawChunk] =
    (0 until size).map(i => RawChunk(mount, micros(i), seqs(i), data(i)))
}

private object NtripInputPartition {
  /** One partition per mountpoint present in `chunks` (ordered by
    * mountpoint), each keeping its chunks' order in `chunks`. */
  def perMountpoint(chunks: IndexedSeq[RawChunk]): Array[InputPartition] =
    chunks.iterator.map(_.mountPoint).distinct.toArray.sorted.map { mount =>
      val cs = chunks.filter(_.mountPoint == mount)
      require(cs.iterator.map(_.data.length.toLong).sum <= Int.MaxValue,
        s"mountpoint $mount buffered over 2 GiB in one micro-batch; lower maxChunksPerTrigger")
      new NtripInputPartition(mount, cs.map(_.receiveMicros).toArray, cs.map(_.seq).toArray,
        cs.map(_.data).toArray)
    }
}

private[graft] object NtripSource {
  /** Matches `etl.RawChunk`, so `.as[RawChunk]` feeds the pipeline. */
  val Schema: StructType = StructType(Seq(
    StructField("mountPoint", StringType, nullable = false),
    StructField("receiveMicros", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}
