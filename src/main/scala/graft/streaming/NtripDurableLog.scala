package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.Base64

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, unbase64}
import org.apache.spark.sql.types._

import graft.etl.RawChunk

/** Durable-log bridge for the live NTRIP source: exactly-once replay.
  *
  * `NtripSource` (the DSv2 micro-batch stream) is at-least-once across
  * driver restarts because a live TCP byte stream is not replayable —
  * the same trade the reference's ingest makes. When exactly-once
  * matters, interpose a durable log: a lean writer (this object, pure
  * JDK — it can run beside the caster connection on any ingest host,
  * no Spark needed) drains the `NtripClient` into atomically-renamed,
  * sequentially-rolled JSON-lines files, and Spark replays them with
  * its file streaming source, whose checkpointed file tracking plus a
  * file sink is end-to-end exactly-once. The rest of the pipeline
  * (framer → decode → sinks) is unchanged — it consumes the same
  * `Dataset[RawChunk]`. Its chunks are raw reads, not whole frames, so
  * `RtcmStreaming.decodeStream` frames them with the stateful
  * `frameStream`.
  *
  * File format: one JSON object per chunk
  * `{"mountPoint":…,"receiveMicros":…,"seq":…,"data":"<base64>"}`,
  * rolled every `rollEvery` chunks. Files are written to a hidden temp
  * name and atomically renamed into the watched directory, so the
  * streaming source never lists a half-written file.
  */
object NtripDurableLog {

  /** Replay schema before base64 decode. */
  val FileSchema: StructType = StructType(Seq(
    StructField("mountPoint", StringType, nullable = false),
    StructField("receiveMicros", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("data", StringType, nullable = false)))

  /** JSON string escape for the mountPoint field (a caster-supplied
    * name can contain quotes/backslashes/control chars; an unescaped
    * one corrupts the log line and kills the replay query on a
    * non-nullable null). */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Filesystem/regex-safe file-name prefix for a mountpoint. A hash
    * suffix disambiguates names the sanitization would collide
    * ("MNT/0" vs "MNT_0" must not share a file prefix — nextSeq would
    * resume from the other stream's numbering and a same-seq flush
    * would atomically overwrite its file). */
  private def fileSafe(mountPoint: String): String = {
    val safe = mountPoint.map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')
    if (safe == mountPoint) safe
    else safe + "x" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(mountPoint))
  }

  /** Drain the client's open stream into rolled log files under `dir`.
    * Returns the number of chunks written; `startSeq` continues a
    * previous writer incarnation's numbering (the writer's own
    * restart story: scan the directory for the last file's max seq).
    * Blocks until the stream ends or `maxChunks` is reached. */
  def drain(client: NtripClient, mountPoint: String, dir: Path,
            nowMicros: () => Long, rollEvery: Int = 256,
            startSeq: Long = 0L, maxChunks: Long = Long.MaxValue): Long = {
    Files.createDirectories(dir)
    val b64 = Base64.getEncoder
    val mp = jsonEscape(mountPoint)
    val fp = fileSafe(mountPoint)
    var seq = startSeq
    val batch = new StringBuilder
    var inBatch = 0
    def flush(): Unit = if (inBatch > 0) {
      val tmp = dir.resolve(f".tmp-$fp-$seq%012d")
      // force(true) BEFORE the rename: ATOMIC_MOVE alone survives a
      // process crash but not power/OS failure — without the fsync a
      // renamed file can land empty or truncated, and a partial JSON
      // line would replay as nulls, breaking the exactly-once claim
      val ch = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(batch.toString.getBytes(UTF_8)))
        ch.force(true)
      } finally ch.close()
      // the first seq of the file names it → lexicographic order =
      // arrival order, and a restarted writer can resume numbering
      val fin = dir.resolve(f"$fp-${seq - inBatch}%012d.json")
      Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
      // fsync the directory so the rename itself is durable (works on
      // Linux; best-effort elsewhere, as Lucene/Kafka do)
      try {
        val dh = java.nio.channels.FileChannel.open(dir, StandardOpenOption.READ)
        try dh.force(true) finally dh.close()
      } catch { case _: java.io.IOException => }
      batch.clear()
      inBatch = 0
    }
    var chunk = if (seq - startSeq >= maxChunks) None else client.readChunk()
    while (chunk.isDefined) {
      val data = b64.encodeToString(chunk.get)
      batch.append(s"""{"mountPoint":"$mp","receiveMicros":${nowMicros()},"seq":$seq,"data":"$data"}""")
        .append('\n')
      seq += 1
      inBatch += 1
      if (inBatch >= rollEvery) flush()
      chunk = if (seq - startSeq >= maxChunks) None else client.readChunk()
    }
    flush()
    seq - startSeq
  }

  /** Max seq already present in `dir` for `mountPoint` + 1 — the
    * `startSeq` a restarted writer should resume from. Derived from
    * file names (cheap) plus the last file's line count. */
  def nextSeq(dir: Path, mountPoint: String): Long = {
    if (!Files.isDirectory(dir)) return 0L
    val fp = fileSafe(mountPoint)
    val listing = Files.list(dir)
    val files =
      try listing.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString
          .matches(java.util.regex.Pattern.quote(fp) + "-\\d{12}\\.json"))
        .sortBy(_.getFileName.toString)
      finally listing.close() // Files.list leaks a directory fd otherwise
    if (files.isEmpty) 0L
    else {
      val last = files.last
      val base = last.getFileName.toString.stripPrefix(s"$fp-")
        .stripSuffix(".json").toLong
      base + Files.readAllLines(last).size()
    }
  }

  /** Streaming replay of a log directory as the pipeline's input rows.
    * With a checkpointLocation and a file (or other idempotent) sink,
    * delivery is exactly-once across restarts. */
  def readStream(spark: SparkSession, dir: String): Dataset[RawChunk] = {
    import spark.implicits._
    spark.readStream.schema(FileSchema).json(dir)
      .select(col("mountPoint"), col("receiveMicros"), col("seq"),
        unbase64(col("data")).as("data"))
      .as[RawChunk]
  }

  /** Batch read of the same log — the ground-truth twin a restart test
    * compares the streamed output against. */
  def readBatch(spark: SparkSession, dir: String): Dataset[RawChunk] = {
    import spark.implicits._
    spark.read.schema(FileSchema).json(dir)
      .select(col("mountPoint"), col("receiveMicros"), col("seq"),
        unbase64(col("data")).as("data"))
      .as[RawChunk]
  }
}
