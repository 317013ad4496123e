package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.{Files, Path}

/** Shared chunked-file replay harness — the ONE owner of the gate
  * idiom behind the five streaming twins (w08 sliding windows, t16
  * decontamination, t20 quality gates, t22 tokenize, w13 time-to-
  * convert): stage the input as event-time-ordered parquet chunks,
  * append a far-future flush sentinel as the final chunk, feed the
  * chunks through a file-source stream by MOVING each into the watched
  * dir before a `processAllAvailable()`, land the Append output in a
  * parquet FILE sink, and hand only the (gate-scale) report back.
  *
  * Guarantees every gate needs, enforced here instead of by
  * copy-discipline across five near-identical drive loops:
  *   - **Bounded driver** — staging is one executor-side partitioned
  *     write; the drive loop moves files, never rows; only the final
  *     report is collected.
  *   - **Arrival order = event-time order across chunks** — chunk i's
  *     minimum order key exceeds chunk i−1's maximum
  *     ([[chunkByRange]]), so the watermark contract drops nothing.
  *   - **Failure-path cleanup** (the w13 hardening, now on all five):
  *     the temp root — staged chunks + checkpoint + sink output, all
  *     corpus-sized — is deleted in a `finally`, so a failing gate run
  *     cannot leak it under /tmp; the streaming query is stopped in a
  *     `finally` so a failing drive loop cannot leak the query thread.
  *   - **fd hygiene** — every directory stream is closed ([[moveChunk]],
  *     `ArtifactDir.deleteTree`); the long-lived driver JVM accumulates fds across
  *     best-of-N replays otherwise.
  *   - **Session-conf restore** — shuffle partitions are pinned to 4
  *     for the replay's micro-batches (gate-scale state, 32 would be
  *     all scheduling overhead) and restored even when `start()` throws.
  *
  * What stays with each caller: the chunked input (which table, which
  * order key, which sentinel row — schema-specific by nature), the
  * stream transform, and the read-back report. Sentinel margins remain
  * the callers' contract too — derive them from the watermark delay
  * (w13) or from a bound that dominates every real window end (doc-id
  * gates), never a fixed offset that a larger delay could outrun.
  */
object ReplayHarness {

  /** Range-chunk `df` into `nBatches` contiguous chunks of the long
    * column `orderCol`: returns (df + int `chunk` column, min, max).
    * Integer arithmetic — a double division would misplace boundary
    * events (`orderCol` is epoch micros ~1e15 for the event gates). */
  def chunkByRange(df: DataFrame, orderCol: String,
                   nBatches: Int): (DataFrame, Long, Long) = {
    val bounds = df.agg(min(col(orderCol)), max(col(orderCol))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / nBatches + 1
    (df.withColumn("chunk",
      expr(s"cast(($orderCol - ${lo}L) div ${width}L as int)")), lo, hi)
  }

  /** Run one chunked-file replay. `chunked` must carry an int `chunk`
    * column in [0, nBatches); `sentinel` is one far-future row in the
    * source schema (written as the final chunk so it flows THROUGH the
    * stream — filtering it pre-watermark would stall the clock, the
    * t16 lesson); `transform` builds the streaming query from the raw
    * file-source frame (including its own event-time column and
    * watermark); `report` reads the parquet sink dir back into the
    * gate-scale result, which is materialized before the temp root is
    * deleted. */
  def run(s: SparkSession, prefix: String, nBatches: Int,
          chunked: DataFrame, sentinel: DataFrame,
          transform: DataFrame => DataFrame,
          report: (SparkSession, String) => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(prefix)
    try {
      val staged = root.resolve("staged")
      val watch = Files.createDirectories(root.resolve("in"))
      val outDir = root.resolve("out")
      chunked.repartition(col("chunk"))
        .write.partitionBy("chunk").mode("overwrite").parquet(staged.toString)
      // TWO sentinel chunks (optimization round 18): with no-data
      // micro-batches disabled (below), Append emission for windows a
      // batch's watermark closes happens in the NEXT batch that has
      // data — so the second far-future chunk is what flushes the
      // windows the first sentinel's watermark closed. Every closed
      // window is still emitted exactly once to the same sink (the
      // sentinel rows themselves never close and every caller's
      // report excludes them), and the gate's multi-batch contract —
      // data arriving incrementally across nBatches ordered chunks —
      // is untouched; what disappears is the ~0.4 s full-plan no-data
      // batch the engine otherwise runs AFTER EVERY chunk (measured:
      // half of all replay micro-batches, ~2 s of w08's 7.8 s warm).
      sentinel.coalesce(1).write.parquet(
        staged.resolve(s"chunk=$nBatches").toString)
      sentinel.coalesce(1).write.parquet(
        staged.resolve(s"chunk=${nBatches + 1}").toString)
      val stream = s.readStream.schema(chunked.drop("chunk").schema)
        .parquet(watch.toString)
      val oldParts = s.conf.get("spark.sql.shuffle.partitions")
      val oldNoData =
        s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = try {
        transform(stream).writeStream
          .format("parquet").option("path", outDir.toString)
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .start()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", oldParts)
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", oldNoData)
      }
      try {
        (0 to nBatches + 1).foreach { i =>
          val chunkDir = staged.resolve(s"chunk=$i")
          if (Files.isDirectory(chunkDir)) {
            moveChunk(chunkDir, watch, i)
            q.processAllAvailable()
          }
        }
      } finally q.stop()
      val rep = report(s, outDir.toString)
      // materialize before the finally deletes the replay root
      s.createDataFrame(rep.collectAsList(), rep.schema)
    } finally graft.operators.ArtifactDir.deleteTree(root)
  }

  /** The documents-table convention shared by the t16/t20/t22 gates:
    * chunk by doc_id range (`doc_id div width`, width = maxId/n + 1),
    * event time synthesized as epoch + doc_id seconds (so arrival order
    * = event-time order), and one far-future zero-text `_flush` doc
    * whose event time (2×maxId + 7 d) dominates every real window end
    * for any doc_id scale — the margin grows with the corpus, not a
    * fixed offset. `transform` receives the stream WITH its `evt`
    * column; the `_flush` row flows through (zero grams/words, or
    * dropped by the read-back on its `_flush` source). */
  def runDocGate(s: SparkSession, prefix: String, nBatches: Int,
                 docs: DataFrame,
                 transform: DataFrame => DataFrame,
                 report: (SparkSession, String) => DataFrame): DataFrame = {
    import s.implicits._
    val d = docs.select(col("doc_id"), col("source"), col("text"))
    val idRow = d.agg(max(col("doc_id"))).head()
    require(!idRow.isNullAt(0),
      s"$prefix: empty docs frame — a doc gate needs at least one row")
    val maxId = idRow.getLong(0)
    val width = maxId / nBatches + 1
    val chunked = d.withColumn("chunk",
      expr(s"cast(doc_id div ${width}L as int)"))
    val sentinel = Seq((maxId * 2 + 7L * 24 * 3600, "", "_flush"))
      .toDF("doc_id", "text", "source").select("doc_id", "source", "text")
    run(s, prefix, nBatches, chunked, sentinel,
      stream => transform(stream.withColumn("evt",
        expr("timestamp_seconds(1700000000L + doc_id)"))),
      report)
  }

  /** The STATELESS-PER-BATCH runner — the foreachBatch class of twin
    * (index probes and other full batch jobs per micro-batch), as
    * opposed to `run`'s windowed-aggregate class: there is NO
    * event-time state, so none of the watermark/sentinel discipline
    * applies — no flush row is needed (every micro-batch completes
    * its own work inside `processAllAvailable`) and arrival order is
    * irrelevant because outputs are PER-ROW and the read-back
    * re-sorts. Chunks `docs` by doc_id range (the runDocGate
    * convention), feeds them through a file-source stream, runs
    * `perBatch` inside foreachBatch appending its (gate-scale)
    * result rows to the parquet out dir, and hands `report` of that
    * dir back. Same bounded-driver / failure-path-cleanup / fd /
    * conf-restore guarantees as `run`. */
  def runDocBatchGate(s: SparkSession, prefix: String, nBatches: Int,
                      docs: DataFrame,
                      perBatch: DataFrame => DataFrame,
                      report: (SparkSession, String) => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(prefix)
    try {
      val staged = root.resolve("staged")
      val watch = Files.createDirectories(root.resolve("in"))
      val outDir = root.resolve("out").toString
      val d = docs.select(col("doc_id"), col("source"), col("text"))
      val idRow = d.agg(max(col("doc_id"))).head()
      require(!idRow.isNullAt(0),
        s"$prefix: empty docs frame — a doc gate needs at least one row")
      val maxId = idRow.getLong(0)
      val width = maxId / nBatches + 1
      d.withColumn("chunk", expr(s"cast(doc_id div ${width}L as int)"))
        .repartition(col("chunk"))
        .write.partitionBy("chunk").mode("overwrite").parquet(staged.toString)
      val stream = s.readStream.schema(d.schema).parquet(watch.toString)
      val oldParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val q = try {
        stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            perBatch(b).write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
      try {
        (0 until nBatches).foreach { i =>
          val chunkDir = staged.resolve(s"chunk=$i")
          if (Files.isDirectory(chunkDir)) {
            moveChunk(chunkDir, watch, i)
            q.processAllAvailable()
          }
        }
      } finally q.stop()
      val rep = report(s, outDir)
      // materialize before the finally deletes the replay root
      s.createDataFrame(rep.collectAsList(), rep.schema)
    } finally graft.operators.ArtifactDir.deleteTree(root)
  }

  /** Move a staged chunk's parquet files into the watched source dir.
    * Closes the directory stream (Files.list holds an fd until closed). */
  private[streaming] def moveChunk(chunkDir: Path, watch: Path,
                                   batch: Int): Unit = {
    val ls = Files.list(chunkDir)
    try ls.forEach { f: Path =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.move(f, watch.resolve(s"b$batch-${f.getFileName}"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally ls.close()
  }
}
