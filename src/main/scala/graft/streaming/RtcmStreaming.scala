package graft.streaming

import graft.etl.{EncodedFrame, RawChunk, RtcmPipeline}
import graft.rtcm.RtcmFraming
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming front-end of the ingest pipeline: raw chunk
  * stream → stateful per-mountpoint framing → decoded rows
  * (SURVEY.md §3.1 Spark retrace).
  *
  * State design (100 TB discipline): per-key state is ONE bounded
  * residual byte buffer (≤ RtcmFraming.DefaultMaxBuffer) — constant
  * memory per mountpoint regardless of stream length. A processing-
  * time timeout evicts buffers of mountpoints that stopped
  * transmitting (the reference's watchdog analog, src/ingestion.py:61-95).
  */
object RtcmStreaming {

  /** Per-mountpoint sequential framing as flatMapGroupsWithState.
    * Chunks inside a micro-batch are ordered by `seq` (arrival order);
    * the residual buffer crosses micro-batch boundaries via state.
    *
    * `stateTimeout = Some(d)` evicts buffers of silent mountpoints
    * after `d` of processing time (production hygiene; note a
    * processing-time timeout makes the engine run timeout-only empty
    * batches, so leave it None for replay/testing). */
  def frameStream(chunks: Dataset[RawChunk],
                  stateTimeout: Option[String] = None): Dataset[EncodedFrame] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val timeoutConf = if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    chunks
      .groupByKey(_.mountPoint)
      .flatMapGroupsWithState[Array[Byte], EncodedFrame](
        OutputMode.Append, timeoutConf) {
        (mount: String, it: Iterator[RawChunk], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = RtcmFraming.State(state.getOption.getOrElse(Array.emptyByteArray))
            val out = it.toSeq.sortBy(_.seq).flatMap { chunk =>
              val (s2, frames) = RtcmFraming.feed(st, chunk.data)
              st = s2
              frames.map(fr => EncodedFrame(mount, chunk.receiveMicros, fr))
            }
            state.update(st.buffer)
            stateTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Full streaming decode: chunks → frames → DecodedFrame rows. */
  def decodeStream(chunks: Dataset[RawChunk]): Dataset[graft.etl.DecodedFrame] =
    RtcmPipeline.decode(frameStream(chunks))

  /** Land the decoded stream as partitioned parquet tables via
    * foreachBatch — the test-harness stand-in for the JDBC/TimescaleDB
    * sink (same batch DataFrames would go to `df.write.jdbc`).
    * Partitioning: (constellation) for observations — at production
    * scale add date(receive_time) as the leading partition column. */
  def startParquetSink(decoded: Dataset[graft.etl.DecodedFrame], outDir: String,
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    decoded.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[graft.etl.DecodedFrame], batchId: Long) =>
        val b = batch.persist()
        try {
          RtcmPipeline.packages(b).write.mode("append")
            .parquet(s"$outDir/rtcm_packages")
          RtcmPipeline.observations(b).write.mode("append")
            .partitionBy("constellation").parquet(s"$outDir/observations")
          RtcmPipeline.coordinates(b).write.mode("append")
            .parquet(s"$outDir/coordinates_log")
        } finally b.unpersist()
        ()
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** JDBC landing path (S5–S7 executed): `Sinks.writeDecodedBatchJdbc`
    * runs each micro-batch as one Spark job — every partition appends
    * its packages and observations over one connection (batched
    * prepared inserts), then the driver upserts the latest coordinates
    * per mountpoint — against any `ConnectionFactory` (production:
    * UrlConnectionFactory with a postgres/timescale URL; tests: a
    * recording fake). */
  def startJdbcSink(decoded: Dataset[graft.etl.DecodedFrame],
                    factory: graft.etl.Sinks.ConnectionFactory,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    decoded.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[graft.etl.DecodedFrame], _: Long) =>
        graft.etl.Sinks.writeDecodedBatchJdbc(batch, factory)
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
