package graft.streaming

import graft.etl.{EncodedFrame, RawChunk, RtcmPipeline}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming front-end of the ingest pipeline: chunk stream
  * → decoded rows (SURVEY.md §3.1 Spark retrace).
  *
  * Chunks are framed where their bytes are read, once per connection,
  * as the reference's reader does (src/ntripclient.py:523-544): the
  * NTRIP source's reader threads, `NtripDurableLog.drain` and
  * `StreamingReplay.run` each push their reads through an
  * `RtcmFraming.Framer`, so every chunk a stream delivers holds whole
  * CRC-valid frames. [[decodeStream]] therefore needs no streaming
  * state: it splits and decodes each chunk in the source stage, one
  * stateless stage per micro-batch, whatever the input.
  */
object RtcmStreaming {

  /** Full streaming decode: chunks of whole frames → DecodedFrame rows,
    * by the `DecodeFrames` node in the source stage — no state, no
    * exchange, no second stage, for every input. A chunk that is not
    * whole frames (raw reads that no `Framer` saw) fails the query,
    * naming its mountpoint, receive time and byte offset. */
  def decodeStream(chunks: Dataset[RawChunk]): Dataset[graft.etl.DecodedFrame] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    RtcmPipeline.decode(chunks.withColumnRenamed("data", "frame").as[EncodedFrame])
  }

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
