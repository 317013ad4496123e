package graft.streaming

import graft.etl.{EncodedFrame, RawChunk, RtcmPipeline}
import graft.rtcm.RtcmFraming
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming front-end of the ingest pipeline: raw chunk
  * stream → frames → decoded rows (SURVEY.md §3.1 Spark retrace).
  *
  * Live NTRIP input needs no streaming state: the source's reader
  * threads frame each connection's bytes as they arrive (as the
  * reference's reader does, src/ntripclient.py:523-544), so every chunk
  * it delivers holds whole frames, and [[decodeStream]] splits and
  * decodes them in the source stage — one stateless stage per
  * micro-batch. Any other chunk stream (durable-log replay, replay
  * files, `MemoryStream`) has arbitrary chunk boundaries and goes
  * through [[frameStream]], whose per-key state is ONE bounded residual
  * byte buffer (≤ RtcmFraming.DefaultMaxBuffer) — constant memory per
  * mountpoint regardless of stream length. A processing-time timeout
  * evicts buffers of mountpoints that stopped transmitting (the
  * reference's watchdog analog, src/ingestion.py:61-95).
  */
object RtcmStreaming {

  /** Per-mountpoint sequential framing as flatMapGroupsWithState, for
    * chunk streams whose boundaries fall anywhere in a frame. Chunks
    * inside a micro-batch are ordered by `seq` (arrival order); the
    * residual buffer crosses micro-batch boundaries via state. It costs
    * a hash exchange of the raw bytes, a second stage and a state-store
    * commit per micro-batch; [[decodeStream]] skips it for the NTRIP
    * source, whose chunks are already whole frames.
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

  /** Full streaming decode: chunks → frames → DecodedFrame rows.
    *
    * The plan is chosen from `chunks`' analyzed plan. When it reads only
    * the NTRIP source (see [[readsNtripChunksOnly]]), every chunk holds
    * whole frames, and `DecodeFrames` splits and decodes them in the
    * source stage: no state, no exchange, no second stage. Any other
    * input is framed by [[frameStream]] first. */
  def decodeStream(chunks: Dataset[RawChunk]): Dataset[graft.etl.DecodedFrame] =
    if (readsNtripChunksOnly(chunks.queryExecution.analyzed)) {
      val spark = chunks.sparkSession
      import spark.implicits._
      RtcmPipeline.decode(chunks.withColumnRenamed("data", "frame").as[EncodedFrame])
    } else RtcmPipeline.decode(frameStream(chunks))

  /** Whether every row of `plan` is a chunk the NTRIP source delivered,
    * unchanged: it is one [[NtripSourceProvider]] relation or a union of
    * them. Anything else keeps the stateful framer. */
  private[streaming] def readsNtripChunksOnly(plan: LogicalPlan): Boolean = plan match {
    case r: StreamingRelationV2 => r.table.isInstanceOf[NtripTable]
    case u: Union => u.children.forall(readsNtripChunksOnly)
    case _ => false
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
