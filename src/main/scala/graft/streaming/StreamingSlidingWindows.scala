package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The w08 sliding (hopping) window aggregates as a STREAMING
  * operator — event-time 1 h windows every 15 min over the live
  * events stream, batch-exact.
  *
  * Structured Streaming cannot run an exact COUNT(DISTINCT) inside a
  * streaming aggregate (distinct state is unmergeable across
  * triggers), so the operator uses the production pre-aggregation
  * sharding: the STREAM maintains (window, type, user)-keyed partial
  * rows — per-user event counts and exact scaled-long value sums,
  * state bounded by (watermark horizon / slide) × active users ×
  * types, emitted once ON WATERMARK (Append mode: each partial is
  * final when its window closes) — and the distinct-user rollup is a
  * trivial batch aggregate over the emitted partials (`rollup`),
  * which is exactly how serving layers read pre-aggregated distinct
  * shards. The composition is PROVABLY the batch w08: Append emits
  * every closed (window, type, user) group exactly once, so the
  * rollup's count(*) per (window, type) IS the distinct-user count
  * and its sums restore n_events / sum_value.
  *
  * The gate query `w08_sliding_stream` replays the events table
  * through a MemoryStream in arrival order across several
  * micro-batches, flushes the watermark with a far-future sentinel
  * event, rolls up, and must HASH-MATCH the batch w08 oracle SQL —
  * streaming == batch end-to-end. StreamingSlidingWindowsSpec
  * additionally replays a fixture OUT OF ORDER across batch
  * boundaries (within the watermark) and gets the same equality.
  */
object StreamingSlidingWindows {

  /** One replayed event; `us` = event-time epoch micros. */
  case class Ev(event_id: Long, us: Long, user_id: Long,
                event_type: String, value: Double)

  val FlushType = "ZZFLUSH"

  /** Streaming pre-aggregate: (window, type, user)-keyed partials
    * over event-time hopping windows, Append close on the watermark.
    * `delay` must cover the expected disorder (late data beyond it is
    * dropped by the watermark contract). */
  def preAgg(events: Dataset[Ev], delay: String): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.GraftFunctions.scaledLong(col("value"), 2))
          .as("sum_scaled"))

  /** Batch rollup of the emitted partials to the w08 contract. */
  def rollup(partials: DataFrame): DataFrame =
    partials
      .where(col("event_type") =!= FlushType)
      .groupBy(unix_timestamp(col("window.start")).cast(LongType)
        .as("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        (sum(col("sum_scaled")).cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)) /
          lit(100L))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
          .cast("double").as("sum_value"))
      .orderBy("window_start", "event_type")

  /** Replay `events` through a FILE-SOURCE stream in `nBatches`
    * arrival batches (arrival order = event-time order), flush the
    * watermark with a far-future sentinel, and return the rolled-up
    * result — the streaming twin of the batch w08 over the same table.
    * All the boundedness and cleanup guarantees live in
    * [[ReplayHarness]]; this gate owns only the event-time chunking,
    * the sentinel margin, and the preAgg/rollup pair. */
  def replayGate(s: SparkSession, sfDir: String, nBatches: Int = 4,
                 delay: String = "1 hour"): DataFrame = {
    import s.implicits._
    val evs = graft.Tables.load(s, sfDir, "events")
      .select(col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("user_id"), col("event_type"), col("value"))
    val (chunked, _, maxUs) = ReplayHarness.chunkByRange(evs, "us", nBatches)
    // the sentinel advances the watermark past every real window end:
    // watermark = sentinel − delay must exceed max window end
    // (maxUs rounded up to its last covering window + 1 h)
    val sentinel = Seq(
      Ev(Long.MaxValue, maxUs + 3L * 3600L * 1000000L, -1L, FlushType, 0.0)).toDS().toDF()
    ReplayHarness.run(s, "graft-w08-replay", nBatches, chunked, sentinel,
      stream => preAgg(stream.as[Ev], delay),
      (sp, out) => rollup(sp.read.parquet(out)))
  }
}
