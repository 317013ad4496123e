package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Live conversion-latency tracking — the streaming twin of the batch
  * w13 query: for every user whose first purchase strictly follows
  * their first view, emit ONE (user, first-view, first-purchase) row
  * at the moment the qualifying purchase folds; the quantile report is
  * the batch tail over the emitted conversions.
  *
  * Correctness rides [[WatermarkOrderedFold]]: the fold sees each
  * user's events in event-time order once the watermark passes them,
  * so when a purchase at time t folds, every earlier view has already
  * folded and the machine's `tv` IS the user's global first-view time
  * — the emitted pair equals the batch per-user (min view, first
  * qualifying purchase) row, and it is final on emission (clean
  * Append, no retraction).
  *
  * State per user: two longs plus the watermark-bounded buffer the
  * fold core owns; converted users collapse to a done-flag until idle
  * eviction. The report side consumes conversion ROWS (one per
  * converted user, ever), so the downstream histogram is the batch
  * w13's — corpus-size-independent per cohort.
  */
object StreamingTimeToConvert {

  final case class Conversion(user_id: Long, tv: Long, tp: Long)
  final case class M(tv: Long, tp: Long)

  private val Unset = Long.MinValue
  val FlushType = "ZZFLUSH"

  private[streaming] def step(uid: Long, m: M, t: Long,
                              typ: String): (M, List[Conversion]) =
    typ match {
      case "view" if m.tv == Unset => (m.copy(tv = t), Nil)
      case "purchase" if m.tp == Unset && m.tv != Unset && t > m.tv =>
        (m.copy(tp = t), List(Conversion(uid, m.tv, t)))
      case _ => (m, Nil)
    }

  /** Conversion stream from an events stream with `user_id`,
    * `event_type` and a timestamp column. */
  def run(stream: DataFrame, eventTimeCol: String, watermark: String,
          idleEvictMs: Long): Dataset[Conversion] = {
    implicit val stateEnc = Encoders.product[WatermarkOrderedFold.FoldState[M]]
    implicit val mEnc = Encoders.product[M]
    implicit val outEnc = Encoders.product[Conversion]
    WatermarkOrderedFold.run[M, Conversion](
      stream, "user_id", eventTimeCol, "event_type", watermark, idleEvictMs)(
      M(Unset, Unset))(step)
  }

  /** Replay the events table through a FILE-SOURCE stream in event-time
    * chunks (arrival order = event-time order across chunks, the
    * StreamingSlidingWindows idiom — executor-side staging, file sink
    * for the conversions, only the report is collected), flush the
    * watermark with a far-future sentinel, and return the w13 report
    * over the emitted conversions — hash-checked against the batch
    * w13 oracle SQL by the gate. */
  /** @param delayMinutes watermark disorder bound; the flush sentinel
    *        is derived from it (2× + 1 h margin), so any delay keeps
    *        the final watermark past the last real event — a fixed
    *        sentinel offset would silently drop the corpus tail for
    *        delays beyond it. */
  def replayGate(s: SparkSession, sfDir: String, nBatches: Int = 4,
                 delayMinutes: Int = 60): DataFrame = {
    import s.implicits._
    val evs = graft.Tables.load(s, sfDir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
    val (chunked, _, maxUs) = ReplayHarness.chunkByRange(evs, "us", nBatches)
    val sentinelUs = maxUs + (2L * delayMinutes + 60L) * 60L * 1000000L
    val sentinel = Seq((sentinelUs, -1L, FlushType))
      .toDF("us", "user_id", "event_type")
    ReplayHarness.run(s, "graft-w13-replay", nBatches, chunked, sentinel,
      stream =>
        // idle-eviction horizon must exceed the replayed corpus span
        // (30 d of events): an evicted user's machine restarts and a
        // later view→purchase pair would emit a SECOND conversion with
        // the wrong first-view time — the StreamingDedup horizon trade,
        // which the gate's exact-parity contract can't accept
        run(stream.withColumn("ts", timestamp_micros(col("us"))), "ts",
          s"$delayMinutes minutes", 90L * 24 * 3600 * 1000).toDF(),
      (sp, out) => graft.queries.MoreAnalytics.ttcReport(
        sp.read.schema("user_id LONG, tv LONG, tp LONG").parquet(out)))
  }
}
