package graft.streaming

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The streaming sliding-window twin must equal the batch w08 over
  * the same events — including when arrival is OUT OF ORDER across
  * micro-batch boundaries, as long as disorder stays inside the
  * watermark delay. */
class StreamingSlidingWindowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import StreamingSlidingWindows.{Ev, FlushType}

  /** fixture: 60 events, 3 types, 5 users over ~2 h */
  private def fixture: Seq[Ev] = {
    val rnd = new Random(11)
    (1L to 60L).map { id =>
      Ev(id, rnd.nextInt(7200) * 1000000L, 1L + rnd.nextInt(5),
        Seq("a", "b", "c")(rnd.nextInt(3)), (rnd.nextInt(900) + 25) / 100.0)
    }
  }

  private def batchExpected(evs: Seq[Ev]): Seq[Seq[Any]] = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_w08s").toString
    evs.map(e => (e.event_id, new java.sql.Timestamp(e.us / 1000L),
      e.user_id, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$d/events.parquet")
    graft.SparkEntry.queries("w08_sliding_windows")(spark, d)
      .collect().map(_.toSeq).toSeq
  }

  private def streamed(evs: Seq[Ev], nBatches: Int): Seq[Seq[Any]] = {
    val flush = Ev(Long.MaxValue,
      evs.map(_.us).max + 3L * 3600L * 1000000L, -1L, FlushType, 0.0)
    import spark.implicits._
    StreamingSlidingWindows.rollup(
      StreamingReplay.replay(spark, evs, flush, nBatches)(
        ds => StreamingSlidingWindows.preAgg(ds, "1 hour")))
      .collect().map(_.toSeq).toSeq
  }

  test("in-order replay across 4 micro-batches equals batch w08") {
    val evs = fixture.sortBy(_.us)
    assert(streamed(evs, 4) == batchExpected(fixture))
  }

  test("bounded-disorder replay equals batch w08") {
    // jitter each event's ARRIVAL position by up to ±25 min — well
    // inside the 1 h watermark, but far enough to cross micro-batch
    // boundaries and window closes
    val rnd = new Random(42)
    val evs = fixture.sortBy(e => e.us + (rnd.nextInt(3000) - 1500) * 1000000L)
    assert(streamed(evs, 6) == batchExpected(fixture))
  }
}
