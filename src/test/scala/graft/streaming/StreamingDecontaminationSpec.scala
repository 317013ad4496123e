package graft.streaming

import java.sql.Timestamp

import graft.etl.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming decontamination: per-doc overlap reports emit across
  * micro-batches once the watermark passes their window, and the
  * replay gate reproduces the batch t16 report exactly.
  */
class StreamingDecontaminationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("cross-batch reports match hand counts; flush closes the last window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalDocs = Seq((0L, "a b c d", "ev")).toDF("doc_id", "text", "source")
    val (evalGrams, sketch) = StreamingDecontamination.evalSide(evalDocs)
    val input = MemoryStream[(Timestamp, Long, String, String)]
    val report = StreamingDecontamination.overlapReport(
      input.toDF().toDF("evt", "doc_id", "source", "text"),
      evalGrams, sketch, "evt", "10 minutes", "10 minutes")
    val q = report.writeStream.format("memory").queryName("sdecon_out")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // batch 1: doc 1 shares "b c d" (1 of 2 grams); doc 2 none
      input.addData((ts(10, 0), 1L, "s0", "x b c d"), (ts(10, 1), 2L, "s0", "p q r s"))
      q.processAllAvailable()
      // batch 2: doc 4 shares "a b c" (1 of 3 distinct); far-future
      // flush (zero grams) advances the watermark past every window
      input.addData((ts(10, 2), 4L, "s1", "a b c a b c"),
        (ts(23, 0), 99L, "_flush", ""))
      q.processAllAvailable()
      input.addData((ts(23, 30), 100L, "_flush2", ""))
      q.processAllAvailable()
      val rows = spark.table("sdecon_out")
        .select("doc_id", "source", "n_grams", "n_hits")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((1L, "s0", 2L, 1L), (4L, "s1", 3L, 1L)))
    } finally q.stop()
  }

  test("replay gate equals the batch t16 report on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingDecontamination.replayGate(spark, d)
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("t16_bloom_decontamination")(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && streamed == batch)
  }
}
