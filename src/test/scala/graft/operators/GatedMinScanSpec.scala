package graft.operators

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** GatedMinScan.scanBoth (the round-18 fused bidirectional form) vs
  * the two directional scan() calls it replaces: same output on
  * randomized fixtures (dense resets, sparse resets, no resets,
  * all-resets), and the segment-bound fallback trips loudly at the
  * driver — failing with SegmentBoundExceeded — instead of buffering an
  * over-bound run. */
class GatedMinScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** (ord, doc_id, off, train, lcpIn, lcpOut) rows for n suffixes with
    * reset density 1/k (k == 0: no resets; k == 1: all resets) and a
    * deterministic pseudo-random LCP chain; lcpOut(i) == lcpIn(i+1)
    * (the adjacent-boundary contract the caller guarantees). */
  private def fixture(n: Int, k: Int): Seq[(Long, Long, Long, Boolean, Long, Long)] = {
    val lcp = (0 to n).map(i => if (i == 0 || i == n) 0L
      else (i * 1103515245L + 12345L) % 64L) // 0..63, crosses the 32 line
    (0 until n).map { i =>
      val train = k != 0 && i % k == 0
      (i.toLong, (i % 7).toLong, i.toLong, train, lcp(i), lcp(i + 1))
    }
  }

  private def viaTwoScans(rows: Seq[(Long, Long, Long, Boolean, Long, Long)],
      s: org.apache.spark.sql.SparkSession = spark): Set[(Long, Long, Long)] = {
    import s.implicits._
    val df = rows.toDF("ord", "doc_id", "off", "train", "lcpIn", "lcpOut")
    val l = GatedMinScan.scan(
      df.selectExpr("ord", "doc_id", "off", "train", "lcpIn"))
    val r = GatedMinScan.scan(
      df.selectExpr("-ord as ord", "doc_id", "off", "train", "lcpOut as lcpIn"))
    l.unionByName(r).groupBy("doc_id", "off")
      .agg(org.apache.spark.sql.functions.max("m").as("m"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
  }

  private def viaFused(rows: Seq[(Long, Long, Long, Boolean, Long, Long)])
      : Option[Set[(Long, Long, Long)]] = {
    import spark.implicits._
    val df = rows.toDF("ord", "doc_id", "off", "train", "lcpIn", "lcpOut")
    try Some(GatedMinScan.scanBoth(df).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet)
    catch { case e: Exception if GatedMinScan.boundExceeded(e) => None }
  }

  test("fused == two directional scans across reset densities") {
    for (k <- Seq(2, 5, 37, 0, 1)) {
      val rows = fixture(400, k)
      val fused = viaFused(rows)
      assert(fused.isDefined, s"k=$k must stay under the segment bound")
      assert(fused.get === viaTwoScans(rows), s"k=$k diverged")
    }
  }

  test("roles-inverted fixture (d18 shape: sparse resets) matches") {
    // only every 37th row resets — long emit runs, the d18 density
    val rows = fixture(1000, 37)
    assert(viaFused(rows).get === viaTwoScans(rows))
  }

  // "(None)": the fused scan gives no answer (viaFused's None) and
  // the caller's two-scan fallback answers instead.
  test("over-bound emit run falls back loudly (None) at the driver") {
    val pinned = spark.newSession()
    pinned.conf.set("spark.graft.saScanMaxSegmentRows", "16")
    import pinned.implicits._
    val rows = fixture(400, 0) // no resets: one 400-row run
    val df = rows.toDF("ord", "doc_id", "off", "train", "lcpIn", "lcpOut")
    val e = intercept[Exception](GatedMinScan.scanBoth(df).collect())
    assert(GatedMinScan.boundExceeded(e), "a run past the bound must fail at the driver, not buffer")
    // and the caller's fallback (two scans) answers under the same
    // bound, as it does under the default one (d16/d18 end to end:
    // SuffixArraySpec)
    assert(viaTwoScans(rows, pinned) === viaTwoScans(rows))
  }
}
