package graft.operators

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** DedupIndex: the persisted near-dup postings — planted cross-split
  * duplicates are found through the index, clean docs are not, and
  * incremental append equals a fresh build over the union. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def doc(prefix: String, salt: String = ""): String =
    (1 to 40).map(i => s"$prefix$i").mkString(" ") + salt

  private def sh(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    DedupIndex.shingle(rows.toDF("doc_id", "text"))
  }

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_dedupidx").toString

  test("probe finds planted near-dups of indexed docs, nothing else") {
    val corpus = Seq(
      1L -> doc("alpha"), 2L -> doc("beta"), 3L -> doc("gamma"))
    // batch: 10 is a near-dup of 1 (one trailing word changed → 39/41
    // shared shingles ≈ J 0.86? use identical text → J = 1), 11 clean
    val batch = Seq(10L -> doc("alpha"), 11L -> doc("delta"))
    val dir = tmp()
    DedupIndex.build(sh(corpus), dir)
    val cand = DedupIndex.candidates(spark, dir, sh(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((10L, 1L)), s"got $cand")
    assert(!cand.exists(_._1 == 11L), s"clean doc produced candidates: $cand")
  }

  test("append == fresh build over the union") {
    val corpus = Seq(1L -> doc("alpha"), 2L -> doc("beta"))
    val batch1 = Seq(20L -> doc("alpha"), 21L -> doc("epsilon"))
    val probe = Seq(30L -> doc("alpha"), 31L -> doc("epsilon"), 32L -> doc("zeta"))
    val incDir = tmp()
    DedupIndex.build(sh(corpus), incDir)
    DedupIndex.append(sh(batch1), incDir)
    val fullDir = tmp()
    DedupIndex.build(sh(corpus ++ batch1), fullDir)
    def probeSet(dir: String) = DedupIndex.candidates(spark, dir, sh(probe))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (inc, full) = (probeSet(incDir), probeSet(fullDir))
    assert(inc == full, s"inc $inc != full $full")
    // and the appended batch is actually probe-visible
    assert(inc.contains((30L, 20L)) && inc.contains((31L, 21L)), s"got $inc")
  }
}
