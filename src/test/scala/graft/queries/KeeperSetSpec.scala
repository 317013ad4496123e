package graft.queries

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** d07's bucket-sparsified candidate graph: linear edges per LSH
  * bucket instead of the O(m²) pair join, component-equal to the
  * all-pairs graph on replica clusters. */
class KeeperSetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** documents dir with one 40-copy boilerplate cluster, one 3-copy
    * near-dup cluster, and unique fillers. */
  private def writeDocs(): String = {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again in the morning"
    val near = "spark engines shuffle data between executors when aggregations require it daily"
    val docs =
      (0 until 40).map(i => (100L + i, boiler, "boiler")) ++
        (0 until 3).map(i => (500L + i, near + (if (i == 2) " ok" else ""), "near")) ++
        (0 until 20).map(i => (900L + i,
          s"unique document number $i talks about topic-$i subject-${i * 7} item-${i * 13} " +
            s"entity-${i * 31} place-${i * 17} code-${i * 41} tag-${i * 53}", "uniq"))
    val dir = java.nio.file.Files.createTempDirectory("graft_keeper").toString
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("a 40-copy cluster collapses to one keeper row; edges stay linear in members") {
    val dir = writeDocs()
    val out = graft.SparkEntry.queries("d07_neardup_keeper_sets")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // one keeper per cluster, full membership counted — identical to
    // what the all-pairs graph would produce (replica clusters are
    // locally transitive), but the 40-copy cluster contributed O(40)
    // verified edges instead of 780 pairs
    assert(out == Map(100L -> 40L, 500L -> 3L), s"got $out")
  }

  test("exact verification still rejects bucket co-residents below the threshold") {
    import spark.implicits._
    // two docs that share a 4-row minhash band by construction can
    // only be filtered by the exact-Jaccard verify; simulate with a
    // sub-threshold pair plus an exact pair and check only the exact
    // pair survives into a keeper set
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, a, "x"), (2L, a, "x"), // exact pair
      (3L, a + " different tail entirely here", "x")) // jac < 0.9 vs a
    val dir = java.nio.file.Files.createTempDirectory("graft_keeper2").toString
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("d07_neardup_keeper_sets")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 2L), s"got $out")
  }

  test("1- and 2-word docs don't break the gram expressions (ANSI descending-sequence guard)") {
    import spark.implicits._
    // sequence(0, size-k) DESCENDS for docs shorter than the gram
    // width, and under ANSI the out-of-range ws[i+k] access throws —
    // upstream size() filters are not a reliable guard once the
    // optimizer collapses projections. The index lists are now total;
    // this corpus crashes the old forms.
    val docs = Seq(
      (1L, "one", "x"), (2L, "two words", "x"),
      (3L, "three word doc", "x"),
      (4L, "a full length document with enough words to form real shingles", "x"),
      (5L, "a full length document with enough words to form real shingles", "x"))
    val dir = java.nio.file.Files.createTempDirectory("graft_short").toString
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val d07 = graft.SparkEntry.queries("d07_neardup_keeper_sets")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d07 == Map(4L -> 2L), s"got $d07")
    // d04 simhash: short docs get an empty bigram set (simhash 0) and
    // pair only with each other at hamming 0 — no crash
    val d04 = graft.SparkEntry.queries("d04_simhash_pairs")(spark, dir).collect()
    assert(d04.nonEmpty)
    val d02 = graft.SparkEntry.queries("d02_minhash_jaccard_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d02.toSeq == Seq((4L, 5L)), s"got ${d02.toSeq}")
  }
}
