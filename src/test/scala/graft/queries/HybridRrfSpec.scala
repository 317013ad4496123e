package graft.queries

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** s11 hybrid RRF fusion: the engine's fused ranking against a
  * driver-side fusion of the two component rankings (the DuckDB
  * oracle is the cross-engine check at the gate; this is the
  * cross-implementation check of the fusion arithmetic itself). */
class HybridRrfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val qIds = Seq(7L, 113L, 311L)

  test("s11 fusion equals a driver-side RRF of the component rankings") {
    // lexical component: BM25 scores ranked on the driver
    val lex = TextAnalysis.bm25Scored(spark, sf, qIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, id, sc) => (-sc, id) }.take(20).zipWithIndex
          .map { case ((_, id, _), i) => ((q, id), i + 1L) }
      }.toMap
    // semantic component: the persisted-index batch search (itself
    // oracle-checked via s10's contract)
    val dir = graft.operators.IvfIndex.ensureBuilt(spark, sf)
    val sem = graft.operators.IvfIndex.searchIds(spark, sf, dir, 4, 20, qIds)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap
    val expected = qIds.flatMap { q =>
      val ids = (lex.keySet ++ sem.keySet).filter(_._1 == q).map(_._2)
      val pts = ids.toSeq.map { id =>
        val p = lex.get((q, id)).map(r => 1000000000L / (60L + r)).getOrElse(0L) +
          sem.get((q, id)).map(r => 1000000000L / (60L + r)).getOrElse(0L)
        (id, p)
      }
      pts.sortBy { case (id, p) => (-p, id) }.take(10).zipWithIndex
        .map { case ((id, p), i) => (q, i + 1L, id, p) }
    }
    val got = graft.SparkEntry.queries("s11_hybrid_rrf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    // docs in BOTH lists must outscore single-list docs of equal rank
    assert(got.nonEmpty && got.forall(_._4 > 0L))
  }
}
