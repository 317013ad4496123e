package graft.plans

import graft.etl.SparkTestSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The [[OrderedScan]] node against sequential driver computations:
  * a two-pass running count, a two-pass dense rank over keys with many
  * duplicates, and a single-pass clustered scan, each over 1–8
  * partitions on inputs of 0 rows up to a few hundred (so empty and
  * one-row partitions occur); plus the node's plan visibility and
  * metrics. Fixed seeds. */
class OrderedScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import OrderedScanSpec._

  /** A session with `n` shuffle partitions and no AQE coalescing, so
    * the node sees exactly `n` range partitions. */
  private def session(n: Int): SparkSession = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  /** (k, id) rows: `size` ids, keys drawn from `size / 3 + 1` values so
    * most keys repeat. */
  private def rows(size: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    (0 until size).map(i => (rnd.nextInt(size / 3 + 1).toLong, i.toLong))
  }

  private def frame(s: SparkSession, rs: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    rs.toDF("k", "id")
  }

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val cases = for (n <- 1 to 8; size <- Seq(n / 2, 5 * n + 37)) yield (n, size)

  test("two-pass running count = row position in scan order") {
    val sizes = Seq.newBuilder[Long]
    for ((n, size) <- cases) {
      val rs = rows(size, 7L * n + size)
      val kernel = new RunningCount
      val out = pairs(OrderedScan.over(frame(session(n), rs), Seq("k", "id"), kernel, Out))
      val expected = rs.sortBy(identity).map(_._2).zipWithIndex
        .map { case (id, i) => id -> i.toLong }.toMap
      assert(out === expected, s"n=$n size=$size")
      sizes ++= kernel.partitionSizes
    }
    // the layouts covered one-row partitions (empty ones are pinned by
    // the metrics test below)
    assert(sizes.result().contains(1L))
  }

  test("two-pass dense rank over duplicate keys = rank of the distinct key") {
    for ((n, size) <- cases) {
      val rs = rows(size, 11L * n + size)
      val out = pairs(OrderedScan.over(frame(session(n), rs), Seq("k"), DenseRank, Out))
      val rank = rs.map(_._1).distinct.sorted.zipWithIndex.toMap
      assert(out === rs.map { case (k, id) => id -> rank(k).toLong }.toMap,
        s"n=$n size=$size")
    }
  }

  test("single-pass clustered scan = index within the key group") {
    for ((n, size) <- cases) {
      val rs = rows(size, 13L * n + size)
      val out = pairs(OrderedScan.over(frame(session(n), rs), Seq("k", "id"), GroupIndex, Out,
        clusterBy = Seq("k")))
      val expected = rs.groupBy(_._1).values.flatMap(_.map(_._2).sorted.zipWithIndex)
        .map { case (id, i) => id -> i.toLong }.toMap
      assert(out === expected, s"n=$n size=$size")
    }
  }

  test("explain shows the node and its metrics count the scan") {
    val s = session(8)
    val df = OrderedScan.over(frame(s, rows(5, 3L)), Seq("k", "id"), new RunningCount, Out)
    assert(df.collect().length == 5)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("OrderedScan"))
    val exec = collect(plan) { case e: OrderedScanExec => e }
    assert(exec.size == 1)
    val m = exec.head.metrics
    assert(m("numInputRows").value == 5)
    assert(m("numOutputRows").value == 5)
    // 5 rows over 8 range partitions: some are empty, so fewer than 8
    // but at least one summary is composed
    assert(m("numComposed").value > 0 && m("numComposed").value < 8)
    assert(m("pass1Time").value >= 0)
  }
}

object OrderedScanSpec {
  /** (id, value) output of every test kernel. */
  val Out: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("value", LongType, nullable = false)))

  private def write(out: UnsafeRowWriter, id: Long, v: Long): InternalRow = {
    out.reset()
    out.write(0, id); out.write(1, v)
    out.getRow
  }

  /** Global row position: summary = row count, carry = rows before.
    * Records the non-empty partitions' sizes on the driver. */
  final class RunningCount extends TwoPassKernel[Long, Long] {
    @transient var partitionSizes: Seq[Long] = Nil
    def summarize(rows: Iterator[InternalRow]): Long = rows.size.toLong
    def compose(counts: IndexedSeq[Long]): IndexedSeq[Long] = {
      partitionSizes = counts
      counts.scanLeft(0L)(_ + _).init
    }
    def emit(before: Long, rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] =
      rows.zipWithIndex.map { case (r, i) => write(out, r.getLong(1), before + i) }
  }

  /** Dense rank of k: summary = (first key, last key, distinct keys);
    * carry = (distinct keys before, whether the first key continues the
    * previous partition's last). */
  object DenseRank extends TwoPassKernel[(Long, Long, Long), (Long, Boolean)] {
    def summarize(rows: Iterator[InternalRow]): (Long, Long, Long) = {
      val ks = rows.map(_.getLong(0)).toVector
      (ks.head, ks.last, ks.distinct.size.toLong)
    }
    def compose(s: IndexedSeq[(Long, Long, Long)]): IndexedSeq[(Long, Boolean)] = {
      var before = 0L
      s.indices.map { j =>
        val cont = j > 0 && s(j - 1)._2 == s(j)._1
        val carry = (if (cont) before - 1 else before, cont)
        before = carry._1 + s(j)._3
        carry
      }
    }
    def emit(carry: (Long, Boolean), rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      var rank = carry._1 - 1
      var prev: Option[Long] = None
      rows.map { r =>
        val k = r.getLong(0)
        if (!prev.contains(k)) rank += 1
        prev = Some(k)
        write(out, r.getLong(1), rank)
      }
    }
  }

  /** Single pass: each row's index within its key group. */
  object GroupIndex extends ScanKernel[Unit] {
    def emit(carry: Unit, rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      var prev = Long.MinValue
      var i = 0L
      rows.map { r =>
        val k = r.getLong(0)
        if (k != prev) { prev = k; i = 0L } else i += 1
        write(out, r.getLong(1), i)
      }
    }
  }
}
