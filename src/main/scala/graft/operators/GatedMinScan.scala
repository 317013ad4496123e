package graft.operators

import graft.plans.{OrderedScan, ScanKernel, TwoPassKernel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SA family's directional gated-min scan (single owner — shared
  * by d16/d18's cross-split decontamination over the persisted suffix
  * array and d19's incremental probe of a new batch against it): over
  * rows in `ord` order, each carrying the boundary LCP to its
  * predecessor, compute for every EMIT-side row the longest prefix it
  * shares with the nearest RESET-side row at smaller `ord` — the
  * running MIN of boundary LCPs since that row (nearest is optimal:
  * mins only shrink with distance in suffix order). Run once over
  * `ord` and once over `-ord` (with the successor boundary as lcpIn)
  * and the max of the two directions is the longest prefix shared
  * with ANY reset-side row.
  *
  * Transition per row: reset (train=true) ⇒ S := ∞; emit ⇒
  * S := min(S, lcpIn) (S = "none seen yet" before the first reset
  * row). Emits (doc_id, off, m = S) for emit-side rows with m ≥ 32
  * (the SA family's span contract).
  *
  * Distributed as a two-pass [[OrderedScan]] (the Terasort shape):
  * range exchange on `ord`, bounded per-partition transition summary
  * (a partition composes to either the concrete state after its last
  * reset row, or min(S_in, partition-min)), driver composition over
  * ≤ |partitions| rows, second pass from each partition's carry.
  * 100 TB shape: one fixed-width range exchange, driver state
  * ≤ |partitions| rows.
  */
object GatedMinScan {

  private[operators] val NoTrain = -1L // no reset row seen yet
  private[operators] val Inf = Long.MaxValue

  /** The fused scan's bound check failed: some partition holds an emit
    * run longer than `spark.graft.saScanMaxSegmentRows`. Thrown at the
    * driver, before any task buffers the run; the caller falls back to
    * two [[scan]] calls. */
  final class SegmentBoundExceeded(run: Long, bound: Long) extends RuntimeException(
    s"emit run of $run rows exceeds spark.graft.saScanMaxSegmentRows = $bound")

  /** True when `e` or one of its causes is a [[SegmentBoundExceeded]]
    * (Spark may wrap the driver's exception on its way out). */
  def boundExceeded(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[SegmentBoundExceeded])

  /** One composition step of the gated min: the state entering the
    * next partition, from the state entering this one. */
  private[operators] def step(in: Long, sawTrain: Boolean, v: Long): Long =
    if (sawTrain) v else if (in == NoTrain) NoTrain else math.min(in, v)

  /** `rows` = (ord: scan order ascending, doc_id, off, train: reset
    * side, lcpIn: boundary LCP to the scan-order predecessor, 0 when
    * absent/broken). Returns (doc_id, off, m). */
  private[graft] def scan(rows: DataFrame): DataFrame = over(rows, OneWay, "lcpIn")

  /** `kernel` over (ord, doc_id, off, train, `lcps`…) in `ord` order. */
  private def over(rows: DataFrame, kernel: ScanKernel[_], lcps: String*): DataFrame =
    OrderedScan.over(rows.select(Seq(col("ord").cast(LongType), col("doc_id").cast(LongType),
      col("off").cast(LongType), col("train")) ++ lcps.map(col(_).cast(LongType)): _*),
      Seq("ord"), kernel, OrderedScan.longs("doc_id", "off", "m"))

  /** Summary: (sawTrain, state after the last reset or the min of all
    * lcpIn when none); carry: the state entering the partition. */
  private case object OneWay extends TwoPassKernel[(Boolean, Long), Long] {
    def summarize(rows: Iterator[InternalRow]): (Boolean, Long) = {
      var sawTrain = false
      var cur = Inf
      rows.foreach { r =>
        if (r.getBoolean(3)) { sawTrain = true; cur = Inf }
        else cur = math.min(cur, r.getLong(4))
      }
      (sawTrain, cur)
    }
    def compose(summaries: IndexedSeq[(Boolean, Long)]): IndexedSeq[Long] =
      summaries.scanLeft(NoTrain) { case (in, (sawTrain, v)) => step(in, sawTrain, v) }.init
    def emit(carry: Long, rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      var st = carry
      rows.flatMap { r =>
        if (r.getBoolean(3)) { st = Inf; None }
        else {
          st = if (st == NoTrain) NoTrain else math.min(st, r.getLong(4))
          if (st >= 32L) Some(OrderedScan.row(out, r.getLong(1), r.getLong(2), st)) else None
        }
      }
    }
  }

  /** FUSED bidirectional scan (optimization round 18, guide §2.4):
    * both directions of the d16/d18 composition in ONE range exchange
    * instead of two — `rows` additionally carries `lcpOut` (the
    * boundary LCP to the scan-order SUCCESSOR, 0 when absent), and
    * the result per emit row is max(forward, backward) ≥ 32 directly,
    * so the former union+groupBy merge of the two directional outputs
    * disappears too. Same arithmetic as two [[scan]] calls (the
    * descending scan's `lcpIn` IS the ascending order's `lcpOut`).
    *
    * The backward direction needs rows after their successors, which
    * a forward pass can only provide by buffering the current SEGMENT
    * (the run of emit rows since the last reset row — a reset clears
    * backward state, so nothing older is needed). Segments are tiny
    * whenever reset rows are dense (d16: 36/37 of suffixes reset;
    * d18: 1/37 — runs of ~36), but an adversarial corpus could make
    * one partition-sized: pass 1 therefore also measures the longest
    * per-partition emit run, and when it exceeds the bound
    * (`spark.graft.saScanMaxSegmentRows`) the composition throws
    * [[SegmentBoundExceeded]] and the CALLER falls back to the
    * two-exchange [[scan]] form — the loud-bound + fallback idiom,
    * decided at the driver BEFORE any task buffers anything. Driver
    * state: one summary row per partition, both directions composed in
    * one walk each. */
  private[graft] def scanBoth(rows: DataFrame): DataFrame = {
    val maxSeg = rows.sparkSession.conf.getOption("spark.graft.saScanMaxSegmentRows")
      .map(_.toLong).getOrElse(1L << 20)
    over(rows, BothWays(maxSeg), "lcpIn", "lcpOut")
  }

  /** Summary: (sawTrain, curF = forward state after the last reset (or
    * min of all lcpIn when none), curB = min of lcpOut BEFORE the first
    * reset (the backward mirror), maxRun = longest run of consecutive
    * emit rows); carry: the incoming (forward, backward) states. */
  private final case class BothWays(maxSeg: Long)
      extends TwoPassKernel[(Boolean, Long, Long, Long), (Long, Long)] {
    def summarize(rows: Iterator[InternalRow]): (Boolean, Long, Long, Long) = {
      var sawTrain = false
      var curF = Inf
      var curB = Inf
      var run = 0L
      var maxRun = 0L
      rows.foreach { r =>
        if (r.getBoolean(3)) { sawTrain = true; curF = Inf; run = 0L }
        else {
          curF = math.min(curF, r.getLong(4))
          if (!sawTrain) curB = math.min(curB, r.getLong(5))
          run += 1L
          if (run > maxRun) maxRun = run
        }
      }
      (sawTrain, curF, curB, maxRun)
    }

    def compose(summ: IndexedSeq[(Boolean, Long, Long, Long)]): IndexedSeq[(Long, Long)] = {
      summ.find(_._4 > maxSeg).foreach(t => throw new SegmentBoundExceeded(t._4, maxSeg))
      val inF = summ.scanLeft(NoTrain) { case (in, (t, curF, _, _)) => step(in, t, curF) }
      val inB = summ.scanRight(NoTrain) { case ((t, _, curB, _), in) => step(in, t, curB) }
      inF.init.zip(inB.tail)
    }

    // forward state streams; the backward value of an emit row is the
    // running min of lcpOut from it up to the next reset row, computed
    // by flushing the buffered segment in reverse at each reset (and at
    // the partition end with the composed incoming backward state).
    // Buffers are unboxed and bounded by maxSeg (checked in compose).
    def emit(carry: (Long, Long), rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      val (pInF, pInB) = carry
      var st = pInF
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      val offs = new scala.collection.mutable.ArrayBuilder.ofLong
      val mFs = new scala.collection.mutable.ArrayBuilder.ofLong
      val lcpOs = new scala.collection.mutable.ArrayBuilder.ofLong
      def flush(st0: Long): Iterator[InternalRow] = {
        val idsA = ids.result(); val offsA = offs.result()
        val mFA = mFs.result(); val loA = lcpOs.result()
        ids.clear(); offs.clear(); mFs.clear(); lcpOs.clear()
        val m = idsA.length
        val best = new Array[Long](m)
        var b = st0
        var k = m - 1
        while (k >= 0) {
          b = if (b == NoTrain) NoTrain else math.min(b, loA(k))
          best(k) = math.max(mFA(k), b)
          k -= 1
        }
        (0 until m).iterator.flatMap { j =>
          if (best(j) >= 32L) Some(OrderedScan.row(out, idsA(j), offsA(j), best(j))) else None
        }
      }
      rows.flatMap { r =>
        if (r.getBoolean(3)) {
          st = Inf
          flush(Inf) // the reset row restarts backward state
        } else {
          st = if (st == NoTrain) NoTrain else math.min(st, r.getLong(4))
          ids += r.getLong(1); offs += r.getLong(2)
          mFs += st; lcpOs += r.getLong(5)
          Iterator.empty
        }
      } ++ flush(pInB)
    }
  }
}
