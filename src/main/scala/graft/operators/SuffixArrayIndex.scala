package graft.operators

import graft.operators.GatedMinScan.{Inf, NoTrain}
import graft.plans.{OrderedScan, TwoPassKernel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Persisted GENERALIZED suffix array — the build-once / derive-many
  * operating mode of the SA family (the s06/t19/d13/t26 pattern): a
  * corpus snapshot's suffix array is a deterministic artifact, and
  * the derived operations — d15 substring removal, d16 exact
  * decontamination, d17's repeat report, c16's funnel stage — are
  * linear passes over it: in a production session the 17-min sf10
  * construction is paid once per snapshot, not once per question
  * (d14 remains the standalone fresh-build form of the report, the
  * cross-check the spec compares the index path against). Layout:
  * `dir/sa` parquet of (doc_id, off, rank, rank32), written DIRECTLY
  * by [[GeneralizedSuffixArray.build]]'s resultDir path (one write,
  * both construction modes; the build itself is oracle-exact at
  * three SFs), `_SUCCESS`-gated like every persisted artifact here.
  * Bench charges the build to its own metric (`d17_sa_index_build`);
  * each derived query line measures the derive-from-index cost a
  * repeated analysis actually pays. */
object SuffixArrayIndex {

  /** Deterministic per-corpus index location ([[ArtifactDir]]). */
  def indexDirFor(sfDir: String): String =
    ArtifactDir.dirFor(sfDir, "documents.parquet", "saidx")

  def ensureBuilt(s: SparkSession, sfDir: String): String = {
    val dir = indexDirFor(sfDir)
    if (!new java.io.File(dir, "sa/_SUCCESS").exists) build(s, sfDir, dir)
    dir
  }

  def build(s: SparkSession, sfDir: String, dir: String): Unit = {
    val docs = graft.Tables.load(s, sfDir, "documents")
      .selectExpr("doc_id", "text")
    // the build lands the array DIRECTLY at dir/sa (one write in both
    // construction modes — the spill-bounded mode would otherwise
    // write its own result copy and rewrite it here, doubling peak
    // disk + I/O for the corpus-sized artifact)
    GeneralizedSuffixArray.build(docs, Some(s"$dir/sa")): Unit
  }

  /** The persisted array: (doc_id, off, rank, rank32). */
  def load(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/sa")

  /** Default bound on the batch-suffix count a probe will broadcast
    * (the prefix-hash set: 8 bytes/suffix ≈ 32 MB at the bound; the
    * t24-guard precedent). A crawl batch is small relative to the
    * indexed corpus by nature — past this, split the batch. Override
    * for tests via `spark.graft.saProbeMaxBatchSuffixes`. */
  val ProbeMaxBatchSuffixesDefault: Long = 1L << 22

  /** The probe-acceleration sidecar `dir/h32`: for every indexed
    * suffix with ≥ 32 code points remaining (shorter suffixes can
    * never satisfy the family's ≥32-char span contract),
    * (doc_id, off, h32 = xxhash64 of its 32-code-point prefix).
    * Built ONCE per corpus snapshot (one index ⋈ documents pass —
    * the d16-derive cost class); every subsequent [[probe]] reads
    * ONLY this fixed-width column set, scan-side-filtered by the
    * batch's broadcast hash set — no corpus text is touched again. */
  def ensureProbeSidecar(s: SparkSession, sfDir: String, dir: String): DataFrame = {
    if (!new java.io.File(dir, "h32/_SUCCESS").exists) buildProbeSidecar(s, sfDir, dir)
    s.read.parquet(s"$dir/h32")
  }

  /** Writes the [[ensureProbeSidecar]] column set to `dir/h32`, over any
    * sidecar already there. */
  def buildProbeSidecar(s: SparkSession, sfDir: String, dir: String): Unit = {
    val corpus = graft.Tables.load(s, sfDir, "documents")
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    load(s, dir).select(col("doc_id"), col("off"))
      .join(corpus, Seq("doc_id"))
      .filter(col("off") <= length(col("text")).cast(LongType) - 32L)
      .select(col("doc_id"), col("off"),
        xxhash64(expr("substring(text, cast(off + 1 as int), 32)")).as("h32"))
      .write.mode("overwrite").parquet(s"$dir/h32")
  }

  /** INCREMENTAL cross-corpus probe — the SA family's d13/t19/s06
    * operating mode (round-15 verdict item 1): a new crawl batch's
    * docs are checked for verbatim spans (≥ 32 code points, LCP capped
    * at 2048 — d16's contract) shared with the PERSISTED corpus index,
    * WITHOUT rebuilding it. Writes the raw span set (doc_id, st, en)
    * — batch coordinates — to `spansDir` (the d15 lineage-cut handoff)
    * and returns the read-back frame; the caller union-merges per doc.
    *
    * Method: only suffixes sharing a 32-prefix can share ≥ 32 chars,
    * so the batch's suffix prefix-hashes (a bounded broadcast set,
    * loudly guarded) prune BOTH sides — the corpus side to a
    * scan-side-filtered read of the [[ensureProbeSidecar]] column set,
    * the batch side to hashes the corpus actually contains. The
    * pruned union of capped suffix prefixes is then totally ordered
    * (UTF8String binary order IS code-point order) and scanned by ONE
    * two-pass [[graft.plans.OrderedScan]] ([[prunedUnionSpans]]):
    * adjacent-boundary LCPs run through the CommonPrefixLen kernel,
    * and both gated-min directions (reset on corpus rows, emit batch
    * rows) yield for every batch suffix the longest prefix it shares
    * with ANY corpus suffix.
    *
    * Exactness under the pruning: a hash join has no false negatives,
    * so any batch suffix with a true ≥32 match keeps its achiever in
    * the union; sorted-order LCP is non-increasing with distance, so
    * the nearest surviving corpus row per side attains the maximum;
    * hash-collision EXTRAS are real corpus suffixes whose exact LCP
    * is computed like any other (they can only tighten the chain,
    * never exceed the true max); dropped rows only carry < 32 chains,
    * which the threshold discards on both engines identically.
    * Capped-prefix ties are exact because every within-tie boundary
    * LCP is ≥ the 2048 cap. Code-point discipline is the build's
    * (split/substring/length/UTF8String/CommonPrefixLen all count
    * code points — see GeneralizedSuffixArray).
    *
    * 100 TB shape: per batch the corpus-side work is ONE filtered
    * scan of the fixed-width sidecar (no text, no suffix re-sort);
    * everything downstream is proportional to the pruned union
    * (batch suffixes + their corpus hash-mates). The one-off sidecar
    * construction is a single corpus pass charged like any index
    * build. Driver state: the scan's per-partition summaries
    * (≤ |partitions| rows) plus nothing batch- or corpus-sized. */
  def probe(s: SparkSession, sfDir: String, batch: DataFrame,
            spansDir: String, sidecarOverride: Option[DataFrame] = None): DataFrame = {
    val sidecar = sidecarOverride.getOrElse {
      val dir = ensureBuilt(s, sfDir)
      ensureProbeSidecar(s, sfDir, dir)
    }
    val b = batch.select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    // pk packing guards, mirroring the build's (side(1) | id(31) |
    // off(30) — unique across both sides of the union). The same ONE
    // batch-sized pass also carries the probe-suffix count: a doc of
    // len ≥ 32 code points contributes exactly len−31 suffixes that
    // can reach the 32-char contract, so sum(greatest(len−31, 0))
    // equals count(bs) WITHOUT materializing the per-character explode
    // twice (previously a separate cache+count job per probe — per
    // MICRO-BATCH in the streaming twin).
    val bounds = b.agg(max(length(col("text"))), min(col("doc_id")),
      max(col("doc_id")),
      sum(greatest(length(col("text")).cast(LongType) - 31L, lit(0L)))).head()
    val maxLen = if (bounds.isNullAt(0)) 0L else bounds.getInt(0).toLong
    val (minDoc, maxDoc) =
      if (bounds.isNullAt(1)) (0L, 0L) else (bounds.getLong(1), bounds.getLong(2))
    require(minDoc >= 0L && maxDoc < (1L << 31),
      s"SA probe pk packing needs 0 <= doc_id < 2^31, got [$minDoc, $maxDoc]")
    require(maxLen < (1L << 30),
      s"SA probe pk packing needs doc length < 2^30 chars, got $maxLen")
    // LOUD broadcast bound (the t24-guard precedent): the probe
    // broadcasts the batch's prefix-hash set both ways — checked
    // BEFORE anything batch-suffix-sized materializes
    val nBs = if (bounds.isNullAt(3)) 0L else bounds.getLong(3)
    val maxBs = s.conf.getOption("spark.graft.saProbeMaxBatchSuffixes")
      .map(_.toLong).getOrElse(ProbeMaxBatchSuffixesDefault)
    require(nBs <= maxBs,
      s"SA probe batch has $nBs suffixes (> $maxBs broadcast bound): a crawl " +
        "batch is small relative to the indexed corpus by nature — split the batch")
    // batch suffixes that can reach the 32-char contract, keyed by
    // the 32-prefix hash (text carried only through this projection)
    val bs = b
      .select(col("doc_id"), col("text"),
        posexplode(split(col("text"), "")).as(Seq("off", "ch")))
      .filter(col("off").cast(LongType) <= length(col("text")).cast(LongType) - 32L)
      .select(col("doc_id"), col("off").cast(LongType).as("off"),
        xxhash64(expr("substring(text, off + 1, 32)")).as("h32"))
      .cache()
    val bh = bs.select(col("h32")).distinct()
    // corpus survivors: ONE scan-side-filtered read of the sidecar
    val surv = sidecar.join(broadcast(bh), Seq("h32"))
    // batch survivors: hashes the corpus actually contains
    val survH = surv.select(col("h32")).distinct()
    val bsKept = bs.join(broadcast(survH), Seq("h32"))
    // capped prefixes fetched for SURVIVORS only (both sides small)
    val corpus = graft.Tables.load(s, sfDir, "documents")
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    def pref: org.apache.spark.sql.Column =
      expr("substring(text, cast(off + 1 as int), 2048)")
    val u = surv.join(corpus, Seq("doc_id"))
      .select(lit(true).as("train"), col("doc_id"), col("off"), pref.as("pref"))
      .unionByName(bsKept.join(b, Seq("doc_id"))
        .select(lit(false).as("train"), col("doc_id"), col("off"), pref.as("pref")))
      .select(col("train"), col("doc_id"), col("off"), col("pref"),
        (when(col("train"), lit(1L)).otherwise(lit(0L)) * lit(1L << 61) +
          shiftleft(col("doc_id"), 30) + col("off")).as("pk"))
      .cache()
    prunedUnionSpans(u).write.mode("overwrite").parquet(spansDir)
    Seq(u, bs).foreach(_.unpersist())
    s.read.parquet(spansDir)
  }

  /** Fused bidirectional gated-min scan over the pruned union in
    * (pref, pk) order — ONE range exchange, one bounded summaries
    * collect, one emit pass (a two-pass [[OrderedScan]]; optimization
    * round 17). This replaces the former chain (dense-rank two-pass +
    * adjacent-boundary LCP join + two directional [[GatedMinScan]]
    * passes + the union merge: four exchanges, two joins and six
    * passes over the union) with exactly the same arithmetic: rows
    * totally ordered by (pref, pk) — pk unique, UTF8String binary
    * order = code-point order — adjacent-boundary LCPs through the
    * SAME [[graft.functions.CommonPrefixLen]] byte kernel, state
    * resets to ∞ on corpus rows, gated min along boundary LCPs on
    * batch rows, absent boundaries at the two ends of the total order
    * count 0, per-row max of the two directions, ≥ 32 emitted as
    * (doc_id, st, en). Driver state: one summary row per partition
    * (two ≤2048-code-point boundary prefixes + the directional state
    * composition). */
  private[operators] def prunedUnionSpans(u: DataFrame): DataFrame = {
    // a LOUD per-partition row bound on pass 2's buffer: the batch
    // side is capped by the probe's broadcast guard, but the
    // corpus-survivor side is not bounded per h32 (a boilerplate
    // 32-prefix can match arbitrarily many sidecar rows), so a skewed
    // partition fails fast with the remedy named instead of OOMing the
    // executor. Override via `spark.graft.saProbeMaxPartitionRows`.
    val maxPartRows = u.sparkSession.conf.getOption("spark.graft.saProbeMaxPartitionRows")
      .map(_.toInt).getOrElse(1 << 24)
    OrderedScan.over(u.select(col("pref"), col("pk"), col("train"),
        col("doc_id").cast(LongType), col("off").cast(LongType)),
      Seq("pref", "pk"), ProbeScan(maxPartRows),
      OrderedScan.longs("doc_id", "st", "en"))
  }

  private def cp(a: UTF8String, b: UTF8String): Long =
    graft.functions.CommonPrefixLen.compute(a, b)

  /** Summary: (firstPref, lastPref, sawTrain,
    *   outF = state after the last reset scanning forward (valid iff
    *   sawTrain; the unknown first-row boundary LCP never enters it),
    *   outB = the backward mirror (valid iff sawTrain; the unknown
    *   last-row boundary never enters it),
    *   minLocal = min of the known internal boundary LCPs — the
    *   no-reset pass-through term, identical for both directions).
    * Carry: (incoming forward state, incoming backward state, LCP to
    * the previous partition's last row, LCP to the next partition's
    * first row); the two ends of the total order have no boundary
    * (lcp 0). */
  private final case class ProbeScan(maxPartRows: Int)
      extends TwoPassKernel[(String, String, Boolean, Long, Long, Long),
        (Long, Long, Long, Long)] {
    def summarize(rows: Iterator[InternalRow]): (String, String, Boolean, Long, Long, Long) = {
      var first: UTF8String = null
      var prevPref: UTF8String = null
      var sawTrain = false
      var outF = Inf // state after the last train row (forward)
      var minLocal = Inf
      var outB = Inf // min of internal lcps BEFORE the first train
      rows.foreach { r =>
        val p = r.getUTF8String(0)
        val train = r.getBoolean(2)
        if (prevPref != null) {
          val l = cp(prevPref, p)
          minLocal = math.min(minLocal, l)
          if (!train) outF = math.min(outF, l)
          if (!sawTrain) outB = math.min(outB, l)
        }
        if (train) { sawTrain = true; outF = Inf }
        prevPref = p.clone() // the sorted input reuses its row buffer
        if (first == null) first = prevPref
      }
      (first.toString, prevPref.toString, sawTrain, outF, outB, minLocal)
    }

    def compose(summ: IndexedSeq[(String, String, Boolean, Long, Long, Long)])
        : IndexedSeq[(Long, Long, Long, Long)] = {
      val n = summ.length
      // lcp(last row of partition j-1, first row of j); none before the first
      val bndIn = (0 until n).map(j => if (j == 0) 0L
        else cp(UTF8String.fromString(summ(j - 1)._2), UTF8String.fromString(summ(j)._1)))
      def bndOut(j: Int): Long = if (j + 1 < n) bndIn(j + 1) else 0L
      val inF = (0 until n).scanLeft(NoTrain) { (st, j) => val (_, _, t, outF, _, minLocal) = summ(j)
        GatedMinScan.step(st, t, if (t) outF else math.min(bndIn(j), minLocal)) }
      val inB = (0 until n).scanRight(NoTrain) { (j, st) => val (_, _, t, _, outB, minLocal) = summ(j)
        GatedMinScan.step(st, t, if (t) outB else math.min(bndOut(j), minLocal)) }
      (0 until n).map(j => (inF(j), inB(j + 1), bndIn(j), bndOut(j)))
    }

    // buffer the partition's compact (doc_id, off, train,
    // lcp-to-predecessor) columns — prefixes are folded into the LCPs
    // on the fly and never retained — then run the forward scan and
    // the backward scan over the buffer and emit max(mF, mB) ≥ 32.
    // UNBOXED growable arrays (ADVICE r17 item 2: the boxed
    // ArrayBuffer[Long] form tripled the buffer's footprint).
    def emit(carry: (Long, Long, Long, Long), rows: Iterator[InternalRow],
             out: UnsafeRowWriter): Iterator[InternalRow] = {
      val (pInF, pInB, pBndIn, pBndOut) = carry
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      val offs = new scala.collection.mutable.ArrayBuilder.ofLong
      val trainsB = new scala.collection.mutable.ArrayBuilder.ofBoolean
      val lcpsB = new scala.collection.mutable.ArrayBuilder.ofLong
      var prevPref: UTF8String = null
      var nBuf = 0
      rows.foreach { r =>
        val p = r.getUTF8String(0)
        lcpsB += (if (prevPref == null) pBndIn else cp(prevPref, p))
        ids += r.getLong(3)
        offs += r.getLong(4)
        trainsB += r.getBoolean(2)
        prevPref = p.clone()
        nBuf += 1
        require(nBuf <= maxPartRows,
          s"SA probe union partition ${org.apache.spark.TaskContext.getPartitionId()} " +
            s"exceeds $maxPartRows buffered rows " +
            "(a boilerplate 32-prefix matching that many corpus suffixes): " +
            "raise spark.sql.shuffle.partitions or split the batch")
      }
      val idsA = ids.result(); val offsA = offs.result()
      val trains = trainsB.result(); val lcps = lcpsB.result()
      val m = idsA.length
      val best = new Array[Long](m)
      var stF = pInF
      var k = 0
      while (k < m) {
        if (trains(k)) stF = Inf
        else {
          stF = if (stF == NoTrain) NoTrain else math.min(stF, lcps(k))
          best(k) = stF
        }
        k += 1
      }
      var stB = pInB
      k = m - 1
      while (k >= 0) {
        val gOut = if (k + 1 < m) lcps(k + 1) else pBndOut
        if (trains(k)) stB = Inf
        else {
          stB = if (stB == NoTrain) NoTrain else math.min(stB, gOut)
          if (stB > best(k)) best(k) = stB
        }
        k -= 1
      }
      (0 until m).iterator.flatMap { j =>
        if (!trains(j) && best(j) >= 32L)
          Some(OrderedScan.row(out, idsA(j), offsA(j), offsA(j) + best(j)))
        else None
      }
    }
  }
}
