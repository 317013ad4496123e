package graft.operators

import graft.plans.{OrderedScan, ScanKernel, TwoPassKernel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed GENERALIZED suffix array over the document corpus —
  * prefix doubling (Manber–Myers, the construction every published
  * distributed SA uses: one keyed exchange per doubling round) on
  * DataFrames, built for arbitrary-length duplicated-substring
  * discovery (d14/d15) where the fixed-k gram ownership of d09 can't
  * ask the question. No text concatenation and no separator-sentinel
  * tricks: the array ranks the suffixes of EACH document (the
  * generalized form), so the round count is O(log max-doc-length) —
  * not O(log corpus-length) — and cross-document repeats surface as
  * adjacent suffixes from different docs.
  *
  * Suffix identity is ONE packed long `pk = doc_id << 32 | off`
  * (round-14 rewrite: the (doc_id: long, off: long) pair doubled the
  * width of every per-round exchange and spill — at the sf10 build
  * that width was the difference between fitting the local disk and
  * not). The packing is exact under the loudly-guarded bounds
  * 0 ≤ doc_id < 2³¹ and doc-length < 2³⁰: the shifted lookup key
  * pk − cover for off < cover borrows into the doc_id bits and yields
  * a low-32 field ≥ 2³² − cover, which can only alias a REAL offset of
  * doc_id−1 if cover > 2³² − maxLen — impossible while
  * maxLen < 2³⁰ (cover < 2·maxLen) — so the equi join matches exactly
  * the (doc_id, off−cover)-exists pairs, and misses stay the −1
  * sentinel (sorting first, exactly the shorter-string-is-a-prefix
  * rule). Packed order == (doc_id, off) lexicographic order for the
  * final tie-break.
  *
  * Ranks are POSITION ranks (Larsson–Sadakane: a suffix's rank is the
  * index of ITS EQUIVALENCE CLASS'S FIRST ROW in the total order at
  * the current cover — invariant: rank(x) = |{y : y <_cover x}|).
  * Position ranks are order-isomorphic to the dense ranks the
  * classical statement uses (equal iff equal, < iff <), so every
  * (rank, rank2) comparison the doubling makes is unchanged — but a
  * position rank is FINAL the moment its class is a singleton
  * (classes only split; splits elsewhere don't renumber it, which
  * dense ranks would). That is what the round-18 tail optimization
  * exploits (guide §2.3/§2.4 — shuffle only the bytes that still
  * matter): each round joins and re-ranks ONLY the still-tied
  * suffixes ("live"), looks ranks up against the full settled+live
  * map scan-side-pruned by a Bloom filter over the live keys (guide
  * §3.2 — no false negatives, so the left join is exact; false
  * positives are dropped by the join), and re-ranks each tied class
  * locally under a hash exchange on the class head (classes are
  * atomic per partition, so the new rank = class head + # of
  * strictly-smaller rank2 members needs no cross-partition state).
  * Settled rows are never exchanged again. On natural text the live
  * set collapses after the first doubling rounds (the classes that
  * survive are exactly the heavy repeats the operator exists to
  * find), so the tail rounds cost a corpus SCAN (no sort, no
  * exchange) plus work proportional to the repeats.
  *
  * The bootstrap dense-ranks `substring(text, off+1, 32)` directly —
  * UTF8String binary order is code-point order, and a suffix shorter
  * than the cover contributes its full remainder, which sorts before
  * any continuation exactly like the −1 doubling sentinel — so ONE
  * range exchange of (p32, pk) replaces the first five doubling
  * rounds (cover 1→32), and that first ranking is by definition the
  * `rank32` snapshot (emitted in its DENSE form — the artifact
  * contract: two suffixes share a 32-char prefix iff their rank32 is
  * equal; the LCP stage downstream fetches text only for candidate
  * adjacent pairs, never for the corpus-sized rest). The same emit
  * pass also carries the position rank and the tied flag, so the
  * bootstrap is one pass for all three.
  *
  * Residual ties after the last round are IDENTICAL suffixes; the
  * final total order breaks them by (doc_id, off) — the same local
  * per-class re-rank with pk as the discriminator. The artifact
  * (doc_id, off, rank, rank32) is value-identical to the classical
  * all-rows construction: final position ranks over the same total
  * order are the permutation 0..n−1, and rank32 is the unchanged
  * bootstrap dense rank (SuffixArraySpec compares against a driver
  * suffix sort; the spill-bounded and in-memory modes are asserted
  * equal; the three-SF Python-oracle gate states every consumer).
  *
  * 100 TB shape: the bootstrap is one range exchange of fixed-width
  * rows; each tail round exchanges only the live rows and SCANS (not
  * sorts) the rank map; driver state per round is one
  * |partitions|-row stats table plus one Bloom filter over the live
  * keys (size-gated by `spark.graft.saBloomMaxLiveSuffixes`, with the
  * unfiltered scan as the over-bound fallback). A pathological
  * single-repeat corpus keeps every suffix live — then each round
  * costs what the classical construction paid anyway, and the ckpt
  * mode's compaction guard (below) keeps disk bounded. Character
  * granularity is UNICODE CODE POINTS on every step of the chain —
  * probed and spec-enforced, not assumed (SuffixArraySpec "astral"):
  * Spark's `split(text, "")` emits one element per code point,
  * `substring`/`length` index and count code points, UTF8String's
  * binary sort order IS code-point order, and
  * functions.CommonPrefixLen counts non-continuation UTF-8 bytes =
  * code points. The Python oracle's string ops are code-point
  * semantics too, so the two engines agree on astral text as well as
  * BMP — no surrogate-half divergence exists to guard against.
  */
object GeneralizedSuffixArray {

  /** Bootstrap ranking: every suffix ranked by its 32-code-point
    * prefix in ONE range exchange, emitting per suffix
    * (pk, rank32 = DENSE rank, rank = POSITION rank, tied). Exact for
    * any partitioning: a two-pass [[OrderedScan]] whose summaries
    * (first/last key, distinct count, row count, last group's local
    * start) let the driver derive each partition's dense offset, row
    * start, carried-in group head, and whether its first/last rows
    * continue a neighbouring partition's group — ≤ |partitions| rows
    * of driver state. */
  private[operators] def bootstrapRank(df: DataFrame): DataFrame =
    OrderedScan.over(df.select(col("p32"), col("pk")), Seq("p32"), Bootstrap,
      rankSchema("pk", "rank32", "rank"))

  /** Non-null long columns, then the non-null boolean `tied`. */
  private def rankSchema(longs: String*): StructType =
    OrderedScan.longs(longs: _*).add(StructField("tied", BooleanType, nullable = false))

  private def write(out: UnsafeRowWriter, pk: Long, a: Long, b: Long, tied: Boolean)
      : InternalRow = {
    out.reset()
    out.write(0, pk); out.write(1, a); out.write(2, b); out.write(3, tied)
    out.getRow
  }

  /** Summary: (firstKey, lastKey, nDistinct, rowCount,
    * lastGroupStartIdx); carry: (denseOff, rowStart, headFirst,
    * contFirst, contLast). */
  private case object Bootstrap
      extends TwoPassKernel[(String, String, Long, Long, Long),
        (Long, Long, Long, Boolean, Boolean)] {
    def summarize(rows: Iterator[InternalRow]): (String, String, Long, Long, Long) = {
      var first: UTF8String = null
      var prev: UTF8String = null
      var nd = 0L
      var cnt = 0L
      var lastStart = 0L
      rows.foreach { r =>
        val k = r.getUTF8String(0)
        if (prev == null || k != prev) {
          nd += 1; lastStart = cnt; prev = k.clone()
          if (first == null) first = prev
        }
        cnt += 1
      }
      (first.toString, prev.toString, nd, cnt, lastStart)
    }

    // dense offsets (merging boundary-spanning groups), row starts, and
    // the carried-in group head per partition
    def compose(stats: IndexedSeq[(String, String, Long, Long, Long)])
        : IndexedSeq[(Long, Long, Long, Boolean, Boolean)] = {
      var denseRun = 0L
      var rowRun = 0L
      var prevLast: String = null
      var carryHead = -1L
      stats.indices.map { j =>
        val (first, last, nd, cnt, lastStart) = stats(j)
        val contFirst = prevLast != null && first == prevLast
        val denseOff = if (contFirst) denseRun - 1 else denseRun
        val headFirst = if (contFirst) carryHead else -1L
        val contLast = j + 1 < stats.length && stats(j + 1)._1 == last
        val info = (denseOff, rowRun, headFirst, contFirst, contLast)
        carryHead = if (nd == 1 && contFirst) carryHead else rowRun + lastStart
        denseRun = denseOff + nd
        rowRun += cnt
        prevLast = last
        info
      }
    }

    def emit(carry: (Long, Long, Long, Boolean, Boolean), rows: Iterator[InternalRow],
             out: UnsafeRowWriter): Iterator[InternalRow] = {
      val (denseOff, rowStart, headFirst, contFirst, contLast) = carry
      var dense = denseOff - 1
      var pos = rowStart - 1
      var head = -1L
      var prevKey: UTF8String = null
      // one-row delay so each emitted row knows whether its SUCCESSOR
      // shares its key (tied = same key as prev OR next, with the
      // partition-boundary continuations from the driver scan)
      var pPk = 0L; var pDense = 0L; var pHead = 0L; var pTied = false
      var hasPend = false
      rows.flatMap { r =>
        val k = r.getUTF8String(0)
        pos += 1
        val sameAsPrev = if (prevKey == null) contFirst else k == prevKey
        if (prevKey == null) {
          dense += 1 // denseOff was pre-adjusted for a continuation
          head = if (contFirst) headFirst else pos
        } else if (!sameAsPrev) { dense += 1; head = pos }
        val res =
          if (hasPend) Some(write(out, pPk, pDense, pHead, pTied || sameAsPrev)) else None
        pPk = r.getLong(1); pDense = dense; pHead = head; pTied = sameAsPrev
        hasPend = true
        if (prevKey == null || !sameAsPrev) prevKey = k.clone()
        res
      } ++ (if (hasPend) Some(write(out, pPk, pDense, pHead, pTied || contLast)) else None)
    }
  }

  /** One tail-round refinement over the LIVE rows only: `paired` =
    * (pk, rank = position rank / class head, rank2 = lookup rank of
    * pk+cover or −1, rank32 = pass-through payload), classes hashed
    * whole to partitions (atomic — every member of a tied class
    * carries the same `rank`), sorted locally by (rank, rank2), and
    * re-ranked IN PLACE: a member's new rank is its class head + the
    * number of class members with strictly smaller rank2 (= the local
    * index where its rank2 subgroup starts), which preserves the
    * position-rank invariant without touching any settled row. Emits
    * (pk, rank, rank32, tied) where tied = the row's (rank, rank2)
    * subgroup still has ≥ 2 members. A single-pass [[OrderedScan]]
    * clustered on rank: one hash exchange over live rows only, no
    * driver state, no per-class buffering (a one-row delay computes
    * the tied flag), so a pathological giant class costs sort time,
    * not memory. rank32 riding the (small) live rows is what lets the
    * build skip the corpus-sized final join the classical form paid to
    * re-attach the snapshot. */
  private[operators] def refineRound(paired: DataFrame): DataFrame =
    OrderedScan.over(paired.select(col("pk").cast(LongType), col("rank").cast(LongType),
      col("rank2").cast(LongType), col("rank32").cast(LongType)),
      Seq("rank", "rank2"), Refine, rankSchema("pk", "rank", "rank32"), clusterBy = Seq("rank"))

  private case object Refine extends ScanKernel[Unit] {
    def emit(carry: Unit, rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      var prevR = 0L; var prevR2 = 0L; var hasPrev = false
      var idx = 0L; var subHead = 0L
      var pPk = 0L; var pRank = 0L; var p32 = 0L; var pTied = false
      var hasPend = false
      rows.flatMap { r =>
        val rk = r.getLong(1); val r2 = r.getLong(2)
        if (!hasPrev || rk != prevR) { idx = 0L; subHead = rk }
        else if (r2 != prevR2) { subHead = rk + idx }
        val same = hasPrev && rk == prevR && r2 == prevR2
        val res = if (hasPend) Some(write(out, pPk, pRank, p32, pTied || same)) else None
        pPk = r.getLong(0); pRank = subHead; p32 = r.getLong(3); pTied = same
        hasPend = true
        idx += 1; prevR = rk; prevR2 = r2; hasPrev = true
        res
      } ++ (if (hasPend) Some(write(out, pPk, pRank, p32, pTied)) else None)
    }
  }

  /** Suffix-count threshold above which [[build]] switches to the
    * SPILL-BOUNDED mode: the bootstrap and every tail round are
    * handed off through parquet dirs instead of local checkpoints. The
    * handoff CUTS THE LINEAGE, so a round's join/exchange shuffle
    * files become unreachable the moment the round rebinds — the
    * forced GC then reclaims them INSIDE the round. Round dirs hold
    * the settled rows and are kept until the build lands; their
    * total is one row per suffix PLUS one row per (round, still-live
    * suffix), which on natural corpora is ≈ n and on an adversarial
    * everything-stays-tied corpus is capped by the COMPACTION guard
    * (when cumulative written rows exceed 3n, the latest-rank view is
    * rewritten into one dir and the round dirs retired — disk stays
    * ≤ ~4 corpus-sized snapshots, independent of round count). Below
    * the threshold each round lands in an eager local checkpoint (no
    * I/O, oracle-verified at the gates), which cuts the lineage the
    * same way: a round's plan would otherwise hold every earlier
    * round's plan (live rows join the union of all settled frames),
    * so the plan to analyse grows about threefold per round (measured
    * at sf0.1: five rounds without the cut tripled the d14 build).
    * Checkpoint blocks go with their frames, through the context
    * cleaner. Override for tests via
    * `spark.graft.saCheckpointMinSuffixes`. */
  private val CkptMinSuffixesDefault: Long = 64L << 20

  /** Live-set bound under which each tail round prunes the rank-map
    * scan with a Bloom filter over the live keys (~8 bits/key at the
    * 2% fpp used here — ≤ ~70 MB broadcast at the default bound).
    * Past the bound the round keeps the unfiltered scan (the join
    * stays exact either way; the filter is a pure shuffle-bytes
    * saving, guide §3.2). Override via
    * `spark.graft.saBloomMaxLiveSuffixes`. */
  private val BloomMaxLiveDefault: Long = 1L << 26

  /** The suffix array: (doc_id, off, rank, rank32) — `rank` is the
    * 0-based position of suffix (doc_id, off) in the total suffix
    * order (ties between identical suffixes broken by (doc_id, off)),
    * `rank32` the dense rank under the 32-char-prefix equivalence.
    * Returned frame: cached+materialized (in-memory mode) or backed
    * by a session-lifetime temp parquet dir (spill-bounded mode);
    * callers treat both uniformly (unpersist() is a no-op on the
    * latter).
    *
    * `resultDir`: when given, the final array is WRITTEN THERE (one
    * parquet write, both modes) and the returned frame reads it back
    * — the caller owns that dir's lifecycle. This is the persisted-
    * index path (SuffixArrayIndex): without it the spill-bounded mode
    * would land the result in its own temp root and the index build
    * would re-read + rewrite a corpus-sized array (double peak disk
    * and I/O for the sf10 construction, the round-14 ADVICE item). */
  def build(docs: DataFrame, resultDir: Option[String] = None): DataFrame = {
    // empty-text docs have NO suffixes (split("", "") would emit one
    // phantom "" row) and an all-empty/empty corpus has a NULL
    // max(length) — both must yield the documented suffix set, which
    // the Python oracle states over non-empty texts only
    val nonEmpty = docs.filter(length(col("text")) > 0)
    // ONE bounds pass also carries the suffix count (sum of code-point
    // lengths == number of exploded suffixes) — previously a separate
    // corpus-sized count() job materialized the per-character explode
    // just to count it
    val bounds = nonEmpty.agg(max(length(col("text"))),
      min(col("doc_id").cast(LongType)), max(col("doc_id").cast(LongType)),
      sum(length(col("text")).cast(LongType))).head()
    val maxLen = Option(bounds.get(0)).map(_.asInstanceOf[Int].toLong).getOrElse(0L)
    val (minDoc, maxDoc) =
      if (bounds.isNullAt(1)) (0L, 0L) else (bounds.getLong(1), bounds.getLong(2))
    // loud pk-packing guards (see the scaladoc aliasing analysis)
    require(minDoc >= 0L && maxDoc < (1L << 31),
      s"suffix-array pk packing needs 0 <= doc_id < 2^31, got [$minDoc, $maxDoc]")
    require(maxLen < (1L << 30),
      s"suffix-array pk packing needs doc length < 2^30 chars, got $maxLen")
    val n = if (bounds.isNullAt(3)) 0L else bounds.getLong(3)
    val s = docs.sparkSession
    // scan-width gate (round 18, the loadDocsWide lesson applied to
    // the build, guide §2.5 input skew): sf-dir corpora land as ONE
    // parquet file, so the explode+substring bootstrap projection
    // chained straight onto the scan ran on a single core (measured:
    // an 8.4 s one-task stage at sf0.1 — the largest single stage of
    // the build). One hash exchange of the compact (doc_id, text)
    // rows fans the kernel out; a Generate is never sunk below a
    // repartition (unlike the bare projections the docsWide note
    // documents), so no cache boundary is needed. On a many-file
    // layout the scan is already wide and the exchange is skipped.
    val src =
      if (nonEmpty.rdd.getNumPartitions >= s.sparkContext.defaultParallelism)
        nonEmpty
      else nonEmpty.repartition(col("doc_id"))
    val chars = src.select(col("doc_id").cast(LongType).as("doc_id"),
      col("text"), posexplode(split(col("text"), "")).as(Seq("off", "ch")))
      .select(expr("substring(text, off + 1, 32)").as("p32"),
        (shiftleft(col("doc_id"), 32) + col("off").cast(LongType)).as("pk"))
      // the bootstrap's range exchange SAMPLES its input to pick
      // boundaries — a full extra evaluation of the explode+substring
      // projection; this cache makes the sampling pass the one real
      // evaluation, and is retired once the bootstrap has landed
      .cache()
    val ckpt = n >= s.conf.getOption("spark.graft.saCheckpointMinSuffixes")
      .map(_.toLong).getOrElse(CkptMinSuffixesDefault)
    val bloomMax = s.conf.getOption("spark.graft.saBloomMaxLiveSuffixes")
      .map(_.toLong).getOrElse(BloomMaxLiveDefault)
    val tmpRoot: java.nio.file.Path =
      if (ckpt) {
        val p = java.nio.file.Files.createTempDirectory("graft_sa_")
        sys.addShutdownHook(ArtifactDir.deleteTree(p)) // session-lifetime
        p
      } else null

    // ---- bootstrap: one range exchange → (pk, rank32, rank, tied)
    val bootRaw = bootstrapRank(chars)
    val boot: DataFrame =
      if (ckpt) {
        val dir = tmpRoot.resolve("boot").toString
        bootRaw.write.mode("overwrite").parquet(dir)
        chars.unpersist()
        System.gc()
        s.read.parquet(dir)
      } else {
        val b = bootRaw.localCheckpoint(true)
        chars.unpersist()
        b
      }
    // ---- tail rounds over the live (still-tied) rows only. rank32
    // (the bootstrap dense ranking, see scaladoc) rides the rows as a
    // pass-through payload — settled rows keep it where they landed
    // and live rows carry 8 extra bytes through the (small) round
    // exchanges — so the final artifact needs NO corpus-sized join to
    // re-attach the snapshot (the classical form paid one).
    val rowCols = Seq(col("pk"), col("rank"), col("rank32"))
    var settled: List[DataFrame] =
      List(boot.filter(!col("tied")).select(rowCols: _*))
    var live: DataFrame = boot.filter(col("tied")).select(rowCols: _*)
    var liveCnt: Long = if (n == 0) 0L else live.count()
    System.err.println(s"[sa-build] bootstrap (cover=32) -> live $liveCnt / $n")
    var cover = 32L
    var roundIdx = 0
    var roundDirs: List[String] = Nil // ckpt round dirs (retired at the end)
    var written: Long = n // ckpt compaction guard (see CkptMinSuffixes doc)
    while (liveCnt > 0 && cover < maxLen) {
      roundIdx += 1
      // rank map = latest rank per suffix: rows settle in exactly one
      // round (tied=false there, absent later), live rows ride the
      // newest frame — each pk appears exactly once in the union
      val rankMap = (settled :+ live).map(_.select(col("pk"), col("rank")))
        .reduce(_.unionByName(_))
      // Bloom-prune the map scan to (approximately) the rows some live
      // suffix will look up: keep pk where pk − cover ∈ live keys. No
      // false negatives ⇒ the left join below is exact; false
      // positives are dropped by the join. Size-gated; the over-bound
      // fallback is the unfiltered scan.
      val pruned =
        if (liveCnt <= bloomMax) {
          val bf = live.stat.bloomFilter("pk", liveCnt, 0.02)
          val bfB = s.sparkContext.broadcast(bf)
          val might = udf((x: Long) => bfB.value.mightContainLong(x))
          rankMap.filter(might(col("pk") - cover))
        } else rankMap
      val lookup = pruned
        .select((col("pk") - cover).as("pk"), col("rank").as("rank2"))
      val paired = live.join(lookup, Seq("pk"), "left")
        .select(col("pk"), col("rank"),
          coalesce(col("rank2"), lit(-1L)).as("rank2"), col("rank32"))
      val out = refineRound(paired)
      var outF: DataFrame = null
      if (ckpt) {
        if (written + liveCnt > 3L * n) {
          // compaction: rewrite the latest-rank view into ONE dir and
          // retire the round dirs (boot is retired at the end with
          // everything else) — bounds disk for corpora where nothing
          // settles
          val cdir = tmpRoot.resolve(s"c$roundIdx").toString
          settled.map(_.withColumn("tied", lit(false)))
            .reduce(_.unionByName(_)).unionByName(out)
            .write.mode("overwrite").parquet(cdir)
          roundDirs.foreach(d => ArtifactDir.deleteTree(java.nio.file.Paths.get(d)))
          roundDirs = List(cdir)
          System.gc()
          val read = s.read.parquet(cdir)
          settled = Nil // the compacted dir now carries every settled row
          outF = read
          written = n
        } else {
          val dir = tmpRoot.resolve(s"r$roundIdx").toString
          out.write.mode("overwrite").parquet(dir)
          roundDirs ::= dir
          System.gc()
          outF = s.read.parquet(dir)
          written += liveCnt
        }
      } else outF = out.localCheckpoint(true)
      settled :+= outF.filter(!col("tied")).select(rowCols: _*)
      live = outF.filter(col("tied")).select(rowCols: _*)
      liveCnt = live.count()
      // round telemetry (stderr, one line per round): the tail
      // optimization's whole point is this number collapsing — the
      // measurement evidence a profiler run reads off directly
      System.err.println(
        s"[sa-build] round $roundIdx cover=$cover -> live $liveCnt / $n")
      cover *= 2
    }
    // residual live rows are IDENTICAL suffixes: the deterministic
    // final tie-break by pk ((doc_id, off) order) settles them with
    // the same local per-class re-rank
    val finalSettled =
      if (liveCnt == 0) settled
      else settled :+ refineRound(
        live.select(col("pk"), col("rank"), col("pk").as("rank2"),
          col("rank32")))
        .select(rowCols: _*)
    // coalesce the branch union back to the session parallelism: the
    // artifact would otherwise land as (#branches × partitions) tiny
    // files (measured: 224 write tasks at sf0.1), taxing every derive
    // scan; coalesce is narrow — each writer folds the branch
    // partitions without a shuffle
    val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val joined = finalSettled.reduce(_.unionByName(_))
      .coalesce(parts)
      .select(shiftright(col("pk"), 32).as("doc_id"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("off"),
        col("rank"), col("rank32"))
    if (ckpt) {
      // land the result (in the caller's dir when given, else the
      // temp root), then retire EVERY intermediate: the returned
      // frame is a plain parquet read, no cache to leak, lineage
      // independent of the retired rounds
      val resDir = resultDir.getOrElse(tmpRoot.resolve("result").toString)
      joined.write.mode("overwrite").parquet(resDir)
      (tmpRoot.resolve("boot").toString :: roundDirs)
        .foreach(d => ArtifactDir.deleteTree(java.nio.file.Paths.get(d)))
      // caller-owned result ⇒ nothing of the build remains in the
      // temp root; reclaim it now instead of at JVM shutdown
      if (resultDir.isDefined) ArtifactDir.deleteTree(tmpRoot)
      System.gc()
      s.read.parquet(resDir)
    } else resultDir match {
      case Some(resDir) =>
        // persisted-index path: ONE write (the write materializes the
        // plan), returned frame reads the artifact
        joined.write.mode("overwrite").parquet(resDir)
        s.read.parquet(resDir)
      case None =>
        val result = joined.cache()
        result.count()
        result
    }
  }
}
