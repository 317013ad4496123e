package graft.operators

import graft.etl.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** GeneralizedSuffixArray: the distributed prefix-doubling
  * construction against a plain driver-side suffix sort — the SA
  * order, the rank32 equivalence, and the d14 repeat report over a
  * planted corpus with KNOWN longest repeats. (The python oracle is
  * the cross-engine check at the gate; this is the
  * cross-implementation check plus the planted-structure case.)
  */
class SuffixArraySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def saDriver(rows: Seq[(Long, String)]): Seq[(String, Long, Long)] =
    rows.flatMap { case (id, t) =>
      (0 until t.length).map(o => (t.substring(o), id, o.toLong))
    }.sortBy(identity)

  test("SA order and rank32 match a driver suffix sort at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = saDriver(docs)
    val got = GeneralizedSuffixArray.build(
      graft.Tables.load(spark, sf, "documents").selectExpr("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == expected.length)
    // rank = position in the driver sort
    val byRank = got.sortBy(_._3)
    byRank.zip(expected).foreach { case ((d, o, _, _), (_, ed, eo)) =>
      assert((d, o) == (ed, eo), s"SA order diverges at ($d,$o) vs ($ed,$eo)")
    }
    // rank32 equivalence == equality of 32-char prefixes
    val textOf = docs.toMap
    val r32 = got.map { case (d, o, _, r32v) =>
      (textOf(d).substring(o.toInt).take(32), r32v)
    }
    val byPrefix = r32.groupBy(_._1).values
    byPrefix.foreach(g => assert(g.map(_._2).distinct.length == 1))
    assert(r32.map(_._1).distinct.length == r32.map(_._2).distinct.length)
  }

  test("d14 finds a planted long repeat") {
    import spark.implicits._
    val repeat = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (0L, s"alpha beta $repeat gamma delta"),
      (1L, s"zeta eta theta $repeat iota"),
      (2L, "completely unrelated words only here"),
      (3L, "another unrelated document with its own content"))
    val dir = java.nio.file.Files.createTempDirectory("d14spec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = graft.SparkEntry.queries("d14_longest_dup_substrings")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(out.nonEmpty)
      // full driver recompute of the report from the suffix sort
      val sufs = saDriver(rows)
      val expected = sufs.zip(sufs.tail).flatMap {
        case ((s1, d1, o1), (s2, d2, o2)) =>
          val l = s1.zip(s2).takeWhile(p => p._1 == p._2).length.toLong
          if (l >= 32) Some((math.min(l, 2048L), d1, o1, d2, o2)) else None
      }.sortBy { case (l, da, oa, db, ob) => (-l, da, oa, db, ob) }.take(20)
      assert(out.toSeq === expected)
      // the planted repeat surfaces at full strength: the top hit's
      // common prefix CONTAINS the planted string ("eta " from
      // beta/theta extends it left of the plant — the arbitrary-length
      // property the operator exists for)
      val topText = rows.toMap.apply(out.head._2)
        .substring(out.head._3.toInt, out.head._3.toInt + out.head._1.toInt)
      assert(topText.contains(repeat))
      assert(out.head._1 >= repeat.length.toLong)
      // every reported lcp is a genuine common substring
      val textOf = rows.toMap
      out.foreach { case (l, da, oa, db, ob) =>
        val a = textOf(da).substring(oa.toInt)
        val b = textOf(db).substring(ob.toInt)
        assert(a.take(l.toInt) == b.take(l.toInt))
        assert(l >= 32)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Driver recompute of the d15 contract: predecessor-LCP ≥ 32 spans
    * on the SA-later suffix, union-merged per doc, complement text. */
  private def d15Driver(rows: Seq[(Long, String)])
      : Seq[(Long, Long, Long, String)] = {
    val sufs = saDriver(rows)
    val spans = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
    sufs.zip(sufs.tail).foreach { case ((s1, _, _), (s2, d2, o2)) =>
      val l = math.min(s1.zip(s2).takeWhile(p => p._1 == p._2).length.toLong, 2048L)
      if (l >= 32) spans(d2) = (o2, o2 + l) :: spans.getOrElse(d2, Nil)
    }
    rows.sortBy(_._1).map { case (id, t) =>
      val merged = spans.getOrElse(id, Nil).sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: acc, (st, en)) if st <= pe =>
            (ps, math.max(pe, en)) :: acc
          case (acc, iv) => iv :: acc
        }.reverse
      val removed = merged.map { case (st, en) => en - st }.sum
      val sb = new StringBuilder
      var pos = 0L
      merged.foreach { case (st, en) =>
        sb.append(t.substring(pos.toInt, st.toInt)); pos = en
      }
      sb.append(t.substring(pos.toInt))
      (id, t.length.toLong, removed, sb.toString)
    }
  }

  test("d15 removes planted repeats, keeps the SA-first occurrence") {
    import spark.implicits._
    val repeat = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (0L, s"alpha beta $repeat gamma delta"),
      (1L, s"zeta eta theta $repeat iota"),
      (2L, s"mid $repeat tail $repeat end"), // self-repeat inside one doc
      (3L, "another unrelated document with its own content"),
      (4L, "")) // empty text must round-trip untouched
    val dir = java.nio.file.Files.createTempDirectory("d15spec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = graft.SparkEntry.queries("d15_substring_removal")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSeq
      val expected = d15Driver(rows)
      assert(out === expected)
      // the planted repeat is GONE from every doc except exactly one
      // keeper occurrence corpus-wide (SA-first), and untouched docs
      // round-trip byte-identical
      val cleaned = out.map(_._4)
      val keptOccurrences = cleaned.map { t =>
        var c = 0; var i = t.indexOf(repeat)
        while (i >= 0) { c += 1; i = t.indexOf(repeat, i + 1) }
        c
      }.sum
      assert(keptOccurrences == 1, s"expected exactly one kept copy, got $keptOccurrences")
      assert(out(3)._4 == rows(3)._2) // no spans → identity
      assert(out(3)._3 == 0L)
      assert(out(4) == ((4L, 0L, 0L, ""))) // empty doc: no phantom suffix
      // removal accounting is consistent
      out.foreach { case (_, nChars, nRemoved, clean) =>
        assert(clean.length.toLong == nChars - nRemoved)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Driver recompute of the d16 contract: per-boundary capped LCPs
    * over the suffix sort, two directional gated-min scans, spans
    * ≥ 32 union-merged per EVAL doc (doc_id % 37 == 0). */
  private def d16Driver(rows: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long)] = {
    val sufs = saDriver(rows)
    val n = sufs.length
    val lcps = new Array[Long](n + 1)
    for (i <- 1 until n) {
      val (s1, _, _) = sufs(i - 1); val (s2, _, _) = sufs(i)
      lcps(i) = math.min(s1.zip(s2).takeWhile(p => p._1 == p._2).length.toLong, 2048L)
    }
    val inf = 1L << 60
    val best = new Array[Long](n)
    var st = -1L
    for (i <- 0 until n) {
      if (sufs(i)._2 % 37 != 0) st = inf
      else {
        st = if (st == -1L) -1L else math.min(st, lcps(i))
        if (st > best(i)) best(i) = st
      }
    }
    st = -1L
    for (i <- (n - 1) to 0 by -1) {
      if (sufs(i)._2 % 37 != 0) st = inf
      else {
        st = if (st == -1L) -1L else math.min(st, lcps(i + 1))
        if (st > best(i)) best(i) = st
      }
    }
    val spans = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
    for (i <- 0 until n; if best(i) >= 32) {
      val (_, did, o) = sufs(i)
      spans(did) = (o, o + best(i)) :: spans.getOrElse(did, Nil)
    }
    rows.filter(_._1 % 37 == 0).sortBy(_._1).map { case (id, t) =>
      val merged = spans.getOrElse(id, Nil).sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: acc, (s0, e0)) if s0 <= pe =>
            (ps, math.max(pe, e0)) :: acc
          case (acc, iv) => iv :: acc
        }.reverse
      (id, t.length.toLong, merged.map { case (s0, e0) => e0 - s0 }.sum,
        merged.length.toLong)
    }
  }

  test("d16 finds planted verbatim eval-in-train passages, exact spans") {
    import spark.implicits._
    val passage = "the verbatim benchmark passage that leaked into the training corpus"
    val rows = Seq(
      // eval docs: doc_id % 37 == 0
      (0L, s"eval starts $passage eval ends"),          // contaminated
      (37L, "a fully original evaluation document here"), // clean
      (74L, s"$passage twice around $passage here"),    // two spans (merge check)
      // train docs
      (1L, s"train doc containing $passage in the middle"),
      (2L, "another train document with nothing shared"),
      (40L, "yet more unrelated training text goes here"))
    val dir = java.nio.file.Files.createTempDirectory("d16spec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = graft.SparkEntry.queries("d16_exact_decontamination")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(out === d16Driver(rows))
      val byId = out.map(t => t._1 -> t).toMap
      assert(byId(0L)._3 >= passage.length.toLong) // contaminated span found
      assert(byId(37L)._3 == 0L && byId(37L)._4 == 0L) // clean doc clean
      assert(byId(74L)._3 >= 2L * passage.length) // both occurrences flagged
      // spans never exceed the doc
      out.foreach { case (_, nChars, contam, _) => assert(contam <= nChars) }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("spill-bounded (parquet-handoff) build equals the in-memory build") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents").selectExpr("doc_id", "text")
    val inMem = GeneralizedSuffixArray.build(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)) // collected before flipping the mode
    val pinned = spark.newSession() // conf-isolated clone (Q.forcedBig idiom)
    pinned.conf.set("spark.graft.saCheckpointMinSuffixes", "1")
    val ckpt = GeneralizedSuffixArray.build(
      graft.Tables.load(pinned, sf, "documents").selectExpr("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(ckpt === inMem)
  }

  test("d17 persisted-index report equals a fresh d14 (build once, derive again)") {
    val sf = "/root/testdata/sf0.001"
    val fresh = graft.SparkEntry.queries("d14_longest_dup_substrings")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val dir = SuffixArrayIndex.ensureBuilt(spark, sf)
    assert(new java.io.File(dir, "sa/_SUCCESS").exists)
    val viaIndex = graft.SparkEntry.queries("d17_sa_index_report")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex === fresh)
    // second call reuses the artifact (no rebuild): the marker's mtime
    // is unchanged across an ensureBuilt round-trip
    val m = new java.io.File(dir, "sa/_SUCCESS").lastModified
    SuffixArrayIndex.ensureBuilt(spark, sf)
    assert(new java.io.File(dir, "sa/_SUCCESS").lastModified == m)
  }

  /** Driver recompute of the d18 contract: d16's gated-min scans with
    * the roles swapped (reset on EVAL suffixes, emit train suffixes),
    * spans union-merged per TRAIN doc, cleaned text the complement. */
  private def d18Driver(rows: Seq[(Long, String)])
      : Seq[(Long, Long, Long, String)] = {
    val sufs = saDriver(rows)
    val n = sufs.length
    val lcps = new Array[Long](n + 1)
    for (i <- 1 until n) {
      val (s1, _, _) = sufs(i - 1); val (s2, _, _) = sufs(i)
      lcps(i) = math.min(s1.zip(s2).takeWhile(p => p._1 == p._2).length.toLong, 2048L)
    }
    val inf = 1L << 60
    val best = new Array[Long](n)
    var st = -1L
    for (i <- 0 until n) {
      if (sufs(i)._2 % 37 == 0) st = inf
      else {
        st = if (st == -1L) -1L else math.min(st, lcps(i))
        if (st > best(i)) best(i) = st
      }
    }
    st = -1L
    for (i <- (n - 1) to 0 by -1) {
      if (sufs(i)._2 % 37 == 0) st = inf
      else {
        st = if (st == -1L) -1L else math.min(st, lcps(i + 1))
        if (st > best(i)) best(i) = st
      }
    }
    val spans = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
    for (i <- 0 until n; if best(i) >= 32) {
      val (_, did, o) = sufs(i)
      spans(did) = (o, o + best(i)) :: spans.getOrElse(did, Nil)
    }
    rows.filter(_._1 % 37 != 0).sortBy(_._1).map { case (id, t) =>
      val merged = spans.getOrElse(id, Nil).sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: acc, (s0, e0)) if s0 <= pe =>
            (ps, math.max(pe, e0)) :: acc
          case (acc, iv) => iv :: acc
        }.reverse
      val sb = new StringBuilder
      var pos = 0L
      merged.foreach { case (s0, e0) =>
        sb.append(t.substring(pos.toInt, s0.toInt)); pos = e0
      }
      sb.append(t.substring(pos.toInt))
      (id, t.length.toLong, merged.map { case (s0, e0) => e0 - s0 }.sum,
        sb.toString)
    }
  }

  test("d18 scrubs planted eval passages FROM train docs, eval side untouched") {
    import spark.implicits._
    val passage = "the verbatim benchmark passage that leaked into the training corpus"
    val rows = Seq(
      // eval docs: doc_id % 37 == 0
      (0L, s"eval starts $passage eval ends"),
      (37L, "a fully original evaluation document here"),
      // train docs
      (1L, s"train doc containing $passage in the middle"),   // scrubbed
      (2L, "another train document with nothing shared"),     // untouched
      (5L, s"$passage opens and $passage closes this one"),   // two spans
      (40L, "yet more unrelated training text goes here"))
    val dir = java.nio.file.Files.createTempDirectory("d18spec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = graft.SparkEntry.queries("d18_train_decontamination")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSeq
      assert(out === d18Driver(rows))
      val byId = out.map(t => t._1 -> t).toMap
      // only train docs are reported, all of them
      assert(out.map(_._1).toSet == Set(1L, 2L, 5L, 40L))
      // the leaked passage is gone from every train doc
      assert(!byId(1L)._4.contains(passage) && byId(1L)._3 >= passage.length.toLong)
      assert(!byId(5L)._4.contains(passage) && byId(5L)._3 >= 2L * passage.length)
      // untouched train docs round-trip byte-identical
      assert(byId(2L)._4 == rows.toMap.apply(2L) && byId(2L)._3 == 0L)
      assert(byId(40L)._4 == rows.toMap.apply(40L) && byId(40L)._3 == 0L)
      // accounting: clean length == n_chars − n_scrubbed
      out.foreach { case (_, nc, sc, clean) =>
        assert(clean.length.toLong == nc - sc)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("d16 and d18 past the segment bound fall back to two scans, same answer") {
    import spark.implicits._
    val passage = "the verbatim benchmark passage that leaked into the training corpus"
    val rows = Seq(
      (0L, s"eval starts $passage eval ends"),
      (37L, "a fully original evaluation document here"),
      (74L, s"$passage twice around $passage here"),
      (1L, s"train doc containing $passage in the middle"),
      (2L, "another train document with nothing shared"),
      (5L, s"$passage opens and $passage closes this one"),
      (40L, "yet more unrelated training text goes here"))
    val dir = java.nio.file.Files.createTempDirectory("saBoundSpec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // bound 0: every emit run (d16: eval suffixes, d18: train suffixes)
    // is over it, so the fused scan must refuse and the spans write
    // must go through crossSharedSpans' two-scan fallback
    val pinned = spark.newSession()
    pinned.conf.set("spark.graft.saScanMaxSegmentRows", "0")
    val refused = new java.util.concurrent.atomic.AtomicInteger
    pinned.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        if (GatedMinScan.boundExceeded(e)) refused.incrementAndGet()
    })
    def run(s: org.apache.spark.sql.SparkSession, q: String): Seq[Seq[Any]] =
      graft.SparkEntry.queries(q)(s, dir).collect().map(_.toSeq).toSeq
    def refusals(atLeast: Int): Int = {
      val until = System.nanoTime() + 20000000000L // listener events are async
      while (refused.get < atLeast && System.nanoTime() < until) Thread.sleep(50)
      refused.get
    }
    try {
      val d16 = run(spark, "d16_exact_decontamination")
      assert(run(pinned, "d16_exact_decontamination") === d16)
      assert(refusals(1) >= 1, "d16's fused scan must refuse past the bound")
      assert(d16.map(r => (r(0), r(2), r(3), r(4))) === d16Driver(rows))
      val d18 = run(spark, "d18_train_decontamination")
      assert(run(pinned, "d18_train_decontamination") === d18)
      assert(refusals(2) >= 2, "d18's fused scan must refuse past the bound")
      assert(d18.map(r => (r(0), r(2), r(3), r(4))) === d18Driver(rows))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("persisted index content equals a fresh build (single-write resultDir path)") {
    val sf = "/root/testdata/sf0.001"
    val fresh = GeneralizedSuffixArray.build(
      graft.Tables.load(spark, sf, "documents").selectExpr("doc_id", "text"))
    val freshRows = fresh.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    fresh.unpersist()
    val dir = SuffixArrayIndex.ensureBuilt(spark, sf)
    val persisted = SuffixArrayIndex.load(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(persisted === freshRows)
  }

  test("d15 and d16 derive from the persisted index (build once, reuse thereafter)") {
    import spark.implicits._
    val repeat = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (0L, s"eval alpha $repeat gamma delta"), // eval: doc_id % 37 == 0
      (1L, s"zeta eta theta $repeat iota"),
      (2L, "completely unrelated words only here"))
    val dir = java.nio.file.Files.createTempDirectory("saidxspec").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val d15a = graft.SparkEntry.queries("d15_substring_removal")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val idx = new java.io.File(SuffixArrayIndex.indexDirFor(dir), "sa/_SUCCESS")
      assert(idx.exists, "d15 must have built the persisted SA index")
      val m = idx.lastModified
      // d16 and a second d15 REUSE the artifact (no rebuild) and both
      // still equal the independent driver recomputes
      val d16out = graft.SparkEntry.queries("d16_exact_decontamination")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      val d15b = graft.SparkEntry.queries("d15_substring_removal")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(idx.lastModified == m, "derives must not rebuild the index")
      assert(d15b === d15a)
      assert(d15a.map(s => (s(0), s(2), s(3), s(4))) ===
        d15Driver(rows).map(t => (t._1, t._2, t._3, t._4)))
      assert(d16out === d16Driver(rows))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Code-point (NOT UTF-16 code unit) suffix sort — the astral
    * cross-check: Python string semantics restated on the driver. */
  private def cpSaDriver(rows: Seq[(Long, String)]): Seq[(Vector[Int], Long, Long)] = {
    import scala.math.Ordering.Implicits._
    rows.flatMap { case (id, t) =>
      val cps = t.codePoints.toArray.toVector
      cps.indices.map(o => (cps.drop(o), id, o.toLong))
    }.sorted
  }

  test("astral (non-BMP) text: offsets, LCPs and stitching are code-point exact") {
    import spark.implicits._
    val clef = new String(Character.toChars(0x1D11E)) // U+1D11E, 2 UTF-16 units
    val face = new String(Character.toChars(0x1F600)) // U+1F600
    // the planted repeat itself contains astral chars, and doc 1
    // prefixes the plant with MORE astral chars than doc 0 — so any
    // UTF-16-unit indexing would misplace the span boundaries
    val repeat = s"astral $clef repeat $face body padded to pass the threshold $clef$face end"
    val rows = Seq(
      (0L, s"a$clef b $repeat tail"),
      (1L, s"$face$face$clef lead $repeat coda"),
      (2L, "plain ascii filler document with nothing shared"))
    val dir = java.nio.file.Files.createTempDirectory("saastral").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("x"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // d14 report == the code-point driver recompute
      val sufs = cpSaDriver(rows)
      val expected = sufs.zip(sufs.tail).flatMap {
        case ((s1, d1, o1), (s2, d2, o2)) =>
          val l = s1.zip(s2).takeWhile(p => p._1 == p._2).length.toLong
          if (l >= 32) Some((math.min(l, 2048L), d1, o1, d2, o2)) else None
      }.sortBy { case (l, da, oa, db, ob) => (-l, da, oa, db, ob) }.take(20)
      val out = graft.SparkEntry.queries("d14_longest_dup_substrings")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(out === expected, "SA offsets/LCPs must be code-point indexed")
      // d15: n_chars counts code points and the stitched clean text is
      // the code-point complement of the merged spans
      val d15out = graft.SparkEntry.queries("d15_substring_removal")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      val cpLen = rows.map { case (id, t) => id -> t.codePoints.count() }.toMap
      def hasLoneSurrogate(t: String): Boolean = {
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i)
          if (Character.isHighSurrogate(c)) {
            if (i + 1 >= t.length || !Character.isLowSurrogate(t.charAt(i + 1)))
              return true
            i += 2
          } else if (Character.isLowSurrogate(c)) return true
          else i += 1
        }
        false
      }
      d15out.foreach { case (id, nChars, nRemoved, clean) =>
        assert(nChars == cpLen(id), s"doc $id n_chars must count code points")
        assert(clean.codePoints.count() == nChars - nRemoved)
        // the stitch never splits an astral char into surrogate halves
        assert(!hasLoneSurrogate(clean), s"doc $id clean text has a lone surrogate")
      }
      // exactly one kept occurrence of the astral repeat corpus-wide
      val kept = d15out.map(_._4).map { t =>
        var c = 0; var i = t.indexOf(repeat)
        while (i >= 0) { c += 1; i = t.indexOf(repeat, i + 1) }
        c
      }.sum
      assert(kept == 1, s"expected exactly one kept astral-repeat copy, got $kept")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("adversarial identical-doc corpus: ckpt compaction + bloom-off fallback stay exact") {
    // identical docs keep EVERY suffix class tied through every
    // doubling round (they only separate at the final pk tie-break):
    // the worst case for the round-18 live-set tail — the compaction
    // guard must trip in ckpt mode (len ≥ 257 ⇒ ≥ 4 rounds ⇒ written
    // > 3n) and the result must still equal the driver suffix sort,
    // with the Bloom pruning disabled (the over-bound fallback path)
    val base = "the same exact document body repeated verbatim in every row " * 5
    val rows = Seq((0L, base), (1L, base), (2L, base))
    assert(base.length >= 257)
    val expected = saDriver(rows)
    val pinned = spark.newSession()
    pinned.conf.set("spark.graft.saCheckpointMinSuffixes", "1")
    pinned.conf.set("spark.graft.saBloomMaxLiveSuffixes", "0")
    val ses = pinned
    import ses.implicits._
    val got = GeneralizedSuffixArray.build(
      Seq((0L, base), (1L, base), (2L, base)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == expected.length)
    val byRank = got.sortBy(_._3)
    byRank.zip(expected).foreach { case ((d, o, _, _), (_, ed, eo)) =>
      assert((d, o) == (ed, eo), s"SA order diverges at ($d,$o) vs ($ed,$eo)")
    }
    // ranks are the 0-based permutation (position ranks, fully settled)
    assert(byRank.map(_._3).toSeq == got.indices.map(_.toLong))
  }

  test("SA of an all-empty corpus is empty (no NPE, no phantom rows)") {
    import spark.implicits._
    val sa = GeneralizedSuffixArray.build(
      Seq((0L, ""), (1L, "")).toDF("doc_id", "text"))
    assert(sa.count() == 0L)
    sa.unpersist()
    // and a mixed corpus ranks only the non-empty docs' suffixes
    val sa2 = GeneralizedSuffixArray.build(
      Seq((0L, ""), (1L, "ab")).toDF("doc_id", "text"))
    val got = sa2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((1L, 0L), (1L, 1L)))
    sa2.unpersist()
  }
}
