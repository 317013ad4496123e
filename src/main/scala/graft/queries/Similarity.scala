package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline, an
  * IVF (centroid-bucketed) variant as the scale path, and per-label
  * centroid statistics.
  *
  * Numeric discipline: all arithmetic in double with a left-to-right
  * fold (`aggregate`), matching DuckDB's list_sum order, so the
  * oracle values are bit-identical before the final fixed rounding.
  * Scale notes: top-k never full-sorts the corpus in the IVF path —
  * candidates come from the 2 nearest centroid buckets; the brute
  * path is one map + one small sort of scores only.
  */
object Similarity extends QueryModule {

  import graft.functions.GraftFunctions.cosineSimilarity

  private def emb(s: SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  // s01: brute-force cosine top-20 for the query vector vec_id = 0.
  // Scoring runs through the codegen'd VectorDot/VectorNorm
  // expressions — numerically identical (left-to-right double fold) to
  // the oracle's list_sum formula.
  private def s01(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosineSimilarity(col("embedding"), col("qv")).as("cos"))
      .select(col("vec_id"),
        round(col("cos"), 6).cast(DecimalType(18, 6)).cast(DoubleType).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(20)
  }

  private val s01Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, CAST(CAST(ROUND(
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin

  // s02: per-label centroid norm, SINGLE-PASS — a FUSED vector
  // aggregate (VectorScaledLongSum: one Array[Long] buffer of 64
  // scaled-long element sums, one tight loop per row) + a count in ONE
  // aggregate (partial map-side, one shuffle of 10 labels × an
  // array<long>[64]), then the norm of the mean as a generated
  // left-associative expression chain. No posexplode (round-1 inflated
  // rows 64×, two shuffles); no 64 separate SUM expressions (the
  // unfused form re-evaluated 64 extract+round exprs per row — 16×
  // slower than DuckDB at sf10). Exactness: each element is rounded to
  // a scaled long at 1e9 (identical double→long rounding in both
  // engines), summed as integers (order-independent), divided in
  // double with identical association on both sides. Overflow bound:
  // per-label Σ|v|·1e9 < 2^63 (≈2.3e9 vectors/label at |v|≤4).
  private val Dims = 64

  private def s02(s: SparkSession, d: String): DataFrame = {
    val agged = emb(s, d).groupBy(col("label").cast(LongType).as("label"))
      .agg(graft.functions.GraftFunctions.vectorScaledSum(col("embedding"), Dims, 9)
        .as("sums"), count(lit(1)).as("n_vecs"))
    val means = (0 until Dims).map(i =>
      (element_at(col("sums"), i + 1).cast(DoubleType) / 1e9) / col("n_vecs"))
    val normSq = means.map(m => m * m).reduceLeft(_ + _)
    agged.select(col("label"),
      round(sqrt(normSq), 6).cast(DecimalType(18, 6)).cast(DoubleType).as("centroid_norm"),
      lit(64L).as("n_dims"))
      .orderBy("label")
  }

  private val s02Sql = {
    val sums = (1 to Dims).map(i =>
      s"SUM(CAST(ROUND(CAST(embedding[$i] AS DOUBLE) * 1e9, 0) AS BIGINT)) AS s_$i")
      .mkString(", ")
    def mean(i: Int) = s"((CAST(s_$i AS DOUBLE) / 1e9) / n_vecs)"
    val normSq = (1 to Dims).map(i => s"${mean(i)} * ${mean(i)}").mkString(" + ")
    s"""SELECT label,
       |  CAST(CAST(ROUND(sqrt($normSq), 6) AS DECIMAL(18,6)) AS DOUBLE) AS centroid_norm,
       |  CAST(64 AS BIGINT) AS n_dims
       |FROM (SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs, $sums
       |      FROM embeddings GROUP BY 1) t
       |ORDER BY 1""".stripMargin
  }

  // s03: IVF approximate top-k with a LEARNED coarse quantizer —
  // deterministic fixed-point Lloyd's k-means, nlist = ⌈√N⌉ (the
  // standard IVF sizing), 2-probe search. Round 3's quantizer was the
  // 10-value `label` column — correct per contract but not an index
  // you could build at 100 TB, where no labeled partition exists.
  //
  // Determinism (the oracle hash-matches a DuckDB recomputation of
  // the SAME training): init = first k vectors by vec_id; exactly
  // KMeansIters assignment/update rounds; assignment = argmax cosine
  // with ties to the smallest centroid id (identical left-to-right
  // double folds on both engines); update = the s02 fused scaled-long
  // aggregate (integer element sums — order-independent), mean taken
  // with identical association; empty clusters drop and ids renumber
  // in old-id order on both sides.
  //
  // 100 TB shape (the MLlib k-means loop): per round ONE broadcast of
  // the k×64-double codebook into a codegen'd map-side argmax and ONE
  // shuffle of ≤k fixed-width scaled-long buffers; the driver holds
  // only the codebook (k×64 doubles) and the query vector — bounded,
  // justified collects. Training cost is rounds × one corpus scan;
  // search scans only the nprobe probed buckets.
  private val KMeansIters = 3

  /** Codebook + top-10 under an `nprobe`-bucket search; s03 uses
    * nprobe = 2, the spec uses nprobe = nlist to assert IVF == brute
    * force under full probing. */
  /** Corpus with the double-cast vector column, repartitioned on
    * load: the cached corpus otherwise inherits the parquet split
    * count (a 50 MB file → 4 partitions → 4 of 32 cores train). */
  private[graft] def corpus(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id"), col("label").cast(LongType).as("label"),
      col("embedding"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .repartition(col("vec_id")).cache()

  /** Deterministic fixed-point Lloyd's k-means (see s03 scaladoc):
    * first-⌈√N⌉ init by vec_id, KMeansIters rounds of native argmax
    * assignment + fused scaled-long mean update. Shared by the
    * in-query s03 training and the persisted IvfIndex build, so the
    * two produce the SAME codebook on the same corpus. */
  private[graft] def trainCodebook(e: DataFrame): Array[Seq[Double]] = {
    val n = e.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    var cents: Array[Seq[Double]] = e.orderBy("vec_id").limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    for (_ <- 1 to KMeansIters) {
      // the update aggregates the DOUBLE view `v`: round(v_i·1e9) is
      // identical to round(cast(float_i as double)·1e9), so this is
      // value-identical to aggregating the float column — and it lets
      // corpora WITHOUT a float column (d11's planted near-dup corpus)
      // train through the same code path
      val grouped = e.withColumn("cid",
        graft.functions.GraftFunctions.argMaxCosine(col("v"), cents.map(_.toArray)))
        .groupBy(col("cid"))
        .agg(graft.functions.GraftFunctions.vectorScaledSum(col("v"), Dims, 9)
          .as("sums"), count(lit(1)).as("nc"))
        .orderBy("cid")
        .collect()
      cents = grouped.map { r =>
        val sums = r.getSeq[Long](1)
        val nc = r.getLong(2)
        sums.map(sl => (sl.toDouble / 1e9) / nc)
      }
    }
    cents
  }

  /** Driver-side cosine, same fold order as the engines' list_sum. */
  private[graft] def cosDriver(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Probe ranking over the driver-held codebook: nprobe best
    * centroids by cosine, ties to the smaller cid. */
  private[graft] def probeIds(cents: Array[Seq[Double]], qv: Seq[Double], nprobe: Int): Seq[Long] =
    cents.zipWithIndex.map { case (c, i) => (cosDriver(c, qv), i.toLong) }
      .sortBy { case (sim, i) => (-sim, i) }.take(nprobe).map(_._2).toSeq

  private[queries] def ivfTopK(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = corpus(s, d)
    val cents = trainCodebook(e)
    // native argmax-cosine assignment kernel — value-identical to the
    // transform+array_position(array_max) form (first max, NaN
    // greatest); measured 20×+ at 200 k × 448 over the HOF form
    def cidCol: Column =
      graft.functions.GraftFunctions.argMaxCosine(col("v"),
        cents.map(_.toArray))
    val qv = e.filter(col("vec_id") === 0).select(col("v")).collect()(0).getSeq[Double](0)
    val probes = probeIds(cents, qv, nprobe)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvemb"))
    e.withColumn("cid", cidCol)
      .filter(col("cid").isin(probes: _*))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("qvemb")), 6)
          .cast(DecimalType(18, 6)).cast(DoubleType).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)
  }

  private def s03(s: SparkSession, d: String): DataFrame = ivfTopK(s, d, 2)

  // The oracle restates the SAME fixed training as chained CTEs (the
  // round count is fixed, so no recursion): c0 = first-k init, then
  // (assign aᵢ, update cᵢ) × KMeansIters, posting lists a_final under
  // the final codebook, 2 probes, exact rescore.
  private[queries] def cosSql(v: String, c: String): String =
    s"list_sum(list_transform(range(1, 65), i -> $v[i] * $c[i])) / " +
      s"(sqrt(list_sum(list_transform($v, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($c, x -> x * x))))"

  /** The WITH-chain restating [[trainCodebook]]'s fixed training in
    * SQL, ending with `afinal` = (vec_id, label, embedding, v, cid)
    * under the final codebook `c<KMeansIters>`. Shared by s03's
    * oracle and d11's (semantic dedup) so both check the SAME
    * training contract. `veBody` is the training-corpus SELECT —
    * must yield (vec_id, label BIGINT, embedding, v DOUBLE[]); the
    * update step aggregates `v` (identical values to the float
    * column under the 1e9 scaled-long rounding, see trainCodebook). */
  private[queries] def kmeansAssignCtes(veBody: String = defaultVeBody): String = {
    def assignCte(a: String, c: String) =
      s"""$a AS (
         |  SELECT vec_id, label, embedding, v, cid FROM (
         |    SELECT e.vec_id, e.label, e.embedding, e.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM ve e, $c c) WHERE rn = 1)""".stripMargin
    def updateCte(c: String, a: String) =
      s"""$c AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY cid) - 1 AS cid, cv FROM (
         |    SELECT cid, list((CAST(sl AS DOUBLE) / 1e9) / n ORDER BY i) AS cv FROM (
         |      SELECT cid, i,
         |        SUM(CAST(ROUND(v[i] * 1e9, 0) AS BIGINT)) AS sl,
         |        COUNT(*) AS n
         |      FROM $a, range(1, 65) t(i) GROUP BY 1, 2) GROUP BY cid))""".stripMargin
    val iterCtes = (1 to KMeansIters).map(t =>
      assignCte(s"a$t", s"c${t - 1}") + ",\n" + updateCte(s"c$t", s"a$t")).mkString(",\n")
    s"""WITH ve AS ($veBody),
       |kk AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM ve),
       |c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv FROM ve
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |$iterCtes,
       |${assignCte("afinal", s"c$KMeansIters")}""".stripMargin
  }

  private[queries] val defaultVeBody: String =
    """SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings""".stripMargin

  private val s03Sql: String = {
    s"""${kmeansAssignCtes()},
       |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
       |             embedding AS qe
       |      FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM c$KMeansIters c, q
       |  ORDER BY ${cosSql("q.qv", "c.cv")} DESC, cid LIMIT 2)
       |SELECT e.vec_id, e.label, CAST(CAST(ROUND(
       |    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
       |FROM afinal e JOIN probes p USING (cid), q
       |WHERE e.vec_id <> 0
       |ORDER BY 3 DESC, 1 LIMIT 10""".stripMargin
  }

  // s04: int8 embedding quantization — the 4× storage/scan-IO
  // reduction a 100 TB embedding store runs on. Per-vector symmetric
  // quantization (q_i = round(x_i·127/max|x|), dequant q_i·max|x|/127)
  // then brute cosine top-10 in the quantized space. Engine-exact on
  // both sides: round() on identical doubles, left-to-right folds.
  // The ScalaTest suite asserts recall vs the full-precision s01.
  private def s04(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    // quantize+dequantize: deq_i = round(x_i * 127 / amax) * amax / 127
    val deq = e
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("dq", expr(
        "transform(v, x -> round(x * 127 / amax, 0) * amax / 127)"))
      .select(col("vec_id"), col("dq"))
    val q = deq.filter(col("vec_id") === 0).select(col("dq").as("qv"))
    deq.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosineSimilarity(col("dq"), col("qv")).as("cos"))
      .select(col("vec_id"),
        round(col("cos"), 6).cast(DecimalType(18, 6)).cast(DoubleType).as("cos_sim_q"))
      .orderBy(desc("cos_sim_q"), col("vec_id"))
      .limit(10)
  }

  private val s04Sql =
    """WITH deq AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> ROUND(x * 127 / amax, 0) * amax / 127) AS dq
      |  FROM (
      |    SELECT vec_id,
      |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |    FROM embeddings) b),
      |q AS (SELECT dq AS qv FROM deq WHERE vec_id = 0)
      |SELECT vec_id, CAST(CAST(ROUND(
      |    list_sum(list_transform(range(1, 65), i -> deq.dq[i] * q.qv[i]))
      |    / (sqrt(list_sum(list_transform(deq.dq, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qv, x -> x * x))))
      |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim_q
      |FROM deq, q
      |WHERE deq.vec_id <> 0
      |ORDER BY 2 DESC, 1 LIMIT 10""".stripMargin

  // s05: product-quantization ADC scan + exact rescore — the
  // compressed-domain half of the ANN story (s03's IVF prunes WHICH
  // vectors are scanned; PQ shrinks WHAT a scan reads: 64 floats →
  // 8 nibble codes = 256 B → 4 B per vector, so a 100 TB embedding
  // corpus ADC-scans from ~1.6 TB of codes + a broadcast codebook,
  // with exact rescore touching only the top-C candidates' full
  // vectors).
  //
  // Determinism (the oracle is a pure-Python recomputation of every
  // fold, scripts/py_oracles.py): per-subspace k-means with first-k
  // init by vec_id, exactly PqIters assignment/update rounds,
  // assignment = argmin L2² (d² = v·v − 2 v·c + c·c, left-to-right
  // folds, ties → smallest cid), update = scaled-long integer element
  // sums / count (empty clusters keep their centroid), ADC lookup
  // table of query-subvector inner products, candidate order
  // (approx desc, vec_id), exact-cosine rescore of the top
  // PqRescore.
  private val PqSubs = 8
  private val PqSubDim = 8
  private val PqK = 16
  private val PqIters = 3
  private val PqRescore = 50

  private[queries] def pqTopK(s: SparkSession, d: String): DataFrame = {
    // repartition on load for training parallelism (see ivfTopK)
    val e = emb(s, d).select(col("vec_id"), col("label").cast(LongType).as("label"),
      col("embedding"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .repartition(col("vec_id")).cache()

    // init: sub-slices of the first PqK vectors by vec_id
    val initRows = e.orderBy("vec_id").limit(PqK)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    var cents: Array[Array[Seq[Double]]] = Array.tabulate(PqSubs)(sub =>
      initRows.map(v => v.slice(sub * PqSubDim, (sub + 1) * PqSubDim)))

    // argmin-L2² codes for ALL subspaces in one native pass
    // (functions.PqAssignCodes) — value-identical to the per-subspace
    // transform+array_position(array_min) form (first min, NaN
    // greatest; d² op order preserved), which re-evaluated the
    // sub-slice and its self-dot per lambda element; measured 50×+ at
    // 200 k vectors
    def codesCol: Column =
      graft.functions.GraftFunctions.pqAssignCodes(col("v"),
        cents.map(_.map(_.toArray)), PqSubDim)

    for (_ <- 1 to PqIters) {
      // ONE pass updates all subspaces: explode (sub, cid), fused
      // scaled-long sub-vector sums, ≤ PqSubs·PqK fixed-width rows out
      val grouped = e.withColumn("codes", codesCol)
        .select(posexplode(col("codes")).as(Seq("sub", "cid")), col("embedding"))
        .groupBy(col("sub"), col("cid"))
        .agg(graft.functions.GraftFunctions.vectorScaledSum(
          expr(s"slice(embedding, sub * $PqSubDim + 1, $PqSubDim)"), PqSubDim, 9)
          .as("sums"), count(lit(1)).as("nc"))
        .collect()
      val next = cents.map(_.clone())
      grouped.foreach { r =>
        val (sub, cid) = (r.getInt(0), r.getInt(1))
        val sums = r.getSeq[Long](2)
        val nc = r.getLong(3)
        next(sub)(cid) = sums.map(sl => (sl.toDouble / 1e9) / nc)
      }
      cents = next // empty clusters keep their previous centroid
    }

    // ADC: lut[sub][cid] = q_sub · cent (left-to-right); approx(v) =
    // Σ_sub lut[sub][code_sub], folded sub = 0..7
    val qv = e.filter(col("vec_id") === 0).select(col("v")).collect()(0).getSeq[Double](0)
    def ip(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val lut: Seq[Seq[Double]] = (0 until PqSubs).map { sub =>
      val qs = qv.slice(sub * PqSubDim, (sub + 1) * PqSubDim)
      cents(sub).toSeq.map(c => ip(qs, c))
    }
    val lutLit = typedLit(lut.map(_.toIndexedSeq).toIndexedSeq)
    val approx = (0 until PqSubs)
      .map(sub => element_at(element_at(lutLit, sub + 1), col("codes")(sub) + 1))
      .reduce(_ + _)

    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvemb"))
    e.withColumn("codes", codesCol)
      .filter(col("vec_id") =!= 0)
      .withColumn("adc", approx)
      .orderBy(desc("adc"), col("vec_id"))
      .limit(PqRescore)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(col("adc"), 6).cast(DecimalType(18, 6)).cast(DoubleType).as("adc_ip"),
        round(cosineSimilarity(col("embedding"), col("qvemb")), 6)
          .cast(DecimalType(18, 6)).cast(DoubleType).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)
  }

  private def s05(s: SparkSession, d: String): DataFrame = pqTopK(s, d)

  // s06: the PERSISTED form of s03 — build the partitioned IVF index
  // (operators.IvfIndex) if this corpus doesn't already have one, then
  // answer the same 2-probe query by reading only the probed cid
  // partitions. Same trainer, same probes, same rescore → the s03
  // oracle checks the whole build→write→prune→read→search path end to
  // end. The index lives at a deterministic mtime-keyed dir
  // (IvfIndex.indexDirFor) so repeated runs amortize the build instead
  // of leaking a fresh corpus-sized copy per invocation.
  private def s06(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.IvfIndex.ensureBuilt(s, d)
    graft.operators.IvfIndex.search(s, d, dir, nprobe = 2, k = 10)
  }

  // s09: FILTERED ANN over the persisted index — neighbors of the
  // query vector restricted to its own label class (the metadata-
  // constrained query every curation pipeline runs: near-dups within
  // a source/class, not across the corpus). Engine-side the label
  // equality composes with the index layout — cid partition pruning +
  // a parquet pushed filter on label inside the probed buckets (see
  // operators.IvfIndex.searchFiltered for the recall trade and why
  // nprobe rises to 4). The oracle restates the same training chain
  // as s03 with the probe LIMIT at 4 and the label predicate on the
  // final rescore — one contract covering build→prune→filter→search.
  private def s09(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.IvfIndex.ensureBuilt(s, d)
    graft.operators.IvfIndex.searchFiltered(s, d, dir, nprobe = 4, k = 10)
  }

  private val s09Sql: String = {
    s"""${kmeansAssignCtes()},
       |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
       |             embedding AS qe, CAST(label AS BIGINT) AS qlab
       |      FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM c$KMeansIters c, q
       |  ORDER BY ${cosSql("q.qv", "c.cv")} DESC, cid LIMIT 4)
       |SELECT e.vec_id, e.label, CAST(CAST(ROUND(
       |    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
       |FROM afinal e JOIN probes p USING (cid), q
       |WHERE e.vec_id <> 0 AND e.label = q.qlab
       |ORDER BY 3 DESC, 1 LIMIT 10""".stripMargin
  }

  // s10: BATCH ANN over the persisted index — the 32 query vectors
  // (vec_id < 32, bounded by construction) answered in ONE postings
  // pass: probes ranked per query against the driver-held codebook,
  // the union of probed partitions read once, the (q_id, cid, query
  // embedding) table broadcast, per-query top-5 via the rank-window
  // idiom (TopKRewrite → bounded map-side aggregate). The oracle
  // restates probe ranking as a per-query ROW_NUMBER ≤ 4 over the
  // final codebook and the same decimal-rounded rescore.
  private def s10(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.IvfIndex.ensureBuilt(s, d)
    graft.operators.IvfIndex.searchBatch(s, d, dir, nprobe = 4, k = 5, nQueries = 32)
  }

  private val s10Sql: String = {
    s"""${kmeansAssignCtes()},
       |qs AS (SELECT vec_id AS q_id, embedding AS qe,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |       FROM embeddings WHERE vec_id < 32),
       |pp AS (SELECT q_id, cid, qe FROM (
       |    SELECT qs.q_id, c.cid, qs.qe,
       |      ROW_NUMBER() OVER (PARTITION BY qs.q_id
       |        ORDER BY ${cosSql("qs.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM qs, c$KMeansIters c) WHERE rn <= 4),
       |sc AS (SELECT pp.q_id, e.vec_id, e.label, CAST(CAST(ROUND(
       |    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pp.qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(pp.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
       |  FROM afinal e JOIN pp USING (cid) WHERE e.vec_id <> pp.q_id)
       |SELECT q_id, rnk, vec_id, label, cos_sim FROM (
       |  SELECT q_id, vec_id, label, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS rnk FROM sc) WHERE rnk <= 5
       |ORDER BY 1, 2""".stripMargin
  }

  // s11: HYBRID retrieval fusion — the lexical+semantic composition
  // every production retrieval stack runs: BM25 (t12's scorer, the
  // one lexical-ranking owner) and ANN over the persisted IVF index
  // (s10's batch search) each rank their top-20 per query, then
  // reciprocal-rank fusion (Cormack et al. 2009) merges the lists:
  // rrf(doc) = Σ_lists 1/(60 + rank). Both engines compute the
  // contribution as the INTEGER ⌊1e9/(60+rank)⌋ — pure rank
  // arithmetic, no transcendentals, bit-identical (the t12
  // discipline) — and a doc missing from a list contributes 0.
  // Query entities are doc_ids 7/113/311 with their same-id vectors.
  //
  // Scale shape: the lexical side is t12's linear postings plan; the
  // semantic side reads only the probed IVF partitions with the
  // bounded TopK aggregate (s10); both lists are ≤|Q|·20 rows, so the
  // fusion join and final rank are bounded by construction — at
  // 100 TB the corpus-sized work stays in the two retrievers, and
  // fusion cost grows with |Q|, not the corpus.
  private def s11(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qIds = Seq(7L, 113L, 311L)
    val kList = 20
    val wl = Window.partitionBy(col("q_id")).orderBy(desc("sc"), col("doc_id"))
    val lexr = TextAnalysis.bm25Scored(s, d, qIds)
      .withColumn("r_lex", row_number().over(wl).cast(LongType))
      .filter(col("r_lex") <= kList)
      .select(col("q_id"), col("doc_id").as("id"), col("r_lex"))
    val dir = graft.operators.IvfIndex.ensureBuilt(s, d)
    val semr = graft.operators.IvfIndex
      .searchIds(s, d, dir, nprobe = 4, k = kList, qIds)
      .select(col("q_id"), col("vec_id").as("id"), col("rnk").as("r_sem"))
    val fused = lexr.join(semr, Seq("q_id", "id"), "full_outer")
      .select(col("q_id"), col("id"),
        (coalesce(expr("1000000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + r_sem)"), lit(0L))).as("rrf_pts"))
    val wf = Window.partitionBy(col("q_id")).orderBy(desc("rrf_pts"), col("id"))
    fused.withColumn("rnk", row_number().over(wf).cast(LongType))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("id"), col("rrf_pts"))
      .orderBy("q_id", "rnk")
  }

  // The oracle restates BOTH retrievers — the s03 k-means/probe chain
  // (semantic) and t12's BM25 chain (lexical, TextAnalysis.bm25CtesSql
  // — one SQL owner) — then the integer RRF fusion.
  private val s11Sql: String =
    s"""${kmeansAssignCtes()},
       |qs AS (SELECT vec_id AS q_id, embedding AS qe,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |       FROM embeddings WHERE vec_id IN (7, 113, 311)),
       |pp AS (SELECT q_id, cid, qe FROM (
       |    SELECT qs.q_id, c.cid, qs.qe,
       |      ROW_NUMBER() OVER (PARTITION BY qs.q_id
       |        ORDER BY ${cosSql("qs.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM qs, c$KMeansIters c) WHERE rn <= 4),
       |sems AS (SELECT pp.q_id, e.vec_id, CAST(CAST(ROUND(
       |    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pp.qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(pp.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
       |  FROM afinal e JOIN pp USING (cid) WHERE e.vec_id <> pp.q_id),
       |semr AS (SELECT q_id, vec_id AS id, rn AS r_sem FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM sems) x WHERE rn <= 20),
       |${TextAnalysis.bm25CtesSql},
       |lexr AS (SELECT q_id, doc_id AS id, rn AS r_lex FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sc DESC, doc_id) AS rn
       |    FROM sc) x WHERE rn <= 20),
       |fused AS (SELECT COALESCE(l.q_id, m.q_id) AS q_id, COALESCE(l.id, m.id) AS id,
       |    COALESCE(1000000000 // (60 + l.r_lex), 0)
       |      + COALESCE(1000000000 // (60 + m.r_sem), 0) AS rrf_pts
       |  FROM lexr l FULL OUTER JOIN semr m ON l.q_id = m.q_id AND l.id = m.id)
       |SELECT q_id, rnk, id, rrf_pts FROM (
       |  SELECT q_id, id, CAST(rrf_pts AS BIGINT) AS rrf_pts,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_pts DESC, id) AS BIGINT) AS rnk
       |  FROM fused) f WHERE rnk <= 10 ORDER BY 1, 2""".stripMargin

  // s12: SEMANTIC decontamination — the paraphrase-contamination
  // check of the model reports (eval examples whose EMBEDDING is
  // near-identical to a train example even when no verbatim span
  // survives — the failure mode d16's exact-substring and t08/t16/
  // t19's gram/Bloom forms cannot see; cf. the decontamination
  // appendices of the big-LM papers). Composition of proven parts:
  // the PERSISTED IVF index (s06's build-once artifact) probed by the
  // EVAL split (t08's doc_id % 37 == 0 discipline, here on vec_id)
  // with the CANDIDATE side restricted to train vectors — one
  // bucketed probe, never an eval×train cartesian — and d11's
  // threshold discipline (τ = 0.8) flagging contamination. Output:
  // one row per eval vector with its max-cosine train neighbor
  // (ties at the 6-decimal rescore break to the smaller train id)
  // and the flag — the report a curation pipeline reviews, non-
  // vacuous whether or not anything crosses τ.
  //
  // Scale shape: eval is the SMALL side by nature (benchmarks are
  // bounded; train grows with the crawl) — it rides the s10 batch
  // path: probes ranked against the driver-held codebook, the probe
  // table broadcast, ONLY the probed cid partitions of the postings
  // read (partition pruning), the train filter pushed into that scan
  // (s09's discipline), per-eval max via the bounded TopK aggregate.
  // Corpus-sized work never leaves the probed postings scan. Recall
  // bound: nprobe-bucket probing is the paper trade (d11/s03) — a
  // cross-bucket near-neighbor is missed by design; raise nprobe for
  // a stricter audit. Oracle: the shared k-means chain + the same
  // probe/rescore restatement (the s10 precedent).
  private[graft] val SemanticContamTau = 0.8

  private def s12(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.IvfIndex.ensureBuilt(s, d)
    val evalSide = pmod(col("vec_id"), lit(37L)) === 0L
    graft.operators.IvfIndex.searchSplit(s, d, dir, nprobe = 4, k = 1,
        qPred = evalSide, candPred = pmod(col("vec_id"), lit(37L)) =!= 0L)
      .select(col("q_id").as("eval_id"), col("vec_id").as("train_id"),
        col("label"), col("cos_sim"),
        (col("cos_sim") >= SemanticContamTau).as("contaminated"))
      .orderBy("eval_id")
  }

  private val s12Sql: String = {
    s"""${kmeansAssignCtes()},
       |qs AS (SELECT vec_id AS q_id, embedding AS qe,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |       FROM embeddings WHERE vec_id % 37 = 0),
       |pp AS (SELECT q_id, cid, qe FROM (
       |    SELECT qs.q_id, c.cid, qs.qe,
       |      ROW_NUMBER() OVER (PARTITION BY qs.q_id
       |        ORDER BY ${cosSql("qs.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM qs, c$KMeansIters c) WHERE rn <= 4),
       |sc AS (SELECT pp.q_id, e.vec_id, e.label, CAST(CAST(ROUND(
       |    list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pp.qe[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(pp.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |  , 6) AS DECIMAL(18,6)) AS DOUBLE) AS cos_sim
       |  FROM afinal e JOIN pp USING (cid) WHERE e.vec_id % 37 <> 0)
       |SELECT q_id AS eval_id, vec_id AS train_id, label, cos_sim,
       |  cos_sim >= $SemanticContamTau AS contaminated
       |FROM (SELECT q_id, vec_id, label, cos_sim,
       |        ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY cos_sim DESC, vec_id) AS rn FROM sc) x
       |WHERE rn = 1 ORDER BY 1""".stripMargin
  }

  // s07: MMR (maximal marginal relevance) diversity re-rank — the
  // retrieval-for-curation operator: from the top-32 cosine candidates
  // for the query vector, greedily select 8 maximizing
  // λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s), λ=0.7 — relevance
  // traded against redundancy, so near-duplicate neighbors don't
  // crowd the result (see Carbonell & Goldstein 1998).
  //
  // Scale shape: candidate generation is the DISTRIBUTED part (the
  // s01 broadcast-scored scan + TakeOrdered here; the IVF probe path
  // s03/s06 at corpus scale) — the greedy re-rank then operates on
  // the BOUNDED candidate set (k'=32 rows; driver math of the same
  // bounded-by-construction class as the IVF codebook). That split is
  // how re-rankers deploy: k' stays fixed as the corpus grows.
  //
  // Exactness: candidate qsims are the s01 rounded-decimal doubles
  // (order + tie already oracle-proven); pairwise sims use the same
  // left-to-right double fold and the SPARK round semantics
  // (BigDecimal.decimal = valueOf, HALF_UP — what round(col, 6)
  // does), so every comparison sees bit-identical doubles on both
  // engines; ties break on vec_id. The oracle unrolls the 8 greedy
  // steps as CTEs (the g05 unrolled-oracle idiom).
  private def s07(s: SparkSession, d: String): DataFrame = {
    val kCand = 32; val k = 8
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        round(cosineSimilarity(col("embedding"), col("qv")), 6)
          .cast(DecimalType(18, 6)).cast(DoubleType).as("qs"))
      .orderBy(desc("qs"), col("vec_id"))
      .limit(kCand)
      .collect() // bounded: k'=32 candidate rows
    val vecs = cand.map { r =>
      (r.getLong(0),
        r.getSeq[Float](1).iterator.map(_.toDouble).toArray,
        r.getDouble(2))
    }
    def rnd6(x: Double): Double = // Spark Round(double, 6) semantics
      BigDecimal.decimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val selIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rank = 1L
    while (rank <= k && selIdx.size < vecs.length) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < vecs.length) {
        if (!selIdx.contains(i)) {
          val (vid, v, qs) = vecs(i)
          val ms = if (selIdx.isEmpty) 0.0
            else selIdx.iterator.map(j => rnd6(cos(v, vecs(j)._2))).max
          val score = 0.7 * qs - 0.3 * ms
          if (score > bestScore ||
              (score == bestScore && best >= 0 && vid < vecs(best)._1)) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      selected += ((rank, vecs(best)._1, bestScore))
      selIdx += best
      rank += 1
    }
    import s.implicits._
    selected.toSeq.toDF("rank", "vec_id", "mmr_score")
  }

  private val s07Sql: String = {
    val lam = "CAST(0.7 AS DOUBLE)"; val mu = "CAST(0.3 AS DOUBLE)"
    def sim(a: String, b: String) =
      s"""CAST(CAST(ROUND(
         |    list_sum(list_transform(range(1, 65),
         |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |     * sqrt(list_sum(list_transform($b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |  , 6) AS DECIMAL(18,6)) AS DOUBLE)""".stripMargin
    // every CTE MATERIALIZED: sel_i chains reference their
    // predecessors, and inlined (default) CTEs would re-execute the
    // whole prefix per reference — exponential in k
    val steps = (2 to 8).map { i =>
      val ss = (1 until i).map(j => s"SELECT vec_id FROM sel$j").mkString(" UNION ALL ")
      s"""ss$i AS MATERIALIZED ($ss),
         |sc$i AS MATERIALIZED (SELECT c.vec_id, c.qs, MAX(p.sim) AS ms
         |         FROM cand c JOIN pairs p ON p.a = c.vec_id
         |           AND p.b IN (SELECT vec_id FROM ss$i)
         |         WHERE c.vec_id NOT IN (SELECT vec_id FROM ss$i)
         |         GROUP BY 1, 2),
         |sel$i AS MATERIALIZED (SELECT vec_id, $lam * qs - $mu * ms AS score, $i AS rank
         |          FROM sc$i ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT e.vec_id, e.embedding, ${sim("e", "q")} AS qs
       |         FROM embeddings e, q WHERE e.vec_id <> 0
       |         ORDER BY qs DESC, e.vec_id LIMIT 32),
       |pairs AS MATERIALIZED (SELECT a.vec_id AS a, b.vec_id AS b, ${sim("a", "b")} AS sim
       |          FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (SELECT vec_id, $lam * qs AS score, 1 AS rank
       |         FROM cand ORDER BY score DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id, score AS mmr_score
       |FROM (${(1 to 8).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY 1""".stripMargin
  }

  // s08: quantization recall evaluation — the acceptance gate every
  // compressed ANN deployment runs before trading the exact index for
  // the 4×-smaller int8 one: for a bounded query set (vec_id % 97 = 0
  // AND vec_id < 9700 — ≤100 queries at ANY corpus size; a modulus
  // alone would grow the workload with the corpus and quadratic-ify
  // the sweep, the 68 s sf10 lesson), recall@10 of the s04 int8-dequantized top-10 against the s01
  // exact-cosine top-10, reported as the per-query overlap count.
  // Determinism: both rankings order by (cos DESC, vec_id) on
  // bit-identical left-to-right double folds, so the rank-10 boundary
  // is the same in both engines and the overlap is exact.
  //
  // Scale shape: the query set is BOUNDED (an eval workload, not the
  // corpus), so it broadcasts — each corpus partition scores its
  // vectors against all |Q| queries locally (the one nested-loop here
  // is |Q|-bounded by contract, same as s01's 1-row form); per-query
  // top-10 is the rank-window form TopKRewrite turns into a bounded
  // map-side aggregate — no corpus-sized sort, no q_id exchange of
  // raw scores beyond the bounded (|Q|·10 + survivors) stream; the
  // recall join is (q_id, vec_id)-keyed over ≤|Q|·10 rows each side.
  private def s08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    def top10(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10).select(col("q_id"), col("vec_id"))
    }
    val isQ = col("vec_id") % 97 === 0 && col("vec_id") < 9700
    val exQ = e.filter(isQ).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exTop = top10(e.crossJoin(broadcast(exQ))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSimilarity(col("v"), col("qv")).as("cos")))
    val deq = e
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("dq", expr(
        "transform(v, x -> round(x * 127 / amax, 0) * amax / 127)"))
      .select(col("vec_id"), col("dq"))
    val dqQ = deq.filter(isQ).select(col("vec_id").as("q_id"), col("dq").as("qv"))
    val dqTop = top10(deq.crossJoin(broadcast(dqQ))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSimilarity(col("dq"), col("qv")).as("cos")))
    exQ.select(col("q_id"))
      .join(exTop.join(dqTop, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap")),
        Seq("q_id"), "left_outer")
      .na.fill(0L, Seq("n_overlap"))
      .orderBy("q_id")
  }

  private val s08Sql =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |exq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 97 = 0 AND vec_id < 9700),
      |exs AS (SELECT q.q_id, e.vec_id,
      |    list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i]))
      |    / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
      |  FROM e, exq q WHERE e.vec_id <> q.q_id),
      |ext AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      |    FROM exs) x WHERE rn <= 10),
      |deq AS (SELECT vec_id,
      |    list_transform(v, x -> ROUND(x * 127 / amax, 0) * amax / 127) AS dq
      |  FROM (SELECT vec_id, v,
      |          list_max(list_transform(v, x -> abs(x))) AS amax FROM e) b),
      |dqq AS (SELECT vec_id AS q_id, dq AS qv FROM deq WHERE vec_id % 97 = 0 AND vec_id < 9700),
      |dqs AS (SELECT q.q_id, d.vec_id,
      |    list_sum(list_transform(range(1, 65), i -> d.dq[i] * q.qv[i]))
      |    / (sqrt(list_sum(list_transform(d.dq, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
      |  FROM deq d, dqq q WHERE d.vec_id <> q.q_id),
      |dqt AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      |    FROM dqs) x WHERE rn <= 10),
      |ov AS (SELECT q_id, COUNT(*) AS n_overlap
      |       FROM ext JOIN dqt USING (q_id, vec_id) GROUP BY 1)
      |SELECT q.q_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap
      |FROM exq q LEFT JOIN ov USING (q_id) ORDER BY 1""".stripMargin

  override def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_knn_brute_cosine" -> s01,
    "s08_quant_recall" -> s08,
    "s02_centroid_norms" -> s02,
    "s03_ivf_ann_topk" -> s03,
    "s04_int8_quant_topk" -> s04,
    "s05_pq_adc_topk" -> s05,
    "s06_ivf_index_search" -> s06,
    "s07_mmr_rerank" -> s07,
    "s09_filtered_ann" -> s09,
    "s10_batch_ann" -> s10,
    "s11_hybrid_rrf" -> s11,
    "s12_semantic_decontamination" -> s12,
    // streaming twin: s12's probe applied at ingest — per-window
    // partial maxima re-aggregate to the batch report exactly (max of
    // maxes + the −train_id tie field), so the same SQL oracle checks it
    "s12_decon_stream" ->
      ((s, d) => graft.streaming.StreamingSemanticDecon.replayGate(s, d)))

  override def oracle: Map[String, String] = Map(
    "s01_knn_brute_cosine" -> s01Sql,
    "s08_quant_recall" -> s08Sql,
    "s02_centroid_norms" -> s02Sql,
    "s03_ivf_ann_topk" -> s03Sql,
    "s04_int8_quant_topk" -> s04Sql,
    // the persisted index must return exactly what the in-query
    // training returns — one oracle states both pipelines
    "s06_ivf_index_search" -> s03Sql,
    "s07_mmr_rerank" -> s07Sql,
    "s09_filtered_ann" -> s09Sql,
    "s10_batch_ann" -> s10Sql,
    "s11_hybrid_rrf" -> s11Sql,
    "s12_semantic_decontamination" -> s12Sql,
    "s12_decon_stream" -> s12Sql)

  // s06's operating mode is build-once/search-many: the index build is
  // charged to its own line, so the s06 line measures search over the
  // persisted index — the per-query cost a user actually pays
  override def builds: Seq[ArtifactBuild] = Seq(
    ArtifactBuild("s06_ivf_index_build", Seq("s06_ivf_index_search"),
      (s, d) => graft.operators.IvfIndex.build(s, d, graft.operators.IvfIndex.indexDirFor(d))))
}
