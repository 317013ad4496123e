package graft.operators

import org.apache.spark.sql.Column

/** Sign-random-projection (hyperplane) LSH for cosine near-dup
  * banding: signature bit j = sign(v · h_j) for fixed Gaussian
  * hyperplanes h_j; bits are grouped into bands and near-dup
  * candidates come from an equi-join on (band, band_value) — the same
  * shuffle-bounded banding shape as MinHash-LSH (Dedup d02), for
  * embedding space.
  *
  * Applicability (do the math before reaching for this): for a pair at
  * angle θ, P[bit agrees] = 1 − θ/π. With r bits per band and b bands,
  * P[pair surfaces] = 1 − (1 − p^r)^b. That separates ONLY when the
  * target threshold is close to cos 1 — at cos ≥ 0.99 (p ≈ 0.994,
  * production near-dup), r=16, b=16 gives miss ≈ 6e-17 with background
  * (cos ≤ 0.5, p ≤ 0.67) collision ≤ 1.6e-3/band. At cos 0.45
  * (p = 0.648) NO (r, b) is simultaneously selective and lossless —
  * see Dedup.d05's scaladoc for the exhaustive-search fallback.
  *
  * Scale: signatures are one map-side projection (corpus × b·r fixed
  * dot products), the band join shuffles (vec_id, band, value) triples
  * once, and only candidates are exact-verified. Linear in corpus size
  * for fixed bucket occupancy; hot buckets (duplicate clusters) can be
  * salted like any skewed key.
  */
object SignLsh {

  /** Deterministic Gaussian hyperplanes (band-major layout:
    * plane index = band * bitsPerBand + bit). */
  def hyperplanes(dims: Int, nBands: Int, bitsPerBand: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nBands * bitsPerBand)(Seq.fill(dims)(rnd.nextGaussian()))
  }

  /** array<bigint> column of band values for an array<double|float>
    * vector column: bitsPerBand sign bits packed per band. Backed by
    * the tight-loop SignLshBands expression (the equivalent nested
    * higher-order-function lambdas run interpreted with per-element
    * boxing and were the near-dup query's bottleneck at sf1). */
  def bandValues(v: Column, planes: Seq[Seq[Double]], nBands: Int, bitsPerBand: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => c, expression => ex}
    c(graft.functions.SignLshBands(ex(v), planes.map(_.toArray).toArray, nBands, bitsPerBand))
  }
}
