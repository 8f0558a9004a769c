package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, through the
  * native GraftExtensions kernels (`dot_f`, `norm_f`,
  * `nearest_centroid`, `ivf_probe`, `mat_vec_f`, `hyperplane_bucket`) so the whole computation
  * stays inside Catalyst codegen — no UDF, no serialization boundary,
  * safe to broadcast.
  *
  * All arithmetic is promoted to double element-wise (matching the
  * DuckDB oracle's CAST(x AS DOUBLE) accumulation) so sums agree
  * bit-for-bit across engines at any array length.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double. */
  def dot(a: Column, b: Column): Column = call_function("dot_f", a, b)

  /** ‖a‖₂ in double. */
  def norm(a: Column): Column = call_function("norm_f", a)

  /** Cosine similarity; null-safe for zero vectors (returns 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Cosine when norms are precomputed columns (the scale path: compute
    * each row's norm once in a projection, not per pair). */
  def cosinePrenormed(dotCol: Column, normA: Column, normB: Column): Column =
    when(normA === 0.0 || normB === 0.0, lit(0.0))
      .otherwise(dotCol / (normA * normB))

  /** The id of the max-cosine centroid (ties → lowest id), typed as
    * the set's ids. A pure projection: the [[CentroidSet]] is collected
    * once on the driver and held by reference in the expression (the
    * plan prints `nearest_centroid(vec, centroids[k x dim])`), so
    * bucket assignment never shuffles the corpus and the matrix never
    * becomes a plan literal. */
  def nearestCentroid(vec: Column, centroids: CentroidSet): Column =
    GraftColumn(NearestCentroid(GraftColumn.expr(vec), centroids))

  /** Each query's top-`nprobe` centroids as
    * array<struct<centroid_id, dot>> (see [[CentroidImpl.probe]]). */
  def ivfProbe(vec: Column, centroids: CentroidSet, nprobe: Int): Column =
    GraftColumn(IvfProbe(GraftColumn.expr(vec), centroids, nprobe))

  /** matrix · vec as array<float> (`asFloat`) or array<double> (see
    * [[MatVecF]]). */
  def matVec(vec: Column, matrix: FloatMatrix, asFloat: Boolean): Column =
    GraftColumn(MatVecF(GraftColumn.expr(vec), matrix, asFloat))

  /** HOF form of [[nearestCentroid]] — the reference AnnSpec pins the
    * native kernel to value-for-value. */
  private[graft] def nearestCentroidHof(
      vec: Column, matrix: Seq[Seq[Float]]): Column = {
    val scores = transform(typedlit(matrix), c => cosine(vec, c))
    array_position(scores, array_max(scores))
  }

  /** Random-hyperplane LSH bucket: sign bits of `numPlanes` pseudo-random
    * projections, packed into a long. Plane p's component i is a
    * deterministic hash of (p, i) mapped to [-1, 1] — reproducible
    * across engines and runs with no stored model.
    */
  def hyperplaneBucket(vec: Column, dim: Int, numPlanes: Int): Column = {
    require(numPlanes <= 62, "bucket packs into a long")
    call_function("hyperplane_bucket", vec, lit(dim), lit(numPlanes))
  }

  /** Builtin-expression form of [[hyperplaneBucket]] — the reference
    * AnnSpec pins the native kernel to bit-for-bit. */
  private[graft] def hyperplaneBucketHof(
      vec: Column, dim: Int, numPlanes: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      // component weights: hash of the flat (plane, dim) index scaled
      // to [-1, 1] — reproducible, no stored model
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)), (x, i) => {
          val h = pmod(xxhash64(i + lit(p * dim)), lit(2000003L))
          x.cast("double") * (h.cast("double") / 1000001.5 - 1.0)
        }),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0.0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
