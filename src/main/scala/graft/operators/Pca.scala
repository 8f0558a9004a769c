package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._

import graft.functions.FloatMatrix
import graft.functions.VectorFunctions.matVec

/** PCA training + whitening projection for embedding columns — the
  * standard retrieval-quality preprocessing (center, rotate to the
  * eigenbasis, scale each axis to unit variance; e.g. Jégou &
  * Chum 2012, "Negative evidences and co-occurrences in image
  * retrieval: the benefit of PCA and whitening").
  *
  * Scale discipline is the [[Ann.trainPq]] one — model on the
  * driver, application in the plan:
  * - TRAIN collects a deterministic hash-ordered bounded sample
  *   (embeddings are dense and low-dimensional; a 16k × 768 sample
  *   estimates a covariance as well as the corpus does), computes
  *   mean + covariance on the driver, and diagonalizes with cyclic
  *   Jacobi sweeps (symmetric 64-768 dim matrices converge in a few
  *   sweeps). Eigenpairs sort by descending eigenvalue with ties by
  *   first-differing component; each eigenvector's sign is fixed so
  *   its largest-|magnitude| entry is positive — the model is
  *   bit-reproducible.
  * - APPLY is a pure projection: each whitened coordinate is
  *   ((x·v_k) − μ·v_k) / sqrt(λ_k + ε), i.e. the k dots of one
  *   codegen'd `mat_vec_f` call against the model's component matrix,
  *   one subtract, one multiply — no shuffle, no UDF, and the
  *   centering never materializes x − μ (the scalar μ·v_k is
  *   precomputed). The matrix is built once per model and held by
  *   reference in the expression, never shipped as a plan literal.
  */
object Pca {

  /** Trained model: per-component (vector, μ·v offset, 1/√(λ+ε)
    * whitening scale), components in descending-eigenvalue order. */
  final case class Model(
      components: Seq[Seq[Float]], offsets: Seq[Double],
      scales: Seq[Double], eigenvalues: Seq[Double]) {
    /** The components as one matrix, built once per model. */
    lazy val matrix: FloatMatrix = FloatMatrix(components)
  }

  // training-sample ceiling from the shared DriverBudget model
  private val MaxTrainRows = DriverBudget.TrainRows

  def train(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxTrain: Int = 16384, seed: Long = 42L,
      eps: Double = 1e-9): Model = {
    require(k >= 1, "Pca.train: k >= 1")
    require(maxTrain <= MaxTrainRows,
      s"Pca.train: maxTrain > $MaxTrainRows")
    val sample = df.filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(maxTrain)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "Pca.train: empty input")
    val d = sample.head.length
    require(sample.forall(_.length == d), "Pca.train: ragged vectors")
    require(k <= d, s"Pca.train: k $k > dim $d")
    val n = sample.length
    // mean
    val mu = new Array[Double](d)
    sample.foreach { v =>
      var i = 0
      while (i < d) { mu(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < d) { mu(i) /= n; i += 1 }
    // covariance (upper triangle, then mirror)
    val c = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      var a = 0
      while (a < d) {
        val da = v(a) - mu(a)
        var b = a
        while (b < d) { c(a)(b) += da * (v(b) - mu(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        c(a)(b) /= math.max(1, n - 1)
        c(b)(a) = c(a)(b)
        b += 1
      }
      a += 1
    }
    val (evals, evecs) = jacobi(c)
    // order: descending eigenvalue, ties by vector content; sign:
    // largest-|entry| positive (first such index on magnitude ties)
    val pairs = evals.indices.map { j =>
      val v = evecs.map(_(j))
      var bi = 0
      var bm = 0.0
      var t = 0
      while (t < v.length) {
        if (math.abs(v(t)) > bm) { bm = math.abs(v(t)); bi = t }
        t += 1
      }
      val signed = if (v(bi) < 0) v.map(x => -x) else v
      (evals(j), signed.toSeq)
    }.sortBy { case (ev, v) => (-ev, v.mkString(",")) }.take(k)
    val comps = pairs.map(_._2.map(_.toFloat))
    val offs = comps.map { comp =>
      var s = 0.0
      var t = 0
      while (t < d) { s += mu(t) * comp(t).toDouble; t += 1 }
      s
    }
    val scales = pairs.map { case (ev, _) =>
      1.0 / math.sqrt(math.max(ev, 0.0) + eps)
    }
    Model(comps, offs, scales, pairs.map(_._1))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with vectors in COLUMNS).
    * Deterministic sweep order; converges when the off-diagonal
    * Frobenius mass drops below 1e-12 of the total (≤ 64 sweeps). */
  private def jacobi(mIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val m = mIn.map(_.clone)
    val v = Array.tabulate(d, d)((a, b) => if (a == b) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(m)
    val tol = 1e-12 * (frob(m) + 1e-300)
    while (off > tol && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(m(p)(q)) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * m(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                case x => x
              }
            val cth = 1.0 / math.sqrt(t * t + 1.0)
            val sth = t * cth
            var r = 0
            while (r < d) {
              val mrp = m(r)(p); val mrq = m(r)(q)
              m(r)(p) = cth * mrp - sth * mrq
              m(r)(q) = sth * mrp + cth * mrq
              r += 1
            }
            r = 0
            while (r < d) {
              val mpr = m(p)(r); val mqr = m(q)(r)
              m(p)(r) = cth * mpr - sth * mqr
              m(q)(r) = sth * mpr + cth * mqr
              r += 1
            }
            r = 0
            while (r < d) {
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = cth * vrp - sth * vrq
              v(r)(q) = sth * vrp + cth * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(m)
      sweep += 1
    }
    (Array.tabulate(d)(j => m(j)(j)), v)
  }

  private def offDiag(m: Array[Array[Double]]): Double = {
    var s = 0.0
    var a = 0
    while (a < m.length) {
      var b = 0
      while (b < m.length) {
        if (a != b) s += m(a)(b) * m(a)(b)
        b += 1
      }
      a += 1
    }
    s
  }

  private def frob(m: Array[Array[Double]]): Double = {
    var s = 0.0
    var a = 0
    while (a < m.length) {
      var b = 0
      while (b < m.length) { s += m(a)(b) * m(a)(b); b += 1 }
      a += 1
    }
    s
  }

  /** Persist a trained model as parquet — one row per component
    * (k, component array<float>, offset, scale, eigenvalue), full
    * double precision; [[load]] restores component order. */
  def save(spark: org.apache.spark.sql.SparkSession,
      model: Model, dir: String): Unit = {
    import spark.implicits._
    model.components.indices.map { j =>
      (j, model.components(j), model.offsets(j), model.scales(j),
        if (j < model.eigenvalues.size) model.eigenvalues(j) else 0.0)
    }.toDF("k", "component", "offset", "scale", "eigenvalue")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Restore a [[save]] artifact. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Model = {
    val rows = spark.read.parquet(dir)
      .orderBy(col("k")).collect()
    Model(
      rows.toSeq.map(_.getSeq[Float](1).toSeq),
      rows.toSeq.map(_.getDouble(2)),
      rows.toSeq.map(_.getDouble(3)),
      rows.toSeq.map(_.getDouble(4)))
  }

  // ------------------------------------------------------------------
  // OPQ decision guard (r12's "skip the rotation" call was
  // data-dependent — the test embeddings were isotropic; this encodes
  // the check so the next corpus doesn't re-litigate it)
  // ------------------------------------------------------------------

  /** Eigenvalue spread λ_max / λ_MEDIAN over the trained components —
    * the anisotropy report the OPQ decision reads. ≈ 1 means the
    * variance is isotropic: an orthogonal rotation cannot re-balance
    * what is already balanced, and PQ on the raw axes loses nothing.
    * Large spread means energy concentrates along a few directions
    * that the arbitrary axis-aligned PQ subspace split straddles —
    * the case where rotating to the eigenbasis before quantizing
    * (the OPQ/"PCA + PQ" recipe, Ge et al. 2013) buys recall at
    * equal bytes. Median, not min, in the denominator: an isotropic
    * corpus still has ONE smallest sampling-noise eigenvalue (the
    * real sf0.001 embeddings measure λmax/λmin = 4.1 at k = 64 while
    * being isotropic where the mass lives), and a single tiny
    * trailing direction says nothing about how the BULK of the
    * variance distributes across subspaces. */
  def eigenSpread(model: Model): Double = {
    val evs = model.eigenvalues.map(math.max(_, 0.0)).sorted
    if (evs.isEmpty) 1.0
    else evs.last / math.max(evs(evs.size / 2), 1e-12)
  }

  /** The decision: rotate before PQ when the spread clears
    * `minSpread` (default 4 — below that the measured recall delta
    * is noise; PcaSpec pins BOTH branches on synthetic fixtures). */
  def opqRecommended(model: Model, minSpread: Double = 4.0): Boolean =
    eigenSpread(model) >= minSpread

  /** PURE eigenbasis rotation x → (x·v_1, …, x·v_k) — no centering,
    * no whitening scale, so with k = dim (orthonormal full basis)
    * dot products, norms and cosines are preserved EXACTLY and the
    * rotated corpus is a drop-in input for the PQ/ANN stack. A pure
    * projection: one `mat_vec_f` call per row, each coordinate
    * bit-identical to `dot_f(x, v_j).cast("float")`. A null vector
    * rotates to null. */
  def rotateCol(vec: Column, model: Model): Column =
    matVec(vec, model.matrix, asFloat = true)

  /** (id, rotated vector) under a trained model — see [[rotateCol]].
    * Null vectors are filtered first, so the rotated column is declared
    * non-null: what is derived from it (PQ codes, norms) stays a
    * required parquet column. */
  def rotate(df: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), GraftColumn(KnownNotNull(GraftColumn.expr(
        rotateCol(col(vecCol), model)))).as(vecCol))

  /** Parametric-OPQ dimension allocation (Ge et al. 2013 §4, the
    * Gaussian-optimal closed form): order the rotated dimensions into
    * m equal buckets balancing the PRODUCT of eigenvalues per bucket
    * (greedy on log λ, largest first into the currently-lightest
    * non-full bucket). Naive PCA ORDER is the known failure mode —
    * it concentrates all variance in subspace 0, whose ksub codewords
    * then carry most of the quantization error (PcaSpec measures the
    * naive order LOSING recall on the anisotropic fixture); balanced
    * allocation is what makes rotation + PQ win. Returns the
    * component permutation to apply before an m-subspace PQ. */
  def opqAllocation(model: Model, m: Int): Seq[Int] = {
    val k = model.components.size
    require(m >= 1 && k % m == 0,
      s"opqAllocation: m ($m) must divide component count ($k)")
    val dsub = k / m
    val order = model.eigenvalues.indices
      .sortBy(j => -model.eigenvalues(j))
    val bucketLog = new Array[Double](m)
    val buckets = Array.fill(m)(Seq.newBuilder[Int])
    val fill = new Array[Int](m)
    order.foreach { j =>
      val cand = (0 until m).filter(fill(_) < dsub)
        .minBy(b => (bucketLog(b), b))
      buckets(cand) += j
      fill(cand) += 1
      bucketLog(cand) += math.log(math.max(model.eigenvalues(j), 1e-12))
    }
    buckets.toSeq.flatMap(_.result())
  }

  /** The OPQ-permuted model — eigenbasis components reordered by the
    * Ge et al. balanced allocation for an m-subspace PQ. This is the
    * SELF-CONTAINED rotation artifact a persisted OPQ index stores
    * ([[save]]-able like any model): [[rotate]] under this model ≡
    * [[rotateOpq]] under the original, so a loader never needs to
    * re-derive the allocation. */
  def opqModel(model: Model, m: Int): Model = {
    val perm = opqAllocation(model, m)
    Model(
      perm.map(model.components), perm.map(model.offsets),
      perm.map(model.scales), perm.map(model.eigenvalues))
  }

  /** Eigenbasis rotation with the OPQ-balanced dimension order — the
    * drop-in PQ preprocessing when [[opqRecommended]] says rotate:
    * still a pure orthogonal transform (permutation ∘ rotation), so
    * dots/norms/cosines are preserved with a full basis. */
  def rotateOpq(df: DataFrame, idCol: String, vecCol: String,
      model: Model, m: Int): DataFrame =
    rotate(df, idCol, vecCol, opqModel(model, m))

  /** (id, w1..wk) whitened coordinates under a trained model —
    * pure projection: the k dots of one `mat_vec_f` call, then each
    * coordinate ((x·v_k) − offset_k) · scale_k. */
  def whiten(df: DataFrame, idCol: String, vecCol: String,
      model: Model, round4: Boolean = true): DataFrame = {
    val cols = model.components.indices.map { j =>
      val w = (col("__dots")(j) - lit(model.offsets(j))) *
        lit(model.scales(j))
      (if (round4) round(w, 4) else w).as(s"w${j + 1}")
    }
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        matVec(col(vecCol), model.matrix, asFloat = false).as("__dots"))
      .select((col(idCol) +: cols): _*)
  }
}
