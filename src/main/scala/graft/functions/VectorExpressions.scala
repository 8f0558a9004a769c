package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Native kernels for float-vector math. Accumulation is a left fold in
  * index order with per-element double promotion — bit-identical to the
  * zip_with/aggregate Column formulation in VectorFunctions (and to the
  * DuckDB oracle's list_sum of casts), so the adaptive switch can never
  * change results. */
object VectorImpl {
  /** Element-wise a − b over two equal-length float arrays — the
    * residual step of IVF-PQ residual encoding (kept native/codegen'd
    * because Spark's higher-order zip_with is interpreted, and the
    * residual sits on the per-row encode hot path). */
  def subF(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"vec_sub_f: length mismatch ($n vs ${b.numElements()})")
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = a.getFloat(i) - b.getFloat(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def normF(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc = acc + v * v
      i += 1
    }
    math.sqrt(acc)
  }
}

private object VectorExprCheck {
  def floatArray(name: String, dts: DataType*): TypeCheckResult =
    if (dts.forall {
      case ArrayType(FloatType, _) => true
      case _ => false
    }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> arguments, got ${dts.map(_.simpleString).mkString(", ")}")
}

/** Static kernel for the random-hyperplane LSH bucket. The
  * pseudo-random weight matrix (derived from xxhash of the flat index,
  * exactly like VectorFunctions.hyperplaneBucketHof) is
  * memoized per (dim, planes) — the Column form re-derives it per row,
  * which dominated profile at 100k vectors. */
object HyperplaneImpl {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  def weights(dim: Int, planes: Int): Array[Double] =
    cache.computeIfAbsent((dim, planes), { _ =>
      val w = new Array[Double](planes * dim)
      var k = 0
      while (k < w.length) {
        w(k) = java.lang.Math.floorMod(XXH64.hashInt(k, 42L), 2000003L) /
          1000001.5 - 1.0
        k += 1
      }
      w
    })

  def bucket(vec: ArrayData, dim: Int, planes: Int): Long = {
    val w = weights(dim, planes)
    var out = 0L
    var p = 0
    while (p < planes) {
      val off = p * dim
      var acc = 0.0
      var i = 0
      while (i < dim) {
        acc = acc + vec.getFloat(i).toDouble * w(off + i)
        i += 1
      }
      if (acc > 0.0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** `hyperplane_bucket(vec, dim, planes)` — packed sign-bit LSH bucket. */
case class HyperplaneBucket(child: Expression, dim: Int, numPlanes: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneImpl.bucket(input.asInstanceOf[ArrayData], dim, numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneImpl.bucket($c, $dim, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_bucket"
}

/** IVF centroids collected on the driver: one vector per id, ids in
  * ascending order (so "lowest index" means "lowest id"), norms
  * precomputed. Built once per index (at load, or once per in-memory
  * call chain by `Ann.collectCentroids`) and held by reference in
  * `nearest_centroid` and `ivf_probe`: the plan prints only the tag
  * `centroids[k x dim]`, and every task gets the set as a codegen
  * reference object — the same data movement as a broadcast join's
  * build side, while bucket assignment and probing stay pure
  * projections. `ids` is an array of `idType` (int, bigint or
  * string). All vectors share one dimensionality. */
final class CentroidSet(val ids: ArrayData, val idType: DataType,
    val vecs: Array[Array[Float]]) extends Serializable {
  require(vecs.nonEmpty, "CentroidSet: empty centroid set")
  require(ids.numElements() == vecs.length,
    s"CentroidSet: ${ids.numElements()} ids for ${vecs.length} vectors")
  val dim: Int = vecs.head.length
  require(vecs.forall(_.length == dim),
    s"CentroidSet: ragged centroid rows (expected uniform dim $dim)")
  val norms: Array[Double] = vecs.map { v =>
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  override def toString: String = s"centroids[${vecs.length}x$dim]"
}

object CentroidSet {
  /** A bare matrix whose ids are the 1-based row numbers (bigint) —
    * what the SQL `nearest_centroid(vec, matrix)` returns. */
  def indexed(vecs: Array[Array[Float]]): CentroidSet =
    new CentroidSet(
      new GenericArrayData(Array.tabulate[Any](vecs.length)(i => i + 1L)),
      LongType, vecs)

  def indexed(matrix: Seq[Seq[Float]]): CentroidSet =
    indexed(matrix.map(_.toArray).toArray)

  /** [[indexed]] over an array<array<float>> literal's value. */
  def fromLiteral(arr: ArrayData): CentroidSet =
    indexed(Array.tabulate(arr.numElements())(
      i => arr.getArray(i).toFloatArray()))
}

object CentroidImpl {
  /** 0-based index of the max-cosine centroid (ties → lowest index).
    * Same left-fold double accumulation and zero-norm→0.0 guard as the
    * `array_position(scores, array_max(scores))` HOF reference
    * (VectorFunctions.nearestCentroidHof, pinned by AnnSpec). That parity
    * extends to NaN scores: Spark orders NaN greater than any double
    * (array_max returns the first NaN), so a NaN score beats every
    * non-NaN best and the FIRST NaN wins — mirrored here explicitly,
    * since Java's `>` is false for NaN and would silently skip it.
    * Input dimensionality must match the set (a shorter centroid row
    * would throw AIOOBE mid-loop in an executor; a longer one would
    * silently truncate the dot). */
  def nearest(vec: ArrayData, s: CentroidSet): Int = {
    val nv = queryNorm(vec, s)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < s.vecs.length) {
      val score = cosine(dot(vec, s, c), nv, s, c)
      val better =
        if (java.lang.Double.isNaN(score)) !java.lang.Double.isNaN(bestScore)
        else score > bestScore
      if (better) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` max-cosine centroids, best first, as
    * (centroid_id, dot) structs: cosine descending under Spark's double
    * order (NaN greatest, ±0.0 equal), ties by ascending id — exactly
    * the `topk_any(cosine, centroid_id, nprobe)` selection over the
    * (query × centroid) cross join it replaces. `dot` is ⟨vec, c⟩ with
    * `dot_f`'s accumulation, for residual ADC's exact ⟨q, c⟩ term. */
  def probe(vec: ArrayData, s: CentroidSet, nprobe: Int): ArrayData = {
    val nv = queryNorm(vec, s)
    val k = s.vecs.length
    val dots = Array.tabulate(k)(c => dot(vec, s, c))
    val cos = Array.tabulate(k)(c => cosine(dots(c), nv, s, c))
    val keep = math.min(nprobe, k)
    val top = new Array[Int](keep)
    var size = 0
    var c = 0
    while (c < k) {
      // kept centroids have lower ids, so c displaces one only on a
      // strictly greater cosine
      if (size < keep || greater(cos(c), cos(top(keep - 1)))) {
        var p = if (size < keep) size else keep - 1
        while (p > 0 && greater(cos(c), cos(top(p - 1)))) {
          top(p) = top(p - 1)
          p -= 1
        }
        top(p) = c
        if (size < keep) size += 1
      }
      c += 1
    }
    new GenericArrayData(top.map(i =>
      InternalRow(s.ids.get(i, s.idType), dots(i)): Any))
  }

  /** a after b in Spark's double order (NaN greatest, ±0.0 equal). */
  private def greater(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) > 0

  private def queryNorm(vec: ArrayData, s: CentroidSet): Double = {
    val n = vec.numElements()
    require(n == s.dim,
      s"nearest_centroid: vector dim $n != centroid dim ${s.dim}")
    var nv = 0.0
    var j = 0
    while (j < n) { val x = vec.getFloat(j).toDouble; nv += x * x; j += 1 }
    math.sqrt(nv)
  }

  private def dot(vec: ArrayData, s: CentroidSet, c: Int): Double = {
    val cv = s.vecs(c)
    var acc = 0.0
    var i = 0
    while (i < cv.length) { acc += vec.getFloat(i).toDouble * cv(i).toDouble; i += 1 }
    acc
  }

  /** `cosinePrenormed`'s arithmetic: 0 when either norm is 0. */
  private def cosine(dot: Double, nv: Double, s: CentroidSet, c: Int): Double =
    if (nv == 0.0 || s.norms(c) == 0.0) 0.0 else dot / (nv * s.norms(c))
}

/** `nearest_centroid(vec, centroids)` — the id of the max-cosine
  * centroid (ties → lowest id), typed as the set's ids. The SQL form
  * takes an array<array<float>> literal, converted once into a
  * [[CentroidSet]] whose ids are the 1-based row numbers. */
case class NearestCentroid(child: Expression, centroids: CentroidSet)
    extends UnaryExpression {
  override def dataType: DataType = centroids.idType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    centroids.ids.get(
      CentroidImpl.nearest(v.asInstanceOf[ArrayData], centroids), dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids,
      "graft.functions.CentroidSet")
    defineCodeGen(ctx, ev, v => CodeGenerator.getValue(s"$ref.ids()",
      dataType, s"graft.functions.CentroidImpl.nearest($v, $ref)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

/** `ivf_probe(qv, centroids, nprobe)` — each query's top-`nprobe`
  * centroids as array<struct<centroid_id, dot>> (see
  * [[CentroidImpl.probe]]); null for a null query vector. */
case class IvfProbe(child: Expression, centroids: CentroidSet, nprobe: Int)
    extends UnaryExpression {
  require(nprobe > 0, "ivf_probe: nprobe > 0")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("centroid_id", centroids.idType, nullable = false),
    StructField("dot", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    CentroidImpl.probe(v.asInstanceOf[ArrayData], centroids, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids,
      "graft.functions.CentroidSet")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.CentroidImpl.probe($v, $ref, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ivf_probe"
}

/** A dense row-major float matrix (rows × cols) held by reference in
  * [[MatVecF]] — a rotation or whitening basis built once per model. */
final class FloatMatrix(val rows: Array[Array[Float]]) extends Serializable {
  require(rows.nonEmpty, "FloatMatrix: no rows")
  val cols: Int = rows.head.length
  require(rows.forall(_.length == cols),
    s"FloatMatrix: ragged rows (expected uniform width $cols)")

  override def toString: String = s"mat[${rows.length}x$cols]"
}

object FloatMatrix {
  def apply(rows: Seq[Seq[Float]]): FloatMatrix =
    new FloatMatrix(rows.map(_.toArray).toArray)
}

object MatVecImpl {
  /** ⟨vec, row_j⟩ for every row: `dot_f`'s left-fold double
    * accumulation, rounded to float when `asFloat` (bit-identical to
    * `dot_f(vec, row_j).cast("float")` per coordinate). */
  def apply(vec: ArrayData, m: FloatMatrix, asFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    require(n == m.cols, s"mat_vec_f: vector dim $n != matrix width ${m.cols}")
    val x = vec.toFloatArray()
    val fs = if (asFloat) new Array[Float](m.rows.length) else null
    val ds = if (asFloat) null else new Array[Double](m.rows.length)
    var j = 0
    while (j < m.rows.length) {
      val r = m.rows(j)
      var acc = 0.0
      var i = 0
      while (i < n) { acc = acc + x(i).toDouble * r(i).toDouble; i += 1 }
      if (asFloat) fs(j) = acc.toFloat else ds(j) = acc
      j += 1
    }
    if (asFloat) ArrayData.toArrayData(fs) else ArrayData.toArrayData(ds)
  }
}

/** `mat_vec_f(vec, matrix)` — the matrix-vector product as one
  * array<float> (`asFloat`, the OPQ rotation) or array<double> (the
  * PCA whitening dots). One call per row replaces one `dot_f` per
  * output coordinate, each with its own row literal. */
case class MatVecF(child: Expression, matrix: FloatMatrix, asFloat: Boolean)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(if (asFloat) FloatType else DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    MatVecImpl(v.asInstanceOf[ArrayData], matrix, asFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matrix", matrix, "graft.functions.FloatMatrix")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.MatVecImpl.apply($v, $ref, $asFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "mat_vec_f"
}

/** `dot_f(a, b)` — Σ aᵢ·bᵢ in double over two equal-length
  * array<float> columns. */
case class DotF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, left.dataType, right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorImpl.dotF(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.dotF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f"
}

/** `vec_sub_f(a, b)` — element-wise float difference (see
  * [[VectorImpl.subF]]). */
case class VecSubF(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, left.dataType, right.dataType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorImpl.subF(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.subF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_sub_f"
}

/** `norm_f(a)` — ‖a‖₂ in double. */
case class NormF(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    VectorImpl.normF(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorImpl.normF($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "norm_f"
}
