package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

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

/** Driver-materialised centroid matrix with precomputed norms. Shipped
  * to every task once, as a codegen reference object — the same data
  * movement as a broadcast join's build side, but the per-row argmax
  * stays a pure projection (zero exchanges on the corpus side).
  * All centroid rows must share one dimensionality. */
final class CentroidModel(val vecs: Array[Array[Float]]) extends Serializable {
  require(vecs.nonEmpty, "CentroidModel: empty centroid set")
  val dim: Int = vecs.head.length
  require(vecs.forall(_.length == dim),
    s"CentroidModel: ragged centroid rows (expected uniform dim $dim)")
  val norms: Array[Double] = vecs.map { v =>
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(acc)
  }
}

object CentroidImpl {
  def build(arr: ArrayData): CentroidModel = {
    val k = arr.numElements()
    val vecs = new Array[Array[Float]](k)
    var i = 0
    while (i < k) {
      val row = arr.getArray(i)
      val d = row.numElements()
      val v = new Array[Float](d)
      var j = 0
      while (j < d) { v(j) = row.getFloat(j); j += 1 }
      vecs(i) = v
      i += 1
    }
    new CentroidModel(vecs)
  }

  /** 1-based index of the max-cosine centroid (ties → lowest index).
    * Same left-fold double accumulation and zero-norm→0.0 guard as the
    * `array_position(scores, array_max(scores))` HOF reference
    * (VectorFunctions.nearestCentroidHof, pinned by AnnSpec). That parity
    * extends to NaN scores: Spark orders NaN greater than any double
    * (array_max returns the first NaN), so a NaN score beats every
    * non-NaN best and the FIRST NaN wins — mirrored here explicitly,
    * since Java's `>` is false for NaN and would silently skip it.
    * Input dimensionality must match the model (a shorter centroid row
    * would throw AIOOBE mid-loop in an executor; a longer one would
    * silently truncate the dot). */
  def nearest(vec: ArrayData, m: CentroidModel): Long = {
    val n = vec.numElements()
    require(n == m.dim,
      s"nearest_centroid: vector dim $n != centroid dim ${m.dim}")
    var nv = 0.0
    var j = 0
    while (j < n) { val x = vec.getFloat(j).toDouble; nv += x * x; j += 1 }
    nv = math.sqrt(nv)
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < m.vecs.length) {
      val cv = m.vecs(c)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i).toDouble * cv(i).toDouble; i += 1 }
      val score =
        if (nv == 0.0 || m.norms(c) == 0.0) 0.0 else dot / (nv * m.norms(c))
      val better =
        if (java.lang.Double.isNaN(score)) !java.lang.Double.isNaN(bestScore)
        else score > bestScore
      if (better) { bestScore = score; best = c }
      c += 1
    }
    (best + 1).toLong
  }
}

/** `nearest_centroid(vec, matrix)` — 1-based index of the max-cosine row
  * of a FOLDABLE array<array<float>> centroid matrix (ties → lowest
  * index). The matrix literal is evaluated once into a [[CentroidModel]]
  * and referenced from generated code. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
          if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, foldable array<array<float>>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  @transient private lazy val model: CentroidModel = {
    val arr = right.eval(null)
    require(arr != null, s"$prettyName: centroid matrix must not be null")
    CentroidImpl.build(arr.asInstanceOf[ArrayData])
  }

  override protected def nullSafeEval(v: Any, unused: Any): Any =
    CentroidImpl.nearest(v.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", model,
      "graft.functions.CentroidModel")
    defineCodeGen(ctx, ev, (v, _) =>
      s"graft.functions.CentroidImpl.nearest($v, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_centroid"
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
