package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType}

/** Native kernels for SQ8 scalar quantization (the per-row encode and
  * score hot paths of `Ann.sq8*` — kept native/codegen'd because
  * Spark's higher-order `transform` is interpreted, exactly the
  * `vec_sub_f` rationale). Codes are raw BYTES (BinaryType): the true
  * 4x-vs-float32 representation in storage, shuffle AND memory, where
  * the first formulation's array<int> held each 8-bit code in 32 bits.
  *
  * The per-dimension scales are an [[Sq8Model]], built once (held by
  * `Ann.PersistedSq8Index`, or once per in-memory search) and held by
  * reference in each kernel: the plan prints `sq8[dim]`, never the
  * 2·dim doubles. The SQL forms take two array<double> literals,
  * converted once when the function is built.
  *
  * Parity contract: [[Sq8Impl.dot]]/[[Sq8Impl.norm]] reconstruct each
  * dimension to FLOAT first — bit-identical to
  * `dot_f(q, sq8_dequant(codes))` / `norm_f(sq8_dequant(codes))` — so
  * fusing the dequant away can never change a score (AnnSpec pins the
  * equality). Rounding is `Math.round` on a non-negative operand,
  * identical to the HALF_UP the Column `round()` formulation used.
  *
  * Null-ELEMENT contract (r17 ADVICE): a null element inside an input
  * array reads as 0.0f through `ArrayData.getFloat` and encodes as a
  * real code near round((0 − min_i)/step_i) — it does not fail and
  * does not propagate null. This matches the VectorExpressions
  * kernels' long-standing convention (dot_f/norm_f/vec_sub_f read
  * primitively for codegen speed); vectors with null DIMENSIONS are
  * malformed inputs that callers filter upstream — the Ann paths
  * filter null VECTORS explicitly, and the embeddings data model has
  * containsNull only as parquet schema conservatism, never actual
  * nulls. Kept over a checkInputDataTypes rejection because real
  * parquet array columns routinely carry containsNull = true schemas
  * for null-free data, and rejecting the TYPE would break them. */
final class Sq8Model(val mins: Array[Double], val steps: Array[Double])
    extends Serializable {
  require(mins.length == steps.length && mins.nonEmpty,
    s"Sq8Model: ${mins.length} mins vs ${steps.length} steps")
  val dim: Int = mins.length

  /** The plan tag: the model's dimensionality. */
  override def toString: String = s"sq8[$dim]"
}

object Sq8Model {
  def apply(mins: Seq[Double], steps: Seq[Double]): Sq8Model =
    new Sq8Model(mins.toArray, steps.toArray)
}

object Sq8Impl {
  /** code_i = clamp(round((x_i − min_i)/step_i), 0, 255) as the raw
    * low byte (decode with `& 0xFF`); step 0 (constant dim) → 0. */
  def encode(vec: ArrayData, m: Sq8Model): Array[Byte] = {
    val n = vec.numElements()
    require(n == m.dim, s"sq8_encode: vector dim $n != model dim ${m.dim}")
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val st = m.steps(i)
      val c =
        if (st <= 0.0) 0L
        else {
          val r = Math.round((vec.getFloat(i).toDouble - m.mins(i)) / st)
          if (r < 0L) 0L else if (r > 255L) 255L else r
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** FLOAT reconstruction min_i + code_i·step_i per dimension. */
  def dequant(codes: Array[Byte], m: Sq8Model): ArrayData = {
    require(codes.length == m.dim,
      s"sq8_dequant: ${codes.length} codes != model dim ${m.dim}")
    val out = new Array[Float](codes.length)
    var i = 0
    while (i < codes.length) {
      out(i) = (m.mins(i) + (codes(i) & 0xFF).toDouble * m.steps(i)).toFloat
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Σ qᵢ·deqᵢ over the float reconstruction (no materialised array). */
  def dot(q: ArrayData, codes: Array[Byte], m: Sq8Model): Double = {
    val n = codes.length
    require(q.numElements() == n && n == m.dim,
      s"sq8_dot: dims q=${q.numElements()} codes=$n model=${m.dim}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val r = (m.mins(i) + (codes(i) & 0xFF).toDouble * m.steps(i)).toFloat
      acc = acc + q.getFloat(i).toDouble * r.toDouble
      i += 1
    }
    acc
  }

  /** ‖reconstruction‖₂ straight off the codes. */
  def norm(codes: Array[Byte], m: Sq8Model): Double = {
    require(codes.length == m.dim,
      s"sq8_norm: ${codes.length} codes != model dim ${m.dim}")
    var acc = 0.0
    var i = 0
    while (i < codes.length) {
      val r = (m.mins(i) + (codes(i) & 0xFF).toDouble * m.steps(i)).toFloat
      acc = acc + r.toDouble * r.toDouble
      i += 1
    }
    math.sqrt(acc)
  }
}

/** `sq8_encode(vec, mins, steps)` → binary codes. */
case class Sq8Encode(child: Expression, model: Sq8Model)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    Sq8Impl.encode(v.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8model", model, "graft.functions.Sq8Model")
    defineCodeGen(ctx, ev, v => s"graft.functions.Sq8Impl.encode($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sq8_encode"
}

/** The code-side SQ8 kernels share one shape: binary codes in, one
  * model-driven result out. */
private object Sq8CodesCheck {
  def apply(name: String, dt: DataType): TypeCheckResult = dt match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$name requires binary codes, got ${dt.simpleString}")
  }
}

/** `sq8_dequant(codes, mins, steps)` → array<float> reconstruction. */
case class Sq8Dequant(child: Expression, model: Sq8Model)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    Sq8CodesCheck(prettyName, child.dataType)

  override protected def nullSafeEval(c: Any): Any =
    Sq8Impl.dequant(c.asInstanceOf[Array[Byte]], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8model", model, "graft.functions.Sq8Model")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Impl.dequant($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sq8_dequant"
}

/** `sq8_norm(codes, mins, steps)` → double reconstruction norm. */
case class Sq8Norm(child: Expression, model: Sq8Model)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    Sq8CodesCheck(prettyName, child.dataType)

  override protected def nullSafeEval(c: Any): Any =
    Sq8Impl.norm(c.asInstanceOf[Array[Byte]], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8model", model, "graft.functions.Sq8Model")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Impl.norm($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sq8_norm"
}

/** `sq8_dot(q, codes, mins, steps)` → double asymmetric dot against the
  * float reconstruction, dequant fused away. */
case class Sq8Dot(left: Expression, right: Expression, model: Sq8Model)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (q, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, binary), got " +
          s"(${q.simpleString}, ${c.simpleString})")
    }

  override protected def nullSafeEval(q: Any, c: Any): Any =
    Sq8Impl.dot(q.asInstanceOf[ArrayData], c.asInstanceOf[Array[Byte]], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8model", model, "graft.functions.Sq8Model")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.Sq8Impl.dot($q, $c, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq8_dot"
}
