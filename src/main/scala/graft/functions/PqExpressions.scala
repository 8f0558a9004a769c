package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType}

/** Product-quantization kernels (Jégou, Douze, Schmid: "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * A PQ codebook splits a dim-d vector into `m` contiguous subvectors
  * of d/m floats and quantizes each against its own `ksub`-entry
  * codebook, so a row stores m bytes instead of 4·d — e.g. 64-dim
  * float32 → 8 bytes, 32× smaller. Search uses ASYMMETRIC distance
  * (ADC): the query stays exact; per query one m×ksub lookup table of
  * subspace dot products is built, and each corpus row's approximate
  * dot is m table lookups — no float math in the scan loop.
  *
  * The codebooks (m × ksub × d/m floats — 16k at m=8, ksub=256, d=64)
  * are a [[PqModel]] built once on the driver and held by reference in
  * `pq_encode`/`pq_lut`: the plan prints only its shape tag
  * (`pq_lut(__qv, pq[8x256x8])`), compares it by identity, and
  * generated code reaches it as a reference object. The floats never
  * become a plan literal, so they are never reflected, rendered or
  * canonicalized per query.
  */
final class PqModel(val codebooks: Array[Array[Array[Float]]])
    extends Serializable {
  require(codebooks.nonEmpty, "PqModel: no subspaces")
  val m: Int = codebooks.length
  val ksub: Int = codebooks.head.length
  val dsub: Int = codebooks.head.head.length
  require(ksub > 0 && ksub <= 256,
    s"PqModel: ksub $ksub must be in 1..256 (codes are single bytes)")
  require(codebooks.forall(cb =>
    cb.length == ksub && cb.forall(_.length == dsub)),
    "PqModel: ragged codebooks (every subspace needs ksub × dsub floats)")
  val dim: Int = m * dsub

  /** The codebooks as nested Seqs (the `Ann.trainPq` shape). */
  def toSeq: Seq[Seq[Seq[Float]]] =
    codebooks.toSeq.map(_.toSeq.map(_.toSeq))

  /** The plan tag: m × ksub × dsub. */
  override def toString: String = s"pq[${m}x${ksub}x$dsub]"
}

object PqModel {
  def apply(codebooks: Seq[Seq[Seq[Float]]]): PqModel =
    new PqModel(codebooks.map(_.map(_.toArray).toArray).toArray)
}

object PqImpl {
  def build(arr: ArrayData): PqModel = {
    val m = arr.numElements()
    val books = new Array[Array[Array[Float]]](m)
    var j = 0
    while (j < m) {
      val cb = arr.getArray(j)
      val k = cb.numElements()
      val rows = new Array[Array[Float]](k)
      var c = 0
      while (c < k) {
        val cw = cb.getArray(c)
        val d = cw.numElements()
        val v = new Array[Float](d)
        var i = 0
        while (i < d) { v(i) = cw.getFloat(i); i += 1 }
        rows(c) = v
        c += 1
      }
      books(j) = rows
      j += 1
    }
    new PqModel(books)
  }

  /** Per-subspace argmin-L2 code, one byte each. Ties → lowest code. */
  def encode(vec: ArrayData, m: PqModel): Array[Byte] = {
    require(vec.numElements() == m.dim,
      s"pq_encode: vector dim ${vec.numElements()} != model dim ${m.dim}")
    val out = new Array[Byte](m.m)
    var j = 0
    while (j < m.m) {
      val off = j * m.dsub
      val cb = m.codebooks(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d = 0.0
        var i = 0
        while (i < m.dsub) {
          val diff = vec.getFloat(off + i).toDouble - cw(i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** ADC lookup table for one query: flat m×ksub doubles,
    * lut[j·ksub + c] = ⟨q_j, codeword_{j,c}⟩. */
  def lut(vec: ArrayData, m: PqModel): ArrayData = {
    require(vec.numElements() == m.dim,
      s"pq_lut: vector dim ${vec.numElements()} != model dim ${m.dim}")
    val out = new Array[Double](m.m * m.ksub)
    var j = 0
    while (j < m.m) {
      val off = j * m.dsub
      val cb = m.codebooks(j)
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var acc = 0.0
        var i = 0
        while (i < m.dsub) {
          acc += vec.getFloat(off + i).toDouble * cw(i).toDouble
          i += 1
        }
        out(j * m.ksub + c) = acc
        c += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Approximate ⟨query, row⟩: m lookups. ksub is recovered from the
    * table length so the expression needs no model reference. */
  def adc(codes: Array[Byte], lut: ArrayData): Double = {
    val m = codes.length
    require(m > 0 && lut.numElements() % m == 0,
      s"pq_adc: LUT length ${lut.numElements()} not a multiple of code length $m")
    val ksub = lut.numElements() / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getDouble(j * ksub + (codes(j) & 0xFF))
      j += 1
    }
    acc
  }
}

/** `pq_encode(vec, codebooks)` — m-byte PQ code (binary). */
case class PqEncode(child: Expression, model: PqModel)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    PqImpl.encode(v.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, "graft.functions.PqModel")
    defineCodeGen(ctx, ev, v => s"graft.functions.PqImpl.encode($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

/** `pq_lut(qvec, codebooks)` — flat m×ksub ADC table (array<double>). */
case class PqLut(child: Expression, model: PqModel)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprCheck.floatArray(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    PqImpl.lut(v.asInstanceOf[ArrayData], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, "graft.functions.PqModel")
    defineCodeGen(ctx, ev, v => s"graft.functions.PqImpl.lut($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pq_lut"
}

/** `pq_adc(codes, lut)` — approximate dot product via table lookups. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, array<double>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    PqImpl.adc(codes.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.PqImpl.adc($c, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_adc"
}
