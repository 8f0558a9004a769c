package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Z-order (Morton) layout math for data-skipping writes.
  *
  * A linear sort gives ONE column tight per-file min/max ranges and
  * leaves every other column spanning the full domain in every file; a
  * Z-order curve interleaves the bits of several columns' quantile
  * buckets so each file covers a small hyper-rectangle of the combined
  * space — parquet footer stats then skip files/row-groups for
  * predicates on ANY of the curve's columns.
  *
  * Everything here is a pure projection: quantile boundaries are a
  * constant-size Greenwald-Khanna sketch collected once
  * ([[quantileBounds]]), bucketing is a codegen'd binary search over
  * the broadcast-literal boundary array, and the interleave is integer
  * bit math — codegen end to end.
  */
object LayoutFunctions {

  /** 2^bits − 1 interior quantile boundaries of a NUMERIC column, from
    * one approx-quantile pass (constant driver memory). */
  def quantileBounds(
      df: DataFrame, colName: String, bits: Int,
      relErr: Double = 0.001): Array[Double] = {
    require(bits >= 1 && bits <= 16, "quantileBounds: bits in 1..16")
    val buckets = 1 << bits
    df.stat.approxQuantile(colName,
      (1 until buckets).map(_.toDouble / buckets).toArray, relErr)
  }

  /** Bucket index in [0, #bounds]: the count of boundaries ≤ value.
    * Nulls land in bucket 0. A native binary-search expression
    * ([[BucketSearch]]): the original array-filter-count lambda was a
    * CodegenFallback higher-order function evaluating #bounds
    * interpreted comparisons per row — measured 9 s for 600k rows ×
    * 63 bounds where this runs at scan speed (the cost every
    * prefixSum/globalRank/Z-order caller was paying per pass). */
  def quantileBucket(value: Column, bounds: Array[Double]): Column =
    coalesce(
      call_function("bucket_search", value.cast("double"),
        typedlit(bounds.toSeq)),
      lit(0L))

  /** The array-filter-count form of [[quantileBucket]] — the reference
    * CorpusSpec pins the native kernel to. */
  private[graft] def quantileBucketHof(
      value: Column, bounds: Array[Double]): Column =
    size(filter(typedlit(bounds.toSeq),
      b => value.cast("double") >= b)).cast("long")

  /** Morton interleave: bit b of bucket i becomes output bit
    * b·n + i, so all columns' low-order bucket bits are adjacent and
    * the sort order cycles through the hyper-grid locally. */
  def zValue(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.size >= 2,
      "zValue: needs >= 2 columns (a single column wants a plain sort)")
    require(bits * buckets.size <= 62,
      s"zValue: ${bits} bits x ${buckets.size} columns overflows a long")
    val n = buckets.size
    val terms = for {
      b <- 0 until bits
      (c, i) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ bitwiseOR _)
  }
}

/** Upper-bound binary search over a SORTED literal boundary array:
  * returns (as long) the first index whose bound exceeds the value —
  * equivalently the count of bounds ≤ value, i.e. the quantile bucket.
  * Duplicate bounds are handled by the upper-bound convention (ties
  * all count). Null input → null (the quantileBucket wrapper
  * coalesces to bucket 0, matching the filter-count semantics it
  * replaces). O(log n) per row, fully codegen'd: the boundary array
  * is a compile-time reference object, not a per-row literal array. */
case class BucketSearch(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "bucket_search"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: value must be double, got ${left.dataType.simpleString}")
    else if (!right.foldable ||
      right.dataType != ArrayType(DoubleType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: bounds must be a literal array<double>")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val arr: Array[Double] =
    right.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()

  override protected def nullSafeEval(v: Any, b: Any): Any =
    BucketSearchImpl.search(arr, v.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boundsRef = ctx.addReferenceObj("bounds", arr, "double[]")
    defineCodeGen(ctx, ev,
      (c, _) => s"graft.functions.BucketSearchImpl.search($boundsRef, $c)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BucketSearch = copy(left = l, right = r)
}

object BucketSearchImpl {
  /** First index whose bound exceeds v == count of bounds ≤ v, under
    * Spark's ordering: NaN is greater than every number, so a NaN value
    * counts every bound (as `v >= b` does in the filter-count form). */
  def search(arr: Array[Double], v: Double): Long = {
    if (v.isNaN) return arr.length.toLong
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}
