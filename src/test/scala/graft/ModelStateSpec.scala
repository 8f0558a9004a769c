package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.functions.{FloatMatrix, VectorFunctions}
import graft.operators.{Ann, Pca}

/** Kernels that hold trained model state by reference (`mat_vec_f`'s
  * matrix, `ivf_probe`'s centroid set, `pq_lut`'s codebooks), checked
  * two ways:
  *
  * - differentially, with generated inputs, against the literal-based
  *   forms they replaced — which survive here, in test scope only, as
  *   the reference;
  * - by plan size: a search plan must not grow with the model. */
class ModelStateSpec extends SparkSpec {
  import spark.implicits._

  private val params = Check.Parameters.default
    .withMinSuccessfulTests(30)
    .withInitialSeed(Seed(20261019L))
    .withWorkers(1)

  private def check(p: Prop): Unit = {
    val r = Check.check(params, p)
    assert(r.passed, Pretty.pretty(r))
  }

  /** Components that stress the float edge cases: exact ties (halves),
    * ±0.0, NaN, infinities, subnormals and large magnitudes. */
  private val component: Gen[Float] = Gen.frequency(
    8 -> Gen.choose(-6, 6).map(_ / 2.0f),
    4 -> Gen.choose(-1.0f, 1.0f),
    1 -> Gen.const(0.0f),
    1 -> Gen.const(-0.0f),
    1 -> Gen.const(Float.NaN),
    1 -> Gen.oneOf(Float.PositiveInfinity, Float.NegativeInfinity),
    1 -> Gen.oneOf(Float.MinPositiveValue, -1.0e38f, 3.0e38f))

  private def vector(dim: Int): Gen[Array[Float]] = Gen.frequency(
    6 -> Gen.listOfN(dim, component).map(_.toArray),
    1 -> Gen.const(Array.fill(dim)(0.0f)))

  private val floatVecType = ArrayType(FloatType, containsNull = false)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // ------------------------------------------------------------------
  // mat_vec_f ≡ one dot_f(...).cast("float") per output coordinate
  // ------------------------------------------------------------------

  /** The rotation as it was written before `mat_vec_f`: one `dot_f`
    * call per coordinate, each against its own row literal. */
  private def rotateByDots(vec: org.apache.spark.sql.Column,
      rows: Seq[Seq[Float]], asFloat: Boolean) =
    array(rows.map { r =>
      val d = call_function("dot_f", vec, typedlit(r))
      if (asFloat) d.cast("float") else d
    }: _*)

  private val matVecCase = for {
    cols <- Gen.choose(1, 6)
    nrows <- Gen.choose(1, 6)
    m <- Gen.listOfN(nrows, Gen.listOfN(cols, component))
    n <- Gen.choose(1, 8)
    vs <- Gen.listOfN(n, vector(cols))
  } yield (m, vs)

  test("mat_vec_f matches the per-coordinate dot_f cast array bit for bit") {
    check(Prop.forAllNoShrink(matVecCase) { case (m, vs) =>
      val df = frame(StructType(Seq(StructField("v", floatVecType))),
        vs.map(v => Row(v.toSeq)))
      val matrix = FloatMatrix(m)
      val got = df.select(
        VectorFunctions.matVec(col("v"), matrix, asFloat = true),
        rotateByDots(col("v"), m, asFloat = true),
        VectorFunctions.matVec(col("v"), matrix, asFloat = false),
        rotateByDots(col("v"), m, asFloat = false)).collect()
      // floatToIntBits/doubleToLongBits keep -0.0 apart from 0.0 and
      // fold NaN payloads, which Spark does not preserve either
      def fbits(r: Row, i: Int) = r.getSeq[Float](i).map(java.lang.Float.floatToIntBits)
      def dbits(r: Row, i: Int) = r.getSeq[Double](i).map(java.lang.Double.doubleToLongBits)
      val bad = got.filter(r => fbits(r, 0) != fbits(r, 1) || dbits(r, 2) != dbits(r, 3))
      bad.isEmpty :| s"mismatches: ${bad.mkString("; ")}"
    })
  }

  test("Pca.rotateCol is one mat_vec_f projection per row") {
    val model = Pca.Model(Seq(Seq(0.6f, 0.8f), Seq(-0.8f, 0.6f)),
      Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(2.0, 1.0))
    val df = Seq((1L, Array(3.0f, 4.0f))).toDF("id", "v")
    val rotated = df.select(Pca.rotateCol(col("v"), model))
    assert(rotated.queryExecution.analyzed.toString.contains("mat[2x2]"))
    val expect = df.select(rotateByDots(col("v"), model.components, asFloat = true))
    assert(rotated.head.getSeq[Float](0) === expect.head.getSeq[Float](0))
  }

  // ------------------------------------------------------------------
  // ivf_probe ≡ broadcast cross join + topk_any
  // ------------------------------------------------------------------

  /** The probe table as it was built before `ivf_probe`: queries ×
    * centroids through a broadcast cross join, one cosine per pair, a
    * `topk_any` aggregate per query, and — for residual ADC — ⟨q, c⟩
    * from a second join against the centroid table. Rows are
    * (query_id, position, centroid_id, dot). */
  private def probeByJoin(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    import VectorFunctions.{cosinePrenormed, dot, norm}
    val c = centroids.select(col("id").as("centroid_id"),
      col("vec").as("__ev"), norm(col("vec")).as("__en"))
    queries
      .select(col("id").as("query_id"), col("vec").as("__qv"),
        norm(col("vec")).as("__qn"))
      .join(broadcast(c))
      .withColumn("__pcos", cosinePrenormed(
        dot(col("__qv"), col("__ev")), col("__qn"), col("__en")))
      .groupBy(col("query_id"))
      .agg(call_function("topk_any", col("__pcos"), col("centroid_id"),
        lit(nprobe)).as("__top"), first(col("__qv")).as("__qv"))
      .select(col("query_id"), col("__qv"),
        posexplode(col("__top")).as(Seq("pos", "__e")))
      .select(col("query_id"), col("pos"), col("__e.payload").as("centroid_id"),
        col("__qv"))
      .join(broadcast(centroids.select(col("id").as("centroid_id"),
        col("vec").as("__cent"))), Seq("centroid_id"))
      .select(col("query_id"), col("pos"), col("centroid_id"),
        dot(col("__qv"), col("__cent")).as("dot"))
  }

  private def probeByKernel(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    queries.select(col("id").as("query_id"),
        posexplode(VectorFunctions.ivfProbe(col("vec"),
          Ann.collectCentroids(centroids, "id", "vec"), nprobe))
          .as(Seq("pos", "__e")))
      .select(col("query_id"), col("pos"),
        col("__e.centroid_id").as("centroid_id"), col("__e.dot").as("dot"))

  /** Distinct ids of one type; the string ids order differently from
    * their numbers ("c10" < "c9"). */
  private def ids(idType: DataType, n: Int): Gen[Seq[Any]] =
    Gen.pick(n, 1 to 40).map(_.toSeq).map { ns =>
      idType match {
        case IntegerType => ns
        case LongType => ns.map(_.toLong * 1000000007L)
        case StringType => ns.map(i => s"c$i")
      }
    }

  private val probeCase = for {
    dim <- Gen.choose(1, 4)
    idType <- Gen.oneOf(IntegerType, LongType, StringType)
    k <- Gen.choose(1, 7)
    fresh <- Gen.listOfN(k, vector(dim))
    // duplicate centroids: some rows copy an earlier one (exact ties)
    dupOf <- Gen.listOfN(k, Gen.frequency(2 -> Gen.const(-1), 1 -> Gen.choose(0, k - 1)))
    cIds <- ids(idType, k)
    nq <- Gen.choose(1, 4)
    qs <- Gen.listOfN(nq, Gen.frequency(5 -> vector(dim).map(Option(_)),
      1 -> Gen.const(None)))
    nprobe <- Gen.choose(1, k + 2)
  } yield {
    val cents = fresh.indices.map(i =>
      if (dupOf(i) >= 0 && dupOf(i) < i) fresh(dupOf(i)) else fresh(i))
    (idType, cIds.zip(cents), qs, nprobe)
  }

  test("ivf_probe matches the broadcast-join + topk_any probe row for row") {
    check(Prop.forAllNoShrink(probeCase) { case (idType, cents, qs, nprobe) =>
      val centroids = frame(
        StructType(Seq(StructField("id", idType), StructField("vec", floatVecType))),
        cents.map { case (id, v) => Row(id, v.toSeq) })
      val queries = frame(
        StructType(Seq(StructField("id", LongType), StructField("vec", floatVecType))),
        qs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.map(_.toSeq).orNull) })
      def rows(df: DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getInt(1), String.valueOf(r.get(2)),
          Option(r.get(3)).map(d =>
            java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])))).sorted.toSeq
      // one deliberate difference: a null query vector probes nothing.
      // The join form's cosine guard (`qn = 0 OR cn = 0`) is null OR
      // true against a zero-norm centroid, so it probed exactly those
      // centroids with a null vector; those rows are dropped from the
      // reference, and the equality below then pins that the kernel
      // emits none
      val nullQs = qs.indices.filter(qs(_).isEmpty).map(_.toLong).toSet
      val want = rows(probeByJoin(queries, centroids, nprobe))
        .filterNot(r => nullQs(r._1))
      val got = rows(probeByKernel(queries, centroids, nprobe))
      (got == want) :| s"$idType nprobe=$nprobe\n want $want\n got  $got"
    })
  }

  // ------------------------------------------------------------------
  // model size never reaches the plan
  // ------------------------------------------------------------------

  test("a searchOpqIndex plan is the same length at ksub 16 and ksub 64") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 256).map { i =>
      (i.toLong, Array.tabulate(8)(d => (rnd.nextGaussian() * (8 - d)).toFloat))
    }.toDF("vec_id", "vec")
    val rotation = Pca.opqModel(Pca.train(corpus, "vec_id", "vec", k = 8), 4)
    val rotated = Pca.rotate(corpus, "vec_id", "vec", rotation).cache()
    val centroids = Ann.trainCentroids(rotated, "vec_id", "vec", k = 4, iters = 1)
      .withColumnRenamed("centroid_id", "vec_id")
    val root = Files.createTempDirectory("model-plan").toString
    def plan(ksub: Int): String = {
      val dir = s"$root/k$ksub"
      val books = Ann.trainPq(rotated, "vec_id", "vec", m = 4, ksub = ksub,
        iters = 1, maxTrain = 256)
      Ann.saveOpqIndex(dir,
        Ann.buildPqIndex(rotated, centroids, books, "vec_id", "vec"),
        centroids, books, "vec_id", "vec", rotation = Some(rotation))
      val idx = Ann.loadOpqIndex(spark, dir)
      Ann.searchOpqIndex(idx, corpus, corpus.filter(col("vec_id") < 3),
          k = 5, nprobe = 2, refine = 2)
        .queryExecution.explainString(FormattedMode)
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    }
    val (p16, p64) = (plan(16), plan(64))
    assert(p16.contains("pq_lut(") && p16.contains("pq[4x16x2]"), p16)
    assert(p64.contains("pq[4x64x2]") && p64.contains("mat[8x8]") &&
      p64.contains("centroids[4x8]"), p64)
    assert(p16.length === p64.length,
      "the plan grew with the codebooks:\n" + p16 + "\n----\n" + p64)
  }
}
