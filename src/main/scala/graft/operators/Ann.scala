package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CentroidSet, PqEncode, PqLut, PqModel, Sq8Dequant, Sq8Dot, Sq8Encode, Sq8Model, Sq8Norm}
import graft.functions.VectorFunctions._
import graft.plans.GraftExtensions

/** Approximate nearest neighbour search over an `array<float>` embedding
  * column.
  *
  * - `bruteForceTopK`: the exactness baseline. The query set is small →
  *   broadcast it over the (huge) corpus: a broadcast nested-loop join
  *   with NO shuffle of the corpus; per-partition scoring then a
  *   BOUNDED per-query top-k aggregate (`topk_any` — k rows per query
  *   per task map-side, never a full row_number window sort of the
  *   scored pairs). Corpus row norms are computed once in a
  *   projection before the join, not per pair.
  * - `ivfTopK`: IVF-style pruning. A fixed set of centroid rows
  *   partitions the corpus into buckets (one pass, argmax-cosine
  *   assignment against the driver-collected centroid set); queries
  *   probe only the `nprobe` nearest buckets, picked by the `ivf_probe`
  *   projection. At full probe (nprobe = #centroids) this is exact.
  *
  * At 100 TB the corpus never moves: both variants stream it through a
  * broadcast join; the only shuffle is the final per-query top-k, whose
  * input is already reduced to candidates.
  */
object Ann {

  /** Exact top-k neighbours per query row.
    *
    * @param corpus  (id, embedding) — the big side, streamed
    * @param queries (id, embedding) — the small side, broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = Parallelism.ensure(corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val joinCond =
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = c.join(q, joinCond)
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("__qv"), col("__cv")), col("__qn"),
          col("__cn")).as("__cos"))
    finishTopK(scored, "__cos", k)
  }

  /** Train IVF centroids with distributed Lloyd's k-means (spherical:
    * assignment by cosine via the same zero-exchange `nearest_centroid`
    * projection queries use, means recomputed per dimension).
    *
    * Per iteration: one narrow assignment pass (NO shuffle — the
    * expression holds the centroid set) + one aggregation whose shuffle
    * carries at most k × dim × partitions partial sums (map-side
    * combine; independent of corpus size). Initialisation is a
    * deterministic content-hash sample — stable across runs and
    * cluster layouts, never Math.random. Empty clusters keep their
    * previous centroid. Returns (centroid_id int, `vecCol`
    * array<float>) ready for `ivfTopK`/`assignBuckets`.
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3, seed: Long = 42L): DataFrame = {
    require(k > 0 && iters >= 0, "trainCentroids: k > 0, iters >= 0")
    // the centroid set lives on the driver and reaches every task,
    // so the loop keeps collectCentroids' fail-fast caps (k up front,
    // k x dim after init)
    require(k <= MaxCentroidRows,
      s"trainCentroids: k=$k exceeds $MaxCentroidRows — " +
        "use the broadcast-join assignment (assignBucketsJoin)")
    val spark = corpus.sparkSession
    val vecs = Parallelism.ensure(
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("__id"), col(vecCol).as("__v")))
    // The model is k×dim floats — the same driver budget class
    // collectCentroids enforces on every consumer — so the Lloyd's
    // state lives on the DRIVER between iterations: one TakeOrdered
    // job seeds it, then each iteration is exactly ONE aggregate job
    // (assignment projection + map-side-combined sum/count collect).
    // The previous DataFrame-resident loop paid a collect + a join +
    // a localCheckpoint per iteration — 2-3 extra jobs' scheduling
    // latency each — to keep state the driver had to collect anyway.
    //
    // deterministic init: k lowest content-hashes, centroid_id =
    // hash rank (the row order is re-sorted on the driver — sorted
    // output order through collect is not contractual)
    var cents: Array[Seq[Float]] = vecs
      .select(xxhash64(col("__id"), lit(seed)).as("__h"), col("__v"))
      .orderBy(col("__h"))
      .limit(k)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1))
    require(cents.iterator.map(_.size.toLong).sum <= MaxCentroidFloats,
      s"trainCentroids: centroid matrix exceeds $MaxCentroidFloats " +
        "floats — use the broadcast-join assignment (assignBucketsJoin)")
    for (_ <- 1 to iters) {
      // same assignment expression as assignBuckets over the same
      // matrix (row index = centroid id), so buckets are identical
      val cid = (nearestCentroid(col("__v"), CentroidSet.indexed(cents.toSeq))
        .cast("int") - 1).as("centroid_id")
      // per-dimension mean, arithmetic unchanged from the DataFrame
      // form: double sums / long count, divided as doubles, cast to
      // float — the native `vector_sum_f` kernel's ONE
      // ObjectHashAggregate. Empty clusters keep their previous
      // centroid (missing group id = no update).
      val next = cents.map(identity) // copy: unassigned ids persist
      vecs.groupBy(cid)
        .agg(call_function("vector_sum_f", col("__v")).as("__sum"),
          count(col("__v")).as("__n"))
        .collect()
        .foreach { r =>
          val id = r.getInt(0)
          val s = r.getSeq[Double](1)
          val n = r.getLong(2)
          next(id) = s.map(x => (x / n).toFloat)
        }
      cents = next
    }
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("centroid_id", vecCol)
  }

  /** Assign every corpus row to its nearest centroid (argmax cosine,
    * ties → lowest centroid id). The centroid set IS the IVF model — a
    * deliberately small table — so it is collected on the driver once
    * ([[collectCentroids]]) into a [[CentroidSet]] that the
    * `nearest_centroid` expression holds by reference: the per-row
    * argmax runs as a pure projection (zero exchanges, the corpus never
    * moves), the plan prints only `centroids[k x dim]`, and every task
    * receives the set as a codegen reference object (the same data
    * movement as a broadcast join's build side).
    *
    * NOTE: calling this EAGERLY RUNS a Spark job (the centroid
    * `collect()`) at DataFrame-construction time — acceptable because
    * the model table is small by construction, but callers composing
    * lazy pipelines should construct it once and reuse.
    *
    * Corpus rows with a null embedding are EXCLUDED from the index
    * (filtered here, explicitly): a null vector has no bucket, and
    * letting it fall through as a null centroid_id would silently drop
    * it later in ivfTopK's bucket join. Filter nulls upstream if they
    * should be scored some other way. */
  def assignBuckets(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    bucketed(corpus, collectCentroids(centroids, idCol, vecCol), vecCol)

  /** [[assignBuckets]] against an already-collected set. */
  private def bucketed(corpus: DataFrame, centroids: CentroidSet,
      vecCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("centroid_id", nearestCentroid(col(vecCol), centroids))

  /** Driver-side model size cap: every task receives the whole set, so
    * beyond this a broadcast-join bucket assignment
    * ([[assignBucketsJoin]]) is the right shape. sqrt(N) centroids for
    * a 10^9-vector index (~31k rows of 768 floats ≈ 95 MB) stays
    * within; a 10^5 x 768 matrix does not. Sized by the shared
    * [[DriverBudget]] model (the row cap reuses the training-sample
    * row budget). */
  private val MaxCentroidRows = DriverBudget.TrainRows
  private val MaxCentroidFloats = DriverBudget.LiteralFloats

  /** The centroid table collected into a [[CentroidSet]], ordered by
    * ascending centroid id so argmax tie-breaking (lowest index) means
    * lowest centroid id. Ids may be int, bigint or string. Null
    * ids/vectors are rejected, not NPE'd. One bounded collect job. */
  private[graft] def collectCentroids(
      centroids: DataFrame, idCol: String, vecCol: String): CentroidSet = {
    val rows = centroids.select(col(idCol), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .orderBy(col(idCol)).collect()
    require(rows.nonEmpty,
      "assignBuckets: empty centroid set (after dropping null id/vec rows)")
    require(rows.length <= MaxCentroidRows,
      s"assignBuckets: ${rows.length} centroids exceed $MaxCentroidRows — " +
        "use the broadcast-join assignment (assignBucketsJoin)")
    val matrix = rows.map(_.getSeq[Float](1).toArray)
    val floats = matrix.iterator.map(_.length.toLong).sum
    require(floats <= MaxCentroidFloats,
      s"assignBuckets: centroid matrix of $floats floats exceeds " +
        s"$MaxCentroidFloats — use the broadcast-join assignment " +
        "(assignBucketsJoin)")
    val ids = rows.map(_.get(0))
    val idType = ids.head match {
      case _: java.lang.Long => LongType
      case _: java.lang.Integer => IntegerType
      case _: String => StringType
      case other => throw new IllegalArgumentException(
        s"assignBuckets: unsupported centroid id type ${other.getClass}")
    }
    val internal: Array[Any] =
      if (idType == StringType)
        ids.map(id => UTF8String.fromString(id.asInstanceOf[String]))
      else ids
    new CentroidSet(new GenericArrayData(internal), idType, matrix)
  }

  /** Bucket assignment via BROADCAST JOIN — the path for centroid sets
    * too large for the plan-literal model (beyond the collectCentroids
    * caps). One broadcast of the centroid table, per-pair cosine, then
    * an argmax aggregated per corpus row KEYED ON `idCol` ONLY (the
    * non-key columns ride along in a `first(struct(...))`, so map and
    * other non-groupable column types work): the shuffle moves one
    * combined row per input row after map-side combine. REQUIRES
    * `idCol` to be unique per corpus row — duplicate ids collapse to
    * one output row with an arbitrary survivor's payload (the literal-
    * model `assignBuckets` is a pure projection and has no such
    * constraint). Ties → lowest centroid id, matching assignBuckets.
    * (One edge diverges: NaN cosines sort LAST under struct-min here,
    * while the literal model follows Spark's NaN-greatest ordering —
    * filter NaN vectors upstream if that distinction matters.) */
  def assignBucketsJoin(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val c = broadcast(centroids
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn")))
    val corpusV = corpus.filter(col(vecCol).isNotNull)
    val others = corpusV.columns.filterNot(_ == idCol)
    corpusV.withColumn("__vn", norm(col(vecCol)))
      .join(c)
      .withColumn("__score",
        cosinePrenormed(dot(col(vecCol), col("__cv")), col("__vn"), col("__cn")))
      .groupBy(col(idCol))
      .agg(
        min(struct(negate(col("__score")).as("n"), col("__cid").as("id")))
          .as("__best"),
        first(struct(others.map(col): _*)).as("__row"))
      .select(col(idCol) +:
        others.map(n => col(s"__row.$n").as(n)) :+
        col("__best.id").as("centroid_id"): _*)
  }

  /** IVF search: probe the `nprobe` centroids nearest to each query and
    * rank candidates only within those buckets. "Exact at full probe"
    * holds over the INDEXED corpus — rows with null embeddings are
    * excluded by assignBuckets (they cannot be scored); on a nullable
    * corpus an engine that ranks null similarity last would differ. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    val buckets = bucketed(
        Parallelism.ensure(corpus.select(col(idCol), col(vecCol))),
        cents, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"), col("centroid_id"))
    // which buckets each query probes
    val probes = assignProbes(queryRows(queries, idCol, vecCol), cents, nprobe)
    val scored = buckets
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("__qv"), col("__cv")), col("__qn"),
          col("__cn")).as("__cos"))
    finishTopK(scored, "__cos", k)
  }

  // ------------------------------------------------------------------
  // IVF-PQ: product-quantization compressed search
  // ------------------------------------------------------------------

  /** Cap on the PQ training sample materialised on the driver. At
    * 16384 × 768 floats that is ~48 MB — k-means over a bounded sample
    * is the standard PQ training recipe (FAISS trains on a sample too);
    * ENCODING and SEARCH stay fully distributed. */
  // training-sample ceiling from the shared DriverBudget model
  private val MaxPqTrainRows = DriverBudget.TrainRows

  /** Train PQ codebooks: split dim-d vectors into `m` subvectors of
    * d/m floats and run Lloyd's k-means (L2) per subspace over a
    * DETERMINISTIC hash-ordered sample collected to the driver.
    * Deterministic init (first `ksub` sampled subvectors), empty
    * clusters keep their previous centroid — same contracts as
    * [[trainCentroids]]. Returns m × ksub × d/m codebooks ready for
    * [[buildPqIndex]] / [[ivfPqTopK]].
    */
  def trainPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int = 256, iters: Int = 10,
      maxTrain: Int = 16384, seed: Long = 42L): Seq[Seq[Seq[Float]]] = {
    require(m > 0 && ksub > 0 && ksub <= 256 && iters >= 0,
      "trainPq: m > 0, 0 < ksub <= 256, iters >= 0")
    require(maxTrain >= ksub && maxTrain <= MaxPqTrainRows,
      s"trainPq: maxTrain must be in [$ksub, $MaxPqTrainRows]")
    val sample = corpus.filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(maxTrain)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    trainPqOnSample(sample, m, ksub, iters)
  }

  /** PQ codebooks trained on RESIDUALS (vec − assigned centroid) —
    * the FAISS IVF-PQ recipe proper: within one IVF cell the
    * residual distribution is far tighter than the raw vectors', so
    * the same m bytes quantize it with much less error (better
    * recall at identical index size). Sampling, determinism and the
    * per-subspace Lloyd's loop are [[trainPq]]'s exactly; the only
    * difference is the subtraction of each sampled row's nearest
    * centroid before training. Pair with [[buildPqIndexResidual]] /
    * [[searchPqIndexResidual]]. */
  def trainPqResidual(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      m: Int, ksub: Int = 256, iters: Int = 10,
      maxTrain: Int = 16384, seed: Long = 42L): Seq[Seq[Seq[Float]]] = {
    require(m > 0 && ksub > 0 && ksub <= 256 && iters >= 0,
      "trainPqResidual: m > 0, 0 < ksub <= 256, iters >= 0")
    require(maxTrain >= ksub && maxTrain <= MaxPqTrainRows,
      s"trainPqResidual: maxTrain must be in [$ksub, $MaxPqTrainRows]")
    GraftExtensions.require(corpus.sparkSession)
    val cents = centroids
      .select(col(idCol).as("centroid_id"), col(vecCol).as("__cent"))
    // The hash-ordered limit picks WHICH rows train, but row order is
    // not contractual through the assignment/join that follows — so the
    // sort key (and the id as a collision tie-break) ride along and the
    // driver re-sorts the collected sample. trainPqOnSample's init is
    // order-sensitive (first ksub subvectors); without this re-sort the
    // codebooks could drift between runs/plans.
    val sample = assignBuckets(
        corpus.filter(col(vecCol).isNotNull)
          .orderBy(xxhash64(col(idCol), lit(seed)))
          .limit(maxTrain),
        centroids, idCol, vecCol)
      .join(broadcast(cents), Seq("centroid_id"))
      .select(xxhash64(col(idCol), lit(seed)).as("__ord"),
        col(idCol).cast("string").as("__tie"),
        call_function("vec_sub_f", col(vecCol), col("__cent")).as("__res"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)
    trainPqOnSample(sample, m, ksub, iters)
  }

  /** Shared per-subspace Lloyd's core for [[trainPq]] /
    * [[trainPqResidual]] — deterministic init (first ksub
    * subvectors), empty clusters keep their previous centroid. */
  private def trainPqOnSample(sample: Array[Array[Float]],
      m: Int, ksub: Int, iters: Int): Seq[Seq[Seq[Float]]] = {
    require(sample.nonEmpty, "trainPq: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m=$m")
    require(sample.forall(_.length == dim), "trainPq: ragged vectors")
    val dsub = dim / m
    // the m subspaces are INDEPENDENT Lloyd's problems — train them in
    // parallel on the JDK common pool (the driverTriangles discipline;
    // r19: the sequential loop serialised ~170M distance mults onto one
    // core per PQ training, paid by every IVF-PQ/OPQ lifecycle query).
    // Per-subspace arithmetic and iteration order are untouched, so the
    // codebooks are bit-identical to the sequential loop's.
    val books = new Array[Seq[Seq[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
      val off = j * dsub
      val subs = sample.map(v =>
        java.util.Arrays.copyOfRange(v, off, off + dsub))
      var cents = subs.take(ksub).map(_.clone)
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val ns = new Array[Long](cents.length)
        subs.foreach { s =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val diff = s(i).toDouble - cents(c)(i).toDouble
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          ns(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += s(i); i += 1 }
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (ns(c) == 0) prev
          else Array.tabulate(dsub)(i => (sums(c)(i) / ns(c)).toFloat)
        }
      }
      books(j) = cents.map(_.toSeq).toSeq
    }
    books.toSeq
  }

  /** Encode the corpus into the IVF-PQ index: (id, centroid_id, codes,
    * vec_norm). One pass, pure projection — `codes` is m bytes instead
    * of 4·dim (32× smaller at dim=64, m=8) and `vec_norm` keeps the
    * TRUE row norm so approximate cosine divides by the exact
    * denominator. At scale, persist this as parquet and search against
    * it; the raw corpus is only touched again by the rerank fetch. */
  def buildPqIndex(
      corpus: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String): DataFrame = {
    GraftExtensions.require(corpus.sparkSession)
    encodePq(corpus, centroids, collectCentroids(centroids, idCol, vecCol),
      PqModel(codebooks), idCol, vecCol, residual = false)
  }

  /** `pq_encode` / `pq_lut` over a held [[PqModel]] (the plan prints
    * `pq[m x ksub x dsub]`, never the codebook floats). */
  private def pqEncode(vec: Column, pq: PqModel): Column =
    GraftColumn(PqEncode(GraftColumn.expr(vec), pq))
  private def pqLut(vec: Column, pq: PqModel): Column =
    GraftColumn(PqLut(GraftColumn.expr(vec), pq))

  /** The encode projection behind [[buildPqIndex]] and
    * [[buildPqIndexResidual]], under models already built: bucket by
    * the held centroid set, then quantize the vector (plain) or
    * vec − centroid (residual, the centroid vectors joining in
    * broadcast from `centroids`). */
  private def encodePq(
      corpus: DataFrame, centroids: DataFrame, cents: CentroidSet,
      pq: PqModel, idCol: String, vecCol: String,
      residual: Boolean): DataFrame = {
    // encode is the expensive projection (m·ksub·dsub FLOPs per row —
    // 16k at 16×256×4): guard against a single-split scan serialising
    // it onto one core (measured 6× on a one-file 100k corpus)
    val b = bucketed(
      Parallelism.ensure(corpus.select(col(idCol), col(vecCol))),
      cents, vecCol)
    val encoded =
      if (!residual) pqEncode(col(vecCol), pq)
      else pqEncode(
        call_function("vec_sub_f", col(vecCol), col("__cent")), pq)
    val withCents =
      if (!residual) b
      else b.join(broadcast(centroids.select(
        col(idCol).as("centroid_id"), col(vecCol).as("__cent"))),
        Seq("centroid_id"))
    withCents.select(col(idCol), col("centroid_id"), encoded.as("codes"),
      norm(col(vecCol)).as("vec_norm"))
  }

  /** IVF-PQ search: queries probe their `nprobe` nearest buckets and
    * score the bucket's PQ codes by ADC — per candidate, m table
    * lookups against the query's precomputed m×ksub dot-product table,
    * no float math on corpus data. `refine` > 0 then reranks the top
    * refine·k ADC candidates with EXACT cosine (one broadcast join back
    * to the raw vectors — candidates only, never the corpus); at full
    * probe with a wide enough refine the result is byte-identical to
    * [[bruteForceTopK]]. refine=0 returns pure-ADC ranks with the
    * approximate cosine in `cosine`. The centroid table is collected
    * once for both the encode and the search.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 0, excludeSelf: Boolean = true): DataFrame =
    pqEndToEnd(corpus, queries, centroids, codebooks, idCol, vecCol, k,
      nprobe, refine, excludeSelf, residual = false)

  /** Encode + search under ONE collected centroid set and one
    * [[PqModel]] — [[ivfPqTopK]] and [[ivfPqResidualTopK]]. */
  private def pqEndToEnd(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]], idCol: String, vecCol: String,
      k: Int, nprobe: Int, refine: Int, excludeSelf: Boolean,
      residual: Boolean): DataFrame = {
    GraftExtensions.require(corpus.sparkSession)
    val cents = collectCentroids(centroids, idCol, vecCol)
    val pq = PqModel(codebooks)
    searchPq(
      encodePq(corpus, centroids, cents, pq, idCol, vecCol, residual),
      corpus, queries, cents, pq, idCol, vecCol, k, nprobe, refine,
      excludeSelf, None, residual)
  }

  /** Search a PREBUILT PQ index (the [[buildPqIndex]] output, typically
    * persisted as parquet) — the production shape: the corpus is
    * encoded once and every query batch pays only probe + ADC + rerank,
    * never re-encoding (measured 4.7 s e2e → 2.2 s per 50-query batch
    * against a persisted 100k index in r8; SURVEY.md). `corpus` supplies raw
    * vectors for the exact rerank and is untouched when `refine` = 0.
    *
    * NOTE: building the DataFrame EAGERLY collects the (bounded)
    * centroid table, one small job — probing is a projection over the
    * query rows against the collected set. A loaded index
    * ([[searchOpqIndex]]) collected it once at load instead. */
  def searchPqIndex(
      pqIndex: DataFrame, corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 0, excludeSelf: Boolean = true,
      rerankRotation: Option[Pca.Model] = None): DataFrame = {
    GraftExtensions.require(pqIndex.sparkSession)
    searchPq(pqIndex, corpus, queries,
      collectCentroids(centroids, idCol, vecCol), PqModel(codebooks),
      idCol, vecCol, k, nprobe, refine, excludeSelf, rerankRotation,
      residual = false)
  }

  /** The PQ search spine under held models, plain or residual. Plain
    * ADC scores ⟨q, x⟩ by the m table lookups; residual ADC scores
    * ⟨q, c⟩ + ⟨q, r⟩, where ⟨q, c⟩ is exact — the `dot` the probe
    * already computed for its (query, centroid) pair — and only the
    * residual term goes through the lookups. */
  private def searchPq(
      pqIndex: DataFrame, corpus: DataFrame, queries: DataFrame,
      cents: CentroidSet, pq: PqModel, idCol: String, vecCol: String,
      k: Int, nprobe: Int, refine: Int, excludeSelf: Boolean,
      rerankRotation: Option[Pca.Model], residual: Boolean): DataFrame = {
    val index = pqIndex.withColumnRenamed(idCol, "neighbor_id")
    val q = queryRows(queries, idCol, vecCol)
    val probes = assignProbes(q, cents, nprobe)
      .withColumn("__lut", pqLut(col("__qv"), pq))
    val adc = call_function("pq_adc", col("codes"), col("__lut"))
    // probeSearch scores then PRUNES to (ids, score) before the
    // bounded top-k select: the LUT (m·ksub doubles — 32 KB at
    // 16×256) and query vector exist only to compute the ADC score;
    // letting them ride into the selection would multiply its
    // payload ~1000× (32 KB vs ~30 B per candidate row), exactly the
    // column-pruning miss the plan audit exists to catch
    probeSearch(index, corpus, q, probes,
      cosinePrenormed(if (residual) col("__qc") + adc else adc,
        col("__qn"), col("vec_norm")),
      idCol, vecCol, k, refine, excludeSelf, rerankRotation)
  }

  /** Exact-cosine rerank of the ADC top candidates, shared by the
    * plain and residual searches: the corpus joins the (broadcast)
    * candidate set FIRST, so only candidate rows pay any per-row
    * vector math — the norm, and the OPQ rotation when
    * `rerankRotation` is set. [[searchOpqIndex]] used to rotate the
    * WHOLE corpus before handing it to the rerank; a projection on
    * the join's stream side runs on every corpus row before the join
    * drops all but ~k·refine·|queries| of them, so at corpus scale
    * that was a full-corpus dim×dim matrix multiply per search batch.
    * Rotating AFTER the join computes the identical float values on
    * only the survivors (AnnSpec pins the rotated disk path
    * bit-equal to the in-memory rotated search). */
  private def exactRerank(corpus: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      rerankRotation: Option[Pca.Model]): DataFrame = {
    import graft.functions.VectorFunctions._
    // Pca.rotate's null-vector guard, preserved on the pre-join side
    val base = if (rerankRotation.isDefined)
      corpus.filter(col(vecCol).isNotNull) else corpus
    val joined = base
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(candidates), Seq("neighbor_id"))
    val rotated = rerankRotation match {
      case Some(m) => joined.withColumn("__cv", Pca.rotateCol(col("__cv"), m))
      case None => joined
    }
    val exact = rotated
      .withColumn("__cn", norm(col("__cv")))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(dot(col("__qv"), col("__cv")), col("__qn"),
          col("__cn")).as("__cos"))
    finishTopK(exact, "__cos", k)
  }

  /** Encode the corpus into the RESIDUAL IVF-PQ index: same schema
    * as [[buildPqIndex]] ((id, centroid_id, codes, vec_norm)), but
    * `codes` quantizes vec − centroid via the native `vec_sub_f`
    * kernel (the subtraction stays codegen'd — Spark's zip_with HOF
    * is interpreted and this is the per-row encode hot path). The
    * centroid table joins in broadcast; encode remains a pure
    * projection with no extra shuffle. */
  def buildPqIndexResidual(
      corpus: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String): DataFrame = {
    GraftExtensions.require(corpus.sparkSession)
    encodePq(corpus, centroids, collectCentroids(centroids, idCol, vecCol),
      PqModel(codebooks), idCol, vecCol, residual = true)
  }

  /** Append a new batch to a prebuilt PQ index under the FROZEN
    * centroids + codebooks — the continuous-ingest shape (FAISS's
    * `add()` semantics): the existing corpus is never re-encoded and
    * the models never retrain per batch, so the per-batch cost is
    * one encode projection over the batch alone. Encoding is
    * deterministic given the models, so append ≡ rebuilding the
    * whole index with the same models (AnnSpec pins code-for-code
    * equality and search identity). Staleness is the caller's
    * contract: appended vectors quantize against the ORIGINAL
    * training distribution — monitor drift and retrain + rebuild
    * when the corpus moves (the same trade every IVF deployment
    * makes). `residual = true` encodes vec − centroid for a
    * [[buildPqIndexResidual]] index. */
  def appendPqIndex(
      pqIndex: DataFrame, batch: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]], idCol: String, vecCol: String,
      residual: Boolean = false): DataFrame = {
    val delta =
      if (residual)
        buildPqIndexResidual(batch, centroids, codebooks, idCol, vecCol)
      else buildPqIndex(batch, centroids, codebooks, idCol, vecCol)
    pqIndex.unionByName(delta)
  }

  /** Search a residual PQ index: ADC scores approximate
    * ⟨q, x⟩ = ⟨q, c⟩ + ⟨q, r⟩ — the ⟨q, c⟩ term is exact (the probe's
    * own dot per (query, probed centroid)), and only the residual term
    * goes through the m table lookups. Same probe/prune/refine
    * discipline, and the same eager centroid collect, as
    * [[searchPqIndex]]; at full probe with wide refine the result is
    * byte-identical to [[bruteForceTopK]]. */
  def searchPqIndexResidual(
      pqIndex: DataFrame, corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 0, excludeSelf: Boolean = true,
      rerankRotation: Option[Pca.Model] = None): DataFrame = {
    GraftExtensions.require(pqIndex.sparkSession)
    searchPq(pqIndex, corpus, queries,
      collectCentroids(centroids, idCol, vecCol), PqModel(codebooks),
      idCol, vecCol, k, nprobe, refine, excludeSelf, rerankRotation,
      residual = true)
  }

  /** Residual IVF-PQ end to end: encode + search (the q165 shape). */
  def ivfPqResidualTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 0, excludeSelf: Boolean = true): DataFrame =
    pqEndToEnd(corpus, queries, centroids, codebooks, idCol, vecCol, k,
      nprobe, refine, excludeSelf, residual = true)

  // ------------------------------------------------------------------
  // Persisted index artifacts — FAISS's write_index/read_index shape:
  // the index directory carries EVERYTHING a later session needs to
  // search (codes, centroids, codebooks, the optional OPQ rotation),
  // so the corpus encode never re-runs and the models never retrain.
  // ------------------------------------------------------------------

  /** A loaded index directory: the encoded corpus plus every model
    * artifact search needs, built once at load — the collected
    * centroid set `cents` (its table stays as `centroids` for the
    * residual encode join and for saves) and the [[PqModel]] `pq`.
    * Searches and appends through this object reuse them, so no
    * request re-reads or re-renders a model. `rotation` present means
    * corpus AND queries must rotate through it before probe/ADC — [[
    * searchOpqIndex]] does both, so callers hand it RAW vectors. */
  case class PersistedPqIndex(
      pqIndex: DataFrame, centroids: DataFrame, cents: CentroidSet,
      pq: PqModel, rotation: Option[Pca.Model],
      residual: Boolean, idCol: String, vecCol: String) {
    def codebooks: Seq[Seq[Seq[Float]]] = pq.toSeq
  }

  /** Persist a built PQ index with its full model closure: the
    * encoded corpus (`dir/index`), the IVF centroids
    * (`dir/centroids`), the PQ codebooks at full float precision
    * (`dir/codebooks`), the optional OPQ rotation as a [[Pca.Model]]
    * artifact (`dir/rotation` — pass the PERMUTED model, i.e.
    * [[Pca.opqModel]]'s output, which is what [[Pca.rotateOpq]]
    * rotated the corpus by), and a one-row `dir/meta`. Searching a
    * load of this directory is bit-identical to searching the
    * in-memory build (AnnSpec pins plain, residual and rotated
    * paths) — FAISS ships OPQ matrices inside the index for the same
    * reason: an index whose rotation lives only in session memory
    * cannot outlive the session. */
  def saveOpqIndex(dir: String, pqIndex: DataFrame,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String,
      rotation: Option[Pca.Model] = None,
      residual: Boolean = false): Unit = {
    val spark = pqIndex.sparkSession
    import spark.implicits._
    // the encoded corpus is the only corpus-sized piece — it keeps
    // its partitioning; everything else coalesces to one file. The
    // data artifacts land in DISJOINT subdirectories, so their write
    // jobs are independent — run them concurrently (guide §2.6) so
    // the tiny model writes back-fill the encode write's tail instead
    // of each paying its own full job latency in sequence. `meta`
    // ALONE writes after the rest: its _SUCCESS doubles as the
    // directory's commit marker (q188/q192's build-once guards key on
    // it), so it must not become visible while a crash could still
    // leave the other artifacts half-written.
    Parallelism.runAll(Seq(
      () => pqIndex
        .select(col(idCol), col("centroid_id"), col("codes"),
          col("vec_norm"))
        .write.mode("overwrite").parquet(s"$dir/index"),
      () => centroids.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"),
      () => codebooks.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cv, c) => (s, c, cv) }
      }.toDF("sub", "code", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks"),
      () => rotation.foreach(Pca.save(spark, _, s"$dir/rotation"))))
    Seq((residual, rotation.isDefined, idCol, vecCol))
      .toDF("residual", "rotated", "id_col", "vec_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Restore a [[saveOpqIndex]] directory. The encoded corpus comes
    * back as a lazy parquet scan (never collected) — the base table
    * unioned with any committed streaming-ingest delta roots — minus
    * any tombstoned ids ([[IndexMaintenance.addTombstones]] — deletion
    * without re-encoding; [[IndexMaintenance.compactPqIndex]] folds
    * deltas in and reclaims tombstoned rows); centroids, codebooks
    * and rotation are the bounded model artifacts.
    *
    * With deltas present the union also DEDUPES on id: a compaction
    * that crashed between swapping its fold in and deleting the
    * folded deltas leaves the same rows in both (identical bytes —
    * encoding is deterministic under frozen models), and the dedup
    * heals that at one extra exchange until the next compact removes
    * it. Delta-free indexes — the steady state — pay nothing. */
  def loadOpqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PersistedPqIndex = {
    IndexMaintenance.healUnreadable(spark, dir, Seq("index"))
    // meta, codebooks and centroids live in disjoint files — read the
    // model artifacts concurrently (guide §2.6)
    val (meta, (books, cents)) = Parallelism.join2(
      spark.read.parquet(s"$dir/meta")
        .select("residual", "rotated", "id_col", "vec_col").head,
      Parallelism.join2(
        spark.read.parquet(s"$dir/codebooks")
          .select("sub", "code", "vec").orderBy(col("sub"), col("code"))
          .collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.toSeq.map(_.getSeq[Float](2).toSeq)),
        collectCentroids(spark.read.parquet(s"$dir/centroids"),
          "id", "vec")))
    val (residual, rotated) = (meta.getBoolean(0), meta.getBoolean(1))
    val (idCol, vecCol) = (meta.getString(2), meta.getString(3))
    val deltas = deltaRoots(spark, dir)
    val encoded = {
      val base = spark.read.parquet(s"$dir/index")
      if (deltas.isEmpty) base
      else (base +: deltas.map(spark.read.parquet(_)))
        .reduce(_ unionByName _)
        .dropDuplicates(idCol)
    }
    PersistedPqIndex(
      IndexMaintenance.dropTombstoned(encoded, spark, dir, idCol),
      spark.read.parquet(s"$dir/centroids")
        .select(col("id").as(idCol), col("vec").as(vecCol)),
      cents, PqModel(books),
      if (rotated) Some(Pca.load(spark, s"$dir/rotation")) else None,
      residual, idCol, vecCol)
  }

  /** FAISS `add()` for the PERSISTED directory: encode a RAW batch
    * under the stored (frozen) centroids + codebooks — rotating it
    * first when the index is rotated — and APPEND the codes to
    * `dir/index`. The existing corpus is never re-read or re-encoded;
    * encoding is deterministic under frozen models, so the grown
    * directory searches identically to one saved whole
    * ([[appendPqIndex]]'s contract carried to disk; AnnSpec pins the
    * search identity, rotated path included). Same staleness note as
    * [[appendPqIndex]]: appended vectors quantize against the
    * ORIGINAL training distribution — retrain + rebuild when the
    * corpus moves.
    *
    * IDEMPOTENT (r16, the r15 ADVICE): the encoded batch lands in its
    * own batch-keyed DELTA ROOT (`dir/index_delta/append_<key>`, the
    * streaming-ingest mechanism) instead of `mode("append")` into
    * `dir/index` — a caller-level retry of a failed/ambiguous append
    * recomputes the same content key and OVERWRITES its own folder,
    * where a raw append would duplicate every row (duplicates survive
    * the delta-free load path and inflate rerank/window results). The
    * key is order-independent over the batch's CONTENT (three xors
    * of independently salted per-row hashes over id AND vector, + a
    * multiplicity-sensitive decimal hash sum + count — one tiny
    * aggregate action), so a retry that reshuffles
    * rows still lands on the
    * same folder, while a later batch reusing ids with DIFFERENT
    * vectors keys to a new folder instead of being silently skipped
    * as a retry (note: re-ingesting changed content under a live id
    * is still the tombstone-then-new-id discipline — the id-dedup on
    * load picks an arbitrary winner between same-id rows);
    * `_SUCCESS` commits the folder atomically for concurrent loads.
    * Run
    * [[IndexMaintenance.compactPqIndex]] on the usual cadence — it
    * folds delta roots into the base and reclaims tombstones. */
  def appendOpqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): Unit = {
    // resolve any interrupted compaction BEFORE appending: a stale
    // completed rewrite swapped in later would silently drop every
    // row appended after the crash
    IndexMaintenance.healForWrite(spark, dir, Seq("index"))
    val idx = loadOpqIndex(spark, dir)
    val keyOpt = batchContentKey(batch, idx.idCol, idx.vecCol)
    if (keyOpt.isEmpty) return // empty batch: nothing to do
    val dest = s"$dir/index_delta/append_${keyOpt.get}"
    // an ALREADY-COMMITTED retry is a true no-op (the ingestWriter
    // rule): encoding is deterministic under frozen models, so the
    // bytes would be identical — and skipping keeps the committed
    // folder visible to concurrent loads, where the overwrite's
    // delete-then-rewrite window would transiently break them
    val committed = new org.apache.hadoop.fs.Path(s"$dest/_SUCCESS")
    val fs = committed.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(committed))
      encodeForIndex(idx, batch)
        .write.mode("overwrite").parquet(dest)
  }

  /** Order-independent append idempotency key over a batch's (id,
    * vec) CONTENT + count, shared by [[appendOpqIndex]] and
    * [[appendSq8Index]]. Three xors of INDEPENDENTLY SALTED per-row
    * hashes PLUS a multiplicity-sensitive DECIMAL(38,0) sum of the
    * same hashes. The xors alone are GF(2)-linear in row membership,
    * so they are multiplicity-blind mod 2: duplicate rows cancel in
    * all three salted xors simultaneously, and two distinct
    * same-count batches differing only by even-multiplicity rows
    * collide ({A,A,B} vs {C,C,B} both xor to hB-derived values — the
    * r17 ADVICE). The decimal sum restores multiplicity sensitivity
    * (each copy adds its hash again) and cannot overflow where a
    * 64-bit sum can: 38 digits absorb ~1e19 rows of extreme hashes.
    * A collision now needs a simultaneous coincidence across the
    * 192 xor bits AND the exact hash sum AND the count — accidental-
    * collision defence, not crafted-batch defence. ONE tiny aggregate
    * action; None for an empty batch.
    *
    * FORMAT COMPATIBILITY (r18 ADVICE): the key format changed in r18
    * (the decimal-sum segment was added), so delta folders persisted
    * under the r17 3-xor key no longer match keys computed by this
    * code — a cross-version retry of a batch already appended by an
    * r17 build keys to a NEW folder and duplicates the batch's rows.
    * The duplicates are healed at read time (loadOpqIndex/loadSq8Index
    * dedupe on id across delta roots) and removed permanently by the
    * next compaction, but the retry is not the no-op it is within one
    * version. Appending across an engine upgrade: compact first. */
  private[graft] def batchContentKey(batch: DataFrame, idCol: String,
      vecCol: String): Option[String] = {
    val h = xxhash64(col(idCol), col(vecCol))
    val keyRow = batch.agg(
      coalesce(bit_xor(h), lit(0L)).as("x0"),
      coalesce(bit_xor(xxhash64(h, lit(1L))), lit(0L)).as("x1"),
      coalesce(bit_xor(xxhash64(h, lit(2L))), lit(0L)).as("x2"),
      coalesce(sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
      count(lit(1)).as("n")).head
    if (keyRow.getLong(4) == 0L) None
    else Some(java.lang.Long.toHexString(keyRow.getLong(0)) +
      "_" + java.lang.Long.toHexString(keyRow.getLong(1)) +
      "_" + java.lang.Long.toHexString(keyRow.getLong(2)) +
      "_" + keyRow.getDecimal(3).toBigInteger.toString(16) +
      "_" + keyRow.getLong(4))
  }

  /** Encode a RAW batch into the (id, centroid_id, codes, vec_norm)
    * rows of a persisted index, under its frozen models — the shared
    * projection behind [[appendOpqIndex]] and the streaming ingest
    * ([[graft.streaming.StreamAnn.ingestWriter]]). */
  private[graft] def encodeForIndex(idx: PersistedPqIndex,
      batch: DataFrame): DataFrame = {
    val b = idx.rotation match {
      case Some(r) => Pca.rotate(batch, idx.idCol, idx.vecCol, r)
      case None => batch.select(col(idx.idCol), col(idx.vecCol))
    }
    encodePq(b, idx.centroids, idx.cents, idx.pq, idx.idCol, idx.vecCol,
      idx.residual)
  }

  /** Streaming-ingest delta roots under `dir/index_delta` — one
    * batch-id-keyed folder per micro-batch ([[graft.streaming
    * .StreamAnn.ingestWriter]] overwrites its own folder on replay,
    * which is what makes streaming appends idempotent where
    * `mode("append")` into `dir/index` is not). Only folders with a
    * committed `_SUCCESS` count: a folder mid-(re)write is invisible
    * to concurrent loads and becomes visible atomically. */
  private[graft] def deltaRoots(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/index_delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString).sorted
  }

  /** Search a loaded index against RAW corpus/query vectors, under the
    * models the load built (no collect while the DataFrame is built):
    * when the index was built over a rotated space, the QUERIES rotate
    * through the stored model up front (a batch-sized projection), while the
    * corpus stays raw — its rotation happens inside the exact-rerank
    * AFTER the candidate join, so only the ~k·refine·|queries|
    * surviving rows pay the dim×dim projection instead of the whole
    * corpus (bit-identical values — AnnSpec pins the rotated path
    * against the in-memory rotated search). */
  def searchOpqIndex(idx: PersistedPqIndex, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, refine: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    val rotQ = idx.rotation match {
      case Some(r) => Pca.rotate(queries, idx.idCol, idx.vecCol, r)
      case None => queries.select(col(idx.idCol), col(idx.vecCol))
    }
    GraftExtensions.require(idx.pqIndex.sparkSession)
    searchPq(idx.pqIndex, corpus.select(col(idx.idCol), col(idx.vecCol)),
      rotQ, idx.cents, idx.pq, idx.idCol, idx.vecCol, k, nprobe, refine,
      excludeSelf, idx.rotation, idx.residual)
  }

  // ------------------------------------------------------------------
  // SQ8: scalar-quantized search (the FAISS ScalarQuantizer QT_8bit
  // recipe — cf. faiss/impl/ScalarQuantizer.h: per-dimension affine
  // [min, max] → uint8 codes). PQ compresses harder (q66/q176 family)
  // but SQ8 is the standard first rung: 4x smaller than float32 with
  // near-exact recall and a trivial, data-independent-cost encoder —
  // at 100 TB the quantized corpus IS the scan, so the 4x shows up
  // directly in bytes read and shuffled.
  // ------------------------------------------------------------------

  /** Train per-dimension SQ8 scales over the corpus: (min_i, step_i =
    * (max_i − min_i)/255). ONE scan — posexplode + hash aggregate,
    * whose partial aggregation reduces the exchange to partitions × dim
    * rows (corpus rows never move). The model is dim-sized and lives
    * on the driver (same budget class as an IVF centroid table); the
    * encode/score projections hold it by reference as an [[Sq8Model]]
    * built once per index or search. Constant
    * dimensions get step 0 and encode to code 0 (dequant returns the
    * constant). */
  def trainSq8(corpus: DataFrame, vecCol: String)
      : (Seq[Double], Seq[Double]) = {
    val mm = corpus.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))
      .orderBy(col("__i"))
      .collect()
    require(mm.nonEmpty, "trainSq8: empty corpus")
    val mins = mm.map(_.getFloat(1).toDouble).toSeq
    val steps = mm.map { r =>
      val mn = r.getFloat(1).toDouble; val mx = r.getFloat(2).toDouble
      if (mx > mn) (mx - mn) / 255.0 else 0.0
    }.toSeq
    (mins, steps)
  }

  /** Encode one vector column to SQ8 codes (BINARY — raw uint8 bytes,
    * the true 4x-vs-float32 representation in storage, shuffle and
    * memory): code_i = round((x_i − min_i)/step_i) clamped to [0,255].
    * A pure codegen'd projection (native `sq8_encode` kernel — the
    * per-row encode hot path, where Spark's `transform` HOF is
    * interpreted); the scales are an [[Sq8Model]] held by reference
    * (the plan prints `sq8[dim]`), no join, no shuffle. */
  def sq8EncodeCol(vec: Column, sq8: Sq8Model): Column =
    GraftColumn(Sq8Encode(GraftColumn.expr(vec), sq8))

  /** Dequantize SQ8 codes back to array<float>: min_i + code_i·step_i
    * (native kernel). The scoring paths never materialise this — they
    * use the fused [[sq8DotCol]]/[[sq8NormCol]] — but tests and
    * downstream consumers reconstruct through it. */
  def sq8DequantCol(codes: Column, sq8: Sq8Model): Column =
    GraftColumn(Sq8Dequant(GraftColumn.expr(codes), sq8))

  /** Σ qᵢ·reconstructionᵢ with the dequant FUSED into the loop —
    * bit-identical to `dot(q, sq8DequantCol(codes))` (each dimension
    * reconstructs to float first; Sq8ExprSpec pins the equality), one
    * pass over the bytes, no intermediate array per pair. */
  def sq8DotCol(q: Column, codes: Column, sq8: Sq8Model): Column =
    GraftColumn(Sq8Dot(GraftColumn.expr(q), GraftColumn.expr(codes), sq8))

  /** ‖reconstruction‖₂ straight off the codes (fused like
    * [[sq8DotCol]]). */
  def sq8NormCol(codes: Column, sq8: Sq8Model): Column =
    GraftColumn(Sq8Norm(GraftColumn.expr(codes), sq8))

  /** Brute-force SQ8 top-k: approximate-score every (query, code) pair
    * on the dequantized reconstruction, keep the top k·refine
    * candidates per query, EXACT-rerank those against the raw corpus
    * (the [[searchPqIndex]] refine discipline). Final scores and
    * ranks are exact cosine over the true vectors — the quantization
    * decides only which candidates reach the rerank, and SQ8's
    * per-dimension error is ≤ step/2 (≲0.2% of the range), so the
    * true top-k survives any realistic refine margin (AnnSpec pins
    * equality with [[bruteForceTopK]] on the test corpora). */
  def sq8TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && refine >= 1, "sq8TopK: k > 0, refine >= 1")
    GraftExtensions.require(corpus.sparkSession)
    val (mins, steps) = trainSq8(corpus, vecCol)
    val sq8 = Sq8Model(mins, steps)
    val deq = Parallelism.ensure(
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("neighbor_id"),
          sq8EncodeCol(col(vecCol), sq8).as("__codes")))
      .withColumn("__dn", sq8NormCol(col("__codes"), sq8))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn")))
    val cond =
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = deq.join(q, cond)
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(
          sq8DotCol(col("__qv"), col("__codes"), sq8),
          col("__qn"), col("__dn")).as("__approx"))
    selectAndRerank(scored,
      q.select(col("query_id"), col("__qv"), col("__qn")),
      corpus, idCol, vecCol, k, refine, None)
  }

  /** IVF-bucketed SQ8 top-k: probe the `nprobe` nearest buckets per
    * query (the [[ivfTopK]] pruning), approximate-score only the
    * probed buckets' codes, exact-rerank the survivors. Approximate
    * by construction at bounded nprobe (a true neighbor can live in
    * an unprobed bucket) — the registered row is rows-only like
    * q45/q61/q66; AnnSpec pins full-probe ≡ [[bruteForceTopK]]. */
  def sq8IvfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 4, excludeSelf: Boolean = true,
      scales: Option[(Seq[Double], Seq[Double])] = None): DataFrame = {
    require(k > 0 && nprobe > 0 && refine >= 1,
      "sq8IvfTopK: k > 0, nprobe > 0, refine >= 1")
    GraftExtensions.require(corpus.sparkSession)
    // callers that train their own centroids pass pre-trained scales
    // so both models train CONCURRENTLY (guide §2.6) instead of the
    // scales pass serialising behind the k-means here
    val (mins, steps) = scales.getOrElse(trainSq8(corpus, vecCol))
    val sq8 = Sq8Model(mins, steps)
    val cents = collectCentroids(centroids, idCol, vecCol)
    val deq = encodeSq8(
        Parallelism.ensure(corpus.select(col(idCol), col(vecCol))),
        cents, sq8, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("codes"), sq8NormCol(col("codes"), sq8).as("__dn"))
    val q = queryRows(queries, idCol, vecCol)
    probeSearch(deq, corpus, q, assignProbes(q, cents, nprobe),
      cosinePrenormed(sq8DotCol(col("__qv"), col("codes"), sq8),
        col("__qn"), col("__dn")),
      idCol, vecCol, k, refine, excludeSelf, None)
  }

  /** A [[saveSq8Index]] directory restored: `codes` is a LAZY parquet
    * scan (base ∪ committed delta roots, id-deduped, tombstones
    * dropped — the [[loadOpqIndex]] discipline); the scales (`sq8`)
    * and the collected centroid set (`cents`) are the bounded model
    * artifacts, built once at load and reused by every search and
    * append through this object. */
  final case class PersistedSq8Index(
      codes: DataFrame, centroids: DataFrame, cents: CentroidSet,
      sq8: Sq8Model, idCol: String, vecCol: String) {
    def mins: Seq[Double] = sq8.mins.toSeq
    def steps: Seq[Double] = sq8.steps.toSeq
  }

  /** Encode the corpus into (id, centroid_id, codes) SQ8 index rows
    * under frozen scales + centroids — the shared projection behind
    * [[saveSq8Index]] and [[appendSq8Index]]. Pure projection over the
    * collected centroid set: no shuffle. */
  def buildSq8Index(corpus: DataFrame, centroids: DataFrame,
      mins: Seq[Double], steps: Seq[Double],
      idCol: String, vecCol: String): DataFrame = {
    GraftExtensions.require(corpus.sparkSession)
    encodeSq8(corpus, collectCentroids(centroids, idCol, vecCol),
      Sq8Model(mins, steps), idCol, vecCol)
  }

  /** [[buildSq8Index]] under models already built. */
  private def encodeSq8(corpus: DataFrame, cents: CentroidSet,
      sq8: Sq8Model, idCol: String, vecCol: String): DataFrame =
    bucketed(corpus.select(col(idCol), col(vecCol)), cents, vecCol)
      .select(col(idCol), col("centroid_id"),
        sq8EncodeCol(col(vecCol), sq8).as("codes"))

  /** Encode a RAW batch into a persisted SQ8 index's rows under its
    * frozen models — [[appendSq8Index]] and the streaming ingest
    * ([[graft.streaming.StreamAnn.sq8IngestWriter]]). */
  private[graft] def encodeForIndex(idx: PersistedSq8Index,
      batch: DataFrame): DataFrame =
    encodeSq8(batch, idx.cents, idx.sq8, idx.idCol, idx.vecCol)

  /** Persist an SQ8 index directory: the encoded corpus (`index`, the
    * only corpus-sized piece — keeps its partitioning), IVF centroids,
    * the per-dimension scales and the column metadata. Same directory
    * discipline as [[saveOpqIndex]], so the generic lifecycle tools
    * apply unchanged: [[IndexMaintenance.addTombstones]] deletes
    * without re-encoding, [[appendSq8Index]] grows it through
    * content-keyed delta roots, [[IndexMaintenance.compactSq8Index]]
    * folds and reclaims. */
  def saveSq8Index(dir: String, corpus: DataFrame, centroids: DataFrame,
      mins: Seq[Double], steps: Seq[Double],
      idCol: String, vecCol: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // disjoint artifact directories ⇒ independent write jobs — run
    // them concurrently (guide §2.6), same as [[saveOpqIndex]]; meta
    // writes LAST (its _SUCCESS is the directory's commit marker —
    // see saveOpqIndex)
    Parallelism.runAll(Seq(
      () => buildSq8Index(corpus, centroids, mins, steps, idCol, vecCol)
        .write.mode("overwrite").parquet(s"$dir/index"),
      () => centroids.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"),
      () => mins.indices.map(i => (i, mins(i), steps(i)))
        .toDF("i", "min", "step")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/scales")))
    Seq((idCol, vecCol)).toDF("id_col", "vec_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Restore a [[saveSq8Index]] directory (lazy codes scan; see
    * [[PersistedSq8Index]]). */
  def loadSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): PersistedSq8Index = {
    IndexMaintenance.healUnreadable(spark, dir, Seq("index"))
    // meta, scales and centroids are disjoint model files — read
    // concurrently
    val (meta, (scales, cents)) = Parallelism.join2(
      spark.read.parquet(s"$dir/meta")
        .select("id_col", "vec_col").head,
      Parallelism.join2(
        spark.read.parquet(s"$dir/scales")
          .select("i", "min", "step").collect().sortBy(_.getInt(0)),
        collectCentroids(spark.read.parquet(s"$dir/centroids"),
          "id", "vec")))
    val (idCol, vecCol) = (meta.getString(0), meta.getString(1))
    val deltas = deltaRoots(spark, dir)
    val codes = {
      val base = spark.read.parquet(s"$dir/index")
      if (deltas.isEmpty) base
      else (base +: deltas.map(spark.read.parquet(_)))
        .reduce(_ unionByName _)
        .dropDuplicates(idCol)
    }
    PersistedSq8Index(
      IndexMaintenance.dropTombstoned(codes, spark, dir, idCol),
      spark.read.parquet(s"$dir/centroids")
        .select(col("id").as(idCol), col("vec").as(vecCol)),
      cents,
      new Sq8Model(scales.map(_.getDouble(1)), scales.map(_.getDouble(2))),
      idCol, vecCol)
  }

  /** Search a loaded SQ8 index against RAW corpus/query vectors —
    * [[sq8IvfTopK]]'s exact plan off the persisted codes (same
    * dequant scoring, same probe pruning, same exact rerank), so a
    * save→load→search round trip is bit-identical to the in-memory
    * search under the same scales/centroids (AnnSpec pins it). */
  def searchSq8Index(idx: PersistedSq8Index, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, refine: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0 && nprobe > 0 && refine >= 1,
      "searchSq8Index: k > 0, nprobe > 0, refine >= 1")
    GraftExtensions.require(idx.codes.sparkSession)
    val deq = idx.codes
      .select(col(idx.idCol).as("neighbor_id"), col("centroid_id"),
        col("codes"), sq8NormCol(col("codes"), idx.sq8).as("__dn"))
    val q = queryRows(queries, idx.idCol, idx.vecCol)
    probeSearch(deq, corpus, q, assignProbes(q, idx.cents, nprobe),
      cosinePrenormed(sq8DotCol(col("__qv"), col("codes"), idx.sq8),
        col("__qn"), col("__dn")),
      idx.idCol, idx.vecCol, k, refine, excludeSelf, None)
  }

  /** Grow a persisted SQ8 directory by one RAW batch under its frozen
    * scales + centroids — [[appendOpqIndex]]'s contract verbatim:
    * heal-before-write, the [[batchContentKey]] idempotent delta
    * root, skip-if-committed. Appended vectors quantize against the
    * ORIGINAL [min,max] ranges (values outside them clamp to 0/255) —
    * retrain + rebuild when the distribution moves, the same
    * staleness note as the PQ path. */
  def appendSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): Unit = {
    IndexMaintenance.healForWrite(spark, dir, Seq("index"))
    val idx = loadSq8Index(spark, dir)
    batchContentKey(batch, idx.idCol, idx.vecCol).foreach { key =>
      val dest = s"$dir/index_delta/append_$key"
      val committed = new org.apache.hadoop.fs.Path(s"$dest/_SUCCESS")
      val fs = committed.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(committed))
        encodeForIndex(idx, batch).write.mode("overwrite").parquet(dest)
    }
  }

  // ------------------------------------------------------------------
  // Shared bounded candidate selection (r17 verdict #2/#6): every rung
  // used to cut its top k(·refine) per query with a row_number()
  // window, which shuffles and SORTS every scored (query, candidate)
  // pair to its query's partition before the cut — at 100× the
  // probed-bucket scorings dominate that exchange. The `topk_any`
  // bounded aggregate (functions/AggregateExpressions.scala) holds k
  // pairs per query per task and map-side combines like `max`, so the
  // exchange carries k·refine rows per query per partition instead of
  // every scored pair. One selection helper, every rung; AnnSpec pins
  // the aggregate form row-identical to the window form (ties: score
  // desc, neighbor_id asc — topk_any matches Spark's sort ordering
  // incl. NaN-greatest and ±0.0 equality).
  // ------------------------------------------------------------------

  /** Per-query top-k of a scored candidate table by (`scoreCol` desc,
    * neighbor_id asc): (query_id, neighbor_id, rank, __score), through
    * the bounded `topk_any` aggregate. */
  private[graft] def topKSelect(
      scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(call_function("topk_any",
        col(scoreCol).cast("double"), col("neighbor_id"), lit(k))
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.payload").as("neighbor_id"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.ord").as("__score"))

  /** The reference window form — the row-identity oracle AnnSpec and
    * RetrievalSpec pin [[topKSelect]] against. */
  private[graft] def topKSelectWindow(
      scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col(scoreCol).cast("double").as("__score"))
  }

  /** Final-output shape shared by the exact rungs and the refine=0 PQ
    * paths: top-k, rank 1-based, score rounded into `cosine`. */
  private def finishTopK(
      scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    topKSelect(scored, scoreCol, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("__score"), 4).as("cosine"))

  /** Bounded candidate cut + exact rerank shared by every approximate
    * rung: top k·refine per query by the approximate score, re-attach
    * the query vectors from the (broadcast-sized) query table — only
    * ids travel through the selection exchange — then exact-rerank. */
  private def selectAndRerank(
      scored: DataFrame, queryVecs: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int,
      rerankRotation: Option[Pca.Model]): DataFrame = {
    val cand = topKSelect(scored, "__approx", k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(queryVecs), Seq("query_id"))
    exactRerank(corpus, cand, idCol, vecCol, k, rerankRotation)
  }

  /** The probe→score→select→rerank spine every IVF-bucketed rung
    * shares (PQ, residual PQ, OPQ-rotated, SQ8 — r17 verdict #6:
    * sq8IvfTopK / searchSq8Index / searchOpqIndex repeated this shape
    * verbatim, differing only in how `score` is computed): join the
    * encoded index to its probed buckets, score each candidate with
    * the rung's `score` column, then either emit the top-k directly
    * (refine <= 0 — the score IS the reported cosine) or bounded-cut
    * k·refine candidates and exact-rerank them against the query rows
    * `q` ([[queryRows]]). */
  private def probeSearch(
      index: DataFrame, corpus: DataFrame, q: DataFrame, probes: DataFrame,
      score: Column, idCol: String, vecCol: String, k: Int, refine: Int,
      excludeSelf: Boolean, rerankRotation: Option[Pca.Model]): DataFrame = {
    val scored = index
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .select(col("query_id"), col("neighbor_id"), score.as("__approx"))
    if (refine <= 0) finishTopK(scored, "__approx", k)
    else selectAndRerank(scored, q, corpus, idCol, vecCol, k, refine,
      rerankRotation)
  }

  /** (query_id, __qv, __qn): the query rows a search probes with and
    * reranks against. Query ids are keys — each row probes on its own. */
  private def queryRows(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))

  /** Top-`nprobe` centroids per query (broadcast-size output): one
    * `ivf_probe` projection over the [[queryRows]] against the held
    * [[CentroidSet]], exploded to (centroid_id, query_id, __qv, __qn,
    * __qc) — `__qc` is the exact ⟨q, c⟩ residual ADC adds back. No
    * centroid broadcast, cross join or aggregate; a null query vector
    * probes nothing. */
  private def assignProbes(q: DataFrame, cents: CentroidSet,
      nprobe: Int): DataFrame =
    q.select(col("query_id"), col("__qv"), col("__qn"),
        explode(ivfProbe(col("__qv"), cents, nprobe)).as("__e"))
      .select(col("__e.centroid_id").as("centroid_id"), col("query_id"),
        col("__qv"), col("__qn"), col("__e.dot").as("__qc"))
}
