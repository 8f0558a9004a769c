package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature linear quality classifier — the fastText-shaped
  * model-based filter modern curation recipes apply after rule
  * heuristics (q38) and statistical LM scores (q73): a logistic
  * regression over hashing-trick unigram features, trained ON the
  * cluster and applied as a pure projection.
  *
  * Why this shape at 100 TB:
  *  - **Featurization is stateless**: token → xxhash64 mod dims — no
  *    vocabulary to build, broadcast, or keep consistent between
  *    train and apply (the hashing trick; Weinberger et al. 2009).
  *  - **Training state is O(dims), not O(corpus)**: like Ann's
  *    k-means, the driver holds only the weight vector; each batch
  *    gradient-descent iteration is ONE pass whose shuffle carries at
  *    most (dims+1) × partitions partial sums after map-side combine —
  *    corpus-size-independent, the same contract as the k-means mean
  *    recompute.
  *  - **Apply is a shuffle-free projection**: weights ship as an array
  *    literal (8·dims bytes inside the plan), score = mean of the
  *    looked-up weights through a sigmoid. No join, no UDF; the
  *    lookup is builtin `aggregate`/`element_at` over the token array.
  *
  * The model is mean-pooled logistic regression: p = σ(b + (1/|T|)
  * Σ_{t∈T} w[h(t)]), full-batch gradient ascent on log-likelihood.
  * Caveat (documented, not hidden): partial gradient sums combine in
  * shuffle-arrival order, so float addition order can vary across
  * runs — scores are deterministic given a model, training is
  * deterministic up to float associativity (same caveat as any
  * distributed trainer; the spec asserts with tolerances).
  */
object Classifier {

  /** Trained model: `weights(dims)` + bias, with the featurization
    * params it must be applied with, and the per-iteration training
    * log-loss (for convergence monitoring/alerting). */
  case class Model(weights: Array[Double], bias: Double, dims: Int,
      seed: Long, lossHistory: Seq[Double])

  /** Persist a trained binary [[Model]] as parquet — ONE row holding
    * the full weight vector at exact double precision (scores are a
    * pure function of the weight bits; any rounding here would drift
    * every downstream threshold decision). The artifact is what
    * makes the trained quality filter a production object: train
    * once on the labeled sample, ship the directory, score any later
    * corpus without retraining (the q84 gap closed). */
  def save(spark: org.apache.spark.sql.SparkSession,
      model: Model, dir: String): Unit = {
    import spark.implicits._
    Seq((model.weights.toSeq, model.bias, model.dims, model.seed,
        model.lossHistory))
      .toDF("weights", "bias", "dims", "seed", "loss_history")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Restore a [[save]] artifact bit-for-bit. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Model = {
    val r = spark.read.parquet(dir)
      .select("weights", "bias", "dims", "seed", "loss_history").head
    Model(r.getSeq[Double](0).toArray, r.getDouble(1), r.getInt(2),
      r.getLong(3), r.getSeq[Double](4).toList)
  }

  /** Persist a trained [[MultiModel]] as parquet — one row per class
    * in CLASS ORDER (prediction ties break to the first class, so the
    * order is part of the model), each carrying its full-precision
    * weight row; dims and the loss history repeat per row (verified
    * consistent on load). The lang-id counterpart of [[save]]: q174's
    * trained model persists instead of retraining per session. */
  def saveMulti(spark: org.apache.spark.sql.SparkSession,
      model: MultiModel, dir: String): Unit = {
    import spark.implicits._
    model.classes.indices.map { k =>
      (k, model.classes(k), model.weights(k).toSeq, model.bias(k),
        model.dims, model.lossHistory)
    }.toDF("class_idx", "class_name", "weights", "bias", "dims",
        "loss_history")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Restore a [[saveMulti]] artifact bit-for-bit, in class order. */
  def loadMulti(spark: org.apache.spark.sql.SparkSession,
      dir: String): MultiModel = {
    val rows = spark.read.parquet(dir)
      .select("class_idx", "class_name", "weights", "bias", "dims",
        "loss_history")
      .orderBy(col("class_idx")).collect()
    require(rows.nonEmpty, s"loadMulti: empty model at $dir")
    val dims = rows.head.getInt(4)
    require(rows.forall(_.getInt(4) == dims),
      s"loadMulti: inconsistent dims in $dir")
    val hist = rows.head.getSeq[Double](5)
    require(rows.forall(_.getSeq[Double](5) == hist),
      s"loadMulti: inconsistent loss history across class rows in $dir")
    MultiModel(
      rows.toSeq.map(_.getString(1)),
      rows.map(_.getSeq[Double](2).toArray),
      rows.map(_.getDouble(3)),
      dims,
      rows.head.getSeq[Double](5).toList)
  }

  /** Token → feature id in [0, dims): xxhash64 of the lowercased
    * whitespace token, mod dims. Empty tokens dropped. */
  private[graft] def featureIds(text: Column, dims: Int, seed: Long): Column =
    transform(
      filter(split(lower(text), "\\s+"), t => t =!= ""),
      t => pmod(xxhash64(t, lit(seed)), lit(dims.toLong)).cast("int"))

  /** σ(b + mean of looked-up weights) for a precomputed id array. */
  private def scoreOfIds(ids: Column, weights: Array[Double],
      bias: Double): Column = {
    val w = typedlit(weights.toSeq)
    val raw = aggregate(ids, lit(0.0),
      (acc, i) => acc + element_at(w, i + 1)) /
      greatest(size(ids), lit(1)).cast("double") + lit(bias)
    lit(1.0) / (lit(1.0) + exp(-raw))
  }

  /** Apply a trained model to a text column: P(label=1) in (0,1).
    * Pure projection — see object doc. */
  def score(text: Column, model: Model): Column =
    scoreOfIds(featureIds(text, model.dims, model.seed),
      model.weights, model.bias)

  // ------------------------------------------------------------------
  // Multiclass (softmax) variant — same discipline, K weight rows
  // ------------------------------------------------------------------

  /** Trained K-class softmax model over a caller-supplied hashed-id
    * featurization: `weights(k)(dims)` + `bias(k)` per class, classes
    * in a FIXED caller order (prediction ties break to the first).
    * Training state is O(K·dims) on the driver; each iteration's
    * shuffle carries ≤ (dims+1) × partitions rows of K partial sums —
    * the binary [[Model]] contract, K-wide. */
  case class MultiModel(classes: Seq[String],
      weights: Array[Array[Double]], bias: Array[Double], dims: Int,
      lossHistory: Seq[Double]) {
    require(classes.nonEmpty && weights.length == classes.length &&
      bias.length == classes.length, "MultiModel: shape mismatch")
  }

  /** Let-binding for Column expressions: evaluates `value` ONCE per
    * row and hands the downstream expression a lambda VARIABLE
    * reference instead of the expression tree. Without it, an
    * expensive subexpression (the featurization, the softmax array)
    * referenced k times in one projection is INLINED k times by the
    * optimizer's project collapse — measured as a K² blow-up of the
    * whole char-trigram featurization in predictOfIds. */
  private[operators] def bind1(value: Column,
      f: Column => Column): Column =
    element_at(transform(array(value), f), 1)

  /** All K mean-pooled raw scores b + (1/|T|) Σ w[id] as ONE array
    * column — the native `pool_scores` kernel (one pass over the id
    * array, weights as a codegen reference object). LangIdSpec pins it
    * to the same sums computed in Scala. */
  private def rawArrayOfIds(ids: Column, model: MultiModel): Column =
    call_function("pool_scores", ids,
      typedlit(model.weights.flatten.toSeq),
      typedlit(model.bias.toSeq))

  /** Softmax class probabilities for a precomputed id array, as an
    * array column in class order (max-subtracted for stability).
    * Bound so `ids` and the raw-score array each evaluate once. */
  def softmaxOfIds(ids: Column, model: MultiModel): Column =
    bind1(rawArrayOfIds(ids, model), raws =>
      bind1(transform(raws, r => exp(r - array_max(raws))),
        exps =>
          transform(exps, e =>
            e / aggregate(exps, lit(0.0), _ + _))))

  /** Predicted class + confidence as struct(lang, conf) — argmax over
    * the softmax, ties to the FIRST class in model order (the
    * deterministic mirror of q37's first-wins cascade). */
  def predictOfIds(ids: Column, model: MultiModel): Column =
    bind1(softmaxOfIds(ids, model), probs => {
      val mx = array_max(probs)
      val lang = model.classes.indices.reverse.foldLeft(
        lit(model.classes.last): Column) { (acc, k) =>
        when(element_at(probs, k + 1) === mx, lit(model.classes(k)))
          .otherwise(acc)
      }
      struct(lang.as("lang"), round(mx, 4).as("conf"))
    })

  /** Softmax gradient ascent over a caller-supplied id array column
    * (featurization is the caller's — see [[LangId.featureIds]] for
    * the lang-id composition). Per iteration: ONE corpus pass
    * computes the K class probabilities; the per-doc residuals
    * r_k = 1{y=k} − p_k explode with the id array (sentinel id =
    * dims carries the bias residual, binary [[train]]'s trick) into
    * a map-side-combined hash-agg of K sums per id — shuffle rows ≤
    * (dims+1) × partitions at any corpus size. Loss (mean −log p_y)
    * and batch count ride the same job via Dataset.observe.
    * `batchFraction` < 1 takes [[train]]'s deterministic
    * hash-rotated mini-batch per iteration (the 100 TB scan-count
    * switch; slices key off the materialized id array so batching
    * never re-featurizes). */
  def trainMulticlass(docs: DataFrame, idsCol: Column, labelCol: Column,
      classes: Seq[String], dims: Int = 1024, iters: Int = 8,
      lr: Double = 12.0, batchFraction: Double = 1.0): MultiModel = {
    require(dims > 0 && iters >= 1, "dims and iters must be positive")
    require(batchFraction > 0 && batchFraction <= 1.0,
      s"trainMulticlass: batchFraction in (0,1], got $batchFraction")
    require(classes.distinct.length == classes.length && classes.nonEmpty,
      "classes must be distinct and nonempty")
    val k = classes.length
    // Featurize ONCE: the id arrays are checkpointed so the iters
    // gradient passes re-read materialized ints instead of re-running
    // the (char-n-gram) featurization per action — measured 12x
    // featurization → 1x on the lang-id composition. The
    // materialization is |corpus| × |ids| ints; at cluster scale
    // train on a bounded labeled sample (the lang-id query trains on
    // a 1/7 slice), so the checkpoint is sample-sized, not
    // corpus-sized.
    val feats = docs.select(idsCol.as("__f"), labelCol.as("__y"))
      .localCheckpoint(false) // lazy — the count materializes it (r19)
      // the mini-batch slice key reads the MATERIALIZED id array, so
      // batching never re-runs the featurization
      .withColumn("__sl", pmod(xxhash64(col("__f")), lit(1000000L)))
    val n = feats.count().toDouble
    require(n > 0, "trainMulticlass: empty input")
    val cut = math.round(batchFraction * 1000000L)

    val w = Array.fill(k)(new Array[Double](dims))
    val b = new Array[Double](k)
    val losses = Seq.newBuilder[Double]
    val eps = 1e-12
    var prevLoss = math.log(k.toDouble) // uniform-softmax prior
    for (it <- 1 to iters) {
      val batch =
        if (batchFraction >= 1.0) feats
        else feats.filter(
          pmod(col("__sl") + lit(it * 37779L), lit(1000000L)) < cut)
      // ONE bound softmax evaluation per row; loss probability and
      // the K residuals come out of the same struct so no projection
      // downstream can re-inline the featurization
      val cur = MultiModel(classes, w, b, dims, Seq.empty)
      val packed = bind1(softmaxOfIds(col("__f"), cur), p => {
        val py = classes.indices.tail.foldLeft(
          element_at(p, 1): Column) { (acc, i) =>
          when(col("__y") === classes(i), element_at(p, i + 1))
            .otherwise(acc)
        }
        struct(py.as("py") +: (0 until k).map(i =>
          ((col("__y") === classes(i)).cast("double") -
            element_at(p, i + 1)).as(s"r$i")): _*)
      })
      // loss rides the SAME job as the gradient via Dataset.observe
      // (the curateObserved discipline) — one corpus pass per
      // iteration, not two
      val lossObs = org.apache.spark.sql.Observation()
      val scored = batch.select(col("__f"), col("__y"),
        packed.as("__s"))
        .observe(lossObs, avg(-log(col("__s.py") + eps)).as("loss"),
          count(lit(1)).as("nb"))
      // residuals r_i = 1{y=classes(i)} − p_i; one explode + one
      // bounded hash-agg yields the whole K-class gradient
      val g = scored
        .select(
          explode(concat(array(lit(dims)), col("__f"))).as("__id"),
          greatest(size(col("__f")), lit(1)).cast("double").as("__l"),
          col("__s"))
        .select(col("__id") +: (0 until k).map(i =>
          when(col("__id") === dims, col(s"__s.r$i"))
            .otherwise(col(s"__s.r$i") / col("__l")).as(s"__g$i")): _*)
        .groupBy(col("__id"))
        .agg(sum(s"__g0").as("__s0"),
          (1 until k).map(i => sum(s"__g$i").as(s"__s$i")): _*)
        .collect()
      val m = lossObs.get
      val nb = m("nb").toString.toDouble
      val iterLoss =
        if (nb > 0) m("loss").toString.toDouble else prevLoss
      losses += iterLoss
      prevLoss = iterLoss
      if (nb > 0) g.foreach { row =>
        val id = row.getInt(0)
        (0 until k).foreach { i =>
          val s = row.getDouble(i + 1)
          // normalize by the FULL n, not nb: the mini-batch gradient
          // then estimates the full-batch step at scale nb/n — the
          // linear lr-scaling rule (lr ∝ batch size) built in, which
          // is what keeps the same lr stable at any batchFraction
          // (dividing by nb measured as divergence at lr 12)
          if (id == dims) b(i) += lr * s / n
          else w(i)(id) += lr * s / n
        }
      }
    }
    MultiModel(classes, w, b, dims, losses.result())
  }

  /** Gradient-ascent training of the mean-pooled logistic model.
    * `labelCol` is 0/1 (castable to double). Each iteration: one pass
    * computing per-doc residual r = y − p, exploded to (feature,
    * r/|T|) pairs plus one sentinel (dims, r) row per doc for the
    * bias, hash-aggregated map-side — the shuffle moves at most
    * (dims+1) × partitions rows regardless of corpus size; the
    * (dims+1)-row result is the driver-side gradient. The mean
    * log-loss and the batch count ride the SAME job via
    * Dataset.observe (r14 — it used to be a second full pass), and
    * features are computed ONCE into a checkpointed frame instead of
    * once per action.
    *
    * `batchFraction` < 1 trains each iteration on a DETERMINISTIC
    * hash-rotated slice of the corpus (mini-batch SGD, the 100 TB
    * switch: full-batch pays iters × full scans — bounded shuffle but
    * unbounded scan count; a 0.1 fraction cuts the scan bill 10×
    * while the rotation visits the whole corpus across iterations).
    * Slices are a pure function of (text, seed, iteration) — no
    * rand(), reproducible across runs and layouts. The gradient
    * normalizes by the FULL corpus count: the mini-batch step is
    * then an unbiased estimate of the full-batch step scaled by the
    * fraction — the linear lr-scaling rule (lr ∝ batch size) built
    * in, which keeps the same lr stable at any fraction (normalizing
    * by the batch count measured as divergence at lr 12). The
    * reported lossHistory is the BATCH loss — trend it, don't expect
    * strict monotonicity. batchFraction = 1 is exactly the original
    * full-batch behavior. */
  def train(docs: DataFrame, textCol: String, labelCol: String,
      dims: Int = 1024, iters: Int = 10, lr: Double = 12.0,
      seed: Long = 0L, batchFraction: Double = 1.0): Model = {
    require(dims > 0 && iters >= 1, "dims and iters must be positive")
    require(batchFraction > 0 && batchFraction <= 1.0,
      s"train: batchFraction in (0,1], got $batchFraction")
    val feats = docs.select(
      featureIds(col(textCol), dims, seed).as("__f"),
      col(labelCol).cast("double").as("__y"),
      pmod(xxhash64(col(textCol), lit(seed ^ 0x517cc1b7L)),
        lit(1000000L)).as("__s"))
      .localCheckpoint(false) // lazy — the count materializes it (r19)
    val n = feats.count().toDouble
    require(n > 0, "train: empty input")
    val cut = math.round(batchFraction * 1000000L)

    var w = new Array[Double](dims)
    var b = 0.0
    val losses = Seq.newBuilder[Double]
    var prevLoss = math.log(2.0) // uniform-model loss, the iter-0 prior
    for (it <- 1 to iters) {
      val batch =
        if (batchFraction >= 1.0) feats
        else feats.filter(
          pmod(col("__s") + lit(it * 37779L), lit(1000000L)) < cut)
      val eps = 1e-12
      val obs = org.apache.spark.sql.Observation()
      val scored = batch.withColumn("__p", scoreOfIds(col("__f"), w, b))
        .observe(obs,
          avg(-(col("__y") * log(col("__p") + eps) +
            (lit(1.0) - col("__y")) * log(lit(1.0) - col("__p") + eps)))
            .as("loss"),
          count(lit(1)).as("nb"))
      // residual r = y - p; feature j's gradient is Σ r/|T| over docs
      // containing j (counted with multiplicity via the explode), the
      // bias gradient Σ r — carried by a sentinel id = dims so one
      // exploded pass + one bounded hash-agg covers both.
      val g = scored
        .select(col("__y") - col("__p") as "__r",
          greatest(size(col("__f")), lit(1)).cast("double").as("__l"),
          explode(concat(array(lit(dims)), col("__f"))).as("__id"))
        .select(col("__id"),
          when(col("__id") === dims, col("__r"))
            .otherwise(col("__r") / col("__l")).as("__g"))
        .groupBy(col("__id")).agg(sum(col("__g")).as("__s"))
        .collect()
      val m = obs.get
      val nb = m("nb").toString.toDouble
      // an empty rotated slice (tiny corpus × small fraction) is a
      // no-op iteration: keep the loss series well-defined
      val iterLoss =
        if (nb > 0) m("loss").toString.toDouble else prevLoss
      losses += iterLoss
      prevLoss = iterLoss
      if (nb > 0) {
        val next = w.clone()
        g.foreach { row =>
          val id = row.getInt(0)
          val s = row.getDouble(1)
          // full-n normalization = the linear lr-scaling rule (see
          // trainMulticlass) — same lr is stable at any fraction
          if (id == dims) b += lr * s / n
          else next(id) += lr * s / n
        }
        w = next
      }
    }
    Model(w, b, dims, seed, losses.result())
  }
}
