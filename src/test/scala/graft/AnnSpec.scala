package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Ann

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.95f, 0.05f)), // close to 2
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val r = vecs.filter($"vec_id" === 0).select(
      VectorFunctions.cosine(col("embedding"), col("embedding")).as("self"))
      .as[Double].head
    assert(math.abs(r - 1.0) < 1e-12)
    val df = vecs.filter($"vec_id" === 0).crossJoin(
      vecs.filter($"vec_id" === 2).select(col("embedding").as("e2")))
    val o = df.select(VectorFunctions.cosine(col("embedding"), col("e2")))
      .as[Double].head
    assert(math.abs(o) < 1e-12)
  }

  test("bruteForceTopK returns nearest neighbours in rank order") {
    val out = Ann.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    assert(out(0).getInt(2) === 1)
  }

  test("ivfTopK with full probe matches brute force") {
    val queries = vecs.filter($"vec_id" === 0)
    val centroids = vecs.filter($"vec_id".isin(0L, 2L, 4L))
    val ivf = Ann.ivfTopK(vecs, queries, centroids,
      "vec_id", "embedding", k = 2, nprobe = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    val bf = Ann.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(ivf.toSeq === bf.toSeq)
  }

  test("ivfTopK with nprobe=1 prunes to the query's bucket") {
    val queries = vecs.filter($"vec_id" === 0)
    val centroids = vecs.filter($"vec_id".isin(0L, 2L, 4L))
    val out = Ann.ivfTopK(vecs, queries, centroids,
      "vec_id", "embedding", k = 5, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    // bucket of centroid 0 holds vec 1 only (vec 0 excluded as self)
    assert(out === Set(1L))
  }

  test("IVF at nprobe=3 of 10 centroids recalls most true neighbours on real data") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queries = e.filter($"vec_id" < 5)
    val centroids = e.filter($"vec_id" % 50 === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = asSet(Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val ivf = asSet(Ann.ivfTopK(e, queries, centroids,
      "vec_id", "embedding", k = 5, nprobe = 3))
    val recall = (bf & ivf).size.toDouble / bf.size
    // the test embeddings are clusterless gaussians, where IVF recall
    // is bounded near nprobe/ncentroids (0.3); measured 0.48 beats it
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // full probe must be exact
    val full = asSet(Ann.ivfTopK(e, queries, centroids,
      "vec_id", "embedding", k = 5, nprobe = centroids.count().toInt))
    assert(full === bf)
  }

  test("trainCentroids: objective improves over init, full probe stays exact") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    // mean cosine of each vector to its assigned centroid — the
    // (spherical) k-means objective
    def objective(cents: org.apache.spark.sql.DataFrame): Double = {
      import graft.functions.VectorFunctions._
      val assigned = Ann.assignBuckets(e, cents, "centroid_id", "embedding")
      assigned.join(cents.withColumnRenamed("embedding", "__ce"), "centroid_id")
        .select(avg(cosine(col("embedding"), col("__ce"))))
        .as[Double].head
    }
    val init = Ann.trainCentroids(e, "vec_id", "embedding", k = 10, iters = 0)
    val trained = Ann.trainCentroids(e, "vec_id", "embedding", k = 10, iters = 3)
    val (oInit, oTrained) = (objective(init), objective(trained))
    assert(oTrained > oInit,
      s"k-means objective did not improve: init $oInit trained $oTrained")
    // any centroid set is exact at full probe — trained ones included
    val queries = e.filter($"vec_id" < 5)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = asSet(Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val full = asSet(Ann.ivfTopK(e, queries,
      trained.withColumnRenamed("centroid_id", "vec_id"),
      "vec_id", "embedding", k = 5, nprobe = 10))
    assert(full === bf)
    // deterministic: same seed -> identical centroids
    val again = Ann.trainCentroids(e, "vec_id", "embedding", k = 10, iters = 3)
    assert(trained.orderBy("centroid_id").collect().map(_.toSeq).toSeq ==
      again.orderBy("centroid_id").collect().map(_.toSeq).toSeq)
  }

  test("recall@5 curve: trained centroids match or beat sampled at equal nprobe") {
    // the production quality number for q61's machinery: recall@5 vs
    // brute force at nprobe ∈ {1,3,5}, trained (3 Lloyd's iterations)
    // vs the deterministic hash-sampled init (iters = 0). Everything
    // here is deterministic, so these are fixed values, not a flaky
    // statistical bound.
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queries = e.filter($"vec_id" < 20)
    def centroidsAt(iters: Int) =
      Ann.trainCentroids(e, "vec_id", "embedding", k = 10, iters = iters)
        .withColumnRenamed("centroid_id", "vec_id")
    val sampled = centroidsAt(0)
    val trained = centroidsAt(3)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = asSet(Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    def recallAt(cents: org.apache.spark.sql.DataFrame, nprobe: Int) = {
      val got = asSet(Ann.ivfTopK(e, queries, cents,
        "vec_id", "embedding", k = 5, nprobe = nprobe))
      (bf & got).size.toDouble / bf.size
    }
    val curve = Seq(1, 3, 5).map { np =>
      (np, recallAt(sampled, np), recallAt(trained, np))
    }
    for ((np, rSampled, rTrained) <- curve) {
      assert(rTrained >= rSampled,
        s"trained recall below sampled at nprobe=$np: " +
          curve.map(c => s"nprobe=${c._1} sampled=${c._2} trained=${c._3}")
            .mkString(", "))
    }
    // recall must be monotone in nprobe for a fixed model
    for (Seq((_, s1, t1), (_, s2, t2)) <- curve.sliding(2)) {
      assert(s2 >= s1 && t2 >= t1, s"recall not monotone in nprobe: $curve")
    }
  }

  test("vector_sum_f matches posexplode sums; null vectors and empty groups") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .withColumn("g", pmod(col("vec_id"), lit(5)))
    val native = e.groupBy("g")
      .agg(call_function("vector_sum_f", col("embedding")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val exploded = e
      .select(col("g"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("g", "p").agg(sum(col("x").cast("double")).as("s"))
      .collect().groupBy(_.getLong(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    assert(native.keySet === exploded.keySet)
    for (g <- native.keySet; (a, b) <- native(g).zip(exploded(g)))
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"group $g: $a vs $b")
    // null vectors are skipped; an all-null group evaluates to null
    val withNull = Seq((0L, Some(Array(1.0f, 2.0f))), (0L, None),
      (1L, None)).toDF("g", "v")
    val r = withNull.groupBy("g")
      .agg(call_function("vector_sum_f", col("v")).as("s"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r(0L).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)
      === Some(Seq(1.0, 2.0)))
    assert(r(1L) === None)
  }

  test("PQ: codes are m bytes, encoding is deterministic, ADC ≈ exact dot") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val books = Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
      iters = 5, maxTrain = 1000)
    assert(books.length === 16)
    assert(books.forall(cb => cb.length === 128 && cb.forall(_.length === 4)))
    val enc = e.select(col("vec_id"),
      call_function("pq_encode", col("embedding"), typedlit(books)).as("c"))
    val codes = enc.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]]("c").toSeq).toMap
    assert(codes.values.forall(_.length == 16))
    val again = enc.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]]("c").toSeq).toMap
    assert(codes === again)
    // ADC of a vector against ITS OWN lut approximates its squared norm
    val err = e.limit(50)
      .select((call_function("pq_adc",
        call_function("pq_encode", col("embedding"), typedlit(books)),
        call_function("pq_lut", col("embedding"), typedlit(books)))
        - graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")))
        .as("err"),
        graft.functions.VectorFunctions
          .dot(col("embedding"), col("embedding")).as("d"))
      .select(abs(col("err")) / col("d")).as[Double].collect()
    info(s"ADC self-dot relative error: worst ${err.max}, " +
      s"mean ${err.sum / err.length}")
    assert(err.forall(_ < 0.35), s"worst relative ADC error ${err.max}")
    assert(err.sum / err.length < 0.15,
      s"mean relative ADC error ${err.sum / err.length}")
  }

  test("IVF-PQ: ADC recall is useful, rerank recovers brute force exactly") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queries = e.filter($"vec_id" < 20)
    val centroids = Ann.trainCentroids(e, "vec_id", "embedding", k = 10,
      iters = 3).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
      iters = 5, maxTrain = 1000)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = asSet(Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val full = centroids.count().toInt
    // pure ADC at full probe: approximate ranks, decent recall
    val adc = asSet(Ann.ivfPqTopK(e, queries, centroids, books,
      "vec_id", "embedding", k = 5, nprobe = full))
    val adcRecall = (bf & adc).size.toDouble / bf.size
    info(s"pure-ADC recall@5 at full probe: $adcRecall")
    assert(adcRecall >= 0.5, s"ADC recall $adcRecall too low")
    // rerank with exact cosine over 10x candidates + full probe == brute force
    val reranked = Ann.ivfPqTopK(e, queries, centroids, books,
      "vec_id", "embedding", k = 5, nprobe = full, refine = 10)
    assert(asSet(reranked) === bf)
    // rerank at-or-above pure ADC recall even at partial probe
    val rerankedPartial = asSet(Ann.ivfPqTopK(e, queries, centroids, books,
      "vec_id", "embedding", k = 5, nprobe = 3, refine = 10))
    val adcPartial = asSet(Ann.ivfPqTopK(e, queries, centroids, books,
      "vec_id", "embedding", k = 5, nprobe = 3))
    val rr = (bf & rerankedPartial).size.toDouble / bf.size
    val ar = (bf & adcPartial).size.toDouble / bf.size
    assert(rr >= ar, s"rerank recall $rr below ADC recall $ar")
  }

  test("residual IVF-PQ: tighter quantization than plain PQ, exact at full refine") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val queries = e.filter($"vec_id" < 20)
    val centroids = Ann.trainCentroids(e, "vec_id", "embedding", k = 10,
      iters = 3).withColumnRenamed("centroid_id", "vec_id")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = asSet(Ann.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val full = centroids.count().toInt
    // same budget both ways: m=16, ksub=128
    val plain = Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
      iters = 5, maxTrain = 1000)
    val resid = Ann.trainPqResidual(e, centroids, "vec_id", "embedding",
      m = 16, ksub = 128, iters = 5, maxTrain = 1000)
    val plainAdc = asSet(Ann.ivfPqTopK(e, queries, centroids, plain,
      "vec_id", "embedding", k = 5, nprobe = full))
    val residAdc = asSet(Ann.ivfPqResidualTopK(e, queries, centroids, resid,
      "vec_id", "embedding", k = 5, nprobe = full))
    val pr = (bf & plainAdc).size.toDouble / bf.size
    val rr = (bf & residAdc).size.toDouble / bf.size
    info(s"pure-ADC recall@5 at full probe: plain=$pr residual=$rr")
    // the FAISS claim at the same byte budget: residual >= plain
    assert(rr >= pr, s"residual recall $rr below plain $pr")
    assert(rr >= 0.5, s"residual ADC recall $rr too low")
    // exact rerank at full probe recovers brute force, same as q66
    val reranked = Ann.ivfPqResidualTopK(e, queries, centroids, resid,
      "vec_id", "embedding", k = 5, nprobe = full, refine = 10)
    assert(asSet(reranked) === bf)
    // residual codes differ from plain codes for the same rows (the
    // subtraction actually happened)
    val pc = Ann.buildPqIndex(e, centroids, plain, "vec_id", "embedding")
      .select("codes").collect().map(_.getAs[Array[Byte]](0).toSeq)
    val rc = Ann.buildPqIndexResidual(e, centroids, resid, "vec_id",
      "embedding").select("codes").collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    assert(pc.toSet != rc.toSet)
  }

  test("vec_sub_f subtracts element-wise and rejects ragged pairs") {
    import org.apache.spark.sql.functions.typedlit
    val out = vecs.select(call_function("vec_sub_f",
      col("embedding"), col("embedding"))).collect()
    assert(out.forall(_.getSeq[Float](0).forall(_ == 0.0f)))
    intercept[Exception] {
      vecs.select(call_function("vec_sub_f", col("embedding"),
        typedlit(Seq(1.0f)))).collect()
    }
  }

  test("PQ validates dimensions and codebook shape") {
    intercept[IllegalArgumentException] {
      Ann.trainPq(vecs, "vec_id", "embedding", m = 2) // dim 3 % 2 != 0
    }
    val books = Seq.fill(3)(Seq.fill(4)(Seq.fill(1)(0.0f))) // m=3, dsub=1
    // encoding a dim-3 vector with a dim-3 model works; ragged rejected
    val ok = vecs.select(call_function("pq_encode",
      col("embedding"), typedlit(books)))
    assert(ok.collect().length === 5)
    val ragged = Seq(Seq(Seq(0.0f, 0.0f)), Seq(Seq(0.0f)))
    intercept[Exception] {
      vecs.select(call_function("pq_encode",
        col("embedding"), typedlit(ragged))).collect()
    }
  }

  test("assignBuckets is a pure projection — zero exchanges of any kind") {
    val centroids = vecs.filter($"vec_id".isin(0L, 2L, 4L))
    val out = Ann.assignBuckets(vecs, centroids, "vec_id", "embedding")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    val buckets = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(buckets === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("nearest_centroid native kernel matches the HOF fallback on real data") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val matrix = e.filter($"vec_id" % 50 === 0).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
    val both = e.select(
      VectorFunctions.nearestCentroid(col("embedding"), matrix).as("native"),
      VectorFunctions.nearestCentroidHof(col("embedding"), matrix).as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
  }

  test("hyperplane_bucket native kernel matches the builtin formula bit for bit") {
    // real embeddings plus a zero vector (every projection 0 → no bit
    // set), at 1, 16 and 62 planes (the widest bucket a long packs)
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding")).limit(200)
    val dim = e.head().getSeq[Float](1).size
    val all = e.unionByName(
      Seq((-1L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    for (planes <- Seq(1, 16, 62)) {
      val both = all.select(col("vec_id"),
        VectorFunctions.hyperplaneBucket(col("embedding"), dim, planes),
        VectorFunctions.hyperplaneBucketHof(col("embedding"), dim, planes))
        .as[(Long, Long, Long)].collect()
      both.foreach { case (id, native, hof) =>
        assert(native === hof, s"vec $id, $planes planes") }
      assert(both.find(_._1 == -1L).map(_._2) === Some(0L))
      assert(planes == 1 || both.map(_._2).distinct.length > 8,
        "the buckets spread")
    }
  }

  test("assignBucketsJoin (large-model path) agrees with the literal model") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val centroids = e.filter($"vec_id" % 50 === 0)
    val lit = Ann.assignBuckets(e, centroids, "vec_id", "embedding")
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = Ann.assignBucketsJoin(e, centroids, "vec_id", "embedding")
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined === lit)
  }

  test("NaN scores follow Spark's NaN-greatest ordering in both kernel paths") {
    // a NaN component makes every cosine NaN; Spark's array_max returns
    // NaN and array_position finds the FIRST NaN, so both paths must
    // pick centroid index 1
    val nanVec = Seq((0L, Array(Float.NaN, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val matrix = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    val r = nanVec.select(
      VectorFunctions.nearestCentroid(col("embedding"), matrix).as("native"),
      VectorFunctions.nearestCentroidHof(col("embedding"), matrix).as("hof"))
      .head
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L)
  }

  test("dimension mismatch fails loudly, ragged matrices are rejected") {
    val bad = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding") // dim 2
    val matrix = Seq(Seq(1.0f, 0.0f, 0.0f)) // dim 3
    val e = intercept[Exception] {
      bad.select(VectorFunctions.nearestCentroid(col("embedding"), matrix)).head
    }
    assert(e.getMessage.contains("dim") ||
      e.getCause != null && e.getCause.getMessage.contains("dim"))
    intercept[IllegalArgumentException] {
      new graft.functions.CentroidModel(
        Array(Array(1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)))
    }
  }

  test("null embeddings are excluded from the IVF index, null ids from the model") {
    val withNull = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val centroids = withNull.filter($"vec_id".isin(0L, 2L))
    val out = Ann.assignBuckets(withNull, centroids, "vec_id", "embedding")
    assert(out.select("vec_id").as[Long].collect().toSet === Set(0L, 2L))
    // a model consisting only of null rows is an explicit error
    val allNull = Seq((5L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Ann.assignBuckets(withNull, allNull, "vec_id", "embedding")
    }
    assert(err.getMessage.contains("empty centroid set"))
  }

  test("hyperplaneBucket is deterministic and groups identical vectors") {
    val b = vecs.select(col("vec_id"),
      VectorFunctions.hyperplaneBucket(col("embedding"), 3, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = vecs.select(col("vec_id"),
      VectorFunctions.hyperplaneBucket(col("embedding"), 3, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b === b2)
  }

  test("appendPqIndex equals a full rebuild under frozen models, both variants") {
    // continuous ingest: corpus indexes once, the batch appends under
    // the frozen centroids/codebooks — code-for-code identical to
    // rebuilding everything with the same models, and search agrees
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val batch = e.filter(col("vec_id") % 4 === 0)
    val cents = Ann.trainCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    for (residual <- Seq(false, true)) {
      val books =
        if (residual) Ann.trainPqResidual(corpus, cents, "vec_id",
          "embedding", m = 8, ksub = 16, iters = 3, maxTrain = 1024)
        else Ann.trainPq(corpus, "vec_id", "embedding", m = 8,
          ksub = 16, iters = 3, maxTrain = 1024)
      def build(df: org.apache.spark.sql.DataFrame) =
        if (residual)
          Ann.buildPqIndexResidual(df, cents, books, "vec_id", "embedding")
        else Ann.buildPqIndex(df, cents, books, "vec_id", "embedding")
      val appended = Ann.appendPqIndex(build(corpus), batch, cents,
        books, "vec_id", "embedding", residual = residual)
      val rebuilt = build(e)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("centroid_id"),
          col("codes").cast("string"), round(col("vec_norm"), 6))
          .as[(Long, Long, String, Double)].collect().toSet
      assert(rows(appended) == rows(rebuilt),
        s"residual=$residual: appended index differs from rebuild")
      // and search over the appended index = search over the rebuild
      val queries = e.filter(col("vec_id") < 5)
      def top(df: org.apache.spark.sql.DataFrame) =
        (if (residual)
          Ann.searchPqIndexResidual(df, e, queries, cents, books,
            "vec_id", "embedding", k = 5, nprobe = 3, refine = 2)
        else
          Ann.searchPqIndex(df, e, queries, cents, books,
            "vec_id", "embedding", k = 5, nprobe = 3, refine = 2))
          .select("query_id", "neighbor_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
      assert(top(appended) == top(rebuilt), s"residual=$residual search")
    }
  }

  test("persisted index directory: save→load→search ≡ in-memory, all variants") {
    import graft.operators.Pca
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
    // plain + residual: raw space, rotation absent
    for (residual <- Seq(false, true)) {
      val cents = Ann.trainCentroids(e, "vec_id", "embedding",
        k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
      val books =
        if (residual) Ann.trainPqResidual(e, cents, "vec_id",
          "embedding", m = 8, ksub = 16, iters = 3, maxTrain = 1024)
        else Ann.trainPq(e, "vec_id", "embedding", m = 8,
          ksub = 16, iters = 3, maxTrain = 1024)
      val index =
        if (residual)
          Ann.buildPqIndexResidual(e, cents, books, "vec_id", "embedding")
        else Ann.buildPqIndex(e, cents, books, "vec_id", "embedding")
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_pqidx_$residual").toString + "/idx"
      Ann.saveOpqIndex(dir, index, cents, books, "vec_id", "embedding",
        residual = residual)
      val loaded = Ann.loadOpqIndex(spark, dir)
      assert(loaded.residual == residual && loaded.rotation.isEmpty)
      assert(loaded.codebooks == books) // exact float round trip
      val mem =
        if (residual) Ann.searchPqIndexResidual(index, e, queries,
          cents, books, "vec_id", "embedding", k = 5, nprobe = 3,
          refine = 2)
        else Ann.searchPqIndex(index, e, queries, cents, books,
          "vec_id", "embedding", k = 5, nprobe = 3, refine = 2)
      val disk = Ann.searchOpqIndex(loaded, e, queries, k = 5,
        nprobe = 3, refine = 2)
      assert(dump(disk) == dump(mem), s"residual=$residual")
    }
    // rotated: index built over the OPQ space, searched with RAW
    // vectors — the stored rotation must bring both sides into index
    // space and reproduce the in-memory rotated search exactly
    val pca = Pca.train(e, "vec_id", "embedding", k = 8)
    val rotation = Pca.opqModel(pca, m = 4)
    val rot = Pca.rotate(e, "vec_id", "embedding", rotation)
      .localCheckpoint(false)
    val cents = Ann.trainCentroids(rot, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPq(rot, "vec_id", "embedding", m = 4,
      ksub = 16, iters = 3, maxTrain = 1024)
    val index = Ann.buildPqIndex(rot, cents, books, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pqidx_rot").toString + "/idx"
    Ann.saveOpqIndex(dir, index, cents, books, "vec_id", "embedding",
      rotation = Some(rotation))
    val loaded = Ann.loadOpqIndex(spark, dir)
    assert(loaded.rotation.isDefined)
    val mem = Ann.searchPqIndex(index, rot,
      rot.filter(col("vec_id") < 5), cents, books, "vec_id",
      "embedding", k = 5, nprobe = 3, refine = 2)
    val disk = Ann.searchOpqIndex(loaded, e, queries, k = 5,
      nprobe = 3, refine = 2)
    assert(dump(disk) == dump(mem), "rotated path")
  }

  test("appendOpqIndex grows the directory ≡ an index saved whole") {
    import graft.operators.Pca
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = e.filter(col("vec_id") % 3 =!= 0L)
    val batch = e.filter(col("vec_id") % 3 === 0L)
    val queries = e.filter(col("vec_id") < 5)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
    // rotated + residual in one pass — the hardest composition: the
    // append must rotate the raw batch through the STORED model before
    // encoding, exactly like a whole-corpus save would have
    val pca = Pca.train(e, "vec_id", "embedding", k = 8)
    val rotation = Pca.opqModel(pca, m = 4)
    val rot = Pca.rotate(e, "vec_id", "embedding", rotation)
      .localCheckpoint(false)
    val cents = Ann.trainCentroids(rot, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPq(rot, "vec_id", "embedding", m = 4,
      ksub = 16, iters = 3, maxTrain = 1024)
    def save(corpus: org.apache.spark.sql.DataFrame, name: String): String = {
      val idx = Ann.buildPqIndexResidual(
        Pca.rotate(corpus, "vec_id", "embedding", rotation),
        cents, books, "vec_id", "embedding")
      val dir = java.nio.file.Files
        .createTempDirectory(name).toString + "/idx"
      Ann.saveOpqIndex(dir, idx, cents, books, "vec_id", "embedding",
        rotation = Some(rotation), residual = true)
      dir
    }
    val grown = save(seed, "graft_pq_append")
    Ann.appendOpqIndex(spark, grown, batch)
    // caller-level RETRY of the same batch is IDEMPOTENT: the content
    // key is a pure function of the batch's ids, so the retry
    // overwrites its own delta root — no duplicate id rows survive
    // the load (r15 ADVICE: a bare mode("append") duplicated them)
    Ann.appendOpqIndex(spark, grown, batch)
    val loadedGrown = Ann.loadOpqIndex(spark, grown)
    assert(loadedGrown.pqIndex.count() ===
      loadedGrown.pqIndex.select("vec_id").distinct().count(),
      "a retried append must not leave duplicate id rows")
    val whole = save(e, "graft_pq_whole")
    val search = (d: String) => dump(Ann.searchOpqIndex(
      Ann.loadOpqIndex(spark, d), e, queries, k = 5, nprobe = 3,
      refine = 2))
    assert(search(grown) == search(whole),
      "append to disk must search identically to a whole-corpus save")
  }

  test("q188 (isolated persisted search) ≡ q177 (full lifecycle) row-for-row") {
    // same recipe, different lifecycle: q177 rebuilds its directory
    // every invocation, q188 builds once and only searches — the
    // results must be identical, and a SECOND q188 invocation (the
    // bench's timed passes, hitting the already-built fixture) must
    // reproduce them exactly
    val sf = "/root/testdata/sf0.001"
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val q177 = dump(SparkEntry.queries("q177_ann_opq_saved")(spark, sf))
    val q188a = dump(SparkEntry.queries("q188_ann_search_saved")(spark, sf))
    val q188b = dump(SparkEntry.queries("q188_ann_search_saved")(spark, sf))
    assert(q188a == q177, "isolated search must equal the lifecycle query")
    assert(q188b == q188a, "build-once reuse must be deterministic")
  }

  test("q192 (isolated persisted SQ8 search) ≡ q191 (full lifecycle) row-for-row") {
    // the q188/q177 contract carried to the SQ8 rung (r17 verdict #7):
    // q191 retrains + re-encodes + saves every invocation, q192 builds
    // its directory once and only searches — identical results, and a
    // second q192 invocation (the bench's timed passes) reproduces them
    val sf = "/root/testdata/sf0.001"
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
    val q191 = dump(SparkEntry.queries("q191_ann_sq8_saved")(spark, sf))
    val q192a = dump(SparkEntry.queries("q192_ann_sq8_search_saved")(spark, sf))
    val q192b = dump(SparkEntry.queries("q192_ann_sq8_search_saved")(spark, sf))
    assert(q192a == q191, "isolated SQ8 search must equal the lifecycle query")
    assert(q192b == q192a, "build-once reuse must be deterministic")
  }

  test("SQ8 encode/dequant: one byte per dim, per-dim error <= step/2") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding"))
    val (mins, steps) = Ann.trainSq8(e, "embedding")
    assert(mins.size === steps.size && steps.forall(_ >= 0.0))
    val rows = e.select(col("embedding"),
      Ann.sq8EncodeCol(col("embedding"), mins, steps).as("codes"),
      Ann.sq8DequantCol(
        Ann.sq8EncodeCol(col("embedding"), mins, steps),
        mins, steps).as("deq"))
      .as[(Array[Float], Array[Byte], Array[Float])].collect()
    rows.foreach { case (v, c, d) =>
      // BINARY codes: exactly one byte per dimension — the true 4x
      // representation (the first formulation held 8-bit codes in
      // array<int>)
      assert(c.length === v.length)
      v.indices.foreach { i =>
        // float reconstruction adds <= 1 ulp on top of the step/2
        // quantization bound
        val bound = steps(i) / 2.0 + math.abs(v(i)) * 1e-6 + 1e-7
        assert(math.abs(v(i) - d(i)) <= bound,
          s"dim $i: |${v(i)} - ${d(i)}| > $bound (step ${steps(i)})")
      }
    }
  }

  test("SQ8 fused kernels: sq8_dot/sq8_norm ≡ dot/norm over the dequant, exactly") {
    // the fused score path reconstructs each dimension to FLOAT first,
    // so fusing the dequant away can never change a score — pinned as
    // EXACT equality, not a tolerance
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding"))
    val (mins, steps) = Ann.trainSq8(e, "embedding")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val paired = e.crossJoin(broadcast(q))
      .select(
        Ann.sq8EncodeCol(col("embedding"), mins, steps).as("codes"),
        col("qv"))
    val rows = paired.select(
      Ann.sq8DotCol(col("qv"), col("codes"), mins, steps).as("fd"),
      graft.functions.VectorFunctions.dot(col("qv"),
        Ann.sq8DequantCol(col("codes"), mins, steps)).as("ud"),
      Ann.sq8NormCol(col("codes"), mins, steps).as("fn"),
      graft.functions.VectorFunctions.norm(
        Ann.sq8DequantCol(col("codes"), mins, steps)).as("un"))
      .as[(Double, Double, Double, Double)].collect()
    rows.foreach { case (fd, ud, fn, un) =>
      assert(fd === ud, s"fused dot $fd != unfused $ud")
      assert(fn === un, s"fused norm $fn != unfused $un")
    }
  }

  test("sq8TopK ≡ bruteForceTopK at both gate SFs (exact output after rerank)") {
    // the oracle bet q189 registers: quantization decides only which
    // candidates reach the exact rerank, so the OUTPUT is the exact
    // brute-force top-k — pinned at the driver's correctness SF
    // (0.01) and the spec SF (0.001)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = Tables(spark, sf).embeddings
      val q = e.filter(col("vec_id") < 10)
      def dump(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank", "cosine")
          .as[(Long, Long, Int, Double)].collect().toSet
      val sq8 = dump(Ann.sq8TopK(e, q, "vec_id", "embedding",
        k = 5, refine = 4))
      val bf = dump(Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
      assert(sq8 === bf, s"sq8TopK diverged from brute force at $sf")
    }
  }

  test("sq8IvfTopK: full probe + generous refine ≡ brute force; pruned recalls") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val q = e.filter(col("vec_id") < 10)
    val centroids = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val bf = dump(Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val full = dump(Ann.sq8IvfTopK(e, q, centroids, "vec_id",
      "embedding", k = 5, nprobe = Int.MaxValue, refine = 4))
    assert(full === bf, "full-probe IVF-SQ8 must equal brute force")
    // the registered q190 shape (nprobe=3 of 20): approximate by
    // construction. The test embeddings are clusterless gaussians
    // (the existing ivfTopK pin's rationale), where IVF recall is
    // bounded near nprobe/ncentroids = 0.15 — trained centroids
    // measured 0.46, pinned at 2x the clusterless bound
    val pruned = dump(Ann.sq8IvfTopK(e, q, centroids, "vec_id",
      "embedding", k = 5, nprobe = 3, refine = 4))
    val recall = (pruned.map(t => (t._1, t._2)) intersect
      bf.map(t => (t._1, t._2))).size.toDouble / bf.size
    assert(recall >= 0.3, f"IVF-SQ8 nprobe=3 recall $recall%.2f < 0.3")
  }

  test("SQ8 index: save→load→search ≡ in-memory; append idempotent; tombstone+compact exact") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5)
    val (mins, steps) = Ann.trainSq8(e, "embedding")
    val centroids = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet

    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq8idx").toString + "/idx"
    Ann.saveSq8Index(dir, e, centroids, mins, steps,
      "vec_id", "embedding")
    val disk = dump(Ann.searchSq8Index(Ann.loadSq8Index(spark, dir),
      e, q, k = 5, nprobe = 3, refine = 4))
    val mem = dump(Ann.sq8IvfTopK(e, q, centroids, "vec_id",
      "embedding", k = 5, nprobe = 3, refine = 4))
    assert(disk === mem,
      "persisted SQ8 search must equal the in-memory search")

    // append a fresh batch TWICE (caller retry): the content-keyed
    // delta root makes the retry a no-op — no duplicate id rows
    val batch = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Ann.appendSq8Index(spark, dir, batch)
    Ann.appendSq8Index(spark, dir, batch)
    val grown = Ann.loadSq8Index(spark, dir)
    assert(grown.codes.count() ===
      grown.codes.select("vec_id").distinct().count(),
      "a retried append must not leave duplicate id rows")
    assert(grown.codes.filter(col("vec_id") >= 100000L).count() > 0)

    // tombstone half the appended ids, compact, and check EXACTNESS:
    // live set preserved, tombstoned ids gone, delta roots folded
    val dead = (0L until 20L by 2).map(_ + 100000L)
    graft.operators.IndexMaintenance.addTombstones(
      dead.toDF("vec_id"), dir)
    graft.operators.IndexMaintenance.compactSq8Index(spark, dir)
    val compacted = Ann.loadSq8Index(spark, dir)
    val ids = compacted.codes.select("vec_id").as[Long].collect().toSet
    assert(dead.forall(!ids.contains(_)), "a tombstoned id survived")
    val expected = e.select("vec_id").as[Long].collect().toSet ++
      (1L until 20L by 2).map(_ + 100000L)
    assert(ids === expected, "compact lost or resurrected rows")
    assert(Ann.deltaRoots(spark, dir).isEmpty,
      "compact must fold and reclaim the delta roots")
    // the grown-then-compacted directory must search identically to a
    // WHOLE-corpus save over the same live rows under the same frozen
    // models (the appendOpqIndex discipline carried to SQ8)
    val liveCorpus = e.unionByName(
      batch.filter(col("vec_id") % 2 === 1))
    val whole = java.nio.file.Files
      .createTempDirectory("graft_sq8whole").toString + "/idx"
    Ann.saveSq8Index(whole, liveCorpus, centroids, mins, steps,
      "vec_id", "embedding")
    assert(
      dump(Ann.searchSq8Index(compacted, liveCorpus, q,
        k = 5, nprobe = 3, refine = 4)) ===
      dump(Ann.searchSq8Index(Ann.loadSq8Index(spark, whole),
        liveCorpus, q, k = 5, nprobe = 3, refine = 4)),
      "grown+compacted dir must search ≡ a whole-corpus save")
  }

  test("topk_any select ≡ the row_number window form: ties, NaN, ±0.0, short groups, string ids") {
    // the r17 verdict's #2: every rung's candidate cut moved from a
    // row_number window to the bounded topk_any aggregate — this is
    // the row-identity pin for the selection itself, on exactly the
    // orderings where the two could diverge: score ties broken by
    // neighbor_id, NaN (sorts GREATEST, first under desc), -0.0 vs
    // 0.0 (equal under Spark's SQLOrderingUtil.compareDoubles — the
    // tie-break must kick in), and a group smaller than k.
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.8), (1L, 13L, 0.8),
      (1L, 14L, 0.7),
      (2L, 20L, 0.5), (2L, 21L, 0.4), // short group (k = 3)
      (3L, 30L, Double.NaN), (3L, 31L, 2.0), (3L, 32L, 1.0),
      (3L, 33L, 0.5),
      (4L, 40L, 0.0), (4L, 41L, -0.0), (4L, 42L, -0.1), (4L, 43L, 0.1)
    ).toDF("query_id", "neighbor_id", "s")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "__score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val agg = dump(Ann.topKSelect(scored, "s", 3))
    val win = dump(Ann.topKSelectWindow(scored, "s", 3))
    assert(agg === win, "aggregate select diverged from the window form")
    // the crafted orderings actually exercised what they claim:
    assert(agg.filter(_._1 == 1L).map(t => (t._3, t._2)) ===
      Set((1, 10L), (2, 11L), (3, 12L)), "tie-break by neighbor_id")
    assert(agg.filter(_._1 == 3L).find(_._3 == 1).map(_._2) ===
      Some(30L), "NaN must rank first under desc (Spark sort order)")
    assert(agg.filter(_._1 == 4L).map(t => (t._3, t._2)) ===
      Set((1, 43L), (2, 40L), (3, 41L)),
      "-0.0 must tie with 0.0 and fall to the neighbor_id tie-break")
    assert(agg.filter(_._1 == 2L).size === 2, "short group keeps its rows")
    // generic payload: string neighbor ids order like Spark's sort
    val s2 = Seq((1L, "b", 1.0), (1L, "a", 1.0), (1L, "c", 0.5))
      .toDF("query_id", "neighbor_id", "s")
    def dumpS(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(dumpS(Ann.topKSelect(s2, "s", 2)) ===
      dumpS(Ann.topKSelectWindow(s2, "s", 2)))
    assert(dumpS(Ann.topKSelect(s2, "s", 2)) ===
      Set((1L, "a", 1), (1L, "b", 2)))
  }

  test("IVF-SQ8 on a CLUSTERED corpus: nprobe=3 recall >= 0.9, curve monotone in nprobe") {
    // The r17 verdict's #3: the existing q190 pin runs on clusterless
    // gaussians, where recall >= 0.3 only certifies "better than the
    // 0.15 floor". This fixture PLANTS the structure IVF exists for —
    // 8 well-separated direction clusters, tight within-cluster noise
    // — so the trained index must actually find the planted neighbors:
    // nprobe=3 recall >= 0.9, and recall must be monotone in nprobe up
    // to full probe (candidate buckets are nested per query; the
    // generous refine keeps the approximate cut from reordering them).
    // The gaussian pin stays in the q190 test above as the adversarial
    // floor; this is the "IVF works" bound.
    val dim = 16
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    val rows = for {
      c <- 0 until 8
      i <- 0 until 40
    } yield {
      val base = Array.fill(dim)(0.0f)
      base((2 * c) % dim) = 0.8f
      base((2 * c + 1) % dim) = if (c < 4) 0.6f else -0.6f
      val noisy = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
      (c * 1000L + i, noisy)
    }
    val corpus = rows.toDF("vec_id", "embedding").repartition(8)
      .localCheckpoint(false)
    val queries = corpus.filter(col("vec_id") % 1000 === 0)
    val centroids = Ann.trainCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 4).withColumnRenamed("centroid_id", "vec_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
    val bf = pairs(Ann.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 5))
    def recallAt(np: Int): Double =
      (pairs(Ann.sq8IvfTopK(corpus, queries, centroids,
        "vec_id", "embedding", k = 5, nprobe = np, refine = 4)) & bf)
        .size.toDouble / bf.size
    val curve = Seq(1, 2, 3, 8).map(np => np -> recallAt(np))
    val at3 = curve.find(_._1 == 3).get._2
    assert(at3 >= 0.9,
      f"planted-cluster recall at nprobe=3 is $at3%.2f < 0.9 ($curve)")
    for (Seq((np1, r1), (np2, r2)) <- curve.sliding(2)) {
      assert(r2 >= r1,
        s"recall not monotone in nprobe: $curve ($np1→$np2)")
    }
    assert(curve.last._2 === 1.0, "full probe + refine must be exact")
  }

  test("batchContentKey: multiplicity-sensitive, order-independent, content-keyed") {
    import org.apache.spark.sql.DataFrame
    def key(df: DataFrame) = Ann.batchContentKey(df, "vec_id", "embedding")
    val aab = Seq((1L, Array(1f, 2f)), (1L, Array(1f, 2f)),
      (2L, Array(3f, 4f))).toDF("vec_id", "embedding")
    val ccb = Seq((3L, Array(5f, 6f)), (3L, Array(5f, 6f)),
      (2L, Array(3f, 4f))).toDF("vec_id", "embedding")
    // the r17 ADVICE collision class: same count, even-multiplicity
    // rows cancelling in every salted xor — the decimal hash sum must
    // now separate them
    assert(key(aab) !== key(ccb),
      "{A,A,B} and {C,C,B} must not share an append key")
    val aa = Seq((1L, Array(1f, 2f)), (1L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val cc = Seq((3L, Array(5f, 6f)), (3L, Array(5f, 6f)))
      .toDF("vec_id", "embedding")
    assert(key(aa) !== key(cc),
      "two fully-duplicated batches of equal size must not collide")
    // a retry that reshuffles rows still lands on the same folder
    val shuffled = aab.orderBy(col("vec_id").desc).repartition(7)
    assert(key(aab) === key(shuffled), "key must be order-independent")
    // different content under the same ids keys differently
    val changed = Seq((1L, Array(9f, 9f)), (1L, Array(1f, 2f)),
      (2L, Array(3f, 4f))).toDF("vec_id", "embedding")
    assert(key(aab) !== key(changed))
    assert(key(aab.limit(0)) === None, "empty batch has no key")
  }
}
