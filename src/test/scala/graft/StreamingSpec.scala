package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, window}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamSessionize
import graft.streaming.StreamSessionize.{ClosedSession, Event}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("streaming sessionization closes sessions via watermark timeout") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = StreamSessionize.sessionUpdates(
      input.toDS().withWatermark("ts", "0 seconds"), gapMillis = 10 * 60 * 1000)
    // session for user 1, plus a far-future event that advances the
    // watermark past end+gap so the timeout fires in the no-data batch.
    // Data added BEFORE start: AvailableNow snapshots offsets at start.
    input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0))
    input.addData(Event(2L, ts(50), 9.0))
    val query = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val closed = spark.table("sessions_out").as[ClosedSession].collect()
    assert(closed.exists(c =>
      c.user_id == 1L && c.n_events == 2 && c.sum_value == 3.0 &&
        c.start_ms == ts(0).getTime && c.end_ms == ts(5).getTime))
  }

  test("corpus-curation operators compose unchanged over a stream") {
    // the curation column functions are stateless projections/filters,
    // so the SAME operator code runs batch or streaming — quality
    // score + PII redaction + split assignment over a document stream
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Corpus, TextStats}
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    val curated = Corpus.splitAssign(
      docs.withColumn("quality", TextStats.qualityScore(col("text")))
        .withColumn("clean", TextStats.redactPii(col("text")))
        .filter(col("quality") > 0.0),
      "doc_id")
    input.addData(
      (1L, "the quick brown fox and the lazy dog of the farm"),
      (2L, "contact me at a@b.com for details of the offer"))
    val query = curated.writeStream
      .format("memory").queryName("curated_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val byId = spark.table("curated_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean"), r.getAs[String]("split"))).toMap
    assert(byId(2L)._1 == "contact me at [EMAIL] for details of the offer")
    assert(Set("train", "val", "test").contains(byId(1L)._2))
    // streaming assignment must equal the batch assignment (same hash)
    val batchSplit = Corpus.splitAssign(
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(byId.map { case (k, v) => k -> v._2 } == batchSplit)
  }

  test("in-batch gap split emits the earlier session immediately") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = StreamSessionize.sessionUpdates(
      input.toDS().withWatermark("ts", "0 seconds"), gapMillis = 10 * 60 * 1000)
    input.addData(
      Event(1L, ts(0), 1.0), Event(1L, ts(2), 1.0), // session A
      Event(1L, ts(30), 5.0)) // gap > 10min -> A closes in-batch
    val query = sessions.writeStream
      .format("memory").queryName("sessions_split")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val closed = spark.table("sessions_split").as[ClosedSession].collect()
    assert(closed.exists(c => c.user_id == 1L && c.n_events == 2
      && c.end_ms == ts(2).getTime))
  }

  test("streamingDedup keeps first occurrence per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val out = StreamSessionize.streamingDedup(df, "ts", "text", "1 hour")
    input.addData((ts(0), "aaa"), (ts(1), "bbb"), (ts(2), "aaa"))
    val query = out.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val rows = spark.table("dedup_out").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(1)).sorted.toSeq === Seq("aaa", "bbb"))
  }

  test("tumblingAgg emits finalized windows under append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamSessionize.tumblingAgg(df, "10 minutes", "0 seconds")
    input.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0))
    input.addData((ts(45), "view", 1.0)) // advances watermark, closes first window
    val query = agg.writeStream
      .format("memory").queryName("tumbling_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val rows = spark.table("tumbling_out").collect()
    assert(rows.exists(r =>
      r.getString(1) == "click" && r.getLong(2) == 2L && r.getDouble(3) == 3.0))
  }

  test("streaming token totals equal the batch tokenizer counts") {
    // the streaming meter must agree with q157's batch accounting on
    // the same text — same word population, same frozen merges; state
    // is one row per open window (watermark-bounded)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val out = graft.streaming.StreamTokenCount.tokenTotals(
      df, "ts", "text", SparkEntry.BpeMerges, "10 minutes", "0 seconds")
    input.addData(
      (ts(1), "the customer joins a batch"),
      (ts(2), "hash join scan"))
    input.addData((ts(45), "window closes now")) // advances watermark
    val query = out.writeStream
      .format("memory").queryName("tokcount_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val rows = spark.table("tokcount_out")
      .select("n_words", "n_tokens").as[(Long, Long)].collect()
    // batch reference over the same first-window text
    val batch = graft.operators.Bpe.tokenCounts(
      Seq((1L, "the customer joins a batch"), (2L, "hash join scan"))
        .toDF("doc_id", "text"),
      "doc_id", "text", SparkEntry.BpeMerges)
      .agg(org.apache.spark.sql.functions.sum("n_words"),
        org.apache.spark.sql.functions.sum("n_tokens"))
      .as[(Long, Long)].collect().head
    assert(rows.contains(batch),
      s"streaming $rows vs batch $batch")
  }

  test("streaming DSIR scoring is stateless and equals the batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    val target = Seq("the cat sat on the mat").toDF("text")
    val corpus = Seq("the cat sat on the mat", "unrelated words here")
      .toDF("text")
    val lr = graft.operators.Corpus.dsirModelArray(
      corpus, "text", target, "text", buckets = 1 << 10)
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    input.addData(
      (ts(1), "the cat sat on the mat"),
      (ts(2), "unrelated words here"))
    input.addData((ts(45), "closes the window"))
    // per-doc scores: pure projection, append mode without watermark
    val q1 = graft.streaming.StreamDsir.scored(df, "text", lr)
      .writeStream.format("memory").queryName("dsir_scored")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    val got = spark.table("dsir_scored")
      .select("text", "dsir_score").as[(String, Double)]
      .collect().toMap
    val batch = corpus.select(col("text"),
        org.apache.spark.sql.functions.call_function("dsir_score",
          col("text"),
          org.apache.spark.sql.functions.typedlit(lr.toSeq)))
      .as[(String, Double)].collect().toMap
    for ((t, s) <- batch)
      assert(got(t) == s, s"stream vs batch drift on '$t'")
    assert(got("the cat sat on the mat") > got("unrelated words here"))
    // the windowed intake meter finalizes under append mode
    val q2 = graft.streaming.StreamDsir.intakeMeter(df, "ts", "text",
        lr, "10 minutes", "0 seconds",
        admitThreshold = got("unrelated words here") + 0.1)
      .writeStream.format("memory").queryName("dsir_meter")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val meter = spark.table("dsir_meter")
      .select("n_docs", "n_admitted").as[(Long, Long)].collect()
    assert(meter.contains((2L, 1L)), s"meter rows: ${meter.toSeq}")
  }

  test("streaming UniMax sampling equals the batch mix decision-for-decision") {
    implicit val sqlCtx = spark.sqlContext
    // the planning batch: uneven sources so the waterfilling is
    // nontrivial (small source capped, big source at the fill level)
    val docs = (Seq.tabulate(8)(i => (i.toLong, "a", "w w w")) ++
      Seq.tabulate(40)(i => (100L + i, "b", "w w w")))
      .toDF("doc_id", "source", "text")
    val tok = graft.operators.TextStats.wsTokenCount(col("text"))
    val rates = graft.operators.Corpus.unimaxRates(
      docs, "source", tok, maxEpochs = 1.5, budgetFraction = 1.0)
    assert(rates("a") == 1.5 && rates("b") < 1.0, s"rates: $rates")
    val batch = graft.operators.Corpus.unimaxMix(
      docs, "doc_id", "source", tok, maxEpochs = 1.5,
      budgetFraction = 1.0)
      .as[(Long, String, Int)].collect().toSet
    // stream the same rows through the frozen rates
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "source")
    input.addData(Seq.tabulate(8)(i => (ts(1), i.toLong, "a")))
    input.addData(Seq.tabulate(40)(i => (ts(2), 100L + i, "b")) :+
      ((ts(45), 999L, "unplanned"))) // unknown source → rate 0
    val q1 = graft.streaming.StreamUnimax.sampled(
        df, "doc_id", "source", rates)
      .select("doc_id", "source", "copy")
      .writeStream.format("memory").queryName("unimax_sampled")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    val streamed = spark.table("unimax_sampled")
      .as[(Long, String, Int)].collect().toSet
    assert(streamed === batch,
      "streaming sample diverged from the batch mix")
    assert(!streamed.exists(_._2 == "unplanned"),
      "an unbudgeted source leaked through")
    // the windowed meter finalizes and reports the realized rates
    val q2 = graft.streaming.StreamUnimax.intakeMeter(df, "ts",
        "doc_id", "source", rates, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("unimax_meter")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val meter = spark.table("unimax_meter")
      .select("source", "n_in", "n_sampled")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(meter("a")._1 == 8L &&
      meter("a")._2 == batch.count(_._2 == "a"))
    assert(meter("b")._1 == 40L &&
      meter("b")._2 == batch.count(_._2 == "b"))
  }

  test("UniMax refresh-on-drift re-plans rates exactly when the mix drifts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamUnimax
    import graft.operators.Corpus
    // planning corpus: a 24 / b 120 tokens (3 tokens/doc)
    val initialTotals = Map("a" -> 24L, "b" -> 120L)
    val refresher = new StreamUnimax.RatesRefresher(
      spark, initialTotals, maxEpochs = 1.5, budgetFraction = 1.0,
      driftThreshold = 0.10)
    val r0 = refresher.currentRates
    // refresher's initial plan ≡ the batch planner over the same corpus
    val planDocs = (Seq.tabulate(8)(i => (i.toLong, "a", "w w w")) ++
      Seq.tabulate(40)(i => (100L + i, "b", "w w w")))
      .toDF("doc_id", "source", "text")
    val tok = graft.operators.TextStats.wsTokenCount(col("text"))
    assert(r0 === Corpus.unimaxRates(planDocs, "source", tok,
      maxEpochs = 1.5, budgetFraction = 1.0),
      "rates-from-totals must equal the batch planner bit-for-bit")

    val outputs = scala.collection.mutable.Map.empty[Long, Set[(Long, String, Int)]]
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "source", "text")
    val q = StreamUnimax.refreshingWriter(df, "doc_id", "source", tok,
        refresher, (sampled, batchId) => outputs(batchId) =
          sampled.select("doc_id", "source", "copy")
            .as[(Long, String, Int)].collect().toSet)
      .start()
    try {
      // batch 0: same mix as the plan — no refresh
      input.addData(Seq.tabulate(4)(i => (i.toLong, "a", "w w w")) ++
        Seq.tabulate(20)(i => (100L + i, "b", "w w w")))
      q.processAllAvailable()
      // batch 1: a flood of a NEW source — drift way past 0.10
      input.addData(Seq.tabulate(60)((i: Int) => (500L + i, "c", "w w w")))
      q.processAllAvailable()
      // batch 2: sampled under the REFRESHED rates (c now budgeted)
      input.addData(Seq.tabulate(10)((i: Int) => (700L + i, "c", "w w w")))
      q.processAllAvailable()
    } finally q.stop()

    assert(refresher.refreshCount === 1L,
      s"exactly one refresh expected (drift=${refresher.drift})")
    // batch 0 and the drift-revealing batch 1 sampled at the OLD rates
    // (decisions are a pure function of prior batches): c drops at 0
    assert(outputs(0L).forall(_._2 != "c") && outputs(0L).nonEmpty)
    assert(outputs(1L).isEmpty, "unplanned source samples at rate 0")
    // batch 2 runs under the refreshed plan — c is budgeted now
    assert(outputs(2L).nonEmpty && outputs(2L).forall(_._2 == "c"))
    // refreshed rates ≡ batch planner over the totals AS OF the
    // refresh (initial + batch 0 {a:12,b:60} + batch 1 {c:180});
    // batch 2's tokens arrived after the re-plan
    assert(refresher.currentRates === Corpus.unimaxRatesFromTotals(
      spark, Map("a" -> 36L, "b" -> 180L, "c" -> 180L), 1.5, 1.0))
    // per-batch decisions ≡ the stateless sampler at the frozen rates
    val b2 = Seq.tabulate(10)((i: Int) => (700L + i, "c", "w w w"))
      .toDF("doc_id", "source", "text")
    assert(outputs(2L) === StreamUnimax.sampled(b2, "doc_id", "source",
      refresher.currentRates).select("doc_id", "source", "copy")
      .as[(Long, String, Int)].collect().toSet)
    // replay: a re-fired batch id reuses its frozen rates and does not
    // re-accumulate (at-least-once discipline)
    val totalsBefore = refresher.cumulativeTotals
    val replayRates = refresher.ratesFor(2L, Map("c" -> 999999L))
    assert(replayRates === refresher.currentRates,
      "replay must reuse the batch's frozen rates")
    assert(refresher.cumulativeTotals === totalsBefore,
      "replay must not double-count")
    assert(refresher.refreshCount === 1L)
    // restart-exact resumption: a restored refresher carries the
    // rates, totals, refresh count AND the frozen replay memory — the
    // boundary batch a restart replays samples at its original rates
    val resumed = StreamUnimax.RatesRefresher.restore(spark,
      refresher.state, maxEpochs = 1.5, budgetFraction = 1.0,
      driftThreshold = 0.10)
    assert(resumed.currentRates === refresher.currentRates)
    assert(resumed.cumulativeTotals === refresher.cumulativeTotals)
    assert(resumed.refreshCount === 1L)
    assert(resumed.ratesFor(2L, Map("c" -> 999999L)) ===
      refresher.currentRates, "frozen replay memory must carry over")
    assert(resumed.cumulativeTotals === refresher.cumulativeTotals,
      "a replayed batch must not re-accumulate after restore either")
    // ... and the state round-trips through parquet bit-for-bit
    val sdir = java.nio.file.Files
      .createTempDirectory("graft_unimax_state").toString + "/state"
    StreamUnimax.RatesRefresher.saveState(spark, refresher.state, sdir)
    assert(StreamUnimax.RatesRefresher.loadState(spark, sdir) ===
      refresher.state)
    // replay of a batch EVICTED from the bounded memory fails loud
    // instead of silently re-accumulating (it would double-count and
    // could return different rates): replayMemory=1 keeps only the
    // newest batch, so replaying an older id must throw
    val tight = new StreamUnimax.RatesRefresher(
      spark, initialTotals, maxEpochs = 1.5, budgetFraction = 1.0,
      driftThreshold = 0.10, replayMemory = 1)
    tight.ratesFor(0L, Map("a" -> 3L))
    tight.ratesFor(1L, Map("a" -> 3L)) // evicts batch 0
    val totals1 = tight.cumulativeTotals
    val ex = intercept[IllegalStateException] {
      tight.ratesFor(0L, Map("a" -> 999L))
    }
    assert(ex.getMessage.contains("replayMemory"))
    assert(tight.cumulativeTotals === totals1,
      "a rejected evicted replay must not have accumulated")
  }

  test("streaming ANN search against a frozen persisted index ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ann
    import graft.streaming.StreamAnn
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = Ann.trainCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPq(corpus, "vec_id", "embedding", m = 4,
      ksub = 16, iters = 2, maxTrain = 1024)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_ann").toString + "/idx"
    Ann.saveOpqIndex(dir,
      Ann.buildPqIndex(corpus, cents, books, "vec_id", "embedding"),
      cents, books, "vec_id", "embedding")
    val idx = Ann.loadOpqIndex(spark, dir)

    val qvecs = corpus.filter(col("vec_id") < 6)
      .as[(Long, Seq[Float])].collect().toSeq
    val outputs =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int, Double)]]
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val q = StreamAnn.searchWriter(stream, idx, corpus,
        k = 3, nprobe = 3, refine = 2) { (res, batchId) =>
        outputs(batchId) = res
          .select("query_id", "neighbor_id", "rank", "cosine")
          .as[(Long, Long, Int, Double)].collect().toSet
      }.start()
    try {
      input.addData(qvecs.take(3))
      q.processAllAvailable()
      input.addData(qvecs.drop(3))
      q.processAllAvailable()
    } finally q.stop()

    def batchSearch(qs: Seq[(Long, Seq[Float])]) = Ann.searchOpqIndex(
      idx, corpus,
      qs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")
          .as("embedding")),
      k = 3, nprobe = 3, refine = 2, excludeSelf = false)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(outputs(0L) === batchSearch(qvecs.take(3)),
      "micro-batch 0 diverged from the batch search")
    assert(outputs(1L) === batchSearch(qvecs.drop(3)),
      "micro-batch 1 diverged from the batch search")
    // excludeSelf=false: a live query that IS a corpus vector finds
    // itself at rank 1 with cosine 1 — the streaming namespace contract
    assert(outputs(0L).exists(r => r._1 == r._2 && r._3 == 1 && r._4 == 1.0))
  }

  test("streaming set-similarity probes a frozen index ≡ batch, both faces") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SetSimilarity
    import graft.streaming.StreamSetSim
    val corpus = Seq(
      (0L, Seq("alpha", "beta", "gamma", "delta")),
      (1L, Seq("epsilon", "zeta", "eta", "theta")),
      (2L, Seq("alpha", "beta", "gamma", "kappa", "mu", "nu", "xi", "pi")))
      .toDF("id", "toks")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sss").toString + "/idx"
    SetSimilarity.buildIndex(corpus, "id", col("toks")).save(dir)
    val index = SetSimilarity.SetSimIndex.load(spark, dir)
    val probes = Seq(
      (10L, Seq("alpha", "beta", "gamma", "delta")),   // jaccard hit on 0
      (11L, Seq("alpha", "beta", "gamma")),            // contained in 0 and 2
      (12L, Seq("omega", "psi", "chi")))               // no hits
    def collectJ(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    def collectC(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "inter").as[(Long, Long, Long)]
        .collect().toSet

    val jOut = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val cOut = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
    val in1 = MemoryStream[(Long, Seq[String])]
    val q1 = StreamSetSim.probeWriter(in1.toDF().toDF("id", "toks"),
      index, "id", col("toks"), 1, 2) { (res, b) => jOut(b) = collectJ(res) }
      .start()
    try {
      in1.addData(probes.take(2)); q1.processAllAvailable()
      in1.addData(probes.drop(2)); q1.processAllAvailable()
    } finally q1.stop()
    val in2 = MemoryStream[(Long, Seq[String])]
    val q2 = StreamSetSim.containmentWriter(in2.toDF().toDF("id", "toks"),
      index, "id", col("toks"), 9, 10) { (res, b) => cOut(b) = collectC(res) }
      .start()
    try {
      in2.addData(probes); q2.processAllAvailable()
    } finally q2.stop()

    def batchDf(rows: Seq[(Long, Seq[String])]) = rows.toDF("id", "toks")
    assert(jOut(0L) === collectJ(SetSimilarity.probeIndex(index,
      batchDf(probes.take(2)), "id", col("toks"), 1, 2)))
    assert(jOut(1L) === collectJ(SetSimilarity.probeIndex(index,
      batchDf(probes.drop(2)), "id", col("toks"), 1, 2)))
    assert(jOut(0L).contains((0L, 10L)) && jOut(1L).isEmpty)
    assert(cOut(0L) === collectC(SetSimilarity.probeContainment(index,
      batchDf(probes), "id", col("toks"), 9, 10)))
    assert(cOut(0L).exists(p => p._1 == 0L && p._2 == 11L) &&
      cOut(0L).exists(p => p._1 == 2L && p._2 == 11L))
  }

  test("streaming ANN ingest grows the persisted index, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, IndexMaintenance}
    import graft.streaming.StreamAnn
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = e.filter(col("vec_id") % 3 =!= 0L)
    val grow = e.filter(col("vec_id") % 3 === 0L)
      .as[(Long, Seq[Float])].collect().toSeq
    // models trained on the FULL corpus so grown ≡ saved-whole holds
    val cents = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPq(e, "vec_id", "embedding", m = 4,
      ksub = 16, iters = 2, maxTrain = 1024)
    def save(corpus: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(name).toString + "/idx"
      Ann.saveOpqIndex(dir,
        Ann.buildPqIndex(corpus, cents, books, "vec_id", "embedding"),
        cents, books, "vec_id", "embedding")
      dir
    }
    val dir = save(seed, "graft_sann_grow")
    val whole = save(e, "graft_sann_whole")
    val idx = Ann.loadOpqIndex(spark, dir) // the stream's frozen models

    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = StreamAnn.ingestWriter(stream, idx, dir).start()
    try {
      input.addData(grow.take(grow.size / 2))
      q.processAllAvailable()
      input.addData(grow.drop(grow.size / 2))
      q.processAllAvailable()
    } finally q.stop()

    val queries = e.filter(col("vec_id") < 5)
    def dump(d: String) = Ann.searchOpqIndex(
      Ann.loadOpqIndex(spark, d), e, queries, k = 5, nprobe = 3,
      refine = 2)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    val grown = dump(dir)
    assert(grown === dump(whole),
      "streamed-in corpus must search ≡ an index saved whole")
    // replay: re-committing a batch's delta folder rewrites identical
    // bytes — no duplicate rows, searches unchanged
    Ann.encodeForIndex(idx, grow.take(grow.size / 2)
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")))
      .write.mode("overwrite").parquet(s"$dir/index_delta/b0000000000")
    assert(Ann.loadOpqIndex(spark, dir).pqIndex.count() ===
      e.count(), "replay must not double rows")
    assert(dump(dir) === grown)
    // compact folds the deltas into the base and removes them
    IndexMaintenance.compactPqIndex(spark, dir)
    assert(!new java.io.File(s"$dir/index_delta").exists)
    assert(dump(dir) === grown)
    assert(spark.read.parquet(s"$dir/index").count() === e.count())
    // crash window: a folded delta left behind duplicates rows; the
    // load's id-dedup heals it until the next compact reclaims it
    Ann.encodeForIndex(idx, seed.limit(3))
      .write.mode("overwrite").parquet(s"$dir/index_delta/b9999999999")
    assert(Ann.loadOpqIndex(spark, dir).pqIndex.count() === e.count())
    assert(dump(dir) === grown)
  }

  test("streaming SQ8: search ≡ batch per micro-batch; ingest grows replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, IndexMaintenance}
    import graft.streaming.StreamAnn
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = e.filter(col("vec_id") % 3 =!= 0L)
    val grow = e.filter(col("vec_id") % 3 === 0L)
      .as[(Long, Seq[Float])].collect().toSeq
    // frozen models trained on the FULL corpus so grown ≡ saved-whole
    val (mins, steps) = Ann.trainSq8(e, "embedding")
    val cents = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    def save(corpus: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(name).toString + "/idx"
      Ann.saveSq8Index(dir, corpus, cents, mins, steps,
        "vec_id", "embedding")
      dir
    }
    val dir = save(seed, "graft_ssq8_grow")
    val whole = save(e, "graft_ssq8_whole")
    val idx = Ann.loadSq8Index(spark, dir) // the stream's frozen models

    // SEARCH face: per-micro-batch results ≡ the batch search
    val qvecs = e.filter(col("vec_id") < 5)
      .as[(Long, Seq[Float])].collect().toSeq
    val outputs =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int, Double)]]
    val sIn = MemoryStream[(Long, Seq[Float])]
    val sStream = sIn.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val sq = StreamAnn.sq8SearchWriter(sStream, idx, e,
        k = 3, nprobe = 3, refine = 2) { (res, batchId) =>
        outputs(batchId) = res
          .select("query_id", "neighbor_id", "rank", "cosine")
          .as[(Long, Long, Int, Double)].collect().toSet
      }.start()
    try {
      sIn.addData(qvecs.take(2)); sq.processAllAvailable()
      sIn.addData(qvecs.drop(2)); sq.processAllAvailable()
    } finally sq.stop()
    def batchSearch(qs: Seq[(Long, Seq[Float])]) =
      Ann.searchSq8Index(idx, e,
        qs.toDF("vec_id", "embedding").select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
        k = 3, nprobe = 3, refine = 2, excludeSelf = false)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
    assert(outputs(0L) === batchSearch(qvecs.take(2)))
    assert(outputs(1L) === batchSearch(qvecs.drop(2)))

    // INGEST face: stream the held-out third in, two micro-batches
    val gIn = MemoryStream[(Long, Seq[Float])]
    val gStream = gIn.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val gq = StreamAnn.sq8IngestWriter(gStream, idx, dir).start()
    try {
      gIn.addData(grow.take(grow.size / 2)); gq.processAllAvailable()
      gIn.addData(grow.drop(grow.size / 2)); gq.processAllAvailable()
    } finally gq.stop()
    val queries = e.filter(col("vec_id") < 5)
    def dump(d: String) = Ann.searchSq8Index(
      Ann.loadSq8Index(spark, d), e, queries, k = 5, nprobe = 3,
      refine = 2)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    val grown = dump(dir)
    assert(grown === dump(whole),
      "streamed-in corpus must search ≡ an index saved whole")
    // replay of an already-committed delta: identical bytes, no dupes
    Ann.buildSq8Index(grow.take(grow.size / 2)
        .toDF("vec_id", "embedding").select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
      idx.centroids, idx.mins, idx.steps, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/index_delta/b0000000000")
    assert(Ann.loadSq8Index(spark, dir).codes.count() === e.count(),
      "replay must not double rows")
    assert(dump(dir) === grown)
    // compact folds deltas into the base
    IndexMaintenance.compactSq8Index(spark, dir)
    assert(!new java.io.File(s"$dir/index_delta").exists)
    assert(dump(dir) === grown)
    assert(spark.read.parquet(s"$dir/index").count() === e.count())
  }

  test("streaming hybrid RRF: per-micro-batch fusion ≡ the batch fusion") {
    // q193's stream face: each micro-batch of query documents runs
    // the lexical arm against the frozen doc corpus and the dense arm
    // against the frozen persisted SQ8 index, fuses by RRF — and must
    // equal the batch-side fusion on the same query rows exactly
    // (frozen-model contract: no state, replays harmless)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, Retrieval}
    import graft.streaming.StreamAnn
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (mins, steps) = Ann.trainSq8(e, "embedding")
    val cents = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 8, iters = 2).withColumnRenamed("centroid_id", "vec_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shyb").toString + "/idx"
    Ann.saveSq8Index(dir, e, cents, mins, steps, "vec_id", "embedding")
    val idx = Ann.loadSq8Index(spark, dir)

    // query documents: text + the aligned embedding, live-id namespace
    val qRows = docs.join(e, col("doc_id") === col("vec_id"))
      .filter(col("doc_id") < 4)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("embedding"))
      .as[(Long, String, Seq[Float])].collect().toSeq
    val outputs =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int, Double)]]
    val in = MemoryStream[(Long, String, Seq[Float])]
    val qStream = in.toDF().toDF("doc_id", "text", "embedding")
      .select(col("doc_id"), col("text"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = StreamAnn.hybridSearchWriter(qStream, docs, idx, e,
        "doc_id", "text", "embedding",
        kPerArm = 10, k = 5, nprobe = 3) { (res, batchId) =>
        outputs(batchId) = res
          .select("query_id", "neighbor_id", "rank", "rrf_score")
          .as[(Long, Long, Int, Double)].collect().toSet
      }.start()
    try {
      in.addData(qRows.take(2)); q.processAllAvailable()
      in.addData(qRows.drop(2)); q.processAllAvailable()
    } finally q.stop()

    def batchFuse(qs: Seq[(Long, String, Seq[Float])]) = {
      val qdf = qs.toDF("doc_id", "text", "embedding")
        .select(col("doc_id"), col("text"),
          col("embedding").cast("array<float>").as("embedding"))
      val lex = Retrieval.lexicalJaccardTopK(docs,
        qdf.select(col("doc_id"), col("text")), "doc_id", "text",
        k = 10, excludeSelf = false)
      val dense = Ann.searchSq8Index(idx, e,
        qdf.select(col("doc_id").as("vec_id"), col("embedding")),
        k = 10, nprobe = 3, refine = 4, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense), k = 5)
        .select("query_id", "neighbor_id", "rank", "rrf_score")
        .as[(Long, Long, Int, Double)].collect().toSet
    }
    assert(outputs(0L) === batchFuse(qRows.take(2)))
    assert(outputs(1L) === batchFuse(qRows.drop(2)))
    // each query got exactly k fused rows (both arms are non-empty
    // on this corpus), ranks dense 1..k
    for ((_, rows) <- outputs; qid <- rows.map(_._1)) {
      val ranks = rows.filter(_._1 == qid).map(_._3).toSeq.sorted
      assert(ranks === (1 to 5), s"ranks for $qid: $ranks")
    }
  }

  test("dd sketch aggregates run under streaming windowed aggregation") {
    // the custom TypedImperativeAggregate must survive the streaming
    // agg's partial/merge/state-store serialize cycle — the path a
    // batch-only test never exercises. Windowed daily value sketches,
    // append mode; quantiles read back within the sketch's bound.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "cents")
    val agg = df.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(expr("dd_sketch_agg(cents, 0.01D)").as("sk"))
      .select(col("window.start").as("w"),
        expr("dd_quantile(sk, 0.5D)").as("p50"),
        expr("dd_quantile(sk, 0.99D)").as("p99"))
    // window 1: values 1..100 (two batches — forces a state merge);
    // a later event closes it under the watermark
    input.addData((1L to 50L).map(v => (ts(1), v * 100)))
    input.addData((51L to 100L).map(v => (ts(2), v * 100)))
    input.addData(Seq((ts(45), 1L)))
    val query = agg.writeStream
      .format("memory").queryName("dd_stream_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val rows = spark.table("dd_stream_out").collect()
    val w1 = rows.find(_.getTimestamp(0) == ts(0))
      .getOrElse(fail(s"first window missing: ${rows.toSeq}"))
    // exact p50 = 5000 (50th of 100 values), p99 = 9900
    assert(math.abs(w1.getDouble(1) - 5000.0) / 5000.0 <= 0.011,
      s"p50 ${w1.getDouble(1)}")
    assert(math.abs(w1.getDouble(2) - 9900.0) / 9900.0 <= 0.011,
      s"p99 ${w1.getDouble(2)}")
  }

  test("StreamChunkDiff matches the batch chunk diff per streamed doc") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamChunkDiff
    val base = "the quick brown fox jumps over the lazy dog and " * 20
    val old = Seq(
      (1L, base),                                               // unchanged
      (2L, base.substring(0, 480) + "X" + base.substring(480)), // edited
      (3L, base)                                                // removed
    ).toDF("doc_id", "text")
    val neu = Seq((1L, base), (2L, base), (4L, base + " extra tail"))
    val oldCounts = StreamChunkDiff
      .snapshotCounts(old, "doc_id", "text").persist()
    val input = MemoryStream[(Long, String)]
    input.addData(neu)
    val q = StreamChunkDiff.diffStream(
        input.toDF().toDF("doc_id", "text"), oldCounts, "doc_id", "text")
      .writeStream.format("memory").queryName("cdiff_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("cdiff_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the batch operator on the same snapshot pair, restricted to the
    // docs the stream actually saw (a stream can't observe removals)
    val want = graft.operators.Corpus.chunkDiff(old,
        neu.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .filter(r => Set(1L, 2L, 4L)(r._1)).toSet
    assert(got === want)
    // sanity on the semantics the numbers encode
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._4 === byId(1L)._2) // unchanged: all kept
    assert(byId(4L)._2 === 0L)          // brand-new doc: nothing old
    oldCounts.unpersist()
  }

  test("StreamSketchTable: day sketches merge loss-free; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamSketchTable
    val dir = java.nio.file.Files.createTempDirectory("graft_ddtable").toString
    def p50(day: String): Double = StreamSketchTable.read(spark, dir)
      .filter(col("day") === day)
      .select(expr("dd_quantile(sk, 0.5D)")).as[Double].head()
    // batch 0 through the real streaming writer: day 1, values 1..100
    val input = MemoryStream[(Timestamp, Long)]
    input.addData((1L to 100L).map(v => (ts(1), v * 100)))
    val query = StreamSketchTable
      .writer(input.toDF().toDF("ts", "cents"), "ts", "cents",
        alpha = 0.01, dir = dir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    assert(math.abs(p50("2024-01-01") - 5000.0) / 5000.0 <= 0.011)
    // batch 1 via the public merge hook: a NEW day; day 1 untouched
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val b1 = (1L to 50L).map(v => (day2, v * 100)).toDF("ts", "cents")
    StreamSketchTable.mergeBatch(b1, 1L, "ts", "cents", 0.01, dir)
    assert(math.abs(p50("2024-01-02") - 2500.0) / 2500.0 <= 0.011)
    assert(math.abs(p50("2024-01-01") - 5000.0) / 5000.0 <= 0.011)
    val committed = StreamSketchTable.read(spark, dir)
      .orderBy("day").as[(java.sql.Date, Array[Byte])].collect()
    // at-least-once REPLAY of batch 1: recomputed from the same
    // predecessor, so the table is byte-identical — no double count
    StreamSketchTable.mergeBatch(b1, 1L, "ts", "cents", 0.01, dir)
    val replayed = StreamSketchTable.read(spark, dir)
      .orderBy("day").as[(java.sql.Date, Array[Byte])].collect()
    assert(replayed.map(_._1.toString).toSeq ===
      committed.map(_._1.toString).toSeq)
    assert(replayed.map(_._2.toSeq).toSeq === committed.map(_._2.toSeq).toSeq)
    // superseded versions pruned to 2, predecessor retained for retry
    val vs = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(vs === Seq("v=0", "v=1"))
    // checkpoint-reset detection: a batch id BELOW the table's high
    // water (checkpoint cleared, table dir kept) must fail loudly
    // instead of forking history into low-numbered versions while
    // read() keeps serving the stale high version
    val reset = intercept[IllegalStateException] {
      StreamSketchTable.mergeBatch(b1, 0L, "ts", "cents", 0.01, dir)
    }
    assert(reset.getMessage.contains("checkpoint"))
  }

  test("slidingAgg lands each event in every overlapping hop window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    // 10-minute windows every 5 minutes: an event at 00:07 belongs to
    // [00:00,00:10) and [00:05,00:15)
    val agg = StreamSessionize.slidingAgg(df, "10 minutes", "5 minutes",
      "0 seconds")
    input.addData((ts(7), "click", 1.0), (ts(8), "click", 2.0))
    input.addData((ts(55), "view", 1.0)) // advances watermark, closes both
    val query = agg.writeStream
      .format("memory").queryName("sliding_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val clicks = spark.table("sliding_out").collect()
      .filter(_.getString(1) == "click")
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(clicks === Map(
      ts(0).getTime -> ((2L, 3.0)), ts(5).getTime -> ((2L, 3.0))))
  }

  test("stream-static dimension join enriches each micro-batch") {
    // the supported streaming enrichment shape: a static (broadcastable)
    // dim equi-joined into every micro-batch — the streaming counterpart
    // of q92's batch as-of lookup when the dim is a current snapshot
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val enriched = input.toDF().toDF("user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
    input.addData((1L, 5.0), (3L, 7.0))
    val query = enriched.writeStream
      .format("memory").queryName("enriched_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val got = spark.table("enriched_out").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got === Map(1L -> Some("gold"), 3L -> None))
  }

  test("stream -> fuzzy match -> batch-keyed stage snapshot per batch") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.call_function
    import graft.operators.FuzzyMatch
    import graft.sources.StageSink
    import graft.streaming.StreamStage

    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_stage").toString
    val roster = Seq((10L, "jon", "smith", 5), (11L, "mary", "jones", 5))
      .toDF("r_id", "r_first", "r_last", "r_blk")
    val rules = Seq(
      FuzzyMatch.Rule("l_first", "r_first",
        (a, b) => call_function("jaro_winkler", a, b), threshold = 80),
      FuzzyMatch.Rule("l_last", "r_last",
        (a, b) => call_function("jaro_winkler", a, b), threshold = 85))

    val input = MemoryStream[(Long, String, String, Int)]
    input.addData((1L, "john", "smith", 5), (2L, "zzz", "qqq", 5))
    val stream = input.toDF().toDF("l_id", "l_first", "l_last", "l_blk")

    val query = StreamStage.snapshotWriter(
      stream,
      batch => FuzzyMatch.link(batch, roster, "l_id", "r_id",
        "l_blk", "r_blk", rules, requiredOverall = 85),
      base, "MATCHED_FILES", "VoterVoice-Matched")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val back = StageSink.loadLatest(spark, base, "MATCHED_FILES",
      "VoterVoice-Matched")
    val rows = back.collect()
    assert(rows.length === 1) // john/smith matched; zzz/qqq filtered out
    assert(rows(0).getLong(0) === 1L && rows(0).getLong(1) === 10L)
    // deterministic batch-id-keyed folder name (no wall clock)
    val dir = new java.io.File(s"$base/MATCHED_FILES")
    val names = dir.listFiles().map(_.getName).toSeq
    assert(names.contains("VoterVoice-Matched_b0000000000"), names.toString)
    // an idempotent replay of the same batch id must not throw or fork
    // (a real retry RECOMPUTES the batch; reading the target folder back
    // and overwriting it with itself is not the replay shape)
    val recomputed = rows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("l_id", "r_id")
    StageSink.saveBatch(recomputed, base, "MATCHED_FILES",
      "VoterVoice-Matched", 0L)
    val names2 = dir.listFiles().map(_.getName).toSeq
      .filter(_.startsWith("VoterVoice-Matched_b"))
    assert(names2 === Seq("VoterVoice-Matched_b0000000000"), names2.toString)
  }

  test("streaming incremental EMBEDDING near-dedup: probe, within-batch, delta, compact") {
    import java.nio.file.Files
    import graft.operators.Dedup
    import graft.streaming.StreamEmbedDedup

    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_sembed").toString
    val indexDir = Files.createTempDirectory("graft_sembed_idx").toString
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val query = StreamEmbedDedup.incrementalWriter(
      stream, "vec_id", "embedding", dim = 4, base,
      "TRANSFORMED_FILES", "Vecs-Deduped", indexDir,
      numPlanes = 4, threshold = 0.9).start()
    try {
      // batch 0: an exact-duplicate pair + an orthogonal singleton
      input.addData(
        (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0)),
        (3L, v(0, 1, 0, 0)))
      query.processAllAvailable()
      // batch 1: a dup of batch 0's survivor 1 + fresh content
      input.addData(
        (10L, v(1, 0, 0, 0)),
        (11L, v(0, 0, 1, 0)))
      query.processAllAvailable()
      // batch 2: a dup of batch 1's survivor
      input.addData((20L, v(0, 0, 1, 0)))
      query.processAllAvailable()
    } finally query.stop()

    def survivorsOf(b: Int): Seq[Long] =
      spark.read.parquet(
        f"$base/TRANSFORMED_FILES/Vecs-Deduped_b$b%010d")
        .select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivorsOf(0) === Seq(1L, 3L))
    assert(survivorsOf(1) === Seq(11L))
    assert(survivorsOf(2) === Seq())
    // three delta roots, loadable as one index holding the survivors
    val deltas = new java.io.File(indexDir).listFiles().map(_.getName).sorted
    assert(deltas.toSeq === Seq("delta_b0000000000", "delta_b0000000001",
      "delta_b0000000002"))
    val indexed = deltas.toIndexedSeq
      .map(d => spark.read.parquet(s"$indexDir/$d/entries"))
      .reduce(_ unionByName _)
    assert(indexed.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 11L))
    assert(StreamEmbedDedup.compact(spark, indexDir) === Some("seed_0"))
    val loaded = Dedup.EmbeddingIndex.load(spark, s"$indexDir/seed_0")
    assert(loaded.entries.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 11L))
    assert(StreamEmbedDedup.compact(spark, indexDir) === None)
  }

  test("streaming incremental MEDIA near-dedup: probe, quarantine, delta, compact") {
    import java.nio.file.Files
    import graft.sources.Multimodal
    import graft.streaming.StreamMediaDedup

    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_smedia").toString
    val indexDir = Files.createTempDirectory("graft_smedia_idx").toString
    def wav(seed: Long): Array[Byte] =
      Multimodal.syntheticWav(16000, 100, seed)

    val input = MemoryStream[(Long, Array[Byte], String)]
    val stream = input.toDF().toDF("media_id", "bytes", "kind")
    val query = StreamMediaDedup.incrementalWriter(
      stream, "media_id", "bytes", "kind", base,
      "TRANSFORMED_FILES", "Media-Deduped", indexDir).start()
    try {
      // batch 0: a within-batch byte-dup pair + a distinct clip
      input.addData(
        (1L, wav(1), "audio"), (2L, wav(1), "audio"),
        (3L, wav(9), "audio"))
      query.processAllAvailable()
      // batch 1: a dup of batch 0's survivor + a quarantine row
      input.addData(
        (10L, wav(1), "audio"),
        (11L, "not audio at all".getBytes.clone, "audio"))
      query.processAllAvailable()
      // batch 2: a dup of batch 0's OTHER survivor
      input.addData((20L, wav(9), "audio"))
      query.processAllAvailable()
    } finally query.stop()

    def survivorsOf(b: Int): Seq[Long] =
      spark.read.parquet(
        f"$base/TRANSFORMED_FILES/Media-Deduped_b$b%010d")
        .select("media_id").as[Long].collect().sorted.toSeq
    assert(survivorsOf(0) === Seq(1L, 3L))
    assert(survivorsOf(1) === Seq(11L)) // 10 dups corpus 1; 11 quarantined -> survives
    assert(survivorsOf(2) === Seq())    // 20 dups corpus 3 across batches
    // quarantined 11 never entered the index; compact folds the rest
    val deltas = new java.io.File(indexDir).listFiles().map(_.getName).sorted
    assert(deltas.toSeq === Seq("delta_b0000000000", "delta_b0000000001",
      "delta_b0000000002"))
    val indexed = deltas.toIndexedSeq
      .map(d => spark.read.parquet(s"$indexDir/$d/entries")
        .select("id", "kind", "dhash"))
      .reduce(_ unionByName _)
    assert(indexed.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L))
    assert(StreamMediaDedup.compact(spark, indexDir) === Some("seed_0"))
    val loaded = Multimodal.MediaHashIndex.load(spark, s"$indexDir/seed_0")
    assert(loaded.entries.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L))
    assert(StreamMediaDedup.compact(spark, indexDir) === None)
  }

  test("streaming incremental near-dedup: each batch dedups against all prior") {
    import java.nio.file.Files
    import graft.streaming.StreamDedup

    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_sdedup").toString
    val indexDir = Files.createTempDirectory("graft_sdedup_idx").toString

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val query = StreamDedup.incrementalWriter(
      stream, "doc_id", "text", base, "TRANSFORMED_FILES", "Docs-Deduped",
      indexDir, shingleN = 2, numHashes = 48, bands = 16, threshold = 0.5)
      .start()
    try {
      // batch 0: a within-batch dup pair + a singleton
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different words entirely here now"))
      query.processAllAvailable()
      // batch 1: a near-dup of batch 0's survivor + fresh content
      input.addData(
        (10L, "the quick brown fox jumps over the lazy cat"),
        (11L, "grand unified theories of modern physics explained simply"))
      query.processAllAvailable()
      // batch 2: an exact dup of batch 1's survivor
      input.addData(
        (20L, "grand unified theories of modern physics explained simply"))
      query.processAllAvailable()
    } finally query.stop()

    def survivorsOf(b: Int): Seq[Long] =
      spark.read.parquet(
        f"$base/TRANSFORMED_FILES/Docs-Deduped_b$b%010d")
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivorsOf(0) === Seq(1L, 3L))
    assert(survivorsOf(1) === Seq(11L)) // 10 near-dups doc 1 across batches
    assert(survivorsOf(2) === Seq())    // 20 exact-dups doc 11 across batches
    // one delta folder per batch, loadable as one index
    val deltas = new java.io.File(indexDir).listFiles().map(_.getName).sorted
    assert(deltas.toSeq === Seq("delta_b0000000000", "delta_b0000000001",
      "delta_b0000000002"))
    // one read per delta root (shard-partitioned roots reject a single
    // multi-path read), unioned — same shape StreamDedup itself uses
    val all = graft.operators.Dedup.MinhashIndex(
      deltas.map(d => spark.read.parquet(s"$indexDir/$d/entries"))
        .reduce(_ unionByName _))
    assert(all.shingles.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 11L))

    // compact folds the three deltas into one seed root, preserving
    // the entries; a second compact is a no-op (single root left)
    assert(StreamDedup.compact(spark, indexDir) === Some("seed_0"))
    val afterDirs = new java.io.File(indexDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(afterDirs.toSeq === Seq("seed_0"))
    val compacted = graft.operators.Dedup.MinhashIndex
      .load(spark, s"$indexDir/seed_0")
    assert(compacted.shingles.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 11L))
    assert(StreamDedup.compact(spark, indexDir) === None)
  }

  test("streaming near-dedup finds and compacts its roots under a file: URI index dir") {
    import java.nio.file.Files
    import graft.streaming.StreamDedup

    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_sdedup_uri").toString
    val indexDir =
      "file:" + Files.createTempDirectory("graft_sdedup_uri_idx").toString

    val input = MemoryStream[(Long, String)]
    val query = StreamDedup.incrementalWriter(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", base,
      "TRANSFORMED_FILES", "Docs-Deduped", indexDir,
      shingleN = 2, numHashes = 48, bands = 16, threshold = 0.5)
      .start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different words entirely here now"))
      query.processAllAvailable()
      // a near copy of doc 1: only the probe of batch 0's root drops it
      input.addData(
        (10L, "the quick brown fox jumps over the lazy cat"),
        (11L, "grand unified theories of modern physics explained simply"))
      query.processAllAvailable()
    } finally query.stop()

    def survivorsOf(b: Int): Seq[Long] =
      spark.read.parquet(
        f"$base/TRANSFORMED_FILES/Docs-Deduped_b$b%010d")
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivorsOf(0) === Seq(1L, 2L))
    assert(survivorsOf(1) === Seq(11L))
    assert(StreamDedup.indexRoots(indexDir).map(_.getName) ===
      Seq("delta_b0000000000", "delta_b0000000001"))
    assert(StreamDedup.compact(spark, indexDir) === Some("seed_0"))
    assert(StreamDedup.indexRoots(indexDir).map(_.getName) === Seq("seed_0"))
    assert(graft.operators.Dedup.MinhashIndex.load(spark, s"$indexDir/seed_0")
      .shingles.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 11L))
  }

  test("loadLatest orders batch-keyed exports numerically, rejects mixes") {
    import java.nio.file.Files
    import graft.sources.StageSink
    val base = Files.createTempDirectory("graft_load_latest").toString
    val two = Seq((2L, "second")).toDF("batch", "tag")
    val ten = Seq((10L, "tenth")).toDF("batch", "tag")
    StageSink.saveBatch(two, base, "QUERY_FILES", "snap", 2L)
    StageSink.saveBatch(ten, base, "QUERY_FILES", "snap", 10L)
    val latest = StageSink.loadLatest(spark, base, "QUERY_FILES", "snap")
    assert(latest.collect().map(_.getString(1)).toSeq === Seq("tenth"))
    // a timestamped export under the same name is an incomparable key
    StageSink.save(two, base, "QUERY_FILES", "snap",
      java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val ex = intercept[IllegalArgumentException] {
      StageSink.loadLatest(spark, base, "QUERY_FILES", "snap")
    }
    assert(ex.getMessage.contains("incomparable"))
  }

  test("stream-stream interval join pairs events within the band only") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.functions.col
    val views = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val v = views.toDS().toDF("user_id", "vts", "view_id")
      .withWatermark("vts", "0 seconds")
    val p = purchases.toDS().toDF("user_id", "pts", "purchase_id")
      .withWatermark("pts", "0 seconds")
    val joined = StreamJoin.withinWindow(
      p, v, "user_id", col("pts"), col("vts"), windowMs = 30 * 60 * 1000)
    views.addData(
      (1L, ts(0), 100L),   // 45 min before the purchase — outside 30m
      (1L, ts(20), 101L),  // 25 min before — inside
      (1L, ts(50), 102L),  // AFTER the purchase — never joins
      (2L, ts(20), 200L))  // other user — never joins
    purchases.addData((1L, ts(45), 900L))
    val query = joined.writeStream
      .format("memory").queryName("ssjoin_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val got = spark.table("ssjoin_out")
      .select("purchase_id", "view_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((900L, 101L)))
  }

  test("native session_window streaming agg closes sessions via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = StreamSessionize.sessionWindowAgg(
      input.toDS().toDF(), gap = "10 minutes", watermarkDelay = "0 seconds")
    // one two-event session for user 1; the far-future event advances
    // the watermark past its end+gap so append mode can emit it
    input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0))
    input.addData(Event(2L, ts(50), 9.0))
    val query = sessions.writeStream
      .format("memory").queryName("swagg_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val got = spark.table("swagg_out")
      .select("user_id", "start_ms", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.exists(r =>
      r._1 == 1L && r._2 == ts(0).getTime && r._3 == 2L && r._4 == 3.0),
      s"closed session missing: ${got.toSeq}")
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.functions.col
    val views = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val v = views.toDS().toDF("user_id", "vts", "view_id")
      .withWatermark("vts", "0 seconds")
    val p = purchases.toDS().toDF("user_id", "pts", "purchase_id")
      .withWatermark("pts", "0 seconds")
    val joined = StreamJoin.withinWindowLeftOuter(
      p, v, "user_id", col("pts"), col("vts"), windowMs = 10 * 60 * 1000)
    // one matched purchase, one with no view; the far-future pair
    // advances the watermark so the unmatched row's band expires
    views.addData((1L, ts(5), 100L))
    purchases.addData((1L, ts(10), 900L), (2L, ts(10), 901L))
    views.addData((9L, ts(59), 999L))
    purchases.addData((9L, ts(59), 998L))
    val query = joined.writeStream
      .format("memory").queryName("ssjoin_outer_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val got = spark.table("ssjoin_outer_out")
      .select("purchase_id", "view_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(got.contains((900L, Some(100L))), s"matched pair missing: $got")
    assert(got.contains((901L, None)), s"unmatched outer row missing: $got")
  }

  test("LEFT OUTER interval join state stays bounded across many batches") {
    // the 100 TB-stream claim behind withinWindowLeftOuter's scaladoc:
    // state is bounded by (band + watermark delay), never by stream
    // length. Drive 12 batches spaced 10 minutes of event time apart
    // with a LAGGING 1-minute watermark; rows added grow linearly
    // (12 × 40) while the state-store row count must plateau — each
    // batch's watermark advance evicts the previous batch's band.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.functions.col
    val views = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val v = views.toDS().toDF("user_id", "vts", "view_id")
      .withWatermark("vts", "1 minute")
    val p = purchases.toDS().toDF("user_id", "pts", "purchase_id")
      .withWatermark("pts", "1 minute")
    val joined = StreamJoin.withinWindowLeftOuter(
      p, v, "user_id", col("pts"), col("vts"), windowMs = 60 * 1000)
    val query = joined.writeStream
      .format("memory").queryName("ssjoin_state_out")
      .outputMode("append")
      .start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val perSide = 20
      val stateSizes = (0 until 12).map { b =>
        val base = t0 + b.toLong * 10 * 60 * 1000
        views.addData((0 until perSide).map(i =>
          ((i % 5).toLong, new Timestamp(base + i * 1000L),
            b * 1000L + i)): _*)
        purchases.addData((0 until perSide).map(i =>
          ((i % 5).toLong, new Timestamp(base + i * 1000L + 500),
            b * 2000L + i)): _*)
        query.processAllAvailable()
        Option(query.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      }
      val totalAdded = 12L * 2 * perSide
      // plateau: after warm-up, retained rows never exceed ~2 batches'
      // worth of both sides — and are nowhere near the cumulative feed
      val tail = stateSizes.drop(3)
      assert(tail.max <= 4L * 2 * perSide,
        s"state grew with stream length: $stateSizes")
      assert(stateSizes.last < totalAdded / 2,
        s"no eviction visible: $stateSizes")
      // and the join still emitted real results along the way
      assert(spark.table("ssjoin_state_out").count() > 0)
    } finally query.stop()
  }

  test("streaming rolling z-score flags match the batch form across multi-batch feeds") {
    import graft.streaming.StreamAnomaly
    import graft.streaming.StreamAnomaly.MetricEvent
    import org.apache.spark.sql.functions.col
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    // the StatsSpec fixtures, fed in event-time order across three
    // micro-batches: state (the ring of priors) must carry between
    // batches for the t=8 spike to see its full 5-event history
    val rows = Seq(
      (1L, 1, 1L, 10L), (1L, 2, 2L, 10L), (1L, 3, 3L, 50L),
      (1L, 4, 4L, 10L), (1L, 5, 5L, 10L), (1L, 6, 6L, 10L),
      (1L, 7, 7L, 10L), (1L, 8, 8L, 100L),
      (2L, 1, 11L, 7L), (2L, 2, 12L, 7L), (2L, 3, 13L, 7L),
      (2L, 4, 14L, 7L), (2L, 5, 15L, 8L), (2L, 6, 16L, 7L))
    val input = MemoryStream[MetricEvent]
    val out = StreamAnomaly.anomalyUpdates(
      input.toDS().withWatermark("ts", "0 seconds"),
      lookback = 5, z = 2, minPrior = 3, idleMs = 3600 * 1000L)
    rows.grouped(5).foreach { g =>
      input.addData(g.map { case (k, min, id, x) =>
        MetricEvent(k, ts(min), id, x) }: _*)
    }
    val query = out.writeStream
      .format("memory").queryName("anomaly_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val got = spark.table("anomaly_out")
      .select(col("key"), col("event_id"), col("x"), col("n_prior"),
        col("sum_prior"), col("zscore"))
      .as[(Long, Long, Long, Int, Long, Option[Double])].collect().toSet
    // batch ground truth: the same rows through Stats.rollingZscore
    val batch = graft.operators.Stats.rollingZscore(
      rows.toDF("k", "min", "id", "x")
        .select(col("k"), col("min").cast("long").as("t"), col("id"),
          col("x")),
      "k", col("t"), col("id"), col("x"), lookback = 5, z = 2)
      .select(col("k"), col("id"), col("x"), col("n_prior"),
        col("sum_prior"), col("zscore"))
      .as[(Long, Long, Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2, r._3, r._4.toInt, r._5, r._6)).toSet
    assert(got === batch,
      s"streaming flags $got != batch flags $batch")
    // and the expected content, concretely: the spike with real z, the
    // constant-history deviation with a null z
    assert(got === Set(
      (1L, 8L, 100L, 5, 90L, Some(4.5839)),
      (2L, 15L, 8L, 4, 28L, None)))
  }

  // --- StreamTopK: bounded-state continuous heavy hitters.

  test("mgFold: MG guarantee — heavy terms survive, estimates within the decrement bound") {
    import graft.streaming.StreamTopK
    import graft.streaming.StreamTopK.MgState
    // 1000 tokens: "hot" 400×, "warm" 150×, 90 churn terms 5× each
    val toks = Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
      (1 to 90).flatMap(i => Seq.fill(5)(s"t$i"))
    val rnd = new scala.util.Random(3)
    val shuffled = rnd.shuffle(toks)
    val c = 10
    val out = StreamTopK.mgFold(
      MgState(Map.empty, 0L), shuffled.iterator.map(t => (t, 1L)), c)
    val n = shuffled.size.toLong
    assert(out.counts.size <= c, "state exceeded capacity")
    assert(out.dec <= n / (c + 1),
      s"decrement ${out.dec} beyond the MG bound ${n / (c + 1)}")
    // any term with true count > n/(c+1) must survive
    for (t <- Seq("hot", "warm")) {
      val truth = shuffled.count(_ == t).toLong
      assert(truth > n / (c + 1), s"fixture: $t should be heavy")
      val est = out.counts.getOrElse(t, fail(s"heavy term $t evicted"))
      assert(est <= truth && est >= truth - out.dec,
        s"$t: est $est outside [${truth - out.dec}, $truth]")
    }
  }

  test("mgFold: exact when distinct terms fit the capacity; weighted updates absorb") {
    import graft.streaming.StreamTopK
    import graft.streaming.StreamTopK.MgState
    val exact = StreamTopK.mgFold(MgState(Map.empty, 0L),
      Iterator(("a", 5L), ("b", 3L), ("a", 2L)), capacity = 4)
    assert(exact.counts === Map("a" -> 7L, "b" -> 3L) && exact.dec === 0L)
    // full summary + a new heavy weighted arrival must displace the
    // small counters, not vanish
    val displaced = StreamTopK.mgFold(
      MgState(Map("a" -> 100L, "b" -> 1L), 0L),
      Iterator(("z", 50L)), capacity = 2)
    assert(displaced.counts.contains("z"), "heavy arrival lost")
    assert(displaced.counts("a") === 99L) // sank by b's counter only
    assert(displaced.counts("z") === 49L && displaced.dec === 1L)
  }

  test("continuous heavy hitters: state stays bounded across batches, heavies persist") {
    import graft.streaming.StreamTopK
    import graft.streaming.StreamTopK.{ShardTop, Tok}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tok]
    val out = StreamTopK.topKUpdates(input.toDS(), capacity = 4)
    @volatile var last: Array[ShardTop] = Array.empty
    val query = out.writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[ShardTop], _: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) last = rows
      }
      .start()
    try {
      def shardOf(t: String) = math.floorMod(t.hashCode, 2)
      // "hot" recurs every batch; churn terms rotate — across 3 batches
      // the vocabulary (13 terms) exceeds capacity 4 but state can't grow
      for (b <- 1 to 3) {
        val churn = (1 to 4).map(i => s"c${b}_$i")
        input.addData(
          Tok(shardOf("hot"), "hot", 10L) +:
            churn.map(t => Tok(shardOf(t), t, 1L)))
        query.processAllAvailable()
      }
      val byShard = last.groupBy(_.shard)
      byShard.values.foreach(rows =>
        assert(rows.length <= 4, s"shard summary exceeded capacity: ${rows.toSeq}"))
      val hot = last.find(r => r.term == "hot")
        .getOrElse(fail(s"hot term evicted: ${last.toSeq}"))
      // truth 30; undercount bounded by the shard's decrement
      assert(hot.est <= 30L && hot.est >= 30L - hot.maxErr,
        s"hot: est ${hot.est} err ${hot.maxErr}")
      assert(hot.est >= 20L, s"hot grossly undercounted: ${hot.est}")
    } finally query.stop()
  }

  test("streaming lang-id predictions match batch; language mix finalizes") {
    // q174's continuous twin: same model, same expressions — stream
    // rows must predict byte-identically to the batch path, and the
    // windowed language mix must count the fallback share
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Classifier, LangId}
    val classes = Seq("en", "de", "ru")
    val train = Seq(
      (0L, "the cat and the dog of the house", "en"),
      (1L, "a tree of light and a river", "en"),
      (2L, "der hund und die katze das haus", "de"),
      (3L, "das licht und der baum die see", "de"),
      (4L, "\u0438 \u043a\u043e\u0442 \u0432 \u0434\u043e\u043c\u0435 \u043d\u0435 \u0440\u0435\u043a\u0430", "ru"),
      (5L, "\u043d\u0430 \u0434\u0435\u0440\u0435\u0432\u0435 \u0441\u0432\u0435\u0442 \u0438 \u043a\u043e\u0442", "ru")
    ).flatMap { case (id, t, l) =>
      (0 until 6).map(j => (id * 10 + j, t + " x" + j, l)) }
      .toDF("id", "text", "label")
    val model = LangId.train(train, "text", "label", classes,
      dims = 256, iters = 10)

    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val texts = Seq("the cat and the dog", "der hund und die katze",
      "\u0438 \u043a\u043e\u0442 \u0432 \u0434\u043e\u043c\u0435", "zz qq ww")
    input.addData(texts.take(2).map(t => (ts(1), t)))
    input.addData(texts.drop(2).map(t => (ts(2), t)))
    input.addData(Seq((ts(45), "the end")))
    val q1 = graft.streaming.StreamLangId.predicted(df, "text", model)
      .writeStream.format("memory").queryName("langid_pred")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    val got = spark.table("langid_pred")
      .select("text", "lang", "conf", "src")
      .as[(String, String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val batch = (texts :+ "the end").toDF("text")
      .select(col("text"),
        LangId.predictWithFallback(col("text"), model).as("p"))
      .select(col("text"), col("p.lang"), col("p.conf"), col("p.src"))
      .as[(String, String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == batch, s"stream vs batch drift: $got vs $batch")

    val q2 = graft.streaming.StreamLangId.languageMix(df, "ts", "text",
        model, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("langid_mix")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val mix = spark.table("langid_mix")
      .select("lang", "n_docs").as[(String, Long)].collect()
    // the two closed 10-minute windows hold the four probe texts;
    // per-language counts must match the batch predictions
    val want = texts.map(t => batch(t)._1)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotMix = mix.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    want.foreach { case (l, n) =>
      assert(gotMix.getOrElse(l, 0L) == n, s"lang $l: $gotMix vs $want") }
  }

  test("streaming WARC intake ≡ batch parse row-for-row, quarantine included") {
    import graft.sources.Warc
    import graft.streaming.StreamWarc
    import org.apache.spark.sql.functions.regexp_extract
    val drop = java.nio.file.Files
      .createTempDirectory("graft_warc_drop").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft_warc_stage").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_warc_ckpt").toString
    def shard(name: String, ids: Range, truncate: Boolean = false): Unit = {
      val raw = new java.io.ByteArrayOutputStream()
      ids.foreach(i => raw.write(Warc.responseRecord(
        s"http://crawl.example/$i", "2024-01-01T00:00:00Z", s"urn:w:$i",
        s"payload $i".getBytes("UTF-8"),
        httpContentType = "text/plain")))
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(raw.toByteArray); g.close()
      val bytes =
        if (truncate) // cut the member to half its compressed bytes:
          // parsing stops at the cut with ONE quarantine row,
          // identically batch or streaming
          java.util.Arrays.copyOf(bos.toByteArray, bos.size() / 2)
        else bos.toByteArray
      java.nio.file.Files.write(
        java.nio.file.Paths.get(drop, name), bytes)
    }
    shard("a.warc.gz", 0 until 5)
    shard("b.warc.gz", 5 until 9)
    shard("bad.warc.gz", 9 until 12, truncate = true)
    def runIntake(): Unit = {
      val q = StreamWarc.intakeWriter(
        StreamWarc.crawlDropStream(spark, drop, maxFilesPerTrigger = 1),
        base, "crawl")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runIntake()
    // row-for-row vs the batch source over the same shards, on every
    // column that is a pure function of the file (the `file` path
    // string differs in URI form between the two scan entries)
    def dump(df: org.apache.spark.sql.DataFrame) = df.select(
      regexp_extract(col("file"), "([^/]+)$", 1).as("f"),
      col("record_index"), col("url"), col("http_status"),
      col("body").cast("string"), col("truncated"), col("ok"),
      col("err"))
      .collect().map(_.toSeq).toSet
    val streamed = spark.read.parquet(s"$base/EXTRACT_FILES/crawl_b*")
    val batch = Warc.read(spark, s"$drop/*.warc.gz")
    assert(dump(streamed) == dump(batch),
      "streaming intake must parse exactly what the batch source does")
    assert(streamed.filter(!col("ok")).count() === 1,
      "the truncated shard quarantines one row, stream intact")
    // the healthy shards' 9 records all parse; the truncated shard
    // stops at the cut (its ok rows are whatever decoded before it)
    val okN = streamed.filter(col("ok")).count()
    assert(okN >= 9 && okN < 12,
      s"expected 9 healthy + partial truncated-shard rows, got $okN")
    // incremental discovery across a RESTART: a shard arriving later
    // is picked up from the checkpoint as its own batch; nothing
    // already exported re-parses or duplicates
    val before = spark.read.parquet(s"$base/EXTRACT_FILES/crawl_b*")
      .count()
    shard("c.warc.gz", 20 until 23)
    runIntake()
    val after = spark.read.parquet(s"$base/EXTRACT_FILES/crawl_b*")
    assert(after.count() === before + 3)
    assert(dump(after) == dump(Warc.read(spark, s"$drop/*.warc.gz")),
      "post-restart union must still equal the batch parse")
  }
}
