package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Retrieval}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def fuse(arms: Seq[org.apache.spark.sql.DataFrame], k: Int) =
    Retrieval.rrfFuse(arms, k).orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

  test("rrfFuse: both-arm documents beat single-arm documents at equal ranks") {
    // doc 100 is rank 1 in BOTH arms; doc 200 is rank 1 lexical only;
    // doc 300 is rank 1 dense only. RRF must put 100 first with
    // 2/(60+1), and 200/300 tie at 1/61 broken by neighbor_id.
    val lex = Seq((1L, 100L, 1), (1L, 200L, 1), (1L, 101L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val dense = Seq((1L, 100L, 1), (1L, 300L, 1), (1L, 101L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val out = fuse(Seq(lex, dense), k = 4)
    assert(out.map(_._2).toSeq === Seq(100L, 101L, 200L, 300L))
    assert(math.abs(out.head._4 - 2.0 / 61) < 2e-6) // rrf_score rounds to 6 places
    // 101: 1/62 + 1/63 > 1/61 — two mid ranks beat one top rank here
    assert(math.abs(out(1)._4 - (1.0 / 62 + 1.0 / 63)) < 2e-6)
    assert(out(2)._4 === out(3)._4, "single-arm rank-1 docs tie")
    assert(out.map(_._3).toSeq === Seq(1, 2, 3, 4), "ranks are 1-based dense")
  }

  test("rrfFuse: arm order does not matter; k cuts; kRrf shifts the denominator") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "neighbor_id", "rank")
    val ab = fuse(Seq(a, b), k = 10)
    val ba = fuse(Seq(b, a), k = 10)
    assert(ab.toSet === ba.toSet, "fusion must be arm-order independent")
    assert(fuse(Seq(a, b), k = 1).map(_._2).toSeq === Seq(11L),
      "11 is in both arms (1/62 + 1/61 > 1/61) and k=1 keeps only it")
    val shifted = Retrieval.rrfFuse(Seq(a, b), k = 1, kRrf = 0).collect()
    assert(math.abs(shifted.head.getDouble(3) - (1.0 / 2 + 1.0 / 1)) < 1e-9)
  }

  test("lexicalJaccardTopK ranks by word-set Jaccard, self excluded") {
    val docs = Seq(
      (0L, "spark shuffle join hash"),
      (1L, "spark shuffle join scan"),   // 3/5 with doc 0
      (2L, "spark shuffle filter scan"), // 2/6 with doc 0
      (3L, "python pandas numpy")        // 0 with doc 0
    ).toDF("doc_id", "text")
    val out = Retrieval.lexicalJaccardTopK(
      docs, docs.filter($"doc_id" === 0), "doc_id", "text", k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(out.toSeq === Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("q193's hybrid beats either single arm on a planted fixture") {
    // the operator's reason to exist, measured: a corpus where the
    // lexically-nearest doc and the dense-nearest doc DISAGREE, and
    // the doc that is GOOD IN BOTH arms (never #1 in either) wins
    // the fusion — exactly the calibration-free blend RRF promises.
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma epsilon"), // lexical #1 vs 0
      (2L, "alpha beta zeta eta"),      // lexical #2, dense #2 — hybrid #1
      (3L, "unrelated words entirely")  // dense #1 vs 0 (planted below)
    ).toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal: dense last
      (2L, Array(0.9f, 0.1f, 0.0f)),   // dense #2
      (3L, Array(0.95f, 0.05f, 0.0f))  // dense #1
    ).toDF("vec_id", "embedding")
    val q = docs.filter($"doc_id" === 0)
    // k=2 arms: each specialist's favourite appears in ONE arm only
    // (doc 1 lexical-only, doc 3 dense-only), while doc 2 places
    // second in both — one top rank loses to two second ranks
    // (1/61 < 1/62 + 1/62)
    val lex = Retrieval.lexicalJaccardTopK(docs, q, "doc_id", "text", k = 2)
    val dense = Ann.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    assert(lex.filter($"rank" === 1).head.getLong(1) === 1L)
    assert(dense.filter($"rank" === 1).head.getLong(1) === 3L)
    val fused = fuse(Seq(lex, dense), k = 4)
    assert(fused.head._2 === 2L,
      s"the good-in-both-arms doc must win the fusion: ${fused.toSeq}")
    // the two single-arm rank-1 docs tie at 1/61, broken by id
    assert(fused.map(_._2).toSeq === Seq(2L, 1L, 3L))
  }

  test("bm25TopK with one query ≡ Corpus.bm25Search on the same term set") {
    // the per-query generalization must reproduce the q71 machinery
    // exactly when there is one query: same postings, same df, same
    // Okapi arithmetic, same rounded-score ranking
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"))
    val terms = Seq("hash", "join", "filter", "scan")
    val query = Seq((999999L, terms.mkString(" "))).toDF("doc_id", "text")
    val perQuery = Retrieval.bm25TopK(docs, query, "doc_id", "text", k = 25)
      .select(col("neighbor_id").as("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val fixed = graft.operators.Corpus.bm25Search(
      docs, "doc_id", "text", terms, topK = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(perQuery === fixed,
      "single-query bm25TopK must equal the fixed-term bm25Search")
    // two queries with different term sets rank independently
    val q2 = Seq((999999L, "hash join"), (999998L, "filter scan"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, q2, "doc_id", "text", k = 5)
    assert(out.select("query_id").distinct().count() === 2)
    assert(out.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("bm25TopK: empty queries and empty corpus return empty, not a crash") {
    // r19 regression guard: the single-scan (n, avgdl) Observation is
    // pruned by AQE's empty-relation propagation when the query side
    // is empty — obs.get returns an empty map, which used to throw
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"))
    val noQueries = docs.filter(col("doc_id") < 0)
    val out1 = Retrieval.bm25TopK(docs, noQueries, "doc_id", "text", k = 5)
    assert(out1.count() === 0L)
    assert(out1.columns.toSeq ===
      Seq("query_id", "neighbor_id", "rank", "score"))
    // empty corpus (avgdl comes back null)
    val q = Seq((1L, "hash join")).toDF("doc_id", "text")
    val out2 = Retrieval.bm25TopK(
      docs.filter(col("doc_id") < 0), q, "doc_id", "text", k = 5)
    assert(out2.count() === 0L)
  }

  test("rrfFuseWeighted: weights break arm ties and scale contributions") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 21L, 2)).toDF("query_id", "neighbor_id", "rank")
    // equal weights: 10 and 20 tie at 1/61, id breaks it
    val eq = Retrieval.rrfFuseWeighted(Seq(a -> 1.0, b -> 1.0), k = 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(eq === Seq(10L, 20L, 11L, 21L))
    // trust arm b 2:1 — its rank-1 doc now wins outright, and even
    // its rank-2 doc (2/62) beats arm a's rank-1 (1/61)
    val w = Retrieval.rrfFuseWeighted(Seq(a -> 1.0, b -> 2.0), k = 4)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(w.map(_._1).toSeq === Seq(20L, 21L, 10L, 11L))
    assert(math.abs(w.head._2 - 2.0 / 61) < 2e-6)
    // unweighted rrfFuse ≡ all-ones weights
    val plain = Retrieval.rrfFuse(Seq(a, b), k = 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(plain === eq)
    intercept[IllegalArgumentException](
      Retrieval.rrfFuseWeighted(Seq(a -> 0.0), k = 1))
  }

  test("mmrRerank: λ=1 is pure relevance order; near-duplicates get deferred at λ<1") {
    // candidates for one query: 10 and 11 are IDENTICAL vectors
    // (the near-dup crowding MMR exists to break), 12 orthogonal,
    // 13 opposite to 10
    val cands = Seq(
      (1L, 10L, 0.90, Array(1.0f, 0.0f, 0.0f)),
      (1L, 11L, 0.89, Array(1.0f, 0.0f, 0.0f)),
      (1L, 12L, 0.50, Array(0.0f, 1.0f, 0.0f)),
      (1L, 13L, 0.10, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("query_id", "neighbor_id", "rel", "vec")
    def order(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getLong(1)).toSeq
    // λ=1: the diversity term vanishes — pure relevance order
    assert(order(Retrieval.mmrRerank(cands, lambda = 1.0, k = 3)) ===
      Seq(10L, 11L, 12L))
    // λ=0.7: 10 first (top rel). Step 2 — the identical 11 scores
    // 0.7·0.89 − 0.3·1.0 = 0.323, orthogonal 12 scores 0.35, and
    // OPPOSITE 13 scores 0.07 − 0.3·(−1) = 0.37: the anti-similar
    // candidate's unclamped max-sim earns a genuine diversity bonus
    // and wins (the −inf-init contract the q194 oracle divergence
    // pinned — a 0-floor on max-sim would have ranked 12 here).
    // Step 3 — 12 (0.35, sims to {10,13} both 0) beats the dup 11.
    assert(order(Retrieval.mmrRerank(cands, lambda = 0.7, k = 3)) ===
      Seq(10L, 13L, 12L))
    // input order never matters (argmax scan, not a fold)
    assert(order(Retrieval.mmrRerank(
      cands.orderBy(col("neighbor_id").desc).repartition(5),
      lambda = 0.7, k = 3)) === Seq(10L, 13L, 12L))
    // k beyond the candidate count returns them all, ranked; the
    // near-duplicate of the top pick comes LAST — the crowding cut
    val all = order(Retrieval.mmrRerank(cands, lambda = 0.7, k = 10))
    assert(all === Seq(10L, 13L, 12L, 11L))
    val scores = Retrieval.mmrRerank(cands, lambda = 0.7, k = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(math.abs(scores(13L) - (0.7 * 0.10 + 0.3 * 1.0)) < 1e-4,
      s"opposite vector must earn the diversity bonus: $scores")
  }

  test("topk_any survives the sort-based aggregation fallback exactly") {
    // ObjectHashAggregate falls back to sort-based aggregation past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold —
    // the path that exercises serialize/deserialize on EVERY buffer
    // (a spilling 100 TB aggregation lives there, not in the happy
    // hash path). Force the fallback at threshold 2 and pin the
    // selection identical to the window form on a many-group input.
    val scored = (1 to 50).flatMap { q =>
      (1 to 30).map(n => (q.toLong, (q * 1000 + n).toLong,
        ((n * 7919 + q * 104729) % 1000) / 1000.0))
    }.toDF("query_id", "neighbor_id", "s").repartition(8)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2")
      val agg = dump(Ann.topKSelect(scored, "s", 5))
      spark.conf.set(key, prev)
      val win = dump(Ann.topKSelectWindow(scored, "s", 5))
      assert(agg === win,
        "fallback-path selection diverged from the window form")
      assert(agg.size === 250)
    } finally spark.conf.set(key, prev)
  }

  test("topk_any rejects bad inputs loudly (types, unorderable payload, k)") {
    // the aggregate behind every ANN candidate select — its analysis
    // errors must be immediate and named, not runtime ClassCastExceptions
    val df = Seq((1L, 2L, 0.5)).toDF("query_id", "neighbor_id", "s")
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](
        df.groupBy("query_id").agg(expr(sql)).collect())
      assert(e.getMessage.toLowerCase.contains(frag.toLowerCase),
        s"expected '$frag' in: ${e.getMessage.take(300)}")
    }
    fails("topk_any(neighbor_id, s, 3)", "double")      // ord must be double
    fails("topk_any(s, neighbor_id, 0)", "k >= 1")      // k lower bound
    fails("topk_any(s, neighbor_id, s)", "literal")     // k must be literal
    fails("topk_any(s, map('a', 1), 3)", "orderable")   // payload orderable
    // rrfFuse's own guards
    intercept[IllegalArgumentException](
      Retrieval.rrfFuse(Seq.empty, k = 5))
    intercept[IllegalArgumentException](
      Retrieval.rrfFuse(Seq(df.withColumn("rank", lit(1))), k = 0))
  }
}
