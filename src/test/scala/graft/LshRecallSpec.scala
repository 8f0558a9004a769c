package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.VectorFunctions

/** Quantified recall tests for the probabilistic LSH paths (q31 MinHash
  * banding, q41 hyperplane buckets) — no SQL oracle can check these, so
  * the banding formulas are the contract:
  *
  * - MinHash, r rows per band, b bands, pair Jaccard s:
  *   P(candidate) = 1 - (1 - s^r)^b. At the registered config
  *   (numHashes 48, bands 16, r = 3) a pair at s ≈ 0.8 is a candidate
  *   with probability 1 - 7e-6 — planted pairs must be recalled
  *   essentially always, while low-similarity pairs stay mostly
  *   un-paired (selectivity, the other half of the contract).
  *
  * - Random-hyperplane LSH, `planes` sign bits, pair angle θ:
  *   P(same bucket) = (1 - θ/π)^planes. Planted pairs at a fixed angle
  *   must collide at ≥ the predicted rate minus sampling margin.
  *
  * Both tests are deterministic: seeded inputs, fixed hash/plane
  * constructions.
  */
class LshRecallSpec extends SparkSpec {
  import spark.implicits._

  /** Planted docs: base doc i and partner i+n share a prefix of
    * L - m words (per-pair-unique vocab so cross-pair overlap is zero).
    * Word-trigram Jaccard is exactly (L-m-2)/(L+m-2). */
  private def plantedDocs(n: Int, L: Int, m: Int): Seq[(Long, String)] = {
    (0 until n).flatMap { i =>
      val base = (0 until L).map(j => s"w${i}_$j")
      val partner = base.take(L - m) ++ (0 until m).map(j => s"v${i}_$j")
      Seq((i.toLong, base.mkString(" ")),
        ((i + n).toLong, partner.mkString(" ")))
    }
  }

  private def minhashRecall(n: Int, L: Int, m: Int): Double = {
    val docs = plantedDocs(n, L, m).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      shingleN = 3, numHashes = 48, bands = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    (0 until n).count(i => cands.contains((i.toLong, (i + n).toLong)))
      .toDouble / n
  }

  test("minhash banding: high-similarity planted pairs recalled at formula rate") {
    // L=30, m=3 → trigram jaccard 25/31 ≈ 0.806
    // P(candidate) = 1 - (1 - 0.806^3)^16 ≈ 0.99999
    assert(minhashRecall(n = 200, L = 30, m = 3) >= 0.97)
  }

  test("minhash banding stays selective on low-similarity pairs") {
    // L=30, m=24 → jaccard 4/52 ≈ 0.077
    // P(candidate) = 1 - (1 - 0.077^3)^16 ≈ 0.007
    assert(minhashRecall(n = 200, L = 30, m = 24) <= 0.1)
  }

  test("hyperplane buckets: collision rate matches the angular formula") {
    val dim = 16
    val planes = 4
    val theta = math.toRadians(25) // cos ≈ 0.906
    val pPred = math.pow(1.0 - theta / math.Pi, planes) // ≈ 0.55
    val rnd = new scala.util.Random(42)
    val n = 400
    def unit(v: Array[Double]): Array[Double] = {
      val nm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x / nm)
    }
    val rows = (0 until n).flatMap { i =>
      val v = unit(Array.fill(dim)(rnd.nextGaussian()))
      // w orthonormal to v → u at exactly angle theta from v
      val w0 = Array.fill(dim)(rnd.nextGaussian())
      val d = v.zip(w0).map { case (a, b) => a * b }.sum
      val w = unit(w0.zip(v).map { case (b, a) => b - d * a })
      val u = v.zip(w).map { case (a, b) =>
        math.cos(theta) * a + math.sin(theta) * b }
      Seq((i.toLong, v.map(_.toFloat)), ((i + n).toLong, u.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val buckets = df.select(col("vec_id"),
      VectorFunctions.hyperplaneBucket(col("embedding"), dim, planes).as("b"))
      .as[(Long, Long)].collect().toMap
    val collide = (0 until n).count(i => buckets(i.toLong) == buckets((i + n).toLong))
    val rate = collide.toDouble / n
    // 3σ sampling margin at p ≈ 0.55, n = 400 is ~0.075
    assert(rate >= pPred - 0.09,
      s"collision rate $rate below predicted $pPred - margin")
    // and the buckets must still separate: random pairs collide at ~1/16
    val cross = (0 until n - 1).count(i =>
      buckets(i.toLong) == buckets((i + 1).toLong))
    assert(cross.toDouble / (n - 1) <= 0.25)
  }

  test("embeddingNearDup end-to-end recovers planted near-dups it buckets together") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    val n = 150
    val rows = (0 until n).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val u = v.map(x => x + (rnd.nextGaussian() * 0.05).toFloat) // cos ≈ 0.999
      Seq((i.toLong, v), ((i + n).toLong, u))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      dim = dim, numPlanes = 4, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val recalled = (0 until n).count(i => pairs.contains((i.toLong, (i + n).toLong)))
    // near-identical vectors (θ ≈ 2-4°) collide at ≈ (1 - θ/π)^4 ≥ 0.93
    assert(recalled.toDouble / n >= 0.85,
      s"end-to-end recall ${recalled.toDouble / n}")
  }

  test("multi-probe LSH: recall beats the single-table rate at equal index size") {
    // planted pairs at a FIXED angle θ = 35° (per-plane agreement
    // p = 1 − θ/π ≈ 0.806): single-table recall ≈ p⁴ ≈ 0.42; one-flip
    // multi-probe = P(Hamming ≤ 1) = p⁴ + 4p³(1−p) ≈ 0.83 — same
    // index, near-double recall, the Lv et al. 2007 claim
    val dim = 16
    val planes = 4
    val theta = math.toRadians(35)
    val p = 1.0 - theta / math.Pi
    val pSingle = math.pow(p, planes)
    val pMulti = pSingle + planes * math.pow(p, planes - 1) * (1 - p)
    val rnd = new scala.util.Random(42)
    val n = 400
    def unit(v: Array[Double]): Array[Double] = {
      val nm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x / nm)
    }
    val rows = (0 until n).flatMap { i =>
      val v = unit(Array.fill(dim)(rnd.nextGaussian()))
      val w0 = Array.fill(dim)(rnd.nextGaussian())
      val d = v.zip(w0).map { case (a, b) => a * b }.sum
      val w = unit(w0.zip(v).map { case (b, a) => b - d * a })
      val u = v.zip(w).map { case (a, b) =>
        math.cos(theta) * a + math.sin(theta) * b }
      Seq((i.toLong, v.map(_.toFloat)), ((i + n).toLong, u.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    def recallAt(flips: Int): Double = {
      val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding",
        dim = dim, numPlanes = planes, threshold = 0.5,
        probeFlips = flips)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      (0 until n).count(i =>
        pairs.contains((i.toLong, (i + n).toLong))).toDouble / n
    }
    val r0 = recallAt(0); val r1 = recallAt(1); val r2 = recallAt(2)
    // multi-probe recall ≥ the single-table FORMULA rate (the verdict
    // bar) and ≥ the measured single-table recall; monotone in flips
    assert(r1 >= pSingle, s"1-flip recall $r1 below single-table $pSingle")
    assert(r1 >= r0 && r2 >= r1, s"recall not monotone: $r0 / $r1 / $r2")
    // and it tracks its own formula (3σ margin at n=400 ≈ 0.056)
    assert(r1 >= pMulti - 0.07, s"1-flip recall $r1 vs predicted $pMulti")
  }

  test("multi-probe LSH certified against exact cosine truth on the real embeddings") {
    // all-pairs exact cosine at the q41 threshold is the ground truth
    // (500 vectors — the brute force is the test's own oracle);
    // verify keeps precision at 1, so candidates ⊆ exact, and
    // multi-probe recall must dominate single-table recall
    import graft.functions.VectorFunctions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("__n"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("__va"),
      col("__n").as("__na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("__vb"),
      col("__n").as("__nb"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("c", cosinePrenormed(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")))
      .filter(round(col("c"), 4) >= 0.2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must contain near pairs")
    def lsh(flips: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDup(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        dim = 64, numPlanes = 4, threshold = 0.2, probeFlips = flips)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val single = lsh(0); val multi = lsh(1)
    assert(multi.subsetOf(exact),
      s"multi-probe reported non-pairs: ${(multi -- exact).take(5)}")
    assert(single.subsetOf(multi),
      "own-bucket candidates must survive multi-probe")
    val rs = single.size.toDouble / exact.size
    val rm = multi.size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm below single-table $rs")
    assert(rm > rs, s"multi-probe found nothing new on the real corpus " +
      s"($rs) — fixture or probe expansion broken")
  }

  test("incremental embedding probe: multi-probe widens recall on the saved index") {
    // corpus/batch split of the real embeddings; exact cross-side
    // cosine truth; multi-probe hits must contain single-probe hits,
    // stay inside the truth, and find MORE on the real corpus
    import graft.functions.VectorFunctions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val batch = e.filter(col("vec_id") % 4 === 0)
    val a = corpus.select(col("vec_id").as("a_id"),
      col("embedding").as("__va"), norm(col("embedding")).as("__na"))
    val b = batch.select(col("vec_id").as("b_id"),
      col("embedding").as("__vb"), norm(col("embedding")).as("__nb"))
    val exact = a.join(b)
      .filter(round(cosinePrenormed(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")), 4) >= 0.2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val index = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      dim = 64, numPlanes = 4).materialize()
    def probe(flips: Int): Set[(Long, Long)] =
      Dedup.incrementalEmbeddingNearDup(batch, index, "vec_id",
        "embedding", dim = 64, numPlanes = 4, threshold = 0.2,
        probeFlips = flips)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val single = probe(0); val multi = probe(1)
    assert(multi.subsetOf(exact))
    assert(single.subsetOf(multi))
    assert(multi.size > single.size,
      s"multi-probe found nothing new (${single.size} hits)")
    // and the saved/loaded index probes identically (shard pruning
    // must widen to the probe set's shards, not the raw buckets')
    val dir = java.nio.file.Files
      .createTempDirectory("embidx").toString
    index.save(dir, mode = "overwrite")
    val loaded = Dedup.EmbeddingIndex.load(spark, dir)
    val multiLoaded =
      Dedup.incrementalEmbeddingNearDup(batch, loaded, "vec_id",
        "embedding", dim = 64, numPlanes = 4, threshold = 0.2,
        probeFlips = 1)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(multiLoaded == multi,
      "file-backed shard pruning dropped probe-bucket shards")
    // the replication guard (1 + planes + C(planes,2) probe rows can
    // blow the broadcast threshold at high plane counts): at 16 planes
    // with two flips (137 probe rows per batch vector) the probe side
    // takes the shuffle-join fallback, and it must return exactly the
    // true pairs whose buckets lie within two sign flips
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("vec_id"), hyperplaneBucket(col("embedding"), 64, 16))
        .as[(Long, Long)].collect().toMap
    val (bkA, bkB) = (buckets(corpus), buckets(batch))
    val within2 = exact.filter { case (x, y) =>
      java.lang.Long.bitCount(bkA(x) ^ bkB(y)) <= 2 }
    val index16 = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      dim = 64, numPlanes = 16).materialize()
    val fallback =
      Dedup.incrementalEmbeddingNearDup(batch, index16, "vec_id",
        "embedding", dim = 64, numPlanes = 16, threshold = 0.2,
        probeFlips = 2)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(within2.nonEmpty && fallback == within2,
      s"shuffle-join fallback: ${fallback.size} pairs, want ${within2.size}")
  }

  test("LSH recall certified against the EXACT join's ground truth on real data") {
    // q124's prefix-filter join is exact (recall 1.0 by construction),
    // so it supplies the ground-truth pair set the LSH recall formula
    // could previously only predict: on the actual sf0.001 corpus,
    // every pair the exact join finds at J ≥ 0.5 must be recalled by
    // the q31/q53 pipeline (minhashNearDup verifies candidates with
    // exact Jaccard, so precision is 1 — recall is the only question;
    // at the registered banding b=16, r=3 a pair at exactly s = 0.5
    // is missed with probability (1 − 0.125)^16 ≈ 0.118, but the
    // pairs in this corpus sit above the floor where the miss rate
    // collapses — so demand ≥ 0.9 overall plus strict subset-ness)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val exact = graft.operators.SetSimilarity.jaccardJoin(docs, "doc_id",
      Dedup.shinglesCol(docs, col("text"), 3), tauNum = 1, tauDen = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDup(docs, "doc_id", "text",
      shingleN = 3, numHashes = 48, bands = 16, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact),
      s"LSH reported pairs outside the exact ground truth: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = (exact & lsh).size.toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall vs exact ground truth " +
        s"(${exact.size} true pairs, ${(exact -- lsh).size} missed)")
    }
  }
}
