package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.operators.TextStats

/** Corpus curation operators: n-gram frequency, contamination screen,
  * deterministic splits, PII redaction. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("ngramFreq counts doc-distinct bigrams with deterministic order") {
    val docs = Seq(
      "a b a b", // distinct bigrams: "a b", "b a"
      "a b c",   // "a b", "b c"
      "x"        // none
    ).toDF("text")
    val out = Corpus.ngramFreq(docs, "text", n = 2, topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a b", 2L), ("b a", 1L), ("b c", 1L)))
  }

  test("contamination counts shared distinct trigrams per doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown cat sits"),
      (3L, "entirely different words here now")
    ).toDF("doc_id", "text")
    val probes = Seq("the quick brown fox").toDF("text")
    val out = Corpus.contamination(docs, "doc_id", "text", probes, "text", n = 3)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares "the quick brown" + "quick brown fox"; doc 2 only
    // "the quick brown"; doc 3 nothing (absent from output)
    assert(out == Map(1L -> 2L, 2L -> 1L))
  }

  test("contaminationBloom is row-identical to the broadcast form") {
    // 200 docs, probe set = docs 0-4's text: the bloom routes, the
    // exact join verifies — no false negatives by construction, and
    // false positives must drop out in the verify
    val docs = spark.range(200)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          lit("tok"), (col("id") % 7).cast("string"),
          lit("tok"), (col("id") % 11).cast("string"),
          lit("tok"), (col("id") % 13).cast("string"),
          lit("tail"), col("id").cast("string")).as("text"))
    val probes = docs.filter(col("doc_id") < 5)
    val exact = Corpus.contamination(
      docs, "doc_id", "text", probes, "text", n = 3)
      .as[(Long, Long)].collect().toMap
    val bloom = Corpus.contaminationBloom(
      docs, "doc_id", "text", probes, "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty && bloom == exact)
  }

  test("contaminationBloom with an empty probe set returns empty") {
    // zero probe grams ⇒ short-circuit (no null sketch embedded as a
    // bloomMightContain literal); schema identical to the normal path
    val docs = Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val empty = Seq.empty[String].toDF("text")
    val out = Corpus.contaminationBloom(
      docs, "doc_id", "text", empty, "text", n = 3)
    assert(out.columns.toSeq == Seq("doc_id", "n_hits"))
    assert(out.count() == 0L)
    // probes present but all shorter than n grams ⇒ also zero grams
    val tiny = Seq("two words").toDF("text")
    assert(Corpus.contaminationBloom(
      docs, "doc_id", "text", tiny, "text", n = 3).count() == 0L)
  }

  test("contamination bloom sketch size is set by (count, fpp) alone") {
    // executor state is the sketch literal: its size follows
    // optimalNumOfBits(n, fpp), NOT the probe text volume — the same
    // gram count with ~40x longer gram strings builds a sketch of
    // IDENTICAL byte size (broadcasting the strings would grow 40x)
    import graft.functions.BloomFunctions
    def sketchBytes(grams: org.apache.spark.sql.DataFrame): Int = {
      val n = grams.count()
      grams.agg(BloomFunctions.bloomAgg(xxhash64(col("g")), n,
        BloomFunctions.optimalNumBits(n, 0.01)).as("b"))
        .head().getAs[Array[Byte]](0).length
    }
    val short = spark.range(500)
      .select(concat(lit("g"), col("id").cast("string")).as("g"))
    val long = spark.range(500)
      .select(concat(lit("g" * 160), col("id").cast("string")).as("g"))
    assert(sketchBytes(short) == sketchBytes(long))
  }

  test("splitAssign is deterministic, exhaustive, and near the weights") {
    val docs = spark.range(10000).toDF("doc_id")
    val a = Corpus.splitAssign(docs, "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(a.keySet == Set("train", "val", "test"))
    assert(a.values.sum == 10000L)
    assert(math.abs(a("train") - 8000L) < 400, s"train=${a("train")}")
    assert(math.abs(a("val") - 1000L) < 200)
    // byte-stable across invocations
    val b = Corpus.splitAssign(docs, "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(a == b)
    // a different seed reshuffles membership but keeps proportions
    val c = Corpus.splitAssign(docs, "doc_id", seed = 1L)
    val moved = Corpus.splitAssign(docs, "doc_id")
      .withColumnRenamed("split", "s0")
      .join(c.withColumnRenamed("split", "s1"), "doc_id")
      .filter(col("s0") =!= col("s1")).count()
    assert(moved > 0)
  }

  test("lmQualityScore: in-domain text scores higher than unseen-word soup") {
    val ref = Seq("the cat sat on the mat", "the dog sat on the rug")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // pure in-domain
      (2L, "the dog sat"),              // in-domain subset
      (3L, "zx qw vb nm kj hg"))        // all unseen words
      .toDF("doc_id", "text")
    val scores = Corpus.lmQualityScore(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(3L))
    assert(scores(2L) > scores(3L))
    // unseen words each cost exactly ln(1/(T+V)): T=12 tokens, V=7 words
    assert(math.abs(scores(3L) - math.round(
      math.log(1.0 / 19.0) * 10000).toDouble / 10000) < 1e-9)
    // 'the' (c=4) contributes ln(5/19); doc of only 'the' would score that
    val theScore = Corpus.lmQualityScore(
      Seq((9L, "the")).toDF("doc_id", "text"), "doc_id", "text", ref, "text")
      .collect().head.getDouble(1)
    assert(math.abs(theScore -
      math.round(math.log(5.0 / 19.0) * 10000).toDouble / 10000) < 1e-9)
  }

  test("lmQualityScoreBigram: word order matters, backoff prices the unseen") {
    val ref = Seq("the cat sat on the mat", "the dog sat on the rug")
      .toDF("text")
    // T = 12 tokens, V = 7 distinct words
    val docs = Seq(
      (1L, "the cat sat"),   // both transitions are reference bigrams
      (2L, "sat cat the"),   // same words REVERSED: no bigram matches
      (3L, "zx qw vb"))      // unseen everything
      .toDF("doc_id", "text")
    val scores = Corpus
      .lmQualityScoreBigram(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the unigram model (q73) CANNOT separate docs 1 and 2; the
    // bigram model must — that is the point of the upgrade
    assert(scores(1L) > scores(2L))
    assert(scores(2L) > scores(3L))
    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    // doc 1: ln(c2(the,cat)/c1(the)) = ln(1/4); ln(c2(cat,sat)/c1(cat))
    // = ln(1/1) = 0 -> mean = ln(1/4)/2
    assert(math.abs(scores(1L) - r4(math.log(1.0 / 4.0) / 2.0)) < 1e-9)
    // doc 3: every transition backs off to an unseen unigram:
    // ln(0.4 * 1 / 19) each
    assert(math.abs(scores(3L) - r4(math.log(0.4 * 1.0 / 19.0))) < 1e-9)
    // doc 2's backoffs price the NEXT word's unigram count: cat=1,
    // the=4 -> mean of ln(0.4*2/19) and ln(0.4*5/19)
    assert(math.abs(scores(2L) - r4((math.log(0.4 * 2.0 / 19.0) +
      math.log(0.4 * 5.0 / 19.0)) / 2.0)) < 1e-9)
  }

  test("lmQualityScoreTrigram: the full backoff chain prices each order") {
    val ref = Seq("the cat sat on the mat", "the dog sat on the rug")
      .toDF("text")
    // T = 12 tokens, V = 7 distinct words
    val docs = Seq(
      (1L, "the cat sat on"),  // both triples are reference trigrams
      (2L, "mat the dog"),   // no trigram; (the,dog) is a ref bigram
      (3L, "on sat cat the"),  // reversed: no tri, no bi -> unigram chain
      (4L, "zx qw vb nm"))     // unseen everything
      .toDF("doc_id", "text")
    val scores = Corpus
      .lmQualityScoreTrigram(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    // doc 1: c3(the,cat,sat)=1 / c2(the,cat)=1 -> ln 1 = 0;
    //        c3(cat,sat,on)=1 / c2(cat,sat)=1 -> 0. mean = 0
    assert(scores(1L) == 0.0)
    // doc 4: every transition falls to the add-one unigram floor:
    // ln(0.4 * 0.4 * 1 / 19)
    assert(math.abs(scores(4L) - r4(math.log(0.4 * 0.4 / 19.0))) < 1e-9)
    // doc 2's single transition (mat,the,dog) misses every trigram
    // but (the,dog) is a reference bigram: ln(0.4 * c2(the,dog=1) /
    // c1(the=4)) = ln(0.1) — the middle branch of the chain
    assert(math.abs(scores(2L) - r4(math.log(0.4 * 1.0 / 4.0))) < 1e-9)
    // ordering: full trigram fluency > bigram backoff > scrambled >
    // gibberish
    assert(scores(1L) > scores(2L))
    assert(scores(2L) > scores(3L))
    assert(scores(3L) > scores(4L))
    // doc 3's transitions all miss tri and bi but land on seen
    // unigrams: ln(0.16*(c1(w3)+1)/19) for w3 in {cat, the}
    assert(math.abs(scores(3L) - r4((math.log(0.16 * 2.0 / 19.0) +
      math.log(0.16 * 5.0 / 19.0)) / 2.0)) < 1e-9)
  }

  test("lmQualityScoreN at order 4 prices all four branches") {
    // reference: T = 12 tokens, V = 7 distinct words (the trigram
    // fixture) — each doc is ONE 4-gram transition landing on exactly
    // one chain level
    val ref = Seq("the cat sat on the mat", "the dog sat on the rug")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on"),  // 4-gram hit: c4/c3 = 1/1 -> ln 1 = 0
      (2L, "mat cat sat on"),  // no 4-gram; (cat,sat,on) is a ref
                               // trigram: ln(0.4 * c3=1 / c2(cat,sat)=1)
      (3L, "mat rug the dog"), // no 4/3-gram; (the,dog) ref bigram:
                               // ln(0.4*0.4 * c2=1 / c1(the)=4)
      (4L, "zx qw vb nm"))     // unigram floor: ln(0.4^3 * 1 / 19)
      .toDF("doc_id", "text")
    val scores = Corpus.lmQualityScoreN(
      docs, "doc_id", "text", ref, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    assert(scores(1L) == 0.0)
    assert(math.abs(scores(2L) - r4(math.log(0.4 * 1.0 / 1.0))) < 1e-9)
    assert(math.abs(scores(3L) - r4(math.log(0.4 * 0.4 * 1.0 / 4.0))) < 1e-9)
    assert(math.abs(scores(4L) -
      r4(math.log(0.4 * 0.4 * 0.4 * 1.0 / 19.0))) < 1e-9)
    // monotone: each extra backoff level prices lower
    assert(scores(1L) > scores(2L) && scores(2L) > scores(3L) &&
      scores(3L) > scores(4L))
    // and the delegations reproduce the hand-rolled orders exactly
    val bi = Corpus.lmQualityScoreBigram(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val biN = Corpus.lmQualityScoreN(
      docs, "doc_id", "text", ref, "text", n = 2, outCol = "lm2_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bi == biN)
  }

  test("dsirWeights: target-domain docs outscore off-domain docs") {
    val target = Seq("the cat sat on the mat", "a cat and a cat")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),      // pure target domain
      (2L, "the dog ran in the park"),     // shares only 'the'
      (3L, "zx qw vb nm kj hg"))           // out of both vocabularies
      .toDF("doc_id", "text")
    val s = Corpus.dsirWeights(docs, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L))
    // doc 3's features are unseen in BOTH models: each term is
    // ln(1/(Tt+V)) - ln(1/(Tr+V)) — nonzero only via the corpus-size
    // difference, and far below the in-domain score
    assert(s(1L) > s(3L))
    // single-word doc must not blow up the bigram generator
    val one = Corpus.dsirWeights(
      Seq((9L, "cat")).toDF("doc_id", "text"), "doc_id", "text",
      target, "text").collect()
    assert(one.length == 1)
  }

  test("dsirWeights hashed-bucket variant preserves the ranking") {
    val target = Seq("the cat sat on the mat").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "entirely different words here"))
      .toDF("doc_id", "text")
    // 2^20 buckets ≈ collision-free at this vocab: ranking must match
    // the exact string form; the model tables are B-bounded — the
    // 100 TB path
    val h = Corpus.dsirWeights(docs, "doc_id", "text", target, "text",
      hashBuckets = Some(1 << 20))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h(1L) > h(2L))
    // deterministic across invocations
    val h2 = Corpus.dsirWeights(docs, "doc_id", "text", target, "text",
      hashBuckets = Some(1 << 20))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h == h2)
  }

  test("gumbelTopK: log-space weighted draw, deterministic and dominance-respecting") {
    val df = (1L to 200L).map(i => (i, if (i == 7L) 1000.0 else 0.0))
      .toDF("id", "lw")
    val a = Corpus.gumbelTopK(df, "id", "lw", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    // a +1000 log-weight dominates any Gumbel noise: always rank 1
    assert(a.head == (7L, 1))
    assert(a.length == 10 && a.map(_._2).toSeq == (1 to 10))
    // reproducible
    val b = Corpus.gumbelTopK(df, "id", "lw", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(a.toSeq == b.toSeq)
    // a different seed reshuffles the noise-dominated tail
    val c = Corpus.gumbelTopK(df, "id", "lw", k = 10, seed = "s1")
      .collect().map(_.getLong(0))
    assert(c.head == 7L)
    assert(c.toSeq != a.map(_._1).toSeq)
    // scores that would overflow exp() stay rankable in log space
    val big = Seq((1L, 5000.0), (2L, 4999.0), (3L, -5000.0))
      .toDF("id", "lw")
    val top = Corpus.gumbelTopK(big, "id", "lw", k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("dsir_score kernel equals the batch hashed dsirWeights join") {
    // the model-as-literal scorer must reproduce the hashed batch
    // path exactly (same xxhash64 buckets, same smoothing): the only
    // permitted difference is per-doc summation ORDER (text order vs
    // aggregation order), which round(,4)-level tolerance absorbs
    val target = Seq("the cat sat on the mat", "a cat and a cat")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog ran in the park"),
      (3L, "zx qw vb nm kj hg"),
      (4L, "cat"))
      .toDF("doc_id", "text")
    val b = 1 << 12
    val batch = Corpus.dsirWeights(docs, "doc_id", "text",
        target, "text", hashBuckets = Some(b))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lr = Corpus.dsirModelArray(docs, "text", target, "text", b)
    assert(lr.length == b)
    val kernel = docs.select(col("doc_id"),
        call_function("dsir_score", col("text"), typedlit(lr.toSeq)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    for ((id, s) <- batch) // batch output is round(,4); kernel is raw
      assert(math.abs(r4(kernel(id)) - s) < 1e-9,
        s"doc $id: kernel ${kernel(id)} vs batch $s")
    // in-domain still outranks off-domain through the kernel
    assert(kernel(1L) > kernel(2L) && kernel(2L) > kernel(3L))
  }

  test("bm25Search ranks by term frequency, rarity, and length norm") {
    val docs = Seq(
      (1L, "spark spark spark engine"),       // tf=3, short
      (2L, "spark engine"),                   // tf=1
      (3L, "spark spark spark spark spark spark spark spark engine padding " +
        "padding padding padding padding padding padding padding padding"), // high tf, long
      (4L, "entirely unrelated words here"),  // no hit
      (5L, "rare term appears once"))         // hits only 'rare'
      .toDF("doc_id", "text")
    val got = Corpus.bm25Search(docs, "doc_id", "text",
      queryTerms = Seq("spark", "rare"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val byId = got.toMap
    // no-hit docs are absent entirely
    assert(!byId.contains(4L))
    // 'rare' appears in 1/5 docs, 'spark' in 3/5 -> rare has higher IDF
    // than any spark score at tf=1
    assert(byId(5L) > byId(2L))
    // more occurrences score higher at similar length
    assert(byId(1L) > byId(2L))
    // length normalisation: doc 3's huge tf is damped by its length but
    // still beats tf=1
    assert(byId(3L) > byId(2L))
    // output is ordered by score desc
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
  }

  test("heavyHitters equals exact ngramFreq on a Zipf corpus") {
    // zipf-ish: word w_i appears with frequency ~ 1/i -> clear head
    val docs = spark.range(2000).toDF("id")
      .withColumn("text", concat_ws(" ",
        concat(lit("w"), pmod(xxhash64(col("id"), lit(1L)), lit(7L))),
        concat(lit("w"), pmod(xxhash64(col("id"), lit(2L)), lit(23L))),
        concat(lit("w"), pmod(xxhash64(col("id"), lit(3L)), lit(97L))),
        concat(lit("w"), pmod(xxhash64(col("id"), lit(4L)), lit(997L)))))
    val exact = Corpus.ngramFreq(docs, "text", n = 2, topK = 25)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sketched = Corpus.heavyHitters(docs, "text", n = 2, topK = 25)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sketched === exact)
    // degenerate-to-exact regime: maxTracked above the vocabulary
    val wide = Corpus.heavyHitters(docs, "text", n = 2, topK = 25,
      sketchK = 30, maxTracked = 100000)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(wide === exact)
  }

  test("mixSources hits target proportions, deterministic, downsampling is a filter") {
    // 8000 a's, 1600 b's, 400 c's -> mix to 50/25/25
    val docs = spark.range(10000).toDF("doc_id")
      .withColumn("source",
        when(col("doc_id") < 8000, "a")
          .when(col("doc_id") < 9600, "b").otherwise("c"))
    val targets = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    val mixed = Corpus.mixSources(docs, "doc_id", "source", targets)
    val n = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    // binding source is c: T = 400/0.25 = 1600 -> expect 800/400/400
    assert(n("c") === 400L) // rate 1.0: kept in full
    assert(math.abs(n("a") - 800L) < 120, s"a=${n("a")}")
    assert(math.abs(n("b") - 400L) < 90, s"b=${n("b")}")
    // deterministic
    val again = Corpus.mixSources(docs, "doc_id", "source", targets)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(n === again)
    // unweighted sources are dropped entirely
    val partial = Corpus.mixSources(docs, "doc_id", "source",
      Map("b" -> 1.0)).select("source").distinct().as[String].collect()
    assert(partial.toSeq === Seq("b"))
  }

  test("mixSources upsamples scarce sources with numbered copies") {
    val docs = spark.range(1000).toDF("doc_id")
      .withColumn("source",
        when(col("doc_id") < 900, "big").otherwise("small"))
    // 50/50 target needs small (100 rows) upsampled vs big (900)
    val mixed = Corpus.mixSources(docs, "doc_id", "source",
      Map("big" -> 0.5, "small" -> 0.5), maxRepeat = 4)
    val n = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    // binding: small at rate 4 -> T = 800, expect 400/400
    assert(n("small") === 400L)
    assert(math.abs(n("big") - 400L) < 80, s"big=${n("big")}")
    // copies are numbered 0..3 and each original id appears 4x
    val copies = mixed.filter(col("source") === "small")
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(copies.forall(_._2 === 4L))
    assert(mixed.filter(col("source") === "small")
      .select("copy").distinct().as[Int].collect().sorted.toSeq === Seq(0, 1, 2, 3))
  }

  test("temperatureTargets flatten toward uniform and drive the mix") {
    val docs = (Seq.tabulate(90)(i => (i.toLong, "big")) ++
      Seq.tabulate(10)(i => (100L + i, "small")))
      .toDF("doc_id", "source")
    // α = 1: natural proportions exactly
    val t1 = graft.operators.Corpus.temperatureTargets(docs, "source", 1.0)
    assert(math.abs(t1("big") - 0.9) < 1e-12 &&
      math.abs(t1("small") - 0.1) < 1e-12)
    // α = 0.5: hand-computed sqrt shares (0.75 / 0.25 in the reals)
    val t5 = graft.operators.Corpus.temperatureTargets(docs, "source", 0.5)
    val eb = math.sqrt(0.9) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert(math.abs(t5("big") - eb) < 1e-12)
    assert(t5("small") > t1("small") && t5("big") < t1("big"),
      "lower temperature must upweight the scarce source")
    // α → 0 approaches uniform
    val t0 = graft.operators.Corpus.temperatureTargets(docs, "source", 0.05)
    assert(math.abs(t0("small") - 0.5) < 0.06)
    // the flattened mix upsamples: rates land on 1.0 (big) and 3.0
    // (small) up to ulps, both safely inside the uniform's granularity
    val mixed = graft.operators.Corpus.mixSources(docs, "doc_id",
      "source", t5, maxRepeat = 3)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed("big") === 90L && mixed("small") === 30L)
  }

  test("mixSources validates weights and presence") {
    intercept[IllegalArgumentException] {
      Corpus.mixSources(spark.range(1).toDF("id")
        .withColumn("source", lit("x")), "id", "source", Map("x" -> 0.0))
    }
    intercept[IllegalArgumentException] {
      Corpus.mixSources(spark.range(1).toDF("id")
        .withColumn("source", lit("x")), "id", "source",
        Map("x" -> 0.5, "ghost" -> 0.5))
    }
  }

  test("splitAssign validates weights") {
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(spark.range(1).toDF("id"), "id",
        splits = Seq("a" -> 60, "b" -> 60))
    }
  }

  test("bucket_search quantileBucket matches the array-filter-count formula") {
    import graft.functions.LayoutFunctions
    // bounds with a repeated value; values below, between, on, above
    // every bound, plus NaN, ±infinity and null (both forms put null in
    // bucket 0)
    val bounds = Array(-1.5, 0.0, 0.0, 2.0, 10.0)
    val vals = Seq(Some(-3.0), Some(-1.5), Some(-0.5), Some(0.0), Some(1.0),
      Some(2.0), Some(9.99), Some(10.0), Some(1e9), Some(Double.NaN),
      Some(Double.NegativeInfinity), Some(Double.PositiveInfinity), None)
      .toDF("v")
    val got = vals.select(
      LayoutFunctions.quantileBucket(col("v"), bounds),
      LayoutFunctions.quantileBucketHof(col("v"), bounds))
      .as[(Long, Long)].collect()
    got.foreach { case (native, ref) => assert(native === ref) }
    assert(got.map(_._1).toSeq ===
      Seq(0L, 1L, 1L, 3L, 3L, 4L, 4L, 5L, 5L, 5L, 0L, 5L, 0L))
    // integer input casts the same way on both sides
    val ints = (-3 to 12).toDF("i").select(
      LayoutFunctions.quantileBucket(col("i"), bounds),
      LayoutFunctions.quantileBucketHof(col("i"), bounds))
      .as[(Long, Long)].collect()
    ints.foreach { case (native, ref) => assert(native === ref) }
  }

  test("prefixSum matches the single-window scan, ties included") {
    // gappy, shuffled ids; duplicate order keys exercise the RANGE-frame
    // tie contract (peers share the inclusive sum)
    val df = spark.range(5000).toDF("i")
      .select((pmod(xxhash64(col("i")), lit(2000L))).as("k"),
        (pmod(xxhash64(col("i"), lit(1L)), lit(50L)) + 1).as("v"))
    val got = Corpus.prefixSum(df, "k", "v", "off", buckets = 16)
      .groupBy("k").agg(sum("off").as("s")).as[(Long, Long)]
      .collect().toMap
    val naive = df.withColumn("off",
        sum(col("v")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("k"))) - col("v"))
      .groupBy("k").agg(sum("off").as("s")).as[(Long, Long)]
      .collect().toMap
    assert(got == naive)
    // degenerate single bucket agrees too
    val one = Corpus.prefixSum(df, "k", "v", "off", buckets = 1)
      .groupBy("k").agg(sum("off").as("s")).as[(Long, Long)]
      .collect().toMap
    assert(one == naive)
  }

  test("packSequences lays out a contiguous token stream") {
    val docs = Seq(
      (1L, "a b c"),            // 3 tokens: [0, 3)
      (2L, "d e f g h"),        // 5 tokens: [3, 8)   spans seqs 0-1
      (5L, "i"),                // 1 token:  [8, 9)
      (9L, "j k l m n o p q")   // 8 tokens: [9, 17)  spans seqs 2-4
    ).toDF("doc_id", "text")
    val out = Corpus.packSequences(docs, "doc_id", "text", seqLen = 4,
        buckets = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),
      (2L, 5L, 3L, 0L, 1L, 2L),
      (5L, 1L, 8L, 2L, 2L, 1L),
      (9L, 8L, 9L, 2L, 4L, 3L)))
    // offsets are contiguous in id order on a bigger corpus
    val big = spark.range(2000).toDF("doc_id")
      .withColumn("text", concat(lit("w "), repeat(lit("x "),
        pmod(xxhash64(col("doc_id")), lit(30L)).cast("int"))))
    val rows = Corpus.packSequences(big, "doc_id", "text", seqLen = 128)
      .orderBy("doc_id").select("start_offset", "n_tokens")
      .as[(Long, Long)].collect()
    rows.sliding(2).foreach {
      case Array((o1, n1), (o2, _)) => assert(o2 == o1 + n1)
      case _ =>
    }
    assert(rows.head._1 == 0L)
  }

  test("packedSequences re-chunks the corpus into fixed-length rows") {
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g h"), (5L, "i"), (9L, "j k l m n o p q")
    ).toDF("doc_id", "text")
    val out = Corpus.packedSequences(docs, "doc_id", "text", seqLen = 4,
        buckets = 2)
      .orderBy("seq_id").as[(Long, String)].collect().toSeq
    // stream: a b c d | e f g h | i j k l | m n o p | q
    assert(out == Seq(
      (0L, "a b c d"), (1L, "e f g h"), (2L, "i j k l"),
      (3L, "m n o p"), (4L, "q")))
    // invariants at size: every sequence but the last is exactly seqLen
    // tokens, and the reassembled stream equals the id-ordered corpus
    val big = spark.range(300).toDF("doc_id")
      .withColumn("text",
        concat(lit("d"), col("doc_id").cast("string"),
          rtrim(repeat(concat(lit(" w"), col("doc_id").cast("string")),
            pmod(xxhash64(col("doc_id")), lit(9L)).cast("int")))))
    val seqs = Corpus.packedSequences(big, "doc_id", "text", seqLen = 32)
      .orderBy("seq_id").as[(Long, String)].collect()
    seqs.dropRight(1).foreach { case (_, t) =>
      assert(t.split(" ").length == 32) }
    val stream = big.orderBy("doc_id").as[(Long, String)].collect()
      .map(_._2).mkString(" ")
    assert(seqs.map(_._2).mkString(" ") == stream)
  }

  test("packGreedy fills whole-document bins first-fit in id order") {
    val docs = Seq(
      (1L, "a b c"),          // 3
      (2L, "d e f g"),        // 4  -> bin 0 (3+4=7 <= 10)
      (3L, "h i j k"),        // 4  -> overflow, bin 1
      (4L, Seq.fill(12)("x").mkString(" ")), // 12 > seqLen -> own bin 2
      (5L, "y z")             // 2  -> bin 3 (after oversized fill=12)
    ).toDF("doc_id", "text")
    val out = Corpus.packGreedy(docs, "doc_id", "text", seqLen = 10,
        buckets = 1)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._2) === Seq(3L, 4L, 4L, 12L, 2L))
    val bins = out.map(_._3)
    assert(bins(0) == bins(1) && bins(1) != bins(2) &&
      bins(2) != bins(3) && bins(3) != bins(4))
    // invariants at size: no bin over capacity (except single
    // oversized docs), every doc assigned exactly once, deterministic
    val big = spark.range(3000).toDF("doc_id")
      .withColumn("text", concat(lit("w"),
        rtrim(repeat(concat(lit(" t"), col("doc_id").cast("string")),
          pmod(xxhash64(col("doc_id")), lit(40L)).cast("int")))))
    val packed = Corpus.packGreedy(big, "doc_id", "text", seqLen = 64)
    assert(packed.count() === 3000)
    val over = packed.groupBy("seq_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter(col("tot") > 64 && col("n") > 1).count()
    assert(over === 0L)
    val a = packed.orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val b = Corpus.packGreedy(big, "doc_id", "text", seqLen = 64)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("chunkOverlap windows documents with shared context") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens, chunk 4, overlap 2 -> starts 0,2,4,6
      (2L, "x y"),                 // shorter than chunk -> one chunk
      (3L, "p q r s")              // exactly one chunk
    ).toDF("doc_id", "text")
    val out = Corpus.chunkOverlap(docs, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 0L, "a b c d"), (1L, 1L, "c d e f"),
      (1L, 2L, "e f g h"), (1L, 3L, "g h i j"),
      (2L, 0L, "x y"),
      (3L, 0L, "p q r s")))
    // consecutive chunks overlap by exactly overlapTokens; the union
    // of chunk tokens reconstructs the document
    val rebuilt = out.filter(_._1 == 1L).map(_._3.split(" ").toSeq)
      .reduce((a, b) => a ++ b.drop(2))
    assert(rebuilt.mkString(" ") === "a b c d e f g h i j")
  }

  test("cdcChunks: lossless cuts matching a naive reference, incl. non-BMP") {
    // naive reference: recompute every window hash from scratch
    def refCuts(s: String, w: Int, m: Int): Seq[Int] = {
      val cps = s.codePoints().toArray.toSeq
      val n = cps.length
      val hits = (w to n - 1).filter { i =>
        cps.slice(i - w, i).foldLeft(0L)((h, c) => h * 31 + c) % m == 0
      }
      0 +: hits :+ n
    }
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 8),
      (2L, "short"),
      (3L, "ab"), // shorter than the window: one chunk
      (4L, "unicode 😀 beyond the basic plane 😀 " * 6))
    val docs = texts.toDF("doc_id", "text")
    val out = Corpus.cdcChunks(docs, "doc_id", "text",
        window = 4, modulus = 16)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
    for ((id, text) <- texts) {
      val cuts = refCuts(text, 4, 16)
      val got = out.filter(_._1 == id)
      assert(got.map(_._2) === got.indices) // chunk_ids dense from 0
      assert(got.map(_._3) === cuts.init.map(_ + 1)) // starts
      assert(got.map(_._4) === cuts.sliding(2).map(p => p(1) - p(0)).toSeq)
      // chunks tile the doc exactly: lengths sum to the code-point count
      assert(got.map(_._4).sum === text.codePointCount(0, text.length))
    }
  }

  test("cdcChunks: an insertion only re-chunks its neighbourhood") {
    val base = "the quick brown fox jumps over the lazy dog and " * 20
    val edited = base.substring(0, 480) + "INSERTED TEXT " + base.substring(480)
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val out = Corpus.cdcChunks(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(4))
    val a = out.filter(_._1 == 1L).map(_._2)
    val b = out.filter(_._1 == 2L).map(_._2)
    // fixed-size chunking would shift EVERY chunk after the edit; CDC
    // boundaries resynchronize, so most chunk hashes survive verbatim
    val shared = a.intersect(b).length
    assert(shared >= a.length - 4,
      s"expected all but ~2 chunks stable, got $shared of ${a.length}")
    assert(a.length != b.length || a.toSeq != b.toSeq) // the edit IS visible
  }

  test("chunkDiff: edits cost only their neighbourhood; multiset kept counts") {
    val base = "the quick brown fox jumps over the lazy dog and " * 20
    val old = Seq(
      (1L, base),                                   // unchanged
      (2L, base.substring(0, 480) + "X" + base.substring(480)), // mid edit
      (3L, base))                                   // removed in new
    val neu = Seq(
      (1L, base), (2L, base),
      (4L, base))                                   // added
    val out = Corpus.chunkDiff(old.toDF("doc_id", "text"),
        neu.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L))
    // unchanged: everything kept (repeated boilerplate chunks ARE
    // counted per-occurrence — multiset, not set)
    val (_, o1, n1, k1) = byId(1L)
    assert(o1 === n1 && k1 === o1 && o1 > 4)
    // mid-doc edit: most chunks survive, at least one doesn't
    val (_, o2, n2, k2) = byId(2L)
    assert(k2 < math.min(o2, n2) + 1 && k2 >= o2 - 4)
    // removed / added docs
    assert(byId(3L)._3 === 0L && byId(3L)._4 === 0L && byId(3L)._2 > 0)
    assert(byId(4L)._2 === 0L && byId(4L)._4 === 0L && byId(4L)._3 > 0)
  }

  test("snapshotDiff classifies added/removed/modified, drops unchanged") {
    val old = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will vanish")
    ).toDF("doc_id", "text")
    val neu = Seq(
      (1L, "same text"), (2L, "has changed"), (4L, "brand new")
    ).toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(old, neu, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out === Map(2L -> "modified", 3L -> "removed", 4L -> "added"))
  }

  test("profile emits exact data-card stats") {
    val docs = Seq(
      (1L, "a b c", "en"),     // 3 tokens
      (2L, "a b c", "en"),     // exact dup of 1
      (3L, "d e", "de"),       // 2 tokens
      (4L, "f", "en")          // 1 token
    ).toDF("doc_id", "text", "lang")
    val m = Corpus.profile(docs, "doc_id", "text", "lang")
      .as[(String, Double)].collect().toMap
    assert(m("n_docs") == 4.0)
    assert(m("total_tokens") == 9.0)
    assert(m("avg_tokens") == 2.25)
    assert(m("exact_dup_rate") == 0.25) // 3 distinct of 4
    assert(m("n_langs") == 2.0)
    assert(m("top_lang_share") == 0.75) // en: 3 of 4
  }

  test("redactPii scrubs emails, phones, SSNs and nothing else") {
    val out = Seq(
      "mail a.smith+x@sub.example.org now",
      "call 555-123-4567 or 555.987.6543",
      "ssn 123-45-6789 stays typed",
      "clean text 1234567890 with plain digits"
    ).toDF("t").select(TextStats.redactPii(col("t"))).as[String].collect()
    assert(out(0) == "mail [EMAIL] now")
    assert(out(1) == "call [PHONE] or [PHONE]")
    assert(out(2) == "ssn [SSN] stays typed")
    assert(out(3) == "clean text 1234567890 with plain digits")
  }

  test("curateObserved: exactly-once gate counters match the data") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks to the old farm house near the river bank every day"
    val docs = Seq(
      (1L, good),                         // passes everything
      (2L, good + " indeed"),             // near-dup of 1 -> dedup loss
      (3L, "zz"),                         // fails quality (too short)
      (4L, ("rep rep rep rep rep " * 20) + good) // fails repetition
    ).toDF("doc_id", "text")
    val (out, m) = Corpus.curateObserved(docs, "doc_id", "text",
      minQuality = 0.2, threshold = 0.4)
    val survivors = out.select("doc_id").as[Long].collect().sorted
    val snap = m.snapshot
    assert(snap("rows_in") == 4L)
    assert(snap("quality_fail") == 1L)
    assert(snap("repetition_fail") == 1L)
    assert(snap("rows_gated") == 2L)
    assert(snap("rows_out") == survivors.length.toLong)
    assert(snap("rows_gated") - snap("rows_out") == 1L) // dedup loss
    // identical rows to the unobserved pipeline
    val plain = Corpus.curate(docs, "doc_id", "text",
      minQuality = 0.2, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors === plain)
  }

  test("globalRank matches a single-window rank; ties take max-rank") {
    val df = Seq(5L, 3L, 9L, 1L, 7L, 3L).toDF("k")
    val got = Corpus.globalRank(df, "k", "r", buckets = 3)
      .as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    // unique keys get their 0-based sort position; the tied 3s share
    // (#rows <= 3) - 1 = 2
    assert(got === Seq((1L, 0L), (3L, 2L), (3L, 2L), (5L, 3L),
      (7L, 4L), (9L, 5L)).sortBy(r => (r._1, r._2)))
    // bucketing never changes the result
    val one = Corpus.globalRank(df, "k", "r", buckets = 1)
      .as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(one === got)
  }

  test("keyProfile ranks heavy keys with exact shares, ties by key") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(0)("_") :+ "d").toDF("k")
    val got = Corpus.keyProfile(df, "k", k = 3)
      .as[(String, Long, Double)].collect()
    assert(got.toSeq === Seq(("a", 6L, 0.461538), ("b", 3L, 0.230769),
      ("c", 3L, 0.230769)))
  }

  test("shuffleShards: a reproducible permutation, layout-independent") {
    val ids = (0L until 400L).toDF("id")
    val got = Corpus.shuffleShards(ids, "id", hexChars = 1)
      .as[(Long, String, Long)].collect().sortBy(r => (r._2, r._3))
    // complete and duplicate-free
    assert(got.map(_._1).sorted === (0L until 400L).toArray)
    // positions are 0..n-1 dense within each shard
    got.groupBy(_._2).values.foreach { s =>
      assert(s.map(_._3).sorted === s.indices.map(_.toLong).toArray)
    }
    // shard = first md5 hex char of the id string
    got.foreach { case (id, shard, _) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(shard == hex.substring(0, 1))
    }
    // identical under a different partition layout (order is a pure
    // function of the id, never of row position)
    val re = Corpus.shuffleShards(ids.repartition(7), "id", hexChars = 1)
      .as[(Long, String, Long)].collect().sortBy(r => (r._2, r._3))
    assert(re === got)
    // in-shard order is the md5 order, i.e. pseudo-random, not id order
    val oneShard = got.groupBy(_._2).values.maxBy(_.length).map(_._1)
    assert(oneShard.toSeq !== oneShard.sorted.toSeq)
  }

  test("weightedSample: without replacement, dense ranks, layout-independent") {
    val docs = (1L to 500L).map(i => (i, 10L)).toDF("id", "w")
    val got = Corpus.weightedSample(docs, "id", "w", k = 50)
      .as[(Long, Long, Int)].collect()
    // exactly k distinct ids, ranks dense 1..k
    assert(got.length === 50 && got.map(_._1).distinct.length === 50)
    assert(got.map(_._3).sorted === (1 to 50).toArray)
    // a different partition layout draws the IDENTICAL sample (keys
    // are a pure function of the id, never of row position)
    val re = Corpus.weightedSample(docs.repartition(7), "id", "w", k = 50)
      .as[(Long, Long, Int)].collect()
    assert(re.sortBy(_._3).toSeq === got.sortBy(_._3).toSeq)
    // k >= n degenerates to "all rows"
    assert(Corpus.weightedSample(docs.limit(10), "id", "w", 50).count() === 10)
  }

  test("weightedSample: seeds draw independently; bad weights drop") {
    val docs = (1L to 200L).map(i => (i, 5L)).toDF("id", "w")
    val a = Corpus.weightedSample(docs, "id", "w", 20)
      .as[(Long, Long, Int)].collect().map(_._1).toSet
    val b = Corpus.weightedSample(docs, "id", "w", 20, seed = "epoch2")
      .as[(Long, Long, Int)].collect().map(_._1).toSet
    assert(a !== b, "different seeds must draw different samples")
    // E-S is undefined for w <= 0: those rows never enter the draw
    val mixed = Seq((1L, 10L), (2L, 0L), (3L, -5L)).toDF("id", "w")
    assert(Corpus.weightedSample(mixed, "id", "w", 10)
      .as[(Long, Long, Int)].collect().map(_._1).toSeq === Seq(1L))
  }

  test("weightedSample: heavier rows dominate the sample") {
    // 500 light rows (w=1) vs 10 heavy rows (w=1000): a heavy row's
    // key u^(1/1000) concentrates near 1, so with k=10 the sample
    // should be nearly all heavy ids (deterministic given the md5 u's)
    val light = (1L to 500L).map(i => (i, 1L))
    val heavy = (1001L to 1010L).map(i => (i, 1000L))
    val sample = Corpus.weightedSample(
      (light ++ heavy).toDF("id", "w"), "id", "w", k = 10)
      .as[(Long, Long, Int)].collect()
    val nHeavy = sample.count(_._1 >= 1001L)
    assert(nHeavy >= 8, s"expected a heavy-dominated sample, got $nHeavy/10")
  }

  test("weightedSamplePerStratum: each stratum draws its own global sample") {
    // stratified draw ≡ the global draw restricted to the stratum: the
    // E-S keys are a pure per-row function, so per-stratum top-k must
    // equal weightedSample run on that stratum alone
    val docs = (1L to 300L).map(i =>
      (if (i % 3 == 0) "a" else "b", i, 1L + i % 7)).toDF("s", "id", "w")
    val got = Corpus.weightedSamplePerStratum(docs, "s", "id", "w", k = 15)
      .as[(String, Long, Long, Int)].collect()
    assert(got.count(_._1 == "a") === 15 && got.count(_._1 == "b") === 15)
    for (stratum <- Seq("a", "b")) {
      val alone = Corpus.weightedSample(
        docs.filter(col("s") === stratum), "id", "w", k = 15)
        .as[(Long, Long, Int)].collect().map(r => (r._1, r._3)).toSet
      val strat = got.filter(_._1 == stratum).map(r => (r._2, r._4)).toSet
      assert(strat === alone, s"stratum $stratum diverges from solo draw")
    }
  }

  test("tfidfTopTerms: sklearn-smoothed idf, rank by score then term") {
    // 3 docs; "rare" appears only in doc 1, "common" in all three.
    // idf(common) = ln(4/4)+1 = 1; idf(rare) = ln(4/2)+1 ≈ 1.6931
    val docs = Seq(
      (1L, "common rare common"),
      (2L, "common common common"),
      (3L, "common")).toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Double, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    // doc 1: common tf=2 → 2.0; rare tf=1 → 1.6931: common ranks first
    assert(got((1L, 1)) === (("common", 2.0)))
    assert(got((1L, 2)) === (("rare", 1.6931)))
    // doc 2: only one distinct term — no padding rows beyond it
    assert(got((2L, 1)) === (("common", 3.0)))
    assert(!got.contains((2L, 2)))
    // doc 3: a single occurrence scores exactly idf
    assert(got((3L, 1)) === (("common", 1.0)))
  }

  test("tfidfTopTerms: equal scores break ties by term ascending") {
    val docs = Seq((1L, "b a"), (2L, "a b")).toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .as[(Long, String, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    // both terms score identically in both docs → "a" wins rank 1
    assert(got === Map(1L -> "a", 2L -> "a"))
  }

  // --- UniMax waterfilling (q183) ---

  private def unimaxOf(sizes: Map[String, Int], maxEpochs: Double,
      frac: Double): Map[String, (Double, Double, Double)] = {
    // (n_tokens, allocation, epochs) per source from a fixture where
    // each doc is `n` single-char words
    val docs = sizes.toSeq.flatMap { case (src, n) =>
      Seq((src, ("x " * (n - 1) + "x")))
    }.toDF("source", "text")
    Corpus.unimaxAllocation(docs, "source",
      graft.operators.TextStats.wsTokenCount(col("text")),
      maxEpochs, frac)
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._4, r._5))).toMap
  }

  test("unimaxAllocation: hand-computed waterfilling on a known fixture") {
    // sizes 10/20/70, budget = 1.0 × 100, maxEpochs 1.2:
    // caps 12/24/84 ascending; src a: 0 + 12·3 = 36 ≤ 100 → capped;
    // src b: 12 + 24·2 = 60 ≤ 100 → capped; src c: 36 + 84 ≤ 100?
    // 120 > 100 → uncapped. θ = (100 − 36)/1 = 64.
    val got = unimaxOf(Map("a" -> 10, "b" -> 20, "c" -> 70),
      maxEpochs = 1.2, frac = 1.0)
    assert(got("a") === ((10.0, 12.0, 1.2)))
    assert(got("b") === ((20.0, 24.0, 1.2)))
    assert(got("c")._2 === 64.0)
    assert(math.abs(got("c")._3 - 64.0 / 70) < 1e-4)
    // allocations exhaust the budget exactly
    assert(got.values.map(_._2).sum === 100.0)
  }

  test("unimaxAllocation: invariants — caps respected, budget exhausted") {
    val sizes = Map("s1" -> 5, "s2" -> 13, "s3" -> 42, "s4" -> 40,
      "s5" -> 100)
    val maxEpochs = 2.0
    val got = unimaxOf(sizes, maxEpochs, frac = 0.8)
    val budget = sizes.values.sum * 0.8
    got.foreach { case (s, (n, alloc, epochs)) =>
      assert(alloc <= n * maxEpochs + 1e-9, s"$s over its cap")
      assert(epochs <= maxEpochs + 1e-9 && epochs > 0, s"$s epochs")
    }
    // allocations come back round(,4)-ed, so the sum carries up to
    // #sources × 5e-5 of display rounding
    assert(math.abs(got.values.map(_._2).sum - budget) < 1e-3,
      "allocations must exhaust the budget when it fits under Σcap")
    // uncapped sources share one fill level
    val thetas = got.collect {
      case (s, (n, alloc, _)) if alloc < n * maxEpochs - 1e-9 => alloc
    }
    assert(thetas.toSeq.distinct.size <= 1, "uncapped allocs differ")
  }

  test("unimaxAllocation: unfillable budget allocates every cap") {
    // budget 3× total but epochs capped at 1.5 → alloc = cap for all
    val got = unimaxOf(Map("a" -> 10, "b" -> 30), maxEpochs = 1.5,
      frac = 3.0)
    assert(got("a")._2 === 15.0 && got("b")._2 === 45.0)
    assert(got("a")._3 === 1.5 && got("b")._3 === 1.5)
  }

  test("unimaxMix: per-source sampled tokens track the allocation") {
    // many equal-sized docs per source so the fractional-epoch draw
    // averages out; expected per-source docs = epochs_s × n_docs_s
    val docs = Seq("a" -> 40, "b" -> 160).flatMap { case (src, n) =>
      (0 until n).map(i => (src.hashCode.toLong * 1000 + i, src,
        "w w w w w"))
    }.toDF("doc_id", "source", "text")
    val out = Corpus.unimaxMix(docs, "doc_id", "source",
      graft.operators.TextStats.wsTokenCount(col("text")),
      maxEpochs = 1.2, budgetFraction = 1.0)
    val bySrc = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // caps 240/960 tokens; B = 1000; a capped (0+240·2 ≤ 1000) →
    // epochs 1.2; b uncapped: θ = (1000−240)/1 = 760 → epochs 0.95
    assert(math.abs(bySrc("a") - 1.2 * 40) <= 6,
      s"source a drew ${bySrc("a")}, want ≈48")
    assert(math.abs(bySrc("b") - 0.95 * 160) <= 12,
      s"source b drew ${bySrc("b")}, want ≈152")
    // copy numbering: epochs 1.2 → copies ∈ {1,2}, never 0 for a
    val aCopies = out.filter(col("source") === "a")
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(aCopies.forall(c => c._2 == 1 || c._2 == 2))
    assert(aCopies.length === 40, "capped source must keep every doc")
    // determinism
    val again = Corpus.unimaxMix(docs, "doc_id", "source",
      graft.operators.TextStats.wsTokenCount(col("text")),
      maxEpochs = 1.2, budgetFraction = 1.0)
      .collect().toSet
    assert(again === out.collect().toSet)
  }
}
