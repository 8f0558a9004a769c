package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Md5Uniform

/** Corpus-level operations for training-data curation: n-gram frequency
  * tables, benchmark-contamination flagging, deterministic dataset
  * splits. All are single-shuffle shapes (explode → partial-agg →
  * final-agg, or bucket-join) that hold at corpus scale.
  */
object Corpus {

  /** n-gram frequency table: count of each distinct word n-gram across
    * the corpus, ties broken by n-gram text for determinism. The explode
    * feeds a hash aggregation with map-side partial combine, so the
    * shuffle carries one row per distinct n-gram per partition — the
    * canonical word-count plan, vocabulary-bounded at any corpus size.
    * Frequency tables drive contamination screens and quality heuristics
    * over training corpora. */
  def ngramFreq(
      docs: DataFrame, textCol: String, n: Int, topK: Int): DataFrame =
    Parallelism.ensure(docs.select(col(textCol).as("__t")))
      .select(explode(Dedup.shinglesCol(docs, col("__t"), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram"))
      .limit(topK)

  /** Language-model quality score (the CCNet recipe, unigram form):
    * mean add-one-smoothed log-probability of each document's words
    * under a reference word distribution — low scores mark gibberish,
    * boilerplate soup and out-of-domain text the way CCNet's
    * KenLM-perplexity buckets do.
    *
    *   score(D) = (1/|D|) Σ_w ln((c_ref(w) + 1) / (T + V))
    *
    * where c_ref counts the word in the reference corpus, T = total
    * reference tokens, V = reference vocabulary (+1/+V = Laplace
    * smoothing, so unseen words cost ln(1/(T+V)) instead of −∞).
    *
    * Scale: the reference model is a bounded (word, count) table
    * BROADCAST into the scoring join; T and V are two driver scalars;
    * the corpus contributes one exploded (doc, word) pass into a
    * map-side-combined avg. Score against a FIXED reference (e.g.
    * a clean wiki-like corpus), not the corpus being scored, when
    * filtering — self-scoring shifts the scale as the corpus drifts. */
  def lmQualityScore(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String): DataFrame =
    lmQualityScoreN(docs, idCol, textCol, reference, refTextCol,
      n = 1, outCol = "lm_score")

  /** Order-`n` LM quality — ONE parameterized Stupid Backoff chain
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation") covering any order: a document's score is the mean
    * over its word `n`-gram transitions of
    *
    *   ln(c_n(w_1..w_n) / c_{n-1}(w_1..w_{n-1}))        n-gram hit,
    *   ln(α^{n-j} · c_j(suffix_j) / c_{j-1}(suffix_{j-1}'))
    *                                     backoff to order j = n-1..2,
    *   ln(α^{n-1} · (c_1(w_n)+1) / (T+V))     add-one unigram floor,
    *
    * α = 0.4 per the paper; suffix_j = the transition's last j words.
    * n = 1 is the CCNet-recipe unigram score (add-one log-prob of
    * every word, no backoff); n = 2/3 are the classic word-order /
    * collocation perplexity filters; n = 4+ just adds tables.
    *
    * Scale shape at EVERY order: the reference reduces to `n` bounded
    * count tables (vocabulary-sized, built once in one lineage each,
    * localCheckpointed) that BROADCAST into the scoring joins; T and V
    * are driver scalars; the corpus contributes one exploded
    * transition pass (in-plan `transform`, no extra shuffle) into a
    * map-side-combined avg. Stupid Backoff needs no discount
    * statistics — every model table is a rollup-mergeable count,
    * which is the property that matters at 100 TB.
    */
  def lmQualityScoreN(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      n: Int, backoff: Double = 0.4, outCol: String = null): DataFrame = {
    require(n >= 1 && n <= 8, s"lmQualityScoreN: n must be in [1,8], got $n")
    val out = Option(outCol).getOrElse(s"lm${n}_score")
    if (n == 1) {
      // unigram form: add-one log-prob as a difference of logs (the
      // historical q73 arithmetic — kept bit-stable for its oracle)
      val refCounts = Parallelism.ensure(
        reference.select(col(refTextCol).as("__t")))
        .select(explode(split(col("__t"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("__c"))
      val g = refCounts.agg(sum(col("__c")).as("t"), count(lit(1)).as("v")).head()
      val denom = math.log((g.getLong(0) + g.getLong(1)).toDouble)
      return docs
        .select(col(idCol).as("doc_id"),
          explode(split(col(textCol), " ")).as("word"))
        .join(broadcast(refCounts), Seq("word"), "left")
        .withColumn("__lp",
          log(coalesce(col("__c"), lit(0L)) + 1.0) - denom)
        .groupBy(col("doc_id"))
        .agg(round(avg(col("__lp")), 4).as(out))
    }
    // transition generator for order j: struct(w1..wj) over each
    // j-window of the token array — in-plan, no extra shuffle
    def transExpr(j: Int): String = {
      val fields = (1 to j).map(k => s"__ws[i + ${k - 1}] AS w$k")
        .mkString(", ")
      s"transform(sequence(0, size(__ws) - $j), i -> struct($fields))"
    }
    val refW = Parallelism.ensure(
      reference.select(split(col(refTextCol), " ").as("__ws")))
    // model tables j = 1..n: vocabulary-sized counts, each consumed by
    // broadcast scoring joins (+ the T/V scalar for j=1) —
    // localCheckpoint pins each so the reference scans once per table.
    // The n builds are INDEPENDENT eager jobs over the same reference
    // slice — run them concurrently (guide §2.6; sequentially they
    // were ~1 s of the q172 order-4 profile at sf0.1).
    val tables: Map[Int, DataFrame] = {
      val built = new Array[DataFrame](n)
      Parallelism.runAll((1 to n).map(j => () => {
        built(j - 1) =
          if (j == 1)
            refW.select(explode(col("__ws")).as("w1"))
              .groupBy(col("w1")).agg(count(lit(1)).as("__c1"))
              .localCheckpoint()
          else
            refW.filter(size(col("__ws")) >= j)
              .select(explode(expr(transExpr(j))).as("__p"))
              .select((1 to j).map(k => col(s"__p.w$k").as(s"w$k")): _*)
              .groupBy((1 to j).map(k => col(s"w$k")): _*)
              .agg(count(lit(1)).as(s"__c$j"))
              .localCheckpoint()
      }))
      (1 to n).map(j => j -> built(j - 1)).toMap
    }
    val g = tables(1)
      .agg(sum(col("__c1")).as("t"), count(lit(1)).as("v")).head()
    val tv = (g.getLong(0) + g.getLong(1)).toDouble
    // scoring relation: one exploded n-gram transition pass
    var scored = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("doc_id"), explode(expr(transExpr(n))).as("__p"))
      .select(col("doc_id") +:
        (1 to n).map(k => col(s"__p.w$k").as(s"w$k")): _*)
    // level-j numerator: c_j keyed on the transition's LAST j words;
    // level-j denominator (j >= 2): c_{j-1} keyed on those words
    // minus the last. Each is one broadcast left join.
    def keyed(tbl: DataFrame, j: Int, startAt: Int, cnt: String,
        as: String): (DataFrame, Seq[String]) = {
      val keys = (0 until j).map(k => s"w${startAt + k}")
      (tbl.select((1 to j).map(k =>
        col(s"w$k").as(keys(k - 1))) :+ col(cnt).as(as): _*), keys)
    }
    for (j <- n to 1 by -1) {
      val (num, numKeys) =
        keyed(tables(j), j, n - j + 1, s"__c$j", s"__num$j")
      scored = scored.join(broadcast(num), numKeys, "left")
      if (j >= 2) {
        val (den, denKeys) =
          keyed(tables(j - 1), j - 1, n - j + 1, s"__c${j - 1}", s"__den$j")
        scored = scored.join(broadcast(den), denKeys, "left")
      }
    }
    def alphaChain(k: Int): Column =
      Seq.fill(k)(lit(backoff)).reduceLeft(_ * _)
    var lp = when(col(s"__num$n").isNotNull,
      log(col(s"__num$n").cast("double") / col(s"__den$n")))
    for (j <- n - 1 to 2 by -1)
      lp = lp.when(col(s"__num$j").isNotNull,
        log(alphaChain(n - j) * col(s"__num$j").cast("double") /
          col(s"__den$j")))
    val lpFull = lp.otherwise(log(alphaChain(n - 1) *
      (coalesce(col("__num1"), lit(0L)) + 1.0) / lit(tv)))
    scored
      .withColumn("__lp", lpFull)
      .groupBy(col("doc_id"))
      .agg(round(avg(col("__lp")), 4).as(out))
  }

  /** Order-2 LM quality — the Stupid Backoff chain at n = 2
    * ([[lmQualityScoreN]]): ln(c2/c1) on a bigram hit, add-one
    * unigram backoff (α = 0.4) otherwise, mean per doc. */
  def lmQualityScoreBigram(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      backoff: Double = 0.4): DataFrame =
    lmQualityScoreN(docs, idCol, textCol, reference, refTextCol,
      n = 2, backoff = backoff, outCol = "lm2_score")

  /** Order-3 LM quality — the Stupid Backoff chain at n = 3
    * ([[lmQualityScoreN]]): trigram hit → α·bigram → α²·add-one
    * unigram, mean per doc. Order 3 is where a perplexity filter
    * starts to see phrase structure. */
  def lmQualityScoreTrigram(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      backoff: Double = 0.4): DataFrame =
    lmQualityScoreN(docs, idCol, textCol, reference, refTextCol,
      n = 3, backoff = backoff, outCol = "lm3_score")

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its n-gram features are under
    * a TARGET distribution (the domain you want more of) than under
    * the RAW distribution (the corpus you are selecting from) —
    *
    *   log w(D) = Σ_f c_D(f) · ( ln p_target(f) − ln p_raw(f) )
    *
    * over word unigram + bigram features f with add-one smoothing
    * (p(f) = (c(f)+1)/(T+V), V = the joint feature vocabulary). High
    * scores mark documents that look like the target domain;
    * importance RESAMPLING is then a weighted draw downstream
    * (q110's weighted sampler consumes exactly this column).
    *
    * Scale shape: both feature models are bounded count tables built
    * by one explode→hash-agg each, localCheckpointed and BROADCAST
    * into the scoring join; T/V are driver scalars; the corpus
    * contributes one exploded feature pass (uni + bi generated
    * in-plan from one split) into a map-side-combined per-doc sum —
    * exactly the q73/q156/q158 discipline. `hashBuckets` switches
    * features from raw strings to xxhash64 buckets — the paper's
    * actual recipe, which caps both model tables at a FIXED width
    * regardless of corpus vocabulary (the 100 TB path; bucket
    * collisions are the paper's documented trade). The default
    * string form is exact and oracle-replayable. */
  /** Word n-gram feature generator for the DSIR family: unigrams ++
    * bigrams ++ … ++ `maxNgram`-grams in one in-plan expression, each
    * level guarded (sequence(0, -1) DESCENDS in Spark, so a too-short
    * doc must fall back to an empty list for that level). maxNgram = 2
    * is the paper's uni+bi recipe; higher orders add phrase-level
    * domain signal at the cost of a sparser (bigger) feature
    * vocabulary — at scale pair them with `hashBuckets`, which caps
    * the model width regardless of order. */
  private def dsirFeatureExpr(maxNgram: Int): String = {
    require(maxNgram >= 1 && maxNgram <= 6,
      s"dsir: maxNgram in [1,6], got $maxNgram")
    val levels = (2 to maxNgram).map { j =>
      val parts = (0 until j).map(k => s"__ws[i + $k]")
        .mkString(", ' ', ")
      s"CASE WHEN size(__ws) >= $j THEN " +
        s"transform(sequence(0, size(__ws) - $j), i -> concat($parts)) " +
        "ELSE cast(array() AS array<string>) END"
    }
    if (levels.isEmpty) "__ws"
    else s"concat(__ws, ${levels.mkString(", ")})"
  }

  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      hashBuckets: Option[Int] = None,
      maxNgram: Int = 2): DataFrame = {
    val feats = dsirFeatureExpr(maxNgram)
    def features(df: DataFrame, tc: String): DataFrame = {
      val fs = Parallelism.ensure(
        df.select(split(col(tc), " ").as("__ws")))
        .select(explode(expr(feats)).as("f"))
      hashBuckets match {
        case Some(b) => fs.select(pmod(xxhash64(col("f")), lit(b)).as("f"))
        case None => fs
      }
    }
    // the two feature models are independent eager builds — overlap
    // them, then overlap their total-count scalars (guide §2.6)
    val (tCounts, rCounts) = Parallelism.join2(
      features(target, targetTextCol)
        .groupBy(col("f")).agg(count(lit(1)).as("__ct"))
        .localCheckpoint(),
      features(docs, textCol)
        .groupBy(col("f")).agg(count(lit(1)).as("__cr"))
        .localCheckpoint())
    val ((tg, rg), v) = Parallelism.join2(
      Parallelism.join2(
        tCounts.agg(sum(col("__ct"))).head().getLong(0),
        rCounts.agg(sum(col("__cr"))).head().getLong(0)),
      hashBuckets match {
        case Some(b) => b.toLong
        case None => tCounts.select(col("f"))
          .union(rCounts.select(col("f"))).distinct().count()
      })
    val tvT = (tg + v).toDouble
    val tvR = (rg + v).toDouble
    val docFeats = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .select(col("doc_id"), explode(expr(feats)).as("f"))
    val scored = (hashBuckets match {
      case Some(b) => docFeats
        .select(col("doc_id"), pmod(xxhash64(col("f")), lit(b)).as("f"))
      case None => docFeats
    })
      .join(broadcast(tCounts), Seq("f"), "left")
      .join(broadcast(rCounts), Seq("f"), "left")
      .withColumn("__lr",
        log((coalesce(col("__ct"), lit(0L)) + lit(1.0)) / lit(tvT)) -
          log((coalesce(col("__cr"), lit(0L)) + lit(1.0)) / lit(tvR)))
    scored.groupBy(col("doc_id"))
      .agg(round(sum(col("__lr")), 4).as("dsir_score"))
  }

  /** Compile the hashed-bucket DSIR model into a B-sized log-ratio
    * array for the `dsir_score` kernel: lr[k] = ln p_target(k) −
    * ln p_raw(k) with the same add-one smoothing as
    * [[dsirWeights]](hashBuckets = Some(b)) — for EVERY bucket,
    * including the never-seen floor, so scoring needs no join. The
    * two bucketed count tables collect to the driver (B-bounded by
    * construction — the whole point of hashing); the returned array
    * is the model an operational scorer ships: score any batch scan
    * or STREAM with `call_function("dsir_score", text, lit(lr))` as
    * a stateless projection (see graft.streaming.StreamDsir). */
  def dsirModelArray(
      docs: DataFrame, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int): Array[Double] = {
    require(buckets >= 1, "dsirModelArray: buckets >= 1")
    val feats = "concat(__ws, CASE WHEN size(__ws) >= 2 THEN " +
      "transform(sequence(0, size(__ws) - 2), " +
      "i -> concat(__ws[i], ' ', __ws[i + 1])) " +
      "ELSE cast(array() AS array<string>) END)"
    def counts(df: DataFrame, tc: String): Map[Int, Long] =
      Parallelism.ensure(df.select(split(col(tc), " ").as("__ws")))
        .select(explode(expr(feats)).as("f"))
        .select(pmod(xxhash64(col("f")), lit(buckets)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val tc = counts(target, targetTextCol)
    val rc = counts(docs, textCol)
    val tvT = (tc.values.sum + buckets).toDouble
    val tvR = (rc.values.sum + buckets).toDouble
    Array.tabulate(buckets) { k =>
      math.log((tc.getOrElse(k, 0L) + 1.0) / tvT) -
        math.log((rc.getOrElse(k, 0L) + 1.0) / tvR)
    }
  }

  /** Candidate-count bound for shipping [[heavyHitters]]' exact-count
    * filter as an In/InSet plan literal; above it the (already
    * collected) candidates travel as a broadcast LocalRelation
    * instead — multi-word shingle strings are heavier per entry than
    * the DriverBudget float model, so this sits well under
    * [[DriverBudget.TrainRows]]. */
  private val MaxInSetCandidates = 4096

  /** Sketch-first heavy hitters: the 100 TB path for [[ngramFreq]]'s
    * top-k. The exact plan's shuffle carries one row per distinct
    * n-gram per partition — fine while the vocabulary is bounded,
    * quadratic pain when it isn't (open-vocabulary shingles at corpus
    * scale). Here a first pass aggregates a CONSTANT-SIZE top-k sketch
    * (Spark's `approx_top_k`, map-side combined), the sketch's top
    * `sketchK` items become broadcast candidates, and a second pass
    * exact-counts ONLY those candidates — its shuffle carries ≤
    * sketchK × partitions rows regardless of vocabulary.
    *
    * Output equals [[ngramFreq]] exactly whenever the sketch's
    * `sketchK` superset contains the true top `topK` — guaranteed when
    * `maxTracked` ≥ distinct n-grams (the sketch degenerates to exact)
    * and overwhelmingly likely otherwise with the default 4× headroom;
    * CorpusSpec pins equality on a Zipf corpus. Same column contract
    * as ngramFreq (doc-distinct n-grams, freq-then-text ordering).
    *
    * EAGER: building the returned DataFrame runs the sketch job (an
    * aggregate + collect over the whole corpus) before this method
    * returns, so even `explain` or a plan audit of the result pays one
    * corpus scan. The exact-count pass runs later, as a separate job
    * when the result is executed; a source that changes between the
    * two can yield candidates inconsistent with the counts. */
  def heavyHitters(
      docs: DataFrame, textCol: String, n: Int, topK: Int,
      sketchK: Int = 0, maxTracked: Int = 100000): DataFrame = {
    val sk = if (sketchK > 0) sketchK else 4 * topK
    require(sk >= topK, s"heavyHitters: sketchK $sk < topK $topK")
    def grams = Parallelism.ensure(docs.select(col(textCol).as("__t")))
      .select(explode(Dedup.shinglesCol(docs, col("__t"), n)).as("ngram"))
    // Candidates collect ONCE (sk strings — driver-bounded by
    // construction, the sketch's whole point). The exact-count pass
    // then keeps candidate grams via an InSet literal — or, past the
    // plan-literal budget for large sketchK, via a broadcast semi
    // join against the DRIVER-LOCAL relation (no re-run of the
    // sketch either way). The previous broadcast semi join's build
    // side re-ran the entire sketch pass, so the corpus was scanned
    // three times for a two-pass algorithm (guide §1.2 step 1).
    val candidates = grams
      .agg(call_function("approx_top_k",
        col("ngram"), lit(sk), lit(maxTracked)).as("e"))
      .select(explode(col("e")).as("x"))
      .select(col("x.item").as("ngram"))
      .collect().map(_.getString(0)).toSeq
    val pruned =
      if (candidates.size <= MaxInSetCandidates)
        grams.filter(col("ngram").isInCollection(candidates))
      else {
        import docs.sparkSession.implicits._
        grams.join(
          broadcast(candidates.toDF("ngram")), Seq("ngram"), "left_semi")
      }
    pruned
      .groupBy("ngram")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram"))
      .limit(topK)
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Okapi BM25
    * formula): score the corpus against a bag-of-words query and return
    * the top-k documents.
    *
    * score(D,Q) = Σ_{t∈Q} IDF(t) · f(t,D)·(k1+1) /
    *                       (f(t,D) + k1·(1 − b + b·|D|/avgdl))
    * with IDF(t) = ln((N − n_t + 0.5)/(n_t + 0.5) + 1).
    *
    * Plan shape at scale: term frequencies explode→hash-agg (map-side
    * combined) FILTERED to query terms first — the shuffle carries only
    * (doc, query-term) hits, never the corpus vocabulary; per-term doc
    * frequencies aggregate from that same filtered frame (tiny) and
    * broadcast back; N and avgdl are two scalars collected once
    * (model-on-driver, same as Ann's centroids). Repeated queries
    * against one corpus should precompute the term-frequency frame. */
  def bm25Search(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search: empty query")
    val terms = queryTerms.distinct
    val words = Parallelism.ensure(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"), size(split(col("__t"), " ")).as("__len"),
        explode(split(col("__t"), " ")).as("term"))
    // two scalars from one narrow pass over the un-exploded corpus
    val globals = docs
      .select(size(split(col(textCol), " ")).as("l"))
      .agg(count(lit(1)).as("n"), avg(col("l")).as("avgdl")).head()
    val n = globals.getLong(0)
    val avgdl = globals.getDouble(1)
    val hits = words.filter(col("term").isin(terms.map(lit): _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("__len")).as("len"))
    val df = hits.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("nt"))
    val idf = log((lit(n.toDouble) - col("nt") + 0.5) / (col("nt") + 0.5) + 1.0)
    hits
      .join(broadcast(df), "term")
      .withColumn("__s", idf * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / avgdl)))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-document TF-IDF keyword extraction: the top-`k` terms of each
    * document by smoothed TF-IDF (sklearn's formula: idf =
    * ln((1+N)/(1+df)) + 1), ties broken by term — the "what is this
    * page about" signal a corpus profile or a weak labeler wants
    * beside q71's query-driven BM25.
    *
    * Plan shape: explode → (doc, term) counts (the only exchange that
    * moves corpus-sized data, map-side combined), MATERIALIZED once
    * with localCheckpoint — both the join's probe side and the df
    * aggregate consume tf, and without the cut Catalyst plans the
    * whole scan+explode+count subtree twice (measured: 6 exchanges
    * and a doubled tokenize at sf0.001; 4 exchanges with the cut,
    * same answer — the q98 pattern). Per-term document frequencies
    * are an aggregate over the reduced tf table → joined back on the
    * term. The df table is |vocabulary|-sized: bounded in practice
    * but NOT guaranteed small, so the join stays a shuffle equi-join
    * and AQE demotes it to a broadcast when the vocabulary measures
    * small — the opposite default from bm25Search, whose df table is
    * capped by the query's own term count. Top-k is a row_number over
    * the doc key (WindowGroupLimit prunes to k per doc before the
    * final exchange). The corpus count is one pruned-scan aggregate
    * (same pattern as bm25's globals).
    */
  def tfidfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val words = Parallelism.ensure(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"), explode(split(col("__t"), " ")).as("term"))
    val n = docs.select(col(idCol)).count()
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false) // lazy: plan construction stays free
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val idf = log((lit(1.0) + n) / (col("__df") + lit(1.0))) + lit(1.0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("__tf") * idf, 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /** Benchmark-contamination screen: per document, how many n-grams it
    * shares with a probe set (e.g. benchmark/eval shingles), keeping
    * only contaminated docs. Both sides shingle once; the join is an
    * equi-join on the n-gram (probe side broadcast — probe sets are
    * small), then a count per doc: the corpus never cross-joins and
    * never shuffles its text, only (doc_id, ngram) hits. */
  def contamination(
      docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int): DataFrame = {
    val docGrams = Parallelism.ensure(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"), explode(Dedup.shinglesCol(docs, col("__t"), n)).as("ngram"))
    val probeGrams = probes
      .select(explode(Dedup.shinglesCol(probes, col(probeTextCol), n)).as("ngram"))
      .distinct()
    docGrams
      .join(broadcast(probeGrams), "ngram")
      .groupBy("doc_id")
      .agg(countDistinct(col("ngram")).as("n_hits"))
  }

  /** [[contamination]] at FIXED executor state — the q67 discipline
    * applied to the probe side: instead of broadcasting the probe
    * set's distinct n-gram STRINGS into every executor (fine at
    * benchmark-suite size, grows with the suite), a Bloom sketch of
    * their xxhash64s ships as a plan literal (~10 bits per gram at
    * 1% fpp — size set by (count, fpp) alone, independent of gram
    * length) and pre-filters the corpus grams at scan speed; the
    * surviving sliver then verifies against the probe grams with an
    * exact equi-join, so false positives drop out and the result is
    * ROW-IDENTICAL to [[contamination]] (a Bloom filter has no false
    * negatives — CorpusSpec pins the equivalence). The verify join no
    * longer needs a broadcast contract: its left side is candidate
    * hits, not the corpus. Requires GraftExtensions (bloom_agg). */
  def contaminationBloom(
      docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"contaminationBloom: fpp in (0,1), got $fpp")
    val docGrams = Parallelism.ensure(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"), explode(Dedup.shinglesCol(docs, col("__t"), n)).as("ngram"))
    // consumed three ways (count for sizing, sketch build, verify
    // join) — localCheckpoint pins it so the probe corpus scans once
    val probeGrams = probes
      .select(explode(Dedup.shinglesCol(probes, col(probeTextCol), n)).as("ngram"))
      .distinct()
      .localCheckpoint(false) // lazy — the count materializes it (r19)
    val nProbe = probeGrams.count()
    // Empty probe set ⇒ nothing can be contaminated: short-circuit
    // instead of building a sketch over zero rows (bloomAgg over an
    // empty frame yields a null sketch, which would otherwise embed
    // as a null bloomMightContain literal — CorpusSpec pins this path)
    if (nProbe == 0L)
      return docGrams.select(col("doc_id"),
        lit(0L).as("n_hits")).limit(0)
    val bits = graft.functions.BloomFunctions.optimalNumBits(nProbe, fpp)
    val sketch = probeGrams
      .agg(graft.functions.BloomFunctions.bloomAgg(
        xxhash64(col("ngram")), nProbe, bits).as("__b"))
      .head().getAs[Array[Byte]](0)
    docGrams
      .filter(graft.functions.BloomFunctions.bloomMightContain(
        sketch, xxhash64(col("ngram"))))
      .join(probeGrams, "ngram")
      .groupBy("doc_id")
      .agg(countDistinct(col("ngram")).as("n_hits"))
  }

  /** Word n-grams WITH multiplicity (unlike Dedup.shingles, which
    * dedups) — repetition measurement needs every occurrence. */
  private def gramsAll(text: Column, n: Int): Column = {
    val words = split(text, " ")
    filter(
      transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => when(i + n <= size(words),
          concat_ws(" ", slice(words, i + 1, lit(n))))),
      x => x.isNotNull)
  }

  /** Longest run length in a PRE-SORTED array — i.e. the count of the
    * most frequent element — as a single left-to-right fold. */
  private def maxRunLength(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The five counters behind the repetition fractions, as one struct
    * column. Portable formulation — interpreted HOF fold for the mode
    * count; the native `repetition_counts` kernel computes the same
    * values at scan speed (17.9 s → sub-second over sf0.1 documents). */
  private[graft] def repetitionCountsPortable(text: Column): Column = {
    val words = split(text, " ")
    val bigrams = gramsAll(text, 2)
    struct(
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_distinct_words"),
      size(bigrams).as("n_bigrams"),
      size(array_distinct(bigrams)).as("n_distinct_bigrams"),
      maxRunLength(array_sort(bigrams)).cast("int").as("top_bigram"))
  }

  /** Per-document repetition signals (Gopher-style quality filters,
    * Rae et al. 2021 §A1.1): duplicate-word fraction, duplicate-bigram
    * fraction, and the fraction of bigram occurrences taken by the
    * single most frequent bigram. High values flag boilerplate and
    * degenerate machine-generated text that survives exact dedup.
    *
    * Pure projection — per-row math only, no shuffle, no join: the
    * canonical shape for a 100 TB quality-scoring pass (the mode count
    * never takes an explode → groupBy round trip). Counting runs in the
    * native single-pass `repetition_counts` kernel, which ClusterSpec
    * pins to [[repetitionCountsPortable]].
    */
  def repetitionStats(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        call_function("repetition_counts", col(textCol)).as("__c"))
      .select(
        col(idCol),
        col("__c.n_words").as("n_words"),
        dupWordFrac("__c").as("dup_word_frac"),
        dupBigramFrac("__c").as("dup_bigram_frac"),
        repFrac(col("__c.top_bigram"), col("__c.n_bigrams"))
          .as("top_bigram_frac"))

  /** num/den rounded to 4 dp (the q52 oracle's rounding), 0 for an
    * empty denominator. */
  private def repFrac(num: Column, den: Column): Column =
    when(den > 0, round(num.cast("double") / den.cast("double"), 4))
      .otherwise(lit(0.0))

  /** Duplicate-word fraction of a `repetition_counts` struct column. */
  private def dupWordFrac(c: String): Column =
    repFrac(col(s"$c.n_words") - col(s"$c.n_distinct_words"),
      col(s"$c.n_words"))

  /** Duplicate-bigram fraction of a `repetition_counts` struct column. */
  private def dupBigramFrac(c: String): Column =
    repFrac(col(s"$c.n_bigrams") - col(s"$c.n_distinct_bigrams"),
      col(s"$c.n_bigrams"))

  /** End-to-end corpus curation — the pass a training-data pipeline
    * actually ships, in execution order:
    *
    *  1. quality gate (q38's length/stopword score ≥ minQuality)
    *  2. repetition gate (q52's dup-word / dup-bigram fractions ≤ caps)
    *  3. near-dup dedup over the SURVIVORS (LSH pairs → exact-Jaccard
    *     verify → transitive clusters → keep min-id per cluster)
    *
    * Gates run first on purpose: they are pure projections that shrink
    * the corpus before the (shuffling) dedup stage ever sees it — at
    * 100 TB the cheap filters pay for themselves many times over.
    * All gate comparisons use the same 4-dp-rounded values the q38/q52
    * oracles emit, so the kept set is reproducible cross-engine.
    */
  def curate(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.25,
      maxDupWordFrac: Double = 0.65,
      maxDupBigramFrac: Double = 0.08,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val gated = docs
      .withColumn("__c", call_function("repetition_counts", col(textCol)))
      .filter(TextStats.qualityScore(col(textCol)) >= minQuality &&
        dupWordFrac("__c") <= maxDupWordFrac &&
        dupBigramFrac("__c") <= maxDupBigramFrac)
      .drop("__c")
      // dropNearDuplicates runs MULTIPLE actions over its input (the
      // shingle/band pass, the verify fetch, each clustering round, the
      // final anti-join). Without a cut here every one of them re-runs
      // the full text scan + the native repetition-counts kernel + the
      // quality gate — measured at 4.6x the q53 cost in the r10 driver
      // bench. localCheckpoint materialises the gated survivors ONCE
      // (lazy — first action pays it) so the dedup stages replay cheap
      // checkpointed partitions instead of the gate pipeline.
      .localCheckpoint(false)
    Dedup.dropNearDuplicates(gated, idCol, textCol, shingleN, numHashes,
      bands, threshold)
  }

  /** Per-stage loss accounting for [[curateObserved]]: call
    * [[CurationMetrics.snapshot]] after an action on the curated frame.
    * `rows_in / quality_fail / repetition_fail / rows_gated` come from
    * the gate pass, `rows_out` from the final frame;
    * `rows_gated - rows_out` is the near-dup loss. */
  final case class CurationMetrics(
      gates: org.apache.spark.sql.Observation,
      out: org.apache.spark.sql.Observation) {
    def snapshot: Map[String, Long] =
      (gates.get ++ out.get).view.mapValues {
        case l: Long => l
        case x => x.toString.toLong
      }.toMap
  }

  /** [[curate]] with EXACTLY-ONCE pipeline counters via
    * `Dataset.observe` — the data-loss accounting every production
    * curation run publishes ("N in, X failed quality, Y failed
    * repetition, Z lost to dedup, M out"). At 100 TB you cannot
    * afford a separate count() job per gate: observed metrics ride
    * the SAME job as the data pass (one aggregate per task, merged on
    * the driver), and unlike accumulators they are consistent under
    * task retries and speculative execution. Output rows are
    * byte-identical to [[curate]]. */
  def curateObserved(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.25,
      maxDupWordFrac: Double = 0.65,
      maxDupBigramFrac: Double = 0.08,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): (DataFrame, CurationMetrics) = {
    import org.apache.spark.sql.Observation
    val gatesObs = Observation()
    val outObs = Observation()
    val pass = (q: Column, dw: Column, db: Column) => q && dw && db
    // Flags are computed ONCE and cut with a lazy localCheckpoint (the
    // q60 fix: dedup's several internal actions otherwise re-run the
    // text-heavy gate expressions — measured 4.6x in the r10 driver
    // bench). The observe() nodes must sit ABOVE the cut: a checkpoint
    // severs lineage, and a CollectMetrics node below it would never
    // reach the final frame's query execution, so the Observation
    // would never be published. Replaying the observe over checkpointed
    // flag rows is a cheap boolean scan.
    val flagged = docs
      .withColumn("__c", call_function("repetition_counts", col(textCol)))
      .withColumn("__q", TextStats.qualityScore(col(textCol)) >= minQuality)
      .withColumn("__dw", dupWordFrac("__c") <= maxDupWordFrac)
      .withColumn("__db", dupBigramFrac("__c") <= maxDupBigramFrac)
      .drop("__c")
      .localCheckpoint(false)
    val gated = flagged
      .observe(gatesObs,
        count(lit(1)).as("rows_in"),
        sum(when(!col("__q"), 1L).otherwise(0L)).as("quality_fail"),
        sum(when(col("__q") && !(col("__dw") && col("__db")), 1L)
          .otherwise(0L)).as("repetition_fail"),
        sum(when(pass(col("__q"), col("__dw"), col("__db")), 1L)
          .otherwise(0L)).as("rows_gated"))
      .filter(pass(col("__q"), col("__dw"), col("__db")))
      .drop("__q", "__dw", "__db")
    val deduped = Dedup.dropNearDuplicates(gated, idCol, textCol,
      shingleN, numHashes, bands, threshold)
    (deduped.observe(outObs, count(lit(1)).as("rows_out")),
      CurationMetrics(gatesObs, outObs))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): given a token budget and an EPOCH CAP, distribute
    * the budget as uniformly as possible across sources without any
    * source repeating more than `maxEpochs` times — the closed-form
    * WATERFILLING alloc_s = min(cap_s, θ) with cap_s = n_s·maxEpochs
    * and θ the fill level solving Σ min(cap_s, θ) = budget. The
    * alternative mixing recipes over/under-sample by fiat
    * ([[mixSources]]' fixed targets) — UniMax is the published answer
    * to "how much of each source", and the allocation this emits is
    * exactly what [[mixSources]]-style sampling consumes downstream.
    *
    * Fully IN-PLAN (no driver loop, unlike the published reference
    * implementations): per-source token totals are one map-side-
    * combined aggregate; the waterfilling level comes from the classic
    * sorted-prefix characterization — under caps ascending, source i
    * is CAPPED iff prefix_i + cap_i·(n−i+1) ≤ B (even granting every
    * remaining source cap_i wouldn't exhaust the budget), and
    * θ = (B − Σ_capped cap)/(n − K). That is one global window over
    * the #sources-row frame (bounded by construction — the
    * trainCentroids LIMIT-k precedent) plus one broadcast scalar
    * aggregate. If the budget exceeds Σ cap the budget is unfillable
    * under the epoch cap and every source allocates its cap.
    *
    * `budgetFraction` sets B = fraction · Σ n_s (scale-independent —
    * the same query is meaningful at any sf); all arithmetic is
    * plain IEEE doubles with a fixed op order, so a SQL oracle
    * replays it hash-exactly. Returns (source, n_tokens, cap,
    * allocation, epochs) — epochs = allocation/n_s ∈ (0, maxEpochs].
    */
  def unimaxAllocation(
      docs: DataFrame, sourceCol: String, tokenCol: Column,
      maxEpochs: Double, budgetFraction: Double): DataFrame =
    unimaxRaw(docs, sourceCol, tokenCol, maxEpochs, budgetFraction)
      .select(col("source"), col("n_tokens"),
        round(col("cap"), 4).as("cap"),
        round(col("__alloc"), 4).as("allocation"),
        round(col("__alloc") / col("n_tokens"), 4).as("epochs"))

  /** The UNROUNDED waterfilling frame (one row per source, __alloc at
    * full double precision) — [[unimaxAllocation]] is its display
    * projection, [[unimaxMix]] consumes its exact rates. */
  private def unimaxRaw(
      docs: DataFrame, sourceCol: String, tokenCol: Column,
      maxEpochs: Double, budgetFraction: Double): DataFrame =
    unimaxRawFromSizes(
      docs.groupBy(col(sourceCol).as("source"))
        .agg(sum(tokenCol.cast("long")).cast("double").as("n_tokens")),
      maxEpochs, budgetFraction)

  /** [[unimaxRaw]] over an ALREADY-AGGREGATED (source, n_tokens)
    * frame — the same in-plan waterfilling, so rates computed from
    * accumulated totals (the streaming refresh path) are bit-for-bit
    * what a batch run over a corpus with those totals would freeze. */
  private def unimaxRawFromSizes(
      sizesIn: DataFrame, maxEpochs: Double,
      budgetFraction: Double): DataFrame = {
    require(maxEpochs > 0, "unimaxAllocation: maxEpochs > 0")
    require(budgetFraction > 0, "unimaxAllocation: budgetFraction > 0")
    val sizes = sizesIn.withColumn("cap", col("n_tokens") * maxEpochs)
    // bounded global window: #sources rows (the LIMIT-k precedent)
    val w = Window.orderBy(col("cap"), col("source"))
    val staged = sizes
      .withColumn("rn", row_number().over(w))
      .withColumn("prefix", coalesce(
        sum(col("cap")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
    // budget + source count as ONE broadcast scalar row (q97's
    // in-plan scalar pattern — no driver collect)
    val totals = sizes.agg(
      (sum(col("n_tokens")) * budgetFraction).as("__B"),
      count(lit(1)).as("__n"))
    val leveled = staged.crossJoin(broadcast(totals))
      .withColumn("capped",
        col("prefix") + col("cap") * (col("__n") - col("rn") + 1)
          <= col("__B"))
    val level = leveled.agg(
      coalesce(sum(when(col("capped"), col("cap"))), lit(0.0))
        .as("__capsum"),
      coalesce(sum(when(col("capped"), 1L)), lit(0L)).as("__k"))
    leveled.crossJoin(broadcast(level))
      .withColumn("__alloc", when(col("capped"), col("cap"))
        .otherwise((col("__B") - col("__capsum")) /
          (col("__n") - col("__k")).cast("double")))
  }

  /** The frozen per-source epoch rates (alloc_s / n_s at FULL double
    * precision) as a driver map — the #sources-sized artifact the
    * streaming twin ([[graft.streaming.StreamUnimax]]) embeds as a
    * plan literal; dividing the collected unrounded values reproduces
    * [[unimaxMix]]'s in-plan rates bit-for-bit, so streaming and
    * batch sampling agree decision-for-decision. */
  def unimaxRates(docs: DataFrame, sourceCol: String, tokenCol: Column,
      maxEpochs: Double, budgetFraction: Double): Map[String, Double] =
    collectRates(
      unimaxRaw(docs, sourceCol, tokenCol, maxEpochs, budgetFraction))

  /** Frozen rates from PRE-AGGREGATED per-source token totals — the
    * streaming refresh path ([[graft.streaming.StreamUnimax
    * .RatesRefresher]]): an intake meter accumulates totals as a
    * #sources-sized driver map, and a refresh re-runs the SAME
    * in-plan waterfilling over them, so refreshed rates are
    * bit-for-bit what [[unimaxRates]] would freeze over a corpus
    * with those totals (sum(long).cast(double) ≡ the long → double
    * cast applied here). */
  def unimaxRatesFromTotals(
      spark: org.apache.spark.sql.SparkSession,
      totals: Map[String, Long], maxEpochs: Double,
      budgetFraction: Double): Map[String, Double] = {
    require(totals.nonEmpty, "unimaxRatesFromTotals: totals nonempty")
    import spark.implicits._
    collectRates(unimaxRawFromSizes(
      totals.toSeq.sortBy(_._1).toDF("source", "__nt")
        .select(col("source"), col("__nt").cast("double").as("n_tokens")),
      maxEpochs, budgetFraction))
  }

  private def collectRates(raw: DataFrame): Map[String, Double] =
    raw.select(col("source"),
        (col("__alloc") / col("n_tokens")).as("__r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The full UniMax pipeline: [[unimaxAllocation]]'s waterfilled
    * per-source token budgets APPLIED as a deterministic document
    * sample — each doc repeats floor(epochs_s) times plus one more
    * with probability frac(epochs_s), so expected sampled tokens per
    * source equal the allocation exactly. The uniform comes from the
    * id's seed-salted md5 ([[Md5Uniform.uniform]], the draw
    * [[mixSources]] and [[weightedSample]] use too — never rand(),
    * stable across runs/layouts and REPLAYABLE in the SQL oracle).
    * Rates join back broadcast (#sources rows); the mix
    * itself is a pure projection + explode — no corpus shuffle.
    * Returns (idCol, sourceCol, copy) with copy 0-based. */
  def unimaxMix(
      docs: DataFrame, idCol: String, sourceCol: String,
      tokenCol: Column, maxEpochs: Double, budgetFraction: Double,
      seed: String = ""): DataFrame = {
    val rates = unimaxRaw(docs, sourceCol, tokenCol, maxEpochs,
      budgetFraction)
      .select(col("source").as("__src"),
        (col("__alloc") / col("n_tokens")).as("__rate"))
    val u = Md5Uniform.uniform(col(idCol), seed)
    val copies = (floor(col("__rate")).cast("int") +
      when(u < col("__rate") - floor(col("__rate")), 1).otherwise(0))
    // empty-sequence guard (the mixSources lesson: sequence(0, -1)
    // DESCENDS instead of emitting an empty array)
    val idx = when(copies > 0, sequence(lit(0), copies - lit(1)))
      .otherwise(array().cast("array<int>"))
    docs.join(broadcast(rates), col(sourceCol) === col("__src"))
      .select(col(idCol), col(sourceCol), explode(idx).as("copy"))
  }

  /** TEMPERATURE (α) SAMPLING targets — the third published mixing
    * recipe beside [[mixSources]]' fixed targets and [[unimaxMix]]'s
    * epoch-capped waterfilling (Conneau & Lample 2019 §3.1; the
    * mT5/mC4 α-sampling): t_s ∝ p_s^α over the observed source
    * shares p_s = n_s / N. α = 1 keeps natural proportions; smaller α
    * flattens toward uniform, upweighting low-resource sources (the
    * published sweet spots sit in [0.2, 0.7]). One #sources-row count
    * aggregate; every driver-side fold (N, the power normalizer, and
    * mixSources' own wsum downstream) runs in SOURCE-NAME order so an
    * oracle can replay the doubles. α = 0.5 computes the power as
    * sqrt — correctly rounded in IEEE, so both engines agree to the
    * bit; other α go through pow, whose last-ulp rounding is
    * engine-specific (fine for sampling; pick 0.5 for hash-exact
    * cross-engine replay). Feed the result straight to
    * [[mixSources]]. */
  def temperatureTargets(docs: DataFrame, sourceCol: String,
      alpha: Double): Map[String, Double] = {
    require(alpha > 0 && alpha <= 1, "temperatureTargets: 0 < alpha <= 1")
    val counts = docs.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .toSeq.sortBy(_._1)
    require(counts.nonEmpty, "temperatureTargets: no sources")
    val total = counts.map(_._2.toDouble).sum
    def powA(x: Double): Double =
      if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    val pows = counts.map { case (s, n) => s -> powA(n / total) }
    val z = pows.map(_._2).sum
    pows.map { case (s, w) => s -> w / z }.toMap
  }

  /** Re-weight a multi-source corpus to target proportions (training-
    * data mixing: N raw sources → one corpus at chosen weights) by
    * DETERMINISTIC hash sampling — stable across runs, cluster layouts
    * and partitionings, and replayable in SQL (the id's md5 uniform
    * salted with `seed.toString`, [[Md5Uniform.uniform]]; never
    * rand()).
    *
    * Given per-source counts n_s and normalized target weights t_s, the
    * output total T is the largest satisfying rate_s = t_s·T/n_s ≤
    * `maxRepeat` for every weighted source, so expected output per
    * source is EXACTLY t_s·T. With `maxRepeat` = 1 this is pure
    * downsampling (a hash filter — no explode, no shuffle); > 1 allows
    * upsampling scarce sources by row duplication, each copy numbered
    * in `copy` (0-based). Sources absent from `targets` are dropped.
    *
    * Scale: per-source counts are one tiny aggregate collected to the
    * driver (rows = #sources — the same model-on-driver pattern as
    * Ann's centroids); the mix itself is a pure projection/filter.
    * Mix AFTER dedup: upsampled copies are intentional exact dups.
    */
  def mixSources(
      docs: DataFrame, idCol: String, sourceCol: String,
      targets: Map[String, Double], seed: Long = 0L,
      maxRepeat: Int = 1): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0) &&
      targets.values.sum > 0, "mixSources: need nonnegative weights, sum > 0")
    require(maxRepeat >= 1, "mixSources: maxRepeat >= 1")
    // fold in SOURCE-NAME order: a Map's iteration order is an
    // implementation detail, and double addition isn't associative —
    // sorting first makes wsum (and so every rate) a pure function of
    // the targets, run to run and Scala version to Scala version, and
    // is what lets an oracle replay the normalization bit-for-bit
    val ordered = targets.toSeq.sortBy(_._1)
    val wsum = ordered.map(_._2).sum
    val weighted = ordered.collect {
      case (s, w) if w > 0 => s -> w / wsum
    }
    val counts = docs
      .filter(col(sourceCol).isin(weighted.map(_._1).map(lit): _*))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weighted.map(_._1).toSet -- counts.keySet
    require(missing.isEmpty,
      s"mixSources: weighted sources absent from corpus: ${missing.mkString(", ")}")
    val total = weighted.map { case (s, t) => maxRepeat * counts(s) / t }.min
    val rates = weighted.map { case (s, t) => s -> t * total / counts(s) }
      .toMap
    val rate = coalesce(
      element_at(typedlit(rates), col(sourceCol)), lit(0.0))
    val u = Md5Uniform.uniform(col(idCol), seed.toString)
    if (maxRepeat == 1)
      docs.filter(u < rate).withColumn("copy", lit(0))
    else {
      val copies = (floor(rate).cast("int") +
        when(u < rate - floor(rate), 1).otherwise(0))
      // guard the empty case explicitly: sequence(0, -1) would emit a
      // DESCENDING two-element array, not an empty one
      val idx = when(copies > 0, sequence(lit(0), copies - lit(1)))
        .otherwise(array().cast("array<int>"))
      docs.withColumn("copy", explode(idx))
    }
  }

  /** Scalable EXCLUSIVE prefix sum of `valueCol` in `orderCol` order —
    * the parallel-scan building block behind sequence packing, exact
    * sharding and offset assignment.
    *
    * The naive formulation (`sum over (order by k)` with no partition)
    * funnels the entire dataset through ONE task — the single worst
    * window shape at scale. Here the classic two-level scan: rows
    * range-bucket on `orderCol` (boundaries from one constant-memory
    * approx-quantile sketch — skewed or gappy ids still give balanced
    * buckets), each bucket cumsums independently under a window
    * PARTITIONED by bucket, and per-bucket totals (≤ `buckets` rows,
    * collected once) turn into broadcast starting offsets. Max task ≈
    * n/buckets however large n grows; boundary accuracy only affects
    * balance, never correctness.
    *
    * Tie semantics match SQL's default RANGE frame (peers share the
    * inclusive sum; exclusive = that minus the row's own value), and
    * equal keys always land in the same bucket, so output is
    * hash-exact against `SUM(v) OVER (ORDER BY k) − v` cross-engine.
    * Values must be integral (sums carried as long). */
  /** Range-bucket boundaries for an ORDER-preserving split of a
    * NUMERIC column. Non-numeric keys fail loudly here: casting e.g. a
    * string content-hash id to double yields all nulls, empty bounds,
    * and every row in bucket 0 — the single-task shape these scans
    * exist to avoid, silently. Map such ids to a numeric key first. */
  private def rangeBounds(
      df: DataFrame, orderCol: String, buckets: Int,
      relErr: Double): Array[Double] = {
    require(buckets >= 1, "rangeBounds: buckets >= 1")
    require(df.schema(orderCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"range bucketing needs a numeric order column; '$orderCol' is " +
        s"${df.schema(orderCol).dataType.simpleString} — map it to a " +
        "numeric key (e.g. xxhash64) upstream, order semantics permitting")
    if (buckets == 1) Array.empty[Double]
    else df.select(col(orderCol).cast("double").as("__o"))
      .stat.approxQuantile("__o",
        (1 until buckets).map(_.toDouble / buckets).toArray, relErr)
  }

  /** Exact global 0-based rank under a numeric order key WITHOUT a
    * global window — [[prefixSum]] of ones: range-bucketed windows
    * from a quantile sketch plus broadcast per-bucket offsets, max
    * task n/buckets where the naive `row_number() over (order by …)`
    * funnels the whole relation through one task. Ties in `orderCol`
    * share a rank of (#rows with key ≤ theirs) − 1 (max-rank
    * semantics); pass a tie-free composite key (e.g. value·2³² + id)
    * for a true permutation. */
  def globalRank(df: DataFrame, orderCol: String, outCol: String,
      buckets: Int = 64): DataFrame =
    prefixSum(df.withColumn("__one", lit(1L)), orderCol, "__one", outCol,
      buckets).drop("__one")

  /** [[globalRank]] that ALSO returns the exact row count, derived
    * from the per-bucket totals the prefix scan collects anyway —
    * callers that need n alongside the rank (q131's bucket math,
    * q146's target-index formula) skip their own full count scan
    * (r19). */
  def globalRankAndCount(df: DataFrame, orderCol: String, outCol: String,
      buckets: Int = 64): (DataFrame, Long) = {
    val (ranked, total) = prefixSumAndTotal(
      df.withColumn("__one", lit(1L)), orderCol, "__one", outCol, buckets)
    (ranked.drop("__one"), total)
  }

  // relErr shapes only the BALANCE of the range buckets (offsets are
  // recomputed from exact per-bucket totals, so results are exact at
  // any sketch precision); 0.01 keeps the GK summary an order of
  // magnitude cheaper than 0.001 for a worst-case ±1% task-size skew
  def prefixSum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String,
      buckets: Int = 64, relErr: Double = 0.01): DataFrame =
    prefixSumAndTotal(df, orderCol, valueCol, outCol, buckets, relErr)._1

  /** [[prefixSum]] plus the exact grand total (the sum of the bucket
    * totals it collects anyway) — see [[globalRankAndCount]]. */
  def prefixSumAndTotal(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String,
      buckets: Int = 64, relErr: Double = 0.01): (DataFrame, Long) = {
    val bounds = rangeBounds(df, orderCol, buckets, relErr)
    val withB = df.withColumn("__bkt",
      graft.functions.LayoutFunctions.quantileBucket(col(orderCol), bounds))
    val totals = withB.groupBy(col("__bkt"))
      .agg(sum(col(valueCol).cast("long")).as("__s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = totals.keys.toSeq.sorted
    val offsets: Map[Long, Long] =
      ids.zip(ids.scanLeft(0L)(_ + totals(_)).init).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bkt")).orderBy(col(orderCol))
    (withB
      .withColumn(outCol,
        sum(col(valueCol).cast("long")).over(w) +
          element_at(typedlit(offsets), col("__bkt")) -
          col(valueCol).cast("long"))
      .drop("__bkt"),
      totals.values.sum)
  }

  /** GPT-style sequence packing layout: documents concatenate in id
    * order into one token stream cut into fixed `seqLen` training
    * sequences (documents span boundaries — the standard causal-LM
    * packing with no padding waste). Emits each document's place in
    * that layout: token count, global start offset, first/last
    * sequence index and the number of sequences it touches — the
    * manifest a tokenize-and-pack writer shards by (`first_seq` range
    * → output file), and the input to packing-efficiency stats.
    *
    * The global offset is [[prefixSum]] (two-level scan — no
    * single-task window); everything after is a pure projection.
    * Token counts here are whitespace counts for oracle parity; swap
    * in q39's BPE-ish regex count (or real tokenizer lengths as a
    * precomputed column) for production estimates. */
  def packSequences(
      docs: DataFrame, idCol: String, textCol: String, seqLen: Int,
      buckets: Int = 64): DataFrame = {
    require(seqLen > 0, "packSequences: seqLen > 0")
    def intDiv(c: Column): Column = call_function("div", c, lit(seqLen.toLong))
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    prefixSum(toks, "doc_id", "n_tokens", "start_offset", buckets)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        intDiv(col("start_offset")).as("first_seq"),
        intDiv(col("start_offset") + col("n_tokens") - 1).as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Materialize the packed training rows [[packSequences]] lays out:
    * one row per `seqLen`-token sequence (`seq_id`, `text`), documents
    * concatenated in id order and split across boundaries (the final
    * sequence may run short). This is the operator that actually
    * re-chunks a curated corpus into causal-LM training rows; shard
    * the output by `seq_id` range.
    *
    * Re-chunking is inherently a repartition of the corpus by output
    * position, so the plan pays exactly two text-sized keyed
    * exchanges and nothing more: the prefix-scan window (text rides
    * along to avoid a second scan + join), then one explode into
    * per-(doc, sequence) pieces — |docs| + |sequences| rows, no
    * blow-up — grouped by sequence id, pieces reassembled in global
    * offset order inside the aggregate. */
  def packedSequences(
      docs: DataFrame, idCol: String, textCol: String, seqLen: Int,
      buckets: Int = 64): DataFrame = {
    require(seqLen > 0, "packedSequences: seqLen > 0")
    val L = lit(seqLen.toLong)
    def intDiv(c: Column): Column = call_function("div", c, L)
    val toks = docs.select(col(idCol).as("__id"),
      split(col(textCol), " ").as("__w"))
      .withColumn("__n", size(col("__w")).cast("long"))
    val laid = prefixSum(toks, "__id", "__n", "__o", buckets)
    val pieces = laid
      .select(col("__w"), col("__n"), col("__o"),
        explode(sequence(intDiv(col("__o")),
          intDiv(col("__o") + col("__n") - 1))).as("seq_id"))
      // doc-local token range [from, to) overlapping this sequence
      .withColumn("__from", greatest(col("seq_id") * L - col("__o"), lit(0L)))
      .withColumn("__to",
        least((col("seq_id") + 1L) * L - col("__o"), col("__n")))
      .select(col("seq_id"),
        (col("__o") + col("__from")).as("__pstart"),
        concat_ws(" ", slice(col("__w"), (col("__from") + 1L).cast("int"),
          (col("__to") - col("__from")).cast("int"))).as("__piece"))
    pieces
      .groupBy(col("seq_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pstart"),
          col("__piece")))), p => p.getField("__piece")), " ").as("text"))
  }

  /** Greedy NO-SPLIT sequence packing ("example packing"): assign each
    * document to a training sequence of at most `seqLen` tokens
    * without ever splitting a document — the packing used when
    * document integrity matters (instruction tuning, long-context
    * eval), trading padding waste for whole examples. Documents longer
    * than `seqLen` get a bin of their own (truncate downstream).
    * Emits (id, n_tokens, seq_id); sequences are filled first-fit in
    * id order.
    *
    * Greedy fill is inherently a stateful sequential fold — not
    * expressible as a window (the running total RESETS on overflow),
    * so this is the codebase's one legitimate `mapPartitions`: rows
    * range-bucket on the id (same quantile sketch as [[prefixSum]] —
    * deterministic, balanced), each bucket packs independently inside
    * its partition in sorted order, and sequence ids namespace by
    * bucket (bucket·2³² + local bin) so they never collide. Max task
    * is n/buckets at any n; output is deterministic across runs and
    * cluster layouts. */
  def packGreedy(
      docs: DataFrame, idCol: String, textCol: String, seqLen: Int,
      buckets: Int = 64): DataFrame = {
    require(seqLen > 0, "packGreedy: seqLen > 0")
    val toks = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val bounds = rangeBounds(toks, idCol, buckets, relErr = 0.001)
    val bucketed = toks.withColumn("__bkt",
      graft.functions.LayoutFunctions.quantileBucket(col(idCol), bounds))
      .repartition(buckets, col("__bkt"))
      .sortWithinPartitions(col("__bkt"), col(idCol))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      bucketed.schema(idCol),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("seq_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val idIdx = bucketed.schema.fieldIndex(idCol)
    val nIdx = bucketed.schema.fieldIndex("n_tokens")
    val bIdx = bucketed.schema.fieldIndex("__bkt")
    val cap = seqLen.toLong
    bucketed.mapPartitions { rows =>
      var curBkt = Long.MinValue
      var fill = 0L
      var bin = -1L
      rows.map { r =>
        val bkt = r.getLong(bIdx)
        val n = r.getLong(nIdx)
        if (bkt != curBkt) { curBkt = bkt; fill = 0L; bin = -1L }
        if (bin < 0 || fill + n > cap) { bin += 1; fill = 0L }
        fill += n
        org.apache.spark.sql.Row(r.get(idIdx), n, bkt * (1L << 32) + bin)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Overlapping token-window chunking — the retrieval-ingestion shape
    * (RAG indexing, long-document embedding): each document splits
    * into windows of `chunkTokens` whitespace tokens starting every
    * `chunkTokens - overlapTokens` (the stride), so consecutive chunks
    * share `overlapTokens` of context and no sentence straddles a hard
    * boundary unseen. Chunk count = max(1, ⌈(n − overlap)/stride⌉) —
    * short documents yield exactly one chunk, and the final window
    * simply runs short. Emits (id, chunk_id, text).
    *
    * Pure projection (sequence + slice + posexplode): no shuffle, no
    * join — the canonical 100 TB preprocessing shape. Row growth is
    * ~n/stride per doc; downstream embedding is the expensive part,
    * not this. */
  def chunkOverlap(
      docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      "chunkOverlap: need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val words = split(col(textCol), " ")
    val n = size(words)
    val k = greatest(lit(1L),
      ceil((n.cast("long") - overlapTokens).cast("double") / stride)
        .cast("long"))
    docs
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), k - 1L),
          i => concat_ws(" ",
            slice(words, (i * stride + 1L).cast("int"), lit(chunkTokens)))))
          .as(Seq("chunk_id", "__chunk")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("__chunk").as(textCol))
  }

  /** Content-defined chunking — chunk boundaries chosen by the TEXT
    * (a rolling hash over `window` code points hitting 0 mod
    * `modulus`, the Rabin-Karp/FastCDC recipe behind `cdc_cuts`),
    * not by fixed offsets: an insertion or deletion re-chunks only
    * its neighbourhood, so chunk hashes stay stable across document
    * revisions — the dedup-stable complement to [[chunkOverlap]]'s
    * fixed windows and the sub-document version of [[snapshotDiff]]'s
    * whole-document compare. Average chunk ≈ `modulus` code points.
    *
    * Pure projection: the native `cdc_cuts` kernel is one O(n)
    * codegen'd pass per doc, the chunk explode grows rows by
    * n/modulus, and each chunk carries (start, len, md5) — 1-based
    * code-point offsets, never the text itself, so the only
    * corpus-sized movement is the scan. Empty docs yield no rows. */
  def cdcChunks(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, modulus: Int = 64): DataFrame = {
    val cuts = call_function("cdc_cuts", col(textCol),
      lit(window), lit(modulus))
    docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol), cuts.as("__cuts"))
      .select(col(idCol), col(textCol), col("__cuts"),
        posexplode(slice(col("__cuts"), lit(1), size(col("__cuts")) - 1))
          .as(Seq("chunk_id", "__start0")))
      .select(col(idCol), col("chunk_id"),
        (col("__start0") + 1).as("chunk_start"),
        (element_at(col("__cuts"), col("chunk_id") + 2) - col("__start0"))
          .as("chunk_len"),
        md5(col(textCol).substr(col("__start0") + 1,
          element_at(col("__cuts"), col("chunk_id") + 2) - col("__start0")))
          .as("chunk_md5"))
  }

  /** Chunk-grain incremental diff — [[snapshotDiff]] pushed below the
    * document: for every doc in either snapshot, how many of its
    * content-defined chunks ([[cdcChunks]]) survive verbatim. Because
    * CDC boundaries follow the text, an edit invalidates only its
    * neighbourhood's chunks — `n_kept` is the work an incremental
    * pipeline SKIPS (chunks whose embeddings/dedup state carry over),
    * and `n_new - n_kept` is the work it actually re-runs: at 100 TB
    * a re-crawl re-processes the changed chunks, not every changed
    * document. Chunk identity is the md5 with MULTISET semantics
    * (kept = Σ min(count_old, count_new) per hash), so repeated
    * boilerplate chunks can't be double-credited.
    *
    * Plan: per-snapshot (doc, md5) counts are map-side-combined aggs
    * on the same key the full-outer join then uses — one exchange
    * each, join co-partitioned, final per-doc rollup. Only 8-byte
    * ids + 32-char hashes move, never text. */
  def chunkDiff(
      oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      window: Int = 4, modulus: Int = 64): DataFrame = {
    def hashCounts(d: DataFrame, cnt: String) =
      cdcChunks(d, idCol, textCol, window, modulus)
        .groupBy(col(idCol), col("chunk_md5"))
        .agg(count(lit(1)).as(cnt))
    val o = hashCounts(oldDocs, "__co")
    val n = hashCounts(newDocs, "__cn")
    o.join(n, Seq(idCol, "chunk_md5"), "full_outer")
      .groupBy(col(idCol))
      .agg(
        sum(coalesce(col("__co"), lit(0L))).as("n_old"),
        sum(coalesce(col("__cn"), lit(0L))).as("n_new"),
        sum(least(coalesce(col("__co"), lit(0L)),
          coalesce(col("__cn"), lit(0L)))).as("n_kept"))
  }

  /** Snapshot diff — what changed between two corpus versions (the
    * audit a recurring crawl/curation run publishes next to its
    * [[profile]]): each id classified `added` (only in the new
    * snapshot), `removed` (only in the old) or `modified` (present in
    * both, content hash differs); unchanged ids are omitted. Content
    * compares by md5 — the same key exact dedup uses — so "modified"
    * means byte-level change, not formatting opinion.
    *
    * Both snapshots reduce to (id, hash) projections before one
    * full-outer equi-join on the id: two column-pruned scans, one
    * keyed shuffle each, output bounded by the change volume. */
  def snapshotDiff(
      oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__oid"),
      md5(col(contentCol)).as("__oh"))
    val n = newDocs.select(col(idCol).as("__nid"),
      md5(col(contentCol)).as("__nh"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .withColumn("change",
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "modified"))
      .filter(col("change").isNotNull)
      .select(coalesce(col("__oid"), col("__nid")).as(idCol),
        col("change"))
  }

  /** Corpus profile — the "data card" stats a curation pipeline
    * publishes with every corpus snapshot, as one long-format
    * (metric, value) frame: document count, token totals/average,
    * exact-duplicate rate (md5 content hashing, same as q30's dedup
    * key), language count and top-language share.
    *
    * Everything is exact and SQL-expressible, so the whole profile is
    * oracle-checkable. Plan: one narrow aggregate over per-doc
    * projections (count/sum/avg + two distinct-counts) plus one
    * tiny language group — no joins, nothing corpus-sized shuffles
    * (distinct-counts shuffle one row per distinct value after
    * map-side partial dedup). Values round to 4dp at the boundary. */
  def profile(
      docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(
      col(idCol).as("__id"),
      size(split(col(textCol), " ")).cast("long").as("__toks"),
      md5(col(textCol)).as("__h"),
      col(langCol).as("__lang"))
    val g = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("__toks")).as("total_tokens"),
      countDistinct(col("__h")).as("n_distinct"),
      countDistinct(col("__lang")).as("n_langs")).head()
    val nDocs = g.getLong(0)
    require(nDocs > 0, "profile: empty corpus")
    val topLang = base.groupBy(col("__lang"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__lang"))
      .limit(1).head()
    // every ratio is ONE division of two exact integers, rounded
    // HALF_UP — bit-identical cross-engine (a floating avg aggregate
    // would sum partials in partition order and drift)
    def r4(d: Double): Double =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(
      ("n_docs", nDocs.toDouble),
      ("total_tokens", g.getLong(1).toDouble),
      ("avg_tokens", r4(g.getLong(1).toDouble / nDocs)),
      ("exact_dup_rate", r4(1.0 - g.getLong(2).toDouble / nDocs)),
      ("n_langs", g.getLong(3).toDouble),
      ("top_lang_share", r4(topLang.getLong(1).toDouble / nDocs))
    ).toDF("metric", "value")
  }

  /** Per-domain corpus profile over a URL column — the domain-mix
    * breakdown a web-corpus data card publishes (and the first thing a
    * curation run checks after a crawl: which hosts dominate, how many
    * distinct pages each contributed). URLs canonicalize first
    * ([[graft.functions.UrlFunctions.urlNormalize]]) so scheme-case /
    * default-port / tracking-param variants of one page count as one
    * URL. Plan: pure projection → one hash aggregate on host; the
    * distinct-URL count shuffles one row per distinct (host, url)
    * after map-side partial dedup — host-cardinality-bounded, never
    * corpus-sized. */
  def domainProfile(docs: DataFrame, urlCol: String): DataFrame = {
    import graft.functions.UrlFunctions
    docs
      .select(UrlFunctions.urlHost(col(urlCol)).as("host"),
        UrlFunctions.urlNormalize(col(urlCol)).as("__u"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__u")).as("n_urls"))
  }

  /** Key-skew profile: the top-`k` heaviest values of `keyCol` with
    * row counts and corpus share — the diagnostic behind every
    * physical choice on a keyed operation (broadcast vs shuffle,
    * salting, AQE skew thresholds). One map-side-combined count
    * aggregate; the top-k is Spark's TakeOrderedAndProject
    * (per-partition heaps merged on the driver, never a global sort);
    * the grand total joins back as a broadcast one-row aggregate over
    * the already-tiny count relation, so the input scans ONCE. Ties
    * break by key for deterministic output. */
  def keyProfile(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"keyProfile: k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        round(col("cnt") / col("__total"), 6).as("share"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }

  /** Deterministic stratified EXACT sampling: from each stratum keep
    * exactly ⌈percent% · stratum size⌉ rows, chosen by md5(id) order —
    * the eval-set carve (or debugging slice) where `df.sample`'s
    * per-row Bernoulli draw is wrong twice over: the per-stratum count
    * is binomial-random, and the selection changes with partition
    * layout. Here both are pinned: the count is exact integer
    * arithmetic (⌈n·p/100⌉ = (n·p+99) div 100 — no float rounding at
    * the boundary), and membership depends only on (stratum, id).
    * Growing `percent` grows each stratum's sample monotonically (the
    * md5 order is fixed), so 10% ⊂ 20% — nested samples for scaling-
    * law runs. One shuffle: both window functions share the stratum
    * partition spec. A pathologically hot stratum serialises into one
    * task (standard window bound — same note as AsOfJoin.asOf). */
  def sampleStratified(
      df: DataFrame, stratumCol: String, idCol: String,
      percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100,
      s"percent must be in [0,100], got $percent")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val cw = Window.partitionBy(col(stratumCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__rn").cast("long") * 100 <=
        col("__n") * percent + 99)
      .drop("__rn", "__n")
  }

  /** Deterministic global shuffle into training shards — the data-order
    * step every pretraining run needs: examples must reach the trainer
    * in a fixed pseudo-random order that no rerun, repartition, or
    * added machine can change. Shard = the first `hexChars` characters
    * of md5(id) (16^hexChars shards); order within a shard = the full
    * md5 string. Both are pure functions of the id, so the permutation
    * is reproducible anywhere (and cross-engine: hex-string
    * lexicographic order IS numeric order — '0'<'9'<'a'<'f' is
    * monotone in ASCII).
    *
    * Scale shape: one hash exchange on the shard key, then a per-shard
    * sort for the position — max task is n/16^hexChars rows, so size
    * `hexChars` to the corpus (3 → 4096 shards keeps 100 TB at ~25 GB
    * a shard before row pruning). Never a global `row_number() over
    * (order by …)` — that window funnels the corpus through one task.
    */
  def shuffleShards(
      df: DataFrame, idCol: String, hexChars: Int = 2): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1,8], got $hexChars")
    import org.apache.spark.sql.expressions.Window
    val h = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", substring(col("__h"), 1, hexChars))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .drop("__h")
  }

  /** Deterministic train/val/test assignment by content-independent id
    * hash: stable across runs and cluster layouts (the md5 prefix of the
    * id salted with `seed.toString`, mod 100 — never Math.random or row
    * position, and replayable in SQL), pure projection, no shuffle.
    * Weights are percentages summing to ≤ 100 (remainder → last split).
    */
  def splitAssign(
      docs: DataFrame, idCol: String,
      splits: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
      seed: Long = 0L): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 100,
      "split weights must sum to <= 100")
    val bucket = pmod(Md5Uniform.saltedPrefix32(col(idCol), seed.toString),
      lit(100)).cast("int")
    val bounds = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val assign = splits.zip(bounds).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(bucket < hi, lit(name)).otherwise(acc)
    }
    docs.withColumn("split", assign)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-Res, "Weighted random sampling with a reservoir",
    * IPL 2006): each row draws key = u^(1/w); the k largest keys ARE a
    * weighted sample without replacement. The usual reservoir walks
    * the data sequentially; the order-statistics formulation is the
    * distributed form — no sequential state, the sample is a global
    * top-k.
    *
    * u is derived from the row's ID (first 8 md5 hex chars → [0,1)),
    * not from an RNG: the sample is reproducible across runs, cluster
    * layouts and engines (DuckDB reproduces it bit-for-bit, so the
    * oracle is hash-exact — same trick as q83's stratified order).
    *
    * Plan shape: key is a pure projection; top-k compiles to
    * TakeOrderedAndProject (per-partition heaps of k, only k rows per
    * partition reach the final merge — never a global sort exchange).
    * The rank window runs over the k sampled rows only (bounded by
    * construction, the trainCentroids allowance). At 100 TB: the scan
    * is the cost; everything after moves k rows.
    *
    * E-S is defined for POSITIVE weights; non-positive rows are
    * dropped before the draw (a negative weight would yield a key > 1
    * that silently dominates every draw). `seed` mixes into the hash
    * for independent re-draws (per-epoch samples); the default draws
    * the same sample every run.
    */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String, k: Int,
      seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol),
        esKey(idCol, weightCol, seed).as("__key"))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("__key").desc, col(idCol))))
      .drop("__key")
  }

  /** Gumbel-top-k sampling in LOG space (the Gumbel-max trick;
    * Kool et al. 2019 "Stochastic Beams and Where to Find Them"):
    * draw k items without replacement with probability ∝
    * exp(logw / temperature) by ranking key = logw/T + Gumbel(u),
    * Gumbel(u) = −ln(−ln u) — the numerically safe form of
    * [[weightedSample]] when the weights ARRIVE as log-weights
    * (q163's DSIR scores sum hundreds of ln-ratios: exp() of them
    * overflows/underflows a double, while the Gumbel key never
    * leaves log space). u comes from the id's seed-salted md5 (the
    * esKey construction), so the draw is reproducible and
    * cross-engine replayable. One TakeOrdered over a pure
    * projection — no shuffle beyond the top-k. */
  def gumbelTopK(
      df: DataFrame, idCol: String, logWeightCol: String, k: Int,
      temperature: Double = 1.0, seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(temperature > 0, "gumbelTopK: temperature > 0")
    val u = Md5Uniform.uniform(col(idCol), seed)
    df.select(col(idCol), col(logWeightCol),
        (col(logWeightCol).cast("double") / lit(temperature) -
          log(-log(u))).as("__key"))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("__key").desc, col(idCol))))
      .drop("__key")
  }

  /** The Efraimidis–Spirakis key u^(1/w) with u drawn from the id's
    * (seed-salted) md5 — shared by [[weightedSample]] and
    * [[weightedSamplePerStratum]] so the two draws agree. */
  private def esKey(idCol: String, weightCol: String, seed: String) =
    pow(Md5Uniform.uniform(col(idCol), seed),
      lit(1.0) / col(weightCol).cast("double"))

  /** [[weightedSample]] stratified: an independent k-row E-S weighted
    * draw per stratum (per-source corpus mixing with length/quality
    * weighting — q68's hash sampler with weights). Same reproducible
    * u^(1/w) keys; top-k per key is a row_number over the stratum
    * partition — ONE hash exchange on the stratum, and the rank filter
    * prunes to k per stratum before anything else consumes the rows
    * (WindowGroupLimit pushes the bound below the sort at scale).
    */
  def weightedSamplePerStratum(
      df: DataFrame, stratumCol: String, idCol: String, weightCol: String,
      k: Int, seed: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__key").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .select(col(stratumCol), col(idCol), col(weightCol),
        esKey(idCol, weightCol, seed).as("__key"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("__key")
  }
}
