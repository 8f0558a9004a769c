package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions._

/** SparkSessionExtensions installing graft's native expressions into the
  * session function registry, so SQL text and `call_function` both
  * resolve them (`SELECT jaro_winkler(a, b)`).
  *
  * graft requires this extension: every kernel operation has exactly
  * one implementation, the native expression, and there is no builtin
  * fallback. Build sessions with [[GraftExtensions.builder]], or set
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * on your own builder. A column helper used in a session without it
  * fails at analysis with an error naming the missing function;
  * operators that run driver-side work first check
  * [[GraftExtensions.require]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(
      name: String,
      builder: Seq[Expression] => Expression,
      usage: String): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name, usage),
      builder)

  /** Selector/size args are baked into generated code at registration
    * time, so they must be non-null foldable literals; a column there
    * would otherwise surface as an opaque unbound-attribute error (and
    * a null literal as the string "null" used as a tag name). */
  private def litArg(fnName: String, pos: Int, e: Expression): Any = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fnName: argument ${pos + 1} must be a literal, not a column " +
          s"(got ${e.sql})")
    val v = e.eval()
    if (v == null)
      throw new IllegalArgumentException(
        s"$fnName: argument ${pos + 1} must be a non-null literal")
    v
  }

  private def litStr(fnName: String, pos: Int, e: Expression): String =
    litArg(fnName, pos, e).toString

  private def litInt(fnName: String, pos: Int, e: Expression): Int =
    litArg(fnName, pos, e) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fnName: argument ${pos + 1} must be an integer literal (got $other)")
    }

  /** A model argument: a non-null literal of `depth` nested arrays of
    * `leaf`, converted once here into the object its kernel holds by
    * reference (the kernel then never sees the literal). */
  private def litModel[M](fnName: String, pos: Int, e: Expression,
      depth: Int, leaf: DataType)(build: ArrayData => M): M = {
    def nested(dt: DataType, d: Int): Boolean = dt match {
      case ArrayType(inner, _) if d > 0 => nested(inner, d - 1)
      case other => d == 0 && other == leaf
    }
    if (!nested(e.dataType, depth))
      throw new IllegalArgumentException(
        s"$fnName: argument ${pos + 1} must be a " +
          ("array<" * depth) + leaf.simpleString + (">" * depth) +
          s" literal (got ${e.dataType.simpleString})")
    build(litArg(fnName, pos, e).asInstanceOf[ArrayData])
  }

  private def sq8Scales(fnName: String, es: Seq[Expression], pos: Int)
      : Sq8Model = {
    def scales(p: Int) =
      litModel(fnName, p, es(p), 1, DoubleType)(_.toDoubleArray())
    new Sq8Model(scales(pos), scales(pos + 1))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => LevenshteinThresholdRule)
    ext.injectFunction(fn("jaro_winkler",
      es => JaroWinkler(es.head, es(1)),
      "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,100]"))
    ext.injectFunction(fn("token_sort_ratio",
      es => TokenSortRatio(es.head, es(1)),
      "token_sort_ratio(a, b) - rapidfuzz token_sort_ratio in [0,100]"))
    ext.injectFunction(fn("token_set_ratio",
      es => TokenSetRatio(es.head, es(1)),
      "token_set_ratio(a, b) - rapidfuzz token_set_ratio in [0,100]"))
    ext.injectFunction(fn("partial_ratio",
      es => PartialRatio(es.head, es(1)),
      "partial_ratio(a, b) - rapidfuzz partial_ratio in [0,100]"))
    ext.injectFunction(fn("partial_token_ratio",
      es => PartialTokenRatio(es.head, es(1)),
      "partial_token_ratio(a, b) - rapidfuzz partial_token_ratio in [0,100]"))
    ext.injectFunction(fn("word_shingles",
      es => WordShingles(es.head, litInt("word_shingles", 1, es(1))),
      "word_shingles(text, n) - distinct word n-grams as array<string>"))
    ext.injectFunction(fn("stopword_hits",
      es => StopwordHits(es.head, es(1)),
      "stopword_hits(text, 'w1,w2,...') - occurrences of any listed word"))
    ext.injectFunction(fn("lang_features",
      es => LangFeatures(es.head, es(1), es(2),
        graft.operators.LangId.MaxChars,
        graft.operators.TextStats.StopwordProfiles
          .flatMap(_._2).distinct.toArray),
      "lang_features(text, dims, seed) - hashed lang-id feature ids " +
        "(char trigrams + stopword tokens + script markers)"))
    ext.injectFunction(fn("pool_scores",
      es => PoolScores(es.head, es(1), es(2)),
      "pool_scores(ids, weights_flat, biases) - K mean-pooled linear " +
        "class scores in one pass over the id array"))
    ext.injectFunction(fn("hyperplane_bucket",
      es => HyperplaneBucket(es.head,
        litInt("hyperplane_bucket", 1, es(1)),
        litInt("hyperplane_bucket", 2, es(2))),
      "hyperplane_bucket(vec, dim, planes) - packed sign-bit LSH bucket"))
    ext.injectFunction(fn("dot_f",
      es => DotF(es.head, es(1)),
      "dot_f(a, b) - double dot product of two array<float>"))
    ext.injectFunction(fn("vec_sub_f",
      es => VecSubF(es.head, es(1)),
      "vec_sub_f(a, b) - element-wise difference of two array<float>"))
    ext.injectFunction(fn("norm_f",
      es => NormF(es.head),
      "norm_f(a) - L2 norm of an array<float> in double"))
    ext.injectFunction(fn("sq8_encode",
      es => Sq8Encode(es.head, sq8Scales("sq8_encode", es, 1)),
      "sq8_encode(vec, mins, steps) - per-dimension affine uint8 codes as binary"))
    ext.injectFunction(fn("sq8_dequant",
      es => Sq8Dequant(es.head, sq8Scales("sq8_dequant", es, 1)),
      "sq8_dequant(codes, mins, steps) - float reconstruction of SQ8 codes"))
    ext.injectFunction(fn("sq8_dot",
      es => Sq8Dot(es.head, es(1), sq8Scales("sq8_dot", es, 2)),
      "sq8_dot(q, codes, mins, steps) - dot against the SQ8 reconstruction, dequant fused"))
    ext.injectFunction(fn("sq8_norm",
      es => Sq8Norm(es.head, sq8Scales("sq8_norm", es, 1)),
      "sq8_norm(codes, mins, steps) - L2 norm of the SQ8 reconstruction"))
    ext.injectFunction(fn("simhash64",
      es => SimHash64(es.head),
      "simhash64(shingles) - 64-bit SimHash of a string array"))
    ext.injectFunction(fn("jaccard_shingles",
      es => JaccardShingles(es.head, es(1)),
      "jaccard_shingles(a, b) - set Jaccard similarity of two string arrays"))
    ext.injectFunction(fn("jaccard_longs",
      es => JaccardLongs(es.head, es(1)),
      "jaccard_longs(a, b) - set Jaccard similarity of two bigint arrays"))
    ext.injectFunction(fn("inter_longs",
      es => InterCountLongs(es.head, es(1)),
      "inter_longs(a, b) - distinct intersection count of two bigint arrays"))
    ext.injectFunction(fn("minhash_signature",
      es => MinHashSignature(es.head, litInt("minhash_signature", 1, es(1))),
      "minhash_signature(shingles, numHashes) - MinHash signature as array<bigint>"))
    ext.injectFunction(fn("nearest_centroid",
      es => NearestCentroid(es.head, litModel("nearest_centroid", 1, es(1),
        2, FloatType)(CentroidSet.fromLiteral)),
      "nearest_centroid(vec, matrix) - 1-based index of the max-cosine centroid row"))
    ext.injectFunction(fn("second_max",
      es => SecondMax(es.head),
      "second_max(col) - multiset second-largest value (null until two non-null inputs)"))
    ext.injectFunction(fn("w_ratio",
      es => WRatio(es.head, es(1)),
      "w_ratio(a, b) - combined WRatio-style score in [0,100]"))
    ext.injectFunction(fn("cdc_cuts",
      es => CdcCuts(es.head, litInt("cdc_cuts", 1, es(1)),
        litInt("cdc_cuts", 2, es(2))),
      "cdc_cuts(text, window, modulus) - content-defined chunk cut positions as array<int>"))
    ext.injectFunction(fn("repetition_counts",
      es => RepetitionCounts(es.head),
      "repetition_counts(text) - word/bigram repetition counters as a struct"))
    ext.injectFunction(fn("unicode_normalize",
      es => UnicodeNormalize(es.head, litStr("unicode_normalize", 1, es(1))),
      "unicode_normalize(text, form) - Unicode NFC/NFD/NFKC/NFKD normalization"))
    ext.injectFunction(fn("vector_sum_f",
      es => VectorSumF(es.head),
      "vector_sum_f(vec) - element-wise sum of array<float> as array<double>"))
    ext.injectFunction(fn("pq_encode",
      es => PqEncode(es.head,
        litModel("pq_encode", 1, es(1), 3, FloatType)(PqImpl.build)),
      "pq_encode(vec, codebooks) - m-byte product-quantization code"))
    ext.injectFunction(fn("pq_lut",
      es => PqLut(es.head,
        litModel("pq_lut", 1, es(1), 3, FloatType)(PqImpl.build)),
      "pq_lut(qvec, codebooks) - flat m*ksub ADC dot-product table"))
    ext.injectFunction(fn("pq_adc",
      es => PqAdc(es.head, es(1)),
      "pq_adc(codes, lut) - approximate dot product via table lookups"))
    ext.injectFunction(fn("topk_pairs",
      es => TopKPairs(es.head, es(1), es(2)),
      "topk_pairs(ord, payload, k) - per-group top-k (ord desc, payload asc) as a bounded aggregate"))
    ext.injectFunction(fn("mmr_select",
      es => MmrSelect(es.head, es(1), es(2)),
      "mmr_select(candidates, lambda, k) - maximal-marginal-relevance greedy selection over array<struct<id, rel, vec>>"))
    ext.injectFunction(fn("topk_any",
      es => TopKAny(es.head, es(1), es(2)),
      "topk_any(ord, payload, k) - per-group top-k (double ord desc, orderable payload asc) as a bounded aggregate"))
    ext.injectFunction(fn("bucket_search",
      es => BucketSearch(es.head, es(1)),
      "bucket_search(value, bounds) - upper-bound binary search bucket index over a sorted literal array<double>"))
    ext.injectFunction(fn("bpe_encode",
      es => BpeEncode(es.head, es(1)),
      "bpe_encode(word, merges) - BPE-tokenize a word against a literal array<string> of 'left|right' merges in rank order"))
    ext.injectFunction(fn("byte_symbols",
      es => ByteSymbols(es.head),
      "byte_symbols(text) - UTF-8 byte-symbol form (one BMP char per byte, GPT-2 bytes_to_unicode style) for byte-level BPE"))
    ext.injectFunction(fn("wordpiece_encode",
      es => WordPieceEncode(es.head, es(1)),
      "wordpiece_encode(word, vocab) - greedy longest-match WordPiece tokenization against a literal array<string> vocabulary ('##' continuation pieces)"))
    ext.injectFunction(fn("ac_count",
      es => AcCount(es.head, es(1)),
      "ac_count(text, patterns) - Aho-Corasick total match-pair count against a literal pattern list (overlaps count)"))
    ext.injectFunction(fn("ac_matches",
      es => AcMatches(es.head, es(1)),
      "ac_matches(text, patterns) - distinct matched patterns in pattern-list order"))
    ext.injectFunction(fn("deflate_len",
      es => DeflateLen(es.head, es(1)),
      "deflate_len(text, level) - DEFLATE-compressed byte length (compression-ratio quality signal)"))
    ext.injectFunction(fn("dsir_score",
      es => DsirScore(es.head, es(1)),
      "dsir_score(text, lr) - stateless DSIR importance score against a literal bucketed log-ratio model"))
    ext.injectFunction(fn("unigram_encode",
      es => UnigramEncode(es.head, es(1), es(2)),
      "unigram_encode(word, pieces, logps) - Viterbi segmentation against a literal unigram piece model (SentencePiece unigram family)"))
    ext.injectFunction(fn("dd_sketch_agg",
      es => DdSketchAgg(es.head, es(1)),
      "dd_sketch_agg(value, alpha) - serialized relative-error quantile sketch of a non-negative bigint column"))
    ext.injectFunction(fn("dd_union_agg",
      es => DdUnionAgg(es.head),
      "dd_union_agg(sketch) - merge serialized dd sketches (loss-free rollup)"))
    ext.injectFunction(fn("dd_quantile",
      es => DdQuantile(es.head, es(1)),
      "dd_quantile(sketch, q) - quantile estimate from a serialized dd sketch"))
    ext.injectFunction(fn("bloom_agg",
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1), es(2)),
      "bloom_agg(hash, items, bits) - serialized Bloom filter of a bigint hash column"))
    ext.injectFunction(fn("bloom_might_contain",
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1)),
      "bloom_might_contain(bloom, hash) - Bloom membership probe of a bigint hash"))
    ext.injectFunction(fn("html_element",
      es => HtmlElement(es.head,
        litStr("html_element", 1, es(1)),
        litStr("html_element", 2, es(2)),
        litStr("html_element", 3, es(3))),
      "html_element(html, tag, attrName, attrValue) - inner HTML of the first matching element (null if absent)"))
    ext.injectFunction(fn("html_elements",
      es => HtmlElements(es.head,
        litStr("html_elements", 1, es(1)),
        litStr("html_elements", 2, es(2)),
        litStr("html_elements", 3, es(3))),
      "html_elements(html, tag, attrName, attrValue) - inner HTML of all matching elements as array<string>"))
    ext.injectFunction(fn("html_text",
      es => HtmlText(es.head),
      "html_text(html) - tags stripped, entities unescaped, whitespace collapsed"))
    ext.injectFunction(fn("html_attr",
      es => HtmlAttr(es.head,
        litStr("html_attr", 1, es(1)),
        litStr("html_attr", 2, es(2)),
        litStr("html_attr", 3, es(3)),
        litStr("html_attr", 4, es(4))),
      "html_attr(html, tag, attrName, attrValue, wantAttr) - attribute of the first matching element"))
  }
}

object GraftExtensions {

  private val Missing =
    "graft needs its Spark extension installed " +
      "(spark.sql.extensions=graft.plans.GraftExtensions)"

  /** Fails fast, naming the setting, when `session` was built without
    * the extension. */
  def require(session: SparkSession): Unit =
    Predef.require(session.catalog.functionExists("pq_encode"), Missing)

  /** The one session configuration Bench, Verify, the specs and the dev
    * mains share: `local[cpus]` with as many shuffle partitions, UTC,
    * ANSI off (hash arithmetic and lenient casts rely on it), parquet
    * nanosecond timestamps read as longs, this extension, UI off. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
