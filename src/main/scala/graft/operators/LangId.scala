package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based language identification — the CCNet/fastText-class
  * step (Joulin et al. 2017, "Bag of Tricks"; Wenzek et al. 2020,
  * CCNet) a production curation pipeline runs where q37's stopword
  * profile is the deterministic fallback: a hashed-feature softmax
  * classifier ([[Classifier.trainMulticlass]]) over the three signal
  * families the heuristics already compute —
  *
  *  - **char n-grams** (fastText's core lang-id feature): every char
  *    trigram of the lowercased text, hashed to [0, dims);
  *  - **stopword hits** (q37's signal): each occurrence of any
  *    profile stopword, as a tagged token feature with multiplicity;
  *  - **script shares** (q128's signal): per Unicode-script dominance
  *    buckets (dominant / present), two bounded marker features per
  *    script instead of raw counts, so the feature count stays O(1)
  *    regardless of doc length.
  *
  * All three are pure `functions._` projections sharing one text
  * read; featurization is stateless (hashing trick — no vocabulary to
  * ship), train state is O(K·dims) on the driver with a bounded
  * (dims+1)×K gradient shuffle, and apply is a shuffle-free scan
  * projection. At 100 TB: train on a bounded labeled sample, apply at
  * parquet-scan speed.
  *
  * Reference anchor: the reference pipeline normalizes per-language
  * scraped values with fixed replacement maps
  * (votervoice/transform.py:7); the engine's curation surface needs
  * the corpus-side counterpart — route documents by language before
  * tokenizer/quality stages (SURVEY §2D).
  */
object LangId {

  /** Cap on the char positions featurized per doc — lang-id saturates
    * in the first few hundred chars (CCNet classifies on the first
    * lines); the cap bounds per-row work on EVERY document, which is
    * what keeps the apply projection scan-speed at corpus scale. */
  val MaxChars = 600

  /** The hashed feature-id array: char trigrams + stopword tokens +
    * script-dominance markers, all in one [0, dims) space (tag
    * prefixes keep the families from colliding systematically).
    * The native `lang_features` kernel, one scan-speed pass; the HOF
    * formulation below is its reference definition — LangIdSpec pins
    * the two identical. */
  def featureIds(text: Column, dims: Int, seed: Long = 7L): Column =
    call_function("lang_features", text, lit(dims), lit(seed))

  private[graft] def featureIdsPortable(text: Column, dims: Int,
      seed: Long): Column = {
    val t = substring(lower(text), 1, MaxChars)
    def h(s: Column): Column =
      pmod(xxhash64(s, lit(seed)), lit(dims.toLong)).cast("int")
    // char trigrams with multiplicity (empty for texts under 3 chars —
    // sequence(1, 0) would otherwise run DESCENDING and fabricate ids)
    val grams = when(length(t) >= 3,
      transform(
        sequence(lit(1), length(t) - 2),
        i => h(concat(lit("cg:"), substring(t, i, lit(3))))))
      .otherwise(array().cast("array<int>"))
    // stopword occurrences (union of all q37 profiles), multiplicity
    val allStops = TextStats.StopwordProfiles.flatMap(_._2).distinct
    val stops = transform(
      filter(split(t, " "), w => w.isin(allStops: _*)),
      w => h(concat(lit("sw:"), w)))
    // script share markers: dominant (>50% of counted chars) and
    // present (>5%) per script — q128's counts, bucketed so the
    // feature count is constant per doc
    def nOf(cls: String): Column =
      length(regexp_replace(t, s"[^$cls]", "")).cast("double")
    val scripts = Seq(
      "latin" -> nOf("a-z"), "cyr" -> nOf("\\x{0400}-\\x{04FF}"),
      "greek" -> nOf("\\x{0370}-\\x{03FF}"),
      "cjk" -> nOf("\\x{4E00}-\\x{9FFF}"))
    val total = scripts.map(_._2).reduce(_ + _)
    val markers = scripts.flatMap { case (name, c) =>
      Seq(
        when(total > 0 && c / total > 0.5, h(lit(s"sc:$name:dom"))),
        when(total > 0 && c / total > 0.05, h(lit(s"sc:$name:has"))))
    }
    concat(grams, stops,
      filter(array(markers: _*), m => m.isNotNull))
  }

  /** Train the K-class model on labeled docs (`labelCol` holds the
    * class strings). Classes stay in caller order — prediction ties
    * break to the first, mirroring q37's first-wins cascade. */
  def train(docs: DataFrame, textCol: String, labelCol: String,
      classes: Seq[String], dims: Int = 2048, iters: Int = 8,
      lr: Double = 12.0, seed: Long = 7L): Classifier.MultiModel =
    Classifier.trainMulticlass(docs,
      featureIds(col(textCol), dims, seed), col(labelCol), classes,
      dims, iters, lr)

  /** Model prediction as struct(lang, conf) — a pure projection. */
  def predict(text: Column, model: Classifier.MultiModel,
      seed: Long = 7L): Column =
    Classifier.predictOfIds(featureIds(text, model.dims, seed), model)

  /** The production composition: model prediction where confident,
    * q37's deterministic stopword profile where not (softmax conf
    * < `minConf`) — CCNet's "keep only confident lang labels" rule
    * with the heuristic as the fallback instead of a drop. Returns
    * struct(lang, conf, src) with src ∈ {model, fallback}. */
  def predictWithFallback(text: Column, model: Classifier.MultiModel,
      minConf: Double = 0.5, seed: Long = 7L): Column =
    // bound: the model prediction evaluates ONCE per row even though
    // three fields reference it (Classifier.bind1's contract)
    Classifier.bind1(predict(text, model, seed), p => {
      val confident = p.getField("conf") >= minConf
      struct(
        when(confident, p.getField("lang"))
          .otherwise(TextStats.langId(text)).as("lang"),
        p.getField("conf").as("conf"),
        when(confident, lit("model")).otherwise(lit("fallback"))
          .as("src"))
    })
}
