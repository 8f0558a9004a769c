package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage (ref: votervoice/match.py:44-99).
  *
  * The reference matches scraped records against a DB roster with
  * rapidfuzz: blocking on state_id, per-column scorers with per-column
  * thresholds, a required overall threshold, and duplicate detection
  * when several roster rows clear the bar.
  *
  * Spark-first shape: the ONLY join is an equi-join on the blocking key
  * — a broadcast hash join whose cost is the sum of per-block
  * products, never a cross join. Scoring happens row-wise inside the
  * joined relation (codegen'd expressions), and best-match selection
  * is a plain aggregation on the left id: the map side pre-combines to
  * one candidate per left id per partition, so the one shuffle moves
  * |left| rows, never |surviving pairs|. The roster side is the small
  * one, so it is always broadcast and the plan is scan + broadcast
  * join + aggregate — a single |left|-sized shuffle, no Window node
  * anywhere (PlanAuditSpec pins that structurally).
  */
object FuzzyMatch {

  /** A per-column match rule: the left column is scored against each
    * candidate right column (alternates take the max — the reference
    * lets firstname match middlename/nickname too, match.py:66);
    * a score below `threshold` contributes 0 to the overall score.
    * Scores are [0,100] like rapidfuzz. */
  final case class Rule(
      leftCol: String, rightCols: Seq[String],
      scorer: (Column, Column) => Column,
      threshold: Double, weight: Double = 1.0)

  object Rule {
    def apply(leftCol: String, rightCol: String,
        scorer: (Column, Column) => Column,
        threshold: Double): Rule =
      Rule(leftCol, Seq(rightCol), scorer, threshold, 1.0)
  }

  /** rapidfuzz-style normalized levenshtein ratio in [0,100]:
    * 100 * (1 - dist / max(len_a, len_b)). Integer levenshtein keeps
    * cross-engine parity exact. */
  def levenshteinRatio(a: Column, b: Column): Column = {
    val maxLen = greatest(length(a), length(b))
    when(maxLen === 0, lit(100.0))
      .otherwise(lit(100.0) * (lit(1.0) - levenshtein(a, b).cast("double") / maxLen.cast("double")))
  }

  /** Best match per left row by minimum raw edit distance.
    *
    * @param left      records to match (e.g. scraped rows)
    * @param right     roster to match against, broadcast to the left
    * @param leftId    unique id column on `left`
    * @param rightId   unique id column on `right`
    * @param blockLeft / blockRight  blocking key columns (equi-join)
    * @param distance  (leftRow, rightRow) => integer distance column
    * @param threshold a candidate counts as "within" iff distance <= it
    * @return one row per left id: best_id, best_score, n_within, is_dup
    */
  def bestByDistance(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blockLeft: String, blockRight: String,
      distance: (Column, Column) => Column,
      leftCol: String, rightCol: String,
      threshold: Int): DataFrame = {
    // pairwise scoring is CPU-bound: spread the streamed side first
    val l = Parallelism.ensure(
      left.select(col(leftId).as("s_id"), col(blockLeft).as("__blk"),
        col(leftCol).as("__lv")))
    val r = broadcast(right.select(col(rightId).as("r_id"),
      col(blockRight).as("__blk2"), col(rightCol).as("__rv")))
    val scored = l.join(r, col("__blk") === col("__blk2"))
      .withColumn("score", distance(col("__lv"), col("__rv")))
    // best-match as a min aggregation, NOT a window: the map side
    // pre-combines to one candidate per s_id per partition, so the
    // shuffle moves |left| rows instead of |scored pairs|. (score, id)
    // packs into one long, so min stays a codegen'd HashAggregate;
    // this needs id < 2^40 and distance < 2^23 (any realistic edit
    // distance).
    val base = lit(1L << 40)
    scored.groupBy(col("s_id"))
      .agg(
        min(col("score") * base + col("r_id")).as("__p"),
        sum(when(col("score") <= threshold, 1L).otherwise(0L)).as("n_within"))
      .select(
        col("s_id"),
        col("__p").bitwiseAND(lit((1L << 40) - 1)).as("best_id"),
        shiftright(col("__p"), 40).as("best_score"),
        (col("n_within") > 1).as("is_dup"))
  }

  /** Multi-rule linkage mirroring the reference's record_matcher setup
    * (votervoice/match.py:44-92): per-column scorers with per-column
    * thresholds (below-threshold columns contribute 0), alternate
    * right-hand columns per rule, an overall required threshold on the
    * weighted mean, and duplicate flagging when a runner-up scores
    * within `dupMargin` of the best (duplicate_threshold 3).
    */
  def link(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blockLeft: String, blockRight: String,
      rules: Seq[Rule],
      requiredOverall: Double,
      dupMargin: Double = 3.0): DataFrame = {
    // alias both sides so self-joins (left and right derived from the
    // same source) resolve unambiguously; the roster is broadcast, so
    // the probe side never shuffles on the (low-cardinality) block key
    val l = Parallelism.ensure(left).alias("__l")
    val r = broadcast(right.alias("__r"))
    def lc(c: String) = col(s"__l.$c")
    def rc(c: String) = col(s"__r.$c")
    val joined = l.join(r, lc(blockLeft) === rc(blockRight))
    val scores = rules.map { rule =>
      val per = rule.rightCols.map(c => rule.scorer(lc(rule.leftCol), rc(c)))
      val best = if (per.size == 1) per.head else greatest(per: _*)
      when(best >= rule.threshold, best).otherwise(lit(0.0))
    }
    val totalW = rules.map(_.weight).sum
    val overall = rules.zip(scores)
      .map { case (rule, s) => s * rule.weight }
      .reduce(_ + _) / totalW
    val cand = joined
      .withColumn("__overall", overall)
      .filter(col("__overall") >= requiredOverall)
    // best/dup selection as ONE aggregation, not a window: a window
    // shuffles every surviving pair to its left id and sorts; the
    // aggregate map-side combines to one candidate per left id per
    // partition first, so the shuffle is |left|-sized. Semantics are
    // unchanged: min(struct(-overall, rid)) is argmax by
    // (overall desc, rid asc) — the old row_number order — and
    // "a runner-up within dupMargin of the best exists" is exactly
    // second_max(overall) >= max(overall) - dupMargin (two candidates
    // tied at the max give second_max == max).
    cand
      .groupBy(lc(leftId).as("s_id"))
      .agg(
        min(struct(negate(col("__overall")).as("__neg"),
          rc(rightId).as("__rid"))).as("__best"),
        call_function("second_max", col("__overall")).as("__m2"))
      .select(
        col("s_id"),
        col("__best.__rid").as("best_id"),
        round(negate(col("__best.__neg")), 4).as("match_score"),
        coalesce(
          col("__m2") >= negate(col("__best.__neg")) - dupMargin,
          lit(false)).as("is_dup"))
  }
}
