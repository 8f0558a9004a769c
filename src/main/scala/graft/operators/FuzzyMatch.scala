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
  * — a shuffle hash join whose cost is sum of per-block products, never
  * a cross join. Scoring happens row-wise inside the joined relation
  * (codegen'd expressions), and best-match selection is a plain
  * aggregation on the left id: the map side pre-combines to one
  * candidate per left id per partition, so the one shuffle moves
  * |left| rows, never |surviving pairs|. At 100 TB: roster side is
  * usually small → mark it broadcast and the plan is scan + broadcast
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
    * @param right     roster to match against
    * @param leftId    unique id column on `left`
    * @param rightId   unique id column on `right`
    * @param blockLeft / blockRight  blocking key columns (equi-join)
    * @param distance  (leftRow, rightRow) => integer distance column
    * @param threshold a candidate counts as "within" iff distance <= it
    * @param broadcastRight hint the roster is small enough to broadcast
    * @return one row per left id: best_id, best_score, n_within, is_dup
    */
  def bestByDistance(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blockLeft: String, blockRight: String,
      distance: (Column, Column) => Column,
      leftCol: String, rightCol: String,
      threshold: Int,
      broadcastRight: Boolean = true,
      saltBuckets: Int = 1,
      packIds: Boolean = true): DataFrame = {
    // pairwise scoring is CPU-bound: spread the streamed side first.
    // saltBuckets > 1 splits skewed blocks: each left row takes one
    // deterministic salt, the roster is replicated across every salt,
    // so results are identical but a hot block's pairs spread over
    // saltBuckets times more partitions.
    val l0 = Parallelism.ensure(
      left.select(col(leftId).as("s_id"), col(blockLeft).as("__blk"),
        col(leftCol).as("__lv")))
    val l =
      if (saltBuckets <= 1) l0.withColumn("__salt", lit(0))
      else l0.withColumn("__salt",
        pmod(xxhash64(col("s_id")), lit(saltBuckets)).cast("int"))
    val r1 = right.select(col(rightId).as("r_id"), col(blockRight).as("__blk2"),
      col(rightCol).as("__rv"))
    val r0 =
      if (saltBuckets <= 1) r1.withColumn("__salt2", lit(0))
      else r1.withColumn("__salt2",
        explode(sequence(lit(0), lit(saltBuckets - 1))))
    val r = if (broadcastRight) broadcast(r0) else r0
    val scored = l.join(r,
      col("__blk") === col("__blk2") && col("__salt") === col("__salt2"))
      .withColumn("score", distance(col("__lv"), col("__rv")))
    // best-match as a min aggregation, NOT a window: the map side
    // pre-combines to one candidate per s_id per partition, so the
    // shuffle moves |left| rows instead of |scored pairs|.
    //
    // With packIds (default), (score, id) packs into one long —
    // min stays a codegen'd HashAggregate. Requires id < 2^40 and
    // distance < 2^23 (any realistic edit distance). packIds=false
    // falls back to a lexicographic struct-min (SortAggregate) with no
    // bounds assumption.
    if (packIds) {
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
    } else {
      scored.groupBy(col("s_id"))
        .agg(
          min(struct(col("score"), col("r_id"))).as("__best"),
          sum(when(col("score") <= threshold, 1L).otherwise(0L)).as("n_within"))
        .select(
          col("s_id"),
          col("__best.r_id").as("best_id"),
          col("__best.score").as("best_score"),
          (col("n_within") > 1).as("is_dup"))
    }
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
      dupMargin: Double = 3.0,
      broadcastRight: Boolean = true,
      saltBuckets: Int = 1,
      equalFast: Boolean = false): DataFrame = {
    // alias both sides so self-joins (left and right derived from the
    // same source) resolve unambiguously.
    // saltBuckets > 1 splits skewed/low-cardinality blocks exactly like
    // bestByDistance: each left row takes one deterministic salt from
    // its id, the roster replicates across every salt, so the pair set
    // (and therefore the result) is identical but a hot block's scoring
    // spreads over saltBuckets times more partitions. With few distinct
    // blocks (the reference blocks on state_id — ≤ 56 values) a shuffle
    // join caps at #blocks busy cores; salting restores parallelism.
    // Under broadcastRight the probe side never shuffles on the block
    // key (no skew to split), so salting is skipped — replicating the
    // build side would only multiply broadcast memory.
    val salting = saltBuckets > 1 && !broadcastRight
    val l0 = Parallelism.ensure(left)
    val l = (if (!salting) l0.withColumn("__salt", lit(0))
             else l0.withColumn("__salt",
               pmod(xxhash64(col(leftId)), lit(saltBuckets)).cast("int"))
            ).alias("__l")
    val r1 =
      if (!salting) right.withColumn("__salt2", lit(0))
      else right.withColumn("__salt2",
        explode(sequence(lit(0), lit(saltBuckets - 1))))
    val r0 = r1.alias("__r")
    val r = if (broadcastRight) broadcast(r0) else r0
    def lc(c: String) = col(s"__l.$c")
    def rc(c: String) = col(s"__r.$c")
    val joined = l.join(r,
      lc(blockLeft) === rc(blockRight) && lc("__salt") === rc("__salt2"))
    // equalFast: byte-equal NON-EMPTY operands score 100 without
    // entering the scorer kernel (every rapidfuzz-family scorer is
    // reflexive there; empty-equal still falls through — w_ratio("","")
    // is 0 by design). MEASURED SLOWER and left OFF by default: on the
    // q43 fixture at sf0.1, an interleaved same-JVM A/B (r13, SURVEY.md) put
    // the CaseWhen-wrapped plan at 4.23 s vs 1.71 s plain — wrapping
    // all 9 scorer calls in conditionals bloats the generated code
    // past what whole-stage codegen/subexpression elimination handle,
    // while the scorers' thread-local memo (FuzzyImpl.Memo) already
    // returns repeated pairs at two hashCodes. Kept as an opt-in for
    // non-memoized scorer UDFs where the kernel genuinely dominates.
    def score1(rule: Rule, a: Column, b: Column): Column =
      if (!equalFast) rule.scorer(a, b)
      else when(a === b && length(a) > 0, lit(100.0))
        .otherwise(rule.scorer(a, b))
    val scores = rules.map { rule =>
      val per = rule.rightCols.map(c => score1(rule, lc(rule.leftCol), rc(c)))
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
