package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group statistical operators: exact mode and z-score outlier
  * flagging — the data-quality diagnostics a curation pipeline runs
  * beside the profile aggregates (q77/q97).
  *
  * Both stay inside map-side-combined aggregates or key-partitioned
  * windows: no collect, no global window, no join against a stats
  * side-table (per-key stats ride the same exchange as the data).
  */
object Stats {

  /** Exact per-key mode with a deterministic tie-break (highest count,
    * then smallest value). Two map-side-combined aggregates: counts on
    * (key, value) — the only exchange that moves data — then a
    * struct-min per key, which is an agg over the already-reduced
    * count table (one row per distinct (key, value), tiny at any
    * scale). The struct orders (-count, value), so its MIN is "most
    * frequent, lexicographically first among ties" in one pass — the
    * window-free equivalent of row_number() = 1 over (count DESC,
    * value): no per-key sort, and skew in the RAW data is absorbed by
    * the first aggregate's map-side combine.
    */
  def modePerKey(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol), col(valCol))
      .agg(count(lit(1)).as("__cnt"))
    counts.groupBy(col(keyCol))
      .agg(min(struct((-col("__cnt")).as("n"), col(valCol).as("v"))).as("__m"))
      .select(col(keyCol), col("__m.v").as("mode_val"),
        (-col("__m.n")).as("cnt"))
  }

  /** Rows whose value deviates more than `z` sample standard
    * deviations from their group mean. The group mean/stddev ride a
    * full-partition window over the SAME key exchange as the data —
    * no separate stats aggregate, no join: one shuffle of (key,
    * carried columns), and the windows are unordered full-partition
    * aggregates (no sort). All input columns pass through; `zscore`
    * is appended. Constant groups (stddev 0 or a single row) yield a
    * null z-score and are never flagged.
    *
    * At 100 TB the one exchange moves only the columns the caller
    * kept, and a skewed group degrades to one fat partition — the
    * caller can pre-bucket the key (as q97's profiler would advise)
    * if a single group outweighs an executor.
    */
  def zscoreOutliers(
      df: DataFrame, keyCol: String, valCol: Column, z: Double): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    val score = (valCol - avg(valCol).over(w)) / stddev_samp(valCol).over(w)
    df.withColumn("zscore", score).filter(abs(col("zscore")) > z)
  }

  /** Skew-safe formulation of [[zscoreOutliers]]: per-key mean/stddev
    * as a map-side-combined AGGREGATE (constant-size state per key per
    * task regardless of group size), broadcast-joined back, filter as
    * a pure projection. Same output rows and `zscore` column as the
    * window form — StatsSpec pins the row identity.
    *
    * Why both exist: the window form's single exchange carries the
    * DATA on the key, so one hot key funnels its whole group through
    * one task (the scaladoc above admits it). Here the data never
    * shuffles at all — only (key, partial moment) triples move, so a
    * 99%-one-key distribution costs the same as a uniform one. This is
    * the [[winsorize]] shape, and the variant to reach for at 100 TB
    * when the key histogram is unknown. Null keys keep window parity
    * via a null-safe join (they form a group, as the window form's
    * null partition does).
    *
    * The stats table is one row per DISTINCT key and is broadcast:
    * the key is assumed categorical/bounded (the outlier-diagnostic
    * norm).
    */
  def zscoreOutliersAgg(
      df: DataFrame, keyCol: String, valCol: Column,
      z: Double): DataFrame = {
    val stats = df.groupBy(col(keyCol).as("__k"))
      .agg(avg(valCol).as("__avg"), stddev_samp(valCol).as("__sd"))
    df.join(broadcast(stats), col(keyCol) <=> col("__k"))
      .withColumn("zscore", (valCol - col("__avg")) / col("__sd"))
      .drop("__k", "__avg", "__sd")
      .filter(abs(col("zscore")) > z)
  }

  /** Robust (median/MAD) per-group outliers — the heavy-tail-safe twin
    * of [[zscoreOutliers]]: a single extreme value drags a mean and
    * inflates a stddev (masking itself), but not a median. Flags rows
    * with |x − median| > k · MAD, where MAD = median(|x − median|).
    *
    * Two exact-percentile aggregates on the group key (medians can't
    * ride a window — Spark's percentile is aggregate-only), the second
    * over the deviation of the first, joined back broadcast (the stats
    * tables are group-count-sized). Zero-MAD groups (over half the
    * group at the median) and singletons never flag — a null/zero
    * denominator is no evidence of an outlier.
    *
    * Scale note: exact `percentile` buffers each group's values in the
    * aggregation buffer — right for diagnostics over bounded groups
    * (a group must fit an executor), NOT for billion-row groups; at
    * that scale substitute `approx_percentile` (the q56 sketch path)
    * at a small accuracy cost. The flagging pass itself is one
    * broadcast join + filter, no extra exchange of the data.
    */
  def madOutliers(
      df: DataFrame, keyCol: String, valCol: Column, k: Double): DataFrame = {
    // materialized: both the MAD aggregate and the flagging join consume
    // the medians, and without the cut Catalyst plans the full-data
    // percentile aggregate twice (3 exchanges → 2, one group-count-sized
    // table held instead)
    val med = df.groupBy(col(keyCol))
      .agg(percentile(valCol, lit(0.5)).as("__med"))
      .localCheckpoint(false) // lazy: plan construction stays free
    val mad = df.join(broadcast(med), keyCol)
      .groupBy(col(keyCol))
      .agg(percentile(abs(valCol - col("__med")), lit(0.5)).as("__mad"))
    df.join(broadcast(med), keyCol).join(broadcast(mad), keyCol)
      .withColumn("deviation", abs(valCol - col("__med")))
      .filter(col("__mad") > 0 && col("deviation") > lit(k) * col("__mad"))
      .withColumn("median", col("__med")).withColumn("mad", col("__mad"))
      .drop("__med", "__mad")
  }

  /** Per-group winsorization: clamp values to the group's [lo, hi]
    * quantiles — the outlier treatment that KEEPS the row (a doc with
    * a freak length stays in the corpus at the clipped length) where
    * [[madOutliers]]/[[zscoreOutliers]] would surface or drop it.
    *
    * One exact-percentile aggregate builds the group bound table
    * (group-count-sized → broadcast back); the clamp is a pure
    * projection — the data itself never shuffles at all. Same exact-
    * percentile scale note as [[madOutliers]]: bounded groups, or
    * substitute approx_percentile. Appends `lo_bound`, `hi_bound`,
    * `winsorized`; all input columns pass through.
    */
  def winsorize(
      df: DataFrame, keyCol: String, valCol: Column,
      lo: Double, hi: Double): DataFrame = {
    require(0 <= lo && lo < hi && hi <= 1, s"need 0 <= lo < hi <= 1")
    val bounds = df.groupBy(col(keyCol)).agg(
      percentile(valCol, lit(lo)).as("lo_bound"),
      percentile(valCol, lit(hi)).as("hi_bound"))
    df.join(broadcast(bounds), keyCol)
      .withColumn("winsorized",
        least(greatest(valCol, col("lo_bound")), col("hi_bound")))
  }

  /** Rolling (trailing-window) z-score anomaly detection per key: a
    * row is flagged when its value deviates more than `z` sample
    * standard deviations from the mean of the `lookback` rows
    * IMMEDIATELY BEFORE it (frame exclusive of the current row — the
    * monitoring semantic: "does this event look wrong given this
    * key's recent history", where [[zscoreOutliers]] asks it of the
    * key's whole distribution at once).
    *
    * Exactness contract: `xCol` must be an integer-scaled LONG (e.g.
    * `round(value * 100)` — the caller picks the scale). The flag
    * decision is pure integer arithmetic — with s1 = Σx, s2 = Σx²
    * and m rows in the frame,
    *   |x − s1/m| > z·√((m·s2 − s1²)/(m·(m−1)))
    * cross-multiplies to
    *   (m·x − s1)² · (m−1) > z² · m · (m·s2 − s1²)
    * — so the cut is bit-exact across engines (no float epsilon can
    * flip a row at the threshold). Magnitude precondition (scaladoc'd,
    * not checked): z²·lookback²·max(x)² must fit a signed 64-bit long
    * — i.e. |x| ≲ 3·10⁹/(z·lookback). A zero-variance frame flags any
    * deviation (std 0: the "infinite z" limit) and reports a null
    * zscore; frames with fewer than `minPrior` rows never flag (no
    * history, no evidence).
    *
    * Plan shape: ONE hash exchange on the key — the three frame sums
    * share a single (key, order, tie) sorted window; the filter and
    * the z-score projection are free. Only the caller's columns move.
    * Hot-key caveat as [[zscoreOutliers]]: a single key serialises
    * into one task's sort; time-bucket the key first if one key
    * outweighs an executor.
    */
  def rollingZscore(
      df: DataFrame, keyCol: String, orderCol: Column, tieCol: Column,
      xCol: Column, lookback: Int, z: Int, minPrior: Int = 3): DataFrame = {
    require(lookback >= 2 && minPrior >= 2 && z > 0,
      "rollingZscore: need lookback >= 2, minPrior >= 2, z > 0")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCol, tieCol)
      .rowsBetween(-lookback, -1)
    val withSums = df
      .withColumn("__s1", sum(xCol).over(w))
      .withColumn("__s2", sum(xCol * xCol).over(w))
      .withColumn("__m", count(xCol).over(w))
    val m = col("__m"); val s1 = col("__s1"); val s2 = col("__s2")
    val dev = m * xCol - s1          // m·(x − mean), integer-exact
    val varNum = m * s2 - s1 * s1    // m·(m−1)·variance, integer-exact
    withSums
      .filter(m >= minPrior &&
        dev * dev * (m - 1) > lit(z.toLong * z) * m * varNum)
      // zscore from the same integer sums — identical expression tree
      // in the SQL oracle, so the doubles match bit for bit; null when
      // the frame was constant (the integer cut already flagged it)
      .withColumn("zscore",
        when(varNum > 0,
          round(dev / m / sqrt(varNum.cast("double") / (m * (m - 1))), 4)))
      .withColumnsRenamed(Map("__m" -> "n_prior", "__s1" -> "sum_prior"))
      .drop("__s2")
  }

  /** EXACT k-th smallest row by a tie-free long key, WITHOUT a global
    * sort — exact order statistics (median, p99, any rank) over a
    * corpus no single task could sort. Two narrow passes:
    *
    *  1. BRACKET: approx_percentile on the key at quantiles
    *     (k ± εn)/n, where ε = 1/accuracy is the sketch's documented
    *     rank-error bound — so the true k-th key provably lies inside
    *     [lo, hi], and the bracket holds ≤ ~2εn rows (20k rows per
    *     100M at the default accuracy — tune accuracy to taste).
    *  2. SELECT: one exact count of rows strictly below the bracket,
    *     then Corpus.globalRank over the BRACKET ROWS ONLY (the
    *     two-level prefix scan — range-bucketed windows + broadcast
    *     offsets, never a single-task window) and pick global rank k.
    *
    * The full relation is scanned twice (both passes full-pushdown
    * column scans) but never sorted and never shuffled whole: only
    * bracket rows enter an exchange. The key must be TIE-FREE (pack a
    * unique id into the low bits, q96-style) so "the k-th row" is
    * well-defined and cross-engine deterministic. Returns the single
    * selected row (all input columns).
    */
  /** Equi-DEPTH histogram (quantile buckets) of a value column: every
    * bucket holds the same row count (±1), boundaries fall where the
    * data is dense — the complement of q101's equi-width buckets.
    * `keyCol` must be a tie-free long sort key (pack value + row id as
    * q96/q129 do); bucket = (rank0 · buckets) div n in pure integer
    * arithmetic, so the cut points are cross-engine exact (DuckDB
    * replicates with row_number + the same integer division).
    *
    * Scale shape: the exact rank comes from [[Corpus.globalRank]]'s
    * two-level prefix scan — range-bucket the key, per-bucket windows,
    * bucket offsets from a collect of `buckets` tiny totals — never a
    * single-task global window; the per-bucket stats are one
    * map-side-combined aggregate over at most `buckets` groups.
    */
  def equiDepthHistogram(
      df: DataFrame, keyCol: String, valCol: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1, "equiDepthHistogram: buckets >= 1")
    // n comes from the rank's own bucket totals — the separate
    // df.count() scan this used to pay is redundant (r19)
    val (ranked, n) = Corpus.globalRankAndCount(df, keyCol, "__rank0")
    ranked
      .groupBy(expr(s"(__rank0 * $buckets) div $n").as("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(valCol).as("lo"),
        max(valCol).as("hi"), sum(valCol).as("sum_val"))
  }

  /** Per-key ordinary-least-squares trend (slope + intercept) over
    * INTEGER (x, y) points — time-series drift detection per group
    * (revenue/day, tokens/snapshot). The five moment sums (n, Σx, Σy,
    * Σxy, Σx²) stay in long arithmetic so both engines see identical
    * integers; only the final two divisions are double, making the
    * result deterministic cross-engine where regr_slope's
    * streaming-covariance accumulation order would not be. One
    * map-side-combined aggregate — constant state per key per task,
    * skew-immune. Keys with a single distinct x (denominator 0) yield
    * null slope/intercept.
    *
    * Caller owns the value ranges: Σ(x·y) and n·Σxy must fit a long
    * (document the bound at the call site — q132 uses day-index x
    * ≤ ~2500 and per-day cents y, safe through sf0.1).
    */
  def trendPerKey(
      df: DataFrame, keyCol: String, xCol: Column, yCol: Column): DataFrame = {
    val x = xCol.cast("long")
    val y = yCol.cast("long")
    val m = df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
    val num = (col("n") * col("__sxy") - col("__sx") * col("__sy"))
    val den = (col("n") * col("__sxx") - col("__sx") * col("__sx"))
    val slope = when(den =!= 0, num.cast("double") / den.cast("double"))
    m.select(col(keyCol), col("n"), slope.as("slope"),
      ((col("__sy").cast("double") - slope * col("__sx").cast("double")) /
        col("n")).as("intercept"))
  }

  /** Quantile NORMALIZATION across groups — map each row to the
    * GLOBAL value at its within-group relative rank, so scores from
    * differently-calibrated groups (sources, annotators, shards)
    * become comparable on one scale: the distribution-matching
    * transform behind cross-source quality cuts (q125 ranks within a
    * source; this maps those ranks onto the global distribution).
    *
    * All-integer rank arithmetic: within-group 0-based rank r over
    * tie-free `keyCol`, group size m, global size n ⇒ target global
    * index = round(r·(n−1)/(m−1)) computed as
    * (2·r·(n−1)+(m−1)) div (2·(m−1)) — half-up in longs, exact
    * cross-engine (singleton groups map to the global median index).
    * The normalized value is the EXACT global order statistic at that
    * index, not an interpolated quantile — distribution matching by
    * construction.
    *
    * Plan: ONE group-key exchange carries both the rank and the size
    * windows; global order statistics come from Corpus.globalRank's
    * two-level prefix scan (never a single-task window); the mapping
    * is an equi-join on the target index. Caller guarantees keyCol is
    * a tie-free long (pack value·2³²+id as q96/q129 do) and
    * r·(n−1) fits a long. */
  def quantileNormalize(
      df: DataFrame, groupCol: String, keyCol: String, valCol: String,
      normCol: String): DataFrame = {
    // n from the global rank's bucket totals — no separate count (r19)
    val (ranked, n) = Corpus.globalRankAndCount(
      df.select(col(keyCol), col(valCol)), keyCol, "__gidx")
    val global = ranked.select(col("__gidx"), col(valCol).as(normCol))
    val wr = Window.partitionBy(col(groupCol)).orderBy(col(keyCol))
    val ws = Window.partitionBy(col(groupCol))
    df.withColumn("__r0", row_number().over(wr).cast("long") - 1)
      .withColumn("__m", count(lit(1)).over(ws))
      .withColumn("__tgt", when(col("__m") === 1, lit((n - 1) / 2))
        .otherwise(expr(
          s"(2 * __r0 * ${n - 1} + (__m - 1)) div (2 * (__m - 1))")))
      .join(global, col("__tgt") === col("__gidx"))
      .drop("__r0", "__m", "__tgt", "__gidx")
  }

  /** `knownN`: callers that already counted the frame (q129 computes
    * n to pick the median k) pass it through instead of paying a
    * second full count scan here (r19). */
  def kthSmallest(df: DataFrame, keyCol: String, k: Long,
      accuracy: Int = 10000, knownN: Option[Long] = None): DataFrame = {
    require(k >= 1, s"kthSmallest: k must be >= 1, got $k")
    val n = knownN.getOrElse(df.count())
    require(k <= n, s"kthSmallest: k=$k beyond row count $n")
    val eps = math.max(1L, n / accuracy)
    val qLo = math.max(0.0, (k - eps).toDouble / n)
    val qHi = math.min(1.0, (k + eps).toDouble / n)
    val b = df.agg(
      percentile_approx(col(keyCol), lit(qLo), lit(accuracy)).as("lo"),
      percentile_approx(col(keyCol), lit(qHi), lit(accuracy)).as("hi"))
      .head
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    // ONE scan yields both the below-bracket rank offset (via observe)
    // and the materialized bracket — r19: nLo used to be its own full
    // count scan, and the lazy bracket then re-scanned the full input
    // for EACH of the rank's three passes (range bounds, bucket
    // totals, the ranked window); the checkpoint pins the ~2·eps-row
    // bracket so those passes read it instead.
    val obs = org.apache.spark.sql.Observation()
    val bracket = df
      .filter(col(keyCol) <= hi)
      .observe(obs, coalesce(
        sum(when(col(keyCol) < lo, 1L).otherwise(0L)), lit(0L)).as("nlo"))
      .filter(col(keyCol) >= lo)
      .localCheckpoint()
    val nLo = obs.get("nlo").toString.toLong
    Corpus.globalRank(bracket, keyCol, "__r0")
      .filter(col("__r0") === k - nLo - 1) // rank0 is 0-based
      .drop("__r0")
  }

  /** Schema-driven one-pass COLUMN PROFILE: per-column null count,
    * exact distinct count and min/max (rendered as strings) for EVERY
    * column of `df`, derived from the schema — no call-site column
    * list. One logical pass: Spark plans the multi-distinct via one
    * Expand + a two-phase aggregate (2 exchanges total regardless of
    * column count, never a per-column query); the wide one-row result
    * melts to long form in a projection. min/max are taken in each
    * column's NATIVE order and cast to string after — casting first
    * would rank numerics lexicographically. Arrays and structs are
    * orderable/groupable in Spark and profile natively; map columns
    * (no total order, not groupable) get null min/max and a distinct
    * count over their string rendering.
    *
    * At 100 TB the Expand multiplies rows by the distinct-agg count
    * before the partial aggregate absorbs them; for very wide tables
    * profile a column subset per run (select before calling) rather
    * than one pass over hundreds of columns.
    */
  def columnProfile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    val fields = df.schema.fields
    require(fields.nonEmpty, "columnProfile: input has no columns")
    // a map anywhere in the type makes the column unorderable and
    // ungroupable in Spark — detect it recursively
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val aggs = count(lit(1)).as("__n") +: fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val (mn, mx, nd) =
        if (hasMap(f.dataType))
          (lit(null).cast("string"), lit(null).cast("string"),
            countDistinct(c.cast("string")))
        else (min(c).cast("string"), max(c).cast("string"), countDistinct(c))
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
        nd.as(s"__nd_${f.name}"),
        mn.as(s"__min_${f.name}"), mx.as(s"__max_${f.name}"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val pairs = fields.toSeq.map(f => struct(
      lit(f.name).as("column_name"), col("__n").as("n_rows"),
      col(s"__nulls_${f.name}").as("n_nulls"),
      col(s"__nd_${f.name}").as("n_distinct"),
      col(s"__min_${f.name}").as("min_s"),
      col(s"__max_${f.name}").as("max_s")))
    wide.select(explode(array(pairs: _*)).as("__p")).select(
      col("__p.column_name"), col("__p.n_rows"), col("__p.n_nulls"),
      col("__p.n_distinct"), col("__p.min_s"), col("__p.max_s"))
  }
}
