package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TimeFunctions.tsMillis
import graft.operators._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent SQL oracle where the semantics
  * are SQL-expressible. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing).
  *
  * The reference's scraped-record inputs (composite info strings,
  * '(P-SS-DD)' tokens) don't exist in the driver testdata, so q01/q02/
  * q08 synthesise them deterministically from `customer` with identical
  * expressions on both engines, then exercise the real parsing/matching
  * operators on the synthesised column.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q10(spark, "/root/testdata/sf0.001")

  /** Per-JVM scratch directory for the queries whose SEMANTICS include
    * a persistence round trip (q174's saved model, q177's saved
    * index): each uses one FIXED subdir with mode=overwrite writes, so
    * a bench run's warm-ups + timed passes are bounded at one artifact
    * copy instead of leaking a fresh temp directory per invocation,
    * and the whole tree is removed on JVM exit. */
  private lazy val scratchDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: Throwable => () }
    }))
    dir.toString
  }

  // ----------------------------------------------------------------
  // A. Reference ETL surface
  // ----------------------------------------------------------------

  /** Deterministic composite info string in the reference's scraped
    * shape, e.g. "Sen. First42 C. Van Last7, Jr. (R-TX-07)" — titles
    * (incl. multi-word), optional middle initial, multi-word last
    * names, comma-optional suffixes, optional paren token. */
  private def synthInfo(k: Column): Column = {
    val title = element_at(array(Seq(
      "Rep. ", "Sen. ", "Speaker ", "Delegate ", "Minority Leader ",
      "Senate President ", "", "").map(lit): _*), (k % 8).cast("int") + 1)
    val fn = concat(lit("First"), (k % 97).cast("string"))
    val mi = when(k % 3 === 0,
      concat(lit(" "), call_function("char", lit(65) + (k % 26).cast("int")),
        lit("."))).otherwise(lit(""))
    val ln = concat(
      when(k % 11 === 0, lit("Van ")).otherwise(lit("")),
      lit("Last"), (k % 53).cast("string"))
    val sfx = element_at(array(Seq(
      ", Jr.", " Sr.", " III", " II", ", M.D.", "", "").map(lit): _*),
      (k % 7).cast("int") + 1)
    val paren = when(k % 2 === 0, concat(
      lit(" ("),
      element_at(array(Seq("R", "D", "I").map(lit): _*), (k % 3).cast("int") + 1),
      lit("-"),
      element_at(array(Seq("TX", "CA", "NY", "DC", "VT").map(lit): _*),
        (k % 5).cast("int") + 1),
      lit("-"), lpad((k % 25).cast("string"), 2, "0"), lit(")")
    )).otherwise(lit(""))
    concat(title, fn, mi, lit(" "), ln, sfx, paren)
  }

  /** Matching synthesis in DuckDB SQL (CTE text reused by q01). */
  private val synthInfoSql =
    """SELECT c_custkey AS id,
      |  (['Rep. ','Sen. ','Speaker ','Delegate ','Minority Leader ','Senate President ','',''])[CAST(c_custkey % 8 AS INT) + 1]
      |  || 'First' || CAST(c_custkey % 97 AS VARCHAR)
      |  || CASE WHEN c_custkey % 3 = 0
      |       THEN ' ' || chr(65 + CAST(c_custkey % 26 AS INT)) || '.' ELSE '' END
      |  || ' ' || CASE WHEN c_custkey % 11 = 0 THEN 'Van ' ELSE '' END
      |  || 'Last' || CAST(c_custkey % 53 AS VARCHAR)
      |  || ([', Jr.',' Sr.',' III',' II',', M.D.','',''])[CAST(c_custkey % 7 AS INT) + 1]
      |  || CASE WHEN c_custkey % 2 = 0
      |       THEN ' (' || (['R','D','I'])[CAST(c_custkey % 3 AS INT) + 1]
      |         || '-' || (['TX','CA','NY','DC','VT'])[CAST(c_custkey % 5 AS INT) + 1]
      |         || '-' || lpad(CAST(c_custkey % 25 AS VARCHAR), 2, '0') || ')'
      |       ELSE '' END AS info
      |FROM customer""".stripMargin.replace("\n", " ")

  /** q01: composite info string → name parts. Pure regexp expressions —
    * narrow, codegen'd, no shuffle. Ref: votervoice/transform.py:16-56. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).customer
      .select(col("c_custkey").as("id"), synthInfo(col("c_custkey")).as("info"))
      .select(
        col("id"), col("info"),
        TextFunctions.firstName(col("info")).as("firstname"),
        TextFunctions.middleName(col("info")).as("middlename"),
        TextFunctions.lastName(col("info")).as("lastname"),
        TextFunctions.extractSuffix(col("info")).as("suffix"))

  /** Deterministic '(P-SS[-DD])' token with a title prefix — Delegate
    * rows and district-less tokens included, e.g. "Delegate X (D-DC)". */
  private def synthPsd(k: Column): Column =
    concat(
      element_at(array(Seq("Rep. ", "Delegate ", "Sen. ", "").map(lit): _*),
        (k % 4).cast("int") + 1),
      lit("X ("),
      element_at(array(Seq("R", "D", "I").map(lit): _*), (k % 3).cast("int") + 1),
      lit("-"),
      element_at(array(Seq("TX", "CA", "NY", "DC", "VT").map(lit): _*),
        (k % 5).cast("int") + 1),
      when(k % 6 === 0, lit(""))
        .otherwise(concat(lit("-"), lpad((k % 25).cast("string"), 2, "0"))),
      lit(")"))

  private val synthPsdSql =
    """SELECT c_custkey AS id,
      |  (['Rep. ','Delegate ','Sen. ',''])[CAST(c_custkey % 4 AS INT) + 1]
      |  || 'X (' || (['R','D','I'])[CAST(c_custkey % 3 AS INT) + 1]
      |  || '-' || (['TX','CA','NY','DC','VT'])[CAST(c_custkey % 5 AS INT) + 1]
      |  || CASE WHEN c_custkey % 6 = 0 THEN ''
      |       ELSE '-' || lpad(CAST(c_custkey % 25 AS VARCHAR), 2, '0') END
      |  || ')' AS info
      |FROM customer""".stripMargin.replace("\n", " ")

  /** q02: '(P-SS-DD)' → party/state/district, district de-padded,
    * Delegate special-case. Ref: votervoice/transform.py:59-70. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).customer
      .select(col("c_custkey").as("id"), synthPsd(col("c_custkey")).as("info"))
      .select(
        col("id"), col("info"),
        TextFunctions.party(col("info")).as("party"),
        TextFunctions.state(col("info")).as("state"),
        TextFunctions.district(col("info")).as("district"))

  /** q03: map-based value normalisation + null→''.
    * Ref: votervoice/transform.py:7-10. */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val seg = Map("BUILDING" -> "BLDG", "AUTOMOBILE" -> "AUTO",
      "MACHINERY" -> "MACH")
    Tables(s, dir).customer.select(
      col("c_custkey"),
      TextFunctions.replaceValues(col("c_mktsegment"), seg).as("seg_norm"),
      TextFunctions.nullToEmpty(
        when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_name"))
      ).as("name_norm"))
  }

  /** q04: Postgres DISTINCT ON emulation — latest order per customer.
    * Ref: queries/election_candidates_by_electionyear.sql:9. */
  private def q04(s: SparkSession, dir: String): DataFrame =
    DistinctOn(Tables(s, dir).orders,
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_orderdate").desc, col("o_orderkey")))
      .select(
        col("o_custkey"),
        col("o_orderkey").as("latest_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"),
        round(col("o_totalprice"), 4).as("latest_price"))

  /** q05: candidates-by-year shape — multi-way dim join + param
    * filters + semi-join on the fact, expressed through the typed
    * RosterQuery param API. Year params compile to raw range predicates
    * at the scan (PushdownSpec pins this); dims broadcast; the only
    * shuffle is the semi-join on custkey.
    * Ref: queries/election_candidates_by_electionyear.sql. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    RosterQuery.activeEntities(Tables(s, dir),
      RosterQuery.RosterParams(
        electionYears = Seq(1995, 1996),
        stateNames = Seq("ASIA", "EUROPE")))

  /** q06: incumbents-by-term shape — runtime date-window params +
    * count, through the typed RosterQuery API.
    * Ref: queries/office-candidates_by_congstatus.sql. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    RosterQuery.incumbents(Tables(s, dir), "1998-01-01", "1998-12-31")

  /** q07: small-dim broadcast lookup + rollup counts.
    * Ref: queries/office_list.sql, state_list.sql. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("c_acctbal")), 4).as("avg_bal"))
  }

  /** q08: blocked fuzzy record linkage — scraped names (synthesised
    * "Cust <k>") matched against the roster (c_name) blocking on
    * nation; integer levenshtein keeps exact cross-engine parity.
    * Ref: votervoice/match.py:44-99. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val scraped = t.customer.select(
      col("c_custkey").as("s_id"),
      concat(lit("Cust "), col("c_custkey").cast("string")).as("s_name"),
      col("c_nationkey").as("s_blk"))
    val roster = t.customer.select(
      col("c_custkey").as("r_id"), col("c_name").as("r_name"),
      col("c_nationkey").as("r_blk"))
    FuzzyMatch.bestByDistance(
      scraped, roster, "s_id", "r_id", "s_blk", "r_blk",
      (a, b) => levenshtein(a, b).cast("long"),
      "s_name", "r_name", threshold = 12)
  }

  /** q09: wide scorecard → long rows (pivot there and back — the melt
    * direction is the reference's; both are narrow map-side ops).
    * Ref: national/_674/ratings/extract.py:27-33. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables(s, dir).orders
      .groupBy("o_custkey")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(round(sum("o_totalprice"), 4))
    Unpivot(wide, Seq("o_custkey"), Seq("O", "F", "P"), "status", "total")
  }

  // ----------------------------------------------------------------
  // B. Analytics core
  // ----------------------------------------------------------------

  /** q10: TPC-H Q1-shape pricing summary. Single hash-agg with map-side
    * partial aggregation; the date filter is pushed to the parquet scan.
    */
  private def q10(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      // to_date(l_shipdate) <= d rewritten as a raw timestamp range so
      // the predicate reaches the parquet scan (row-group pruning)
      .filter(col("l_shipdate") < lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** q11: TPC-H Q3-shape ship-priority — filtered 3-way join, agg,
    * top-10. Customer filter is broadcast; lineitem never reshuffles
    * except for the final agg on orderkey. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t.orders.filter(col("o_orderdate") < "1999-01-01")
    val li = t.lineitem.filter(col("l_shipdate") > "1999-01-01")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q12: top-k per group via rank window. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir).orders
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rank"),
        round(col("o_totalprice"), 4).as("price"))
  }

  /** q13: JSON field extraction from events.props. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        round(col("value"), 4).as("value"))

  /** q14: hierarchical rollup totals (region → nation → grand total). */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 4).as("total_bal"))
      .select(
        TextFunctions.nullToEmpty(col("r_name")).as("r_name"),
        TextFunctions.nullToEmpty(col("n_name")).as("n_name"),
        col("n_customers"), col("total_bal"))
  }

  /** q15: anti join — customers with no order in a date window. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val inWindow = t.orders
      .filter(col("o_orderdate").between("2000-01-01", "2000-12-31"))
      .select("o_custkey")
    t.customer
      .join(inWindow, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** q16: exact interpolated percentiles per group. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))

  /** q18: window-frame moving average — 7-row trailing mean of daily
    * revenue per priority class (the remaining window shape: frames,
    * alongside rank/lag/cumsum elsewhere). */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(s, dir).orders
      .groupBy(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice")).as("__rev"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("rev_ma7", round(avg(col("__rev")).over(w), 4))
      .select(col("o_orderpriority"), col("day"),
        round(col("__rev"), 4).as("revenue"), col("rev_ma7"))
  }

  /** q17: second-moment aggregates (stddev / correlation) per group. */
  private def q17(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        round(stddev(col("l_extendedprice")), 4).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_cov"))

  // ----------------------------------------------------------------
  // C. Events / streaming (batch forms)
  // ----------------------------------------------------------------

  /** q20: gap-based sessionization (30 min) + per-session rollup. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessionStats(Tables(s, dir).events,
      keyCol = "user_id", tsCol = "ts", gapMillis = 30L * 60 * 1000,
      tieBreak = "event_id", valueCol = "value")

  /** q21: tumbling 1-hour window aggregation (event-time). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        tsMillis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("sum_value"))

  // ----------------------------------------------------------------
  // D. LLM-training-data pipeline
  // ----------------------------------------------------------------

  /** q116: native session-window aggregation — the built-in
    * `session_window(ts, gap)` dual of q20's lag+cumsum plan (same
    * shape works under Structured Streaming, where the lag+cumsum
    * form can't). One exchange on the user key; boundary-INCLUSIVE
    * like the lag+cumsum form (an event exactly at last+gap merges —
    * pinned in OperatorsSpec), so the oracle is q20's `> gap` rule
    * rolled up to session bounds. */
  private def q116(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      // truncate to millis BEFORE windowing: the oracle's gap rule runs
      // on epoch_ms, and a sub-millisecond residue (micro-precision
      // timestamps) must not split a session the ms-domain rule merges
      .withColumn("ts", timestamp_millis(tsMillis(col("ts"))))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        tsMillis(col("session_window.start")).as("start_ms"),
        col("n_events"), col("sum_value"))

  /** q30: exact dedup via content hash. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(s, dir).documents, "doc_id", "text")

  /** q31: MinHash+LSH candidate pairs (pre-verify). rows-only. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(Tables(s, dir).documents, "doc_id", "text",
      shingleN = 3, numHashes = 48, bands = 16)

  /** q32: SimHash hamming-band near-dup candidates. rows-only. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidates(Tables(s, dir).documents, "doc_id", "text",
      shingleN = 2, maxHamming = 8)

  /** q33: full near-dup pipeline — LSH candidates verified by exact
    * trigram Jaccard ≥ 0.5. The oracle brute-forces all pairs; parity
    * holds because 16 bands of 3 give deterministic 100% recall on the
    * high-similarity pairs the threshold keeps. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDup(Tables(s, dir).documents, "doc_id", "text",
      shingleN = 3, numHashes = 48, bands = 16, threshold = 0.5)

  /** q34: embedding-cosine near-dup pairs, label-blocked and EXACT —
    * the oracle-checkable formulation. Within-block pairing is
    * quadratic in block size, so this shape is only for corpora whose
    * blocks stay small; the scale path for near-dup over a growing
    * corpus is the hyperplane-LSH variant (q41 /
    * Dedup.embeddingNearDup), whose candidate volume stays near-linear. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Tables(s, dir).embeddings.select(
      col("vec_id"), col("label"), col("embedding"),
      norm(col("embedding")).as("__n"))
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("embedding").as("__va"), col("__n").as("__na"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("label2"),
      col("embedding").as("__vb"), col("__n").as("__nb"))
    a.join(b, col("label") === col("label2") && col("a_id") < col("b_id"))
      .withColumn("cosine", round(
        cosinePrenormed(dot(col("__va"), col("__vb")), col("__na"), col("__nb")), 4))
      .filter(col("cosine") >= 0.35)
      .select("a_id", "b_id", "cosine")
  }

  /** q35: brute-force cosine top-k — broadcast query set over the
    * corpus, no corpus shuffle. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Ann.bruteForceTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      idCol = "vec_id", vecCol = "embedding", k = 5)
  }

  /** q36: IVF-bucketed ANN at FULL probe — every bucket searched, so the
    * result is exact and hash-checked against the brute-force oracle
    * (each corpus row lives in exactly one bucket; probing all buckets
    * scores each (query, neighbor) pair exactly once). Bucket assignment
    * is a pure projection against the driver-materialised centroid
    * model — zero exchanges on the corpus. q45 is the pruned
    * (approximate) production shape. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Ann.ivfTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = e.filter(col("vec_id") % 50 === 0),
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = Int.MaxValue)
  }

  /** q45: IVF-bucketed ANN, pruned — probe only the 3 buckets nearest
    * each query. rows-only (approximate by construction; q36 proves the
    * machinery exact at full probe). */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Ann.ivfTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = e.filter(col("vec_id") % 50 === 0),
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 3)
  }

  /** q61: IVF with TRAINED centroids — k-means (Lloyd's, cosine
    * assignment via the zero-exchange nearest_centroid projection)
    * replaces the row-sample centroids of q36/q45, completing the
    * index-construction story. rows-only (approximate by construction;
    * AnnSpec pins full-probe exactness and objective improvement). */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val trained = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 20, iters = 3)
    Ann.ivfTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = trained.withColumnRenamed("centroid_id", "vec_id"),
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 3)
  }

  /** q66: IVF-PQ compressed search — PQ codebooks trained per subspace
    * (driver-side Lloyd's over a deterministic bounded sample, the
    * FAISS recipe), corpus encoded to 16 one-byte codes + true norm
    * (16× smaller than raw float32), queries score buckets by ADC
    * table lookups, then the top candidates rerank with exact cosine.
    * rows-only (PQ quantization is engine-specific); AnnSpec pins ADC
    * error bounds, recall, and rerank-equals-brute-force at full
    * probe. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    // the IVF k-means and the PQ codebook sample are independent
    // trainings over the same input — overlap their jobs (guide §2.6)
    val (centroids, books) = Parallelism.join2(
      Ann.trainCentroids(e, "vec_id", "embedding",
        k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"),
      Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
        iters = 5, maxTrain = 4096))
    Ann.ivfPqTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = centroids, codebooks = books,
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 3,
      refine = 4)
  }

  /** q165: RESIDUAL IVF-PQ search — q66 upgraded to the FAISS IVF-PQ
    * recipe proper: codebooks train on and codes quantize the
    * RESIDUAL (vec − assigned centroid), whose within-cell spread is
    * far tighter than the raw vectors', so the same 16 bytes carry
    * less quantization error; ADC scores ⟨q,c⟩ (exact, one dot per
    * probe pair) + ⟨q,r⟩ (table lookups). The subtraction runs
    * through the native codegen'd `vec_sub_f` kernel — never the
    * interpreted zip_with HOF. rows-only (quantization is
    * engine-specific); AnnSpec pins residual-ADC beating plain-ADC
    * recall on the real embeddings and rerank ≡ brute force at full
    * probe. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val centroids = Ann.trainCentroids(e, "vec_id", "embedding",
      k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id")
    val books = Ann.trainPqResidual(e, centroids, "vec_id", "embedding",
      m = 16, ksub = 128, iters = 5, maxTrain = 4096)
    Ann.ivfPqResidualTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = centroids, codebooks = books,
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 3,
      refine = 4)
  }

  /** FROZEN PCA whitening model for q167: the output of `Pca.train`
    * over the sf0.01 embeddings (k=4, maxTrain default — here the
    * whole 4k corpus, so whitened variance is exactly 1). Components
    * are floats (they feed the codegen'd `dot_f`); the oracle
    * literal renders each as the shortest round-trip DOUBLE of its
    * float value, so both engines multiply identical IEEE operands.
    * PcaSpec re-derives the model and pins equality. */
  private[graft] val PcaComps: Seq[Seq[Float]] = Seq(
    Seq(
      -0.20963933f, -0.120572716f, 0.03654786f, 0.011819567f, 0.075670086f,
      0.013214629f, 0.09058412f, 0.2866188f, 0.04954696f, 0.41405654f,
      0.06530498f, 0.18207885f, 0.06513224f, -0.036532056f, 0.17114897f,
      -0.18534978f, 0.088989876f, -0.15702656f, -0.030136686f, 0.03217897f,
      0.061213203f, -0.11068832f, -0.08347513f, -0.055437468f,
      0.019550012f, 0.19912542f, -0.037517253f, 0.1495077f, -0.17287964f,
      -0.006123114f, -0.058715727f, 0.062037718f, 0.29653853f, 0.10616458f,
      -0.032041937f, 0.10414385f, 0.04453876f, 0.061464053f, 0.013006698f,
      0.021771206f, -0.11667899f, 0.0055245864f, -0.24083692f, 0.09570759f,
      -0.028307708f, -0.22512744f, 0.0087318355f, -0.07903751f,
      -0.083680846f, -0.11845091f, 0.1204595f, 0.07248325f, -0.017186482f,
      0.08160438f, -0.015031355f, -0.06676477f, -0.055650637f,
      -0.05137606f, 0.060196016f, -0.091139145f, 0.12198699f, 0.050649833f,
      -0.21821147f, -0.102013886f),
    Seq(
      -0.0038371272f, -0.054430246f, -0.012567934f, -0.088133655f,
      0.17485769f, 0.025214367f, 0.07494656f, -0.0699807f, 0.07744817f,
      0.030696057f, 0.105758145f, -0.017882872f, 0.012975656f, 0.13369682f,
      0.014559198f, 0.04139192f, 0.148411f, 0.36030984f, -0.05418865f,
      -0.050764777f, 0.03254317f, 0.035391126f, 0.06533467f, -0.3091228f,
      -0.25768214f, -0.23906587f, -0.020637633f, -2.2331339E-4f,
      -0.0862857f, -0.17453292f, -0.024067927f, -0.21754494f, 0.029463936f,
      0.061538678f, 0.033753328f, 0.07921968f, 0.0594671f, 0.0364984f,
      0.18210699f, 0.046673886f, 8.626508E-6f, 0.046986755f, -0.06276704f,
      -0.1791898f, 0.17268649f, -0.18883522f, -0.04694587f, 0.14577948f,
      0.11292398f, -0.11328063f, -0.15743104f, -0.08197501f, 0.012979947f,
      -0.016092354f, 0.23803516f, 0.023384318f, -0.30282027f, 0.01638284f,
      0.13543364f, -0.12158607f, -0.0836705f, 0.08483883f, -4.4318486E-4f,
      -0.07861587f),
    Seq(
      -0.14804403f, -0.0851244f, -0.06394748f, -4.5759702E-4f,
      -0.20437467f, -0.043741737f, 0.1177553f, -0.28449786f, 0.0444024f,
      0.023717338f, -0.05117953f, 0.035702035f, -0.060179565f,
      -0.034550607f, 0.009449519f, -0.23454575f, 0.17137353f, -0.08492759f,
      0.11604707f, 0.077328406f, 0.013131627f, 0.17530756f, -0.100648016f,
      0.053374704f, 0.09255731f, 0.10008395f, 0.09063736f, -0.1341421f,
      0.010277697f, -0.10540483f, -0.12285967f, 0.09091211f, 0.048252165f,
      -0.1806613f, -0.02976989f, -0.102162585f, 0.1390785f, -0.21255244f,
      -0.06345652f, -0.103929f, 0.18947963f, 0.1901101f, -0.12585557f,
      -0.20893277f, 0.16586569f, 0.052836277f, 0.042797573f, 0.018020015f,
      -0.068320096f, -0.051275514f, -0.12949845f, -0.1064545f, 0.22780031f,
      -0.15329477f, -0.1791521f, -0.0019200152f, -0.0053810957f,
      0.1097246f, 0.18279524f, -0.052685086f, -0.06955779f, 0.2884306f,
      -0.09008108f, -0.0755305f),
    Seq(
      0.068086594f, 0.06269221f, 0.008780757f, 0.17252699f, -0.25796106f,
      0.107129246f, -0.02320921f, 0.17754309f, -0.11522019f, 0.13620196f,
      0.0076408843f, 0.20195048f, -0.060775444f, -0.14021936f,
      -0.093113676f, 0.049308065f, 0.09682486f, 0.07142427f, -0.009319478f,
      -0.20316848f, -0.22547296f, 0.15765898f, -0.011856441f, 0.07323162f,
      0.027470749f, -0.119083084f, 0.116454296f, -0.0038352518f,
      0.12892449f, -0.10452313f, 0.15211657f, 0.2005754f, -0.08141318f,
      -0.01767747f, -0.11650295f, 0.31619012f, -0.11671862f, -0.14843442f,
      -0.010252064f, -0.048288867f, -0.014507538f, -1.7919675E-4f,
      -0.08565322f, -0.01743476f, -0.075733796f, -0.041520827f,
      -0.013620432f, 0.36940446f, -0.1085109f, -0.1534461f, 0.06647234f,
      -0.01977801f, 0.009329624f, 0.005401022f, -0.02191754f, 0.101472914f,
      -0.17091025f, 0.09292951f, -0.17072043f, -0.07391768f, -0.19206044f,
      -0.09621919f, -0.08404634f, 0.026296886f))
  private[graft] val PcaOffsets: Seq[Double] = Seq(
    0.008821422650489585, 0.003510309064865935, -0.010977236753095537,
    0.004293854518634018)
  private[graft] val PcaScales: Seq[Double] = Seq(
    6.022781165684694, 6.061030389078294, 6.123215258279334,
    6.245062559632553)

  /** q167: PCA WHITENING (Pca.whiten + the codegen'd `dot_f`
    * kernel) — center, rotate to the eigenbasis, unit-variance each
    * axis: the standard embedding preprocessing before retrieval /
    * quantization (Jégou & Chum 2012). Train is model-on-driver
    * (bounded deterministic sample, cyclic Jacobi eigensolver,
    * sign/order conventions making the model bit-reproducible);
    * apply is a PURE PROJECTION — one dot_f per coordinate against
    * the frozen component, the centering folded into a precomputed
    * μ·v scalar so x − μ never materializes. Oracle replays each
    * coordinate as ((Σ emb[i]·m[i]) − c) · s with the identical
    * double operands; round(,4) absorbs sum-order ULPs. */
  private def q167(s: SparkSession, dir: String): DataFrame =
    Pca.whiten(Tables(s, dir).embeddings, "vec_id", "embedding",
      Pca.Model(PcaComps, PcaOffsets, PcaScales, Nil))

  /** q46: CSS/div HTML extraction round-trip — pages synthesised in the
    * reference's billtrack50 scorecard shape (nested container div +
    * labeled strong/span score pulls), then extracted back with the
    * balanced-scan html_* kernels. The oracle computes the fields
    * directly from the source columns, so any extraction defect breaks
    * parity. Ref: billtrack50_app/extract.py:25-42. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val page = concat(
      lit("<html><body><div class=\"bt50-scorecard-container\" data-legislatorid=\"L"),
      k.cast("string"),
      lit("\"><div class=\"legislator-sub-head\">"),
      col("c_name"), lit(" ("), col("c_mktsegment"), lit(")"),
      lit("</div><p class=\"legislator-detail-score\"><strong>2023</strong><span> "),
      (k % 101).cast("string"),
      lit("%</span></p><p class=\"legislator-detail-score\"><strong>Lifetime</strong><span>"),
      ((k * 7) % 101).cast("string"),
      lit("%</span></p></div></body></html>"))
    Tables(s, dir).customer
      .select(k.as("id"), page.as("__html"))
      .select(col("id"), CssExtract.bt50Scorecard(col("__html")).as("__r"))
      .select(
        col("id"),
        col("__r.info").as("info"),
        element_at(col("__r.scores"), "2023").as("score_2023"),
        element_at(col("__r.scores"), "Lifetime").as("lifetime"))
  }

  /** q47: PII redaction — deterministic PII-laced text synthesised from
    * customer rows, scrubbed with the RE2-safe email/phone/SSN chain.
    * The oracle applies the same patterns in DuckDB, so any divergence
    * in the redaction semantics breaks parity. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val text = concat(
      lit("Reach "), col("c_name"),
      lit(" at user"), k.cast("string"), lit("@example.com or "),
      lpad((k % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((k % 741).cast("string"), 3, "0"), lit("-"),
      lpad((k % 10000).cast("string"), 4, "0"), lit("; ssn "),
      lpad((k % 900).cast("string"), 3, "0"), lit("-"),
      lpad((k % 89).cast("string"), 2, "0"), lit("-"),
      lpad((k % 7919).cast("string"), 4, "0"), lit("."))
    Tables(s, dir).customer.select(
      k.as("id"),
      TextStats.redactPii(text).as("clean"))
  }

  /** q178: VOTE-INDEX NORMALIZATION (ref billtrack50_app/
    * extract.py:58-80 `get_vote_index`) — the last reference
    * computation without a 1:1 row: possible_score = Σ|Score| over
    * the page's bill table (BLANK score cells contribute 0, the
    * reference's `if r.get("Score")` branch), then each scorecard
    * total normalizes as (total + possible) / (2·possible) · 100 —
    * the affine map of [-possible, +possible] onto [0, 100]. Pages
    * are synthesised per customer in the reference's `.bill-table
    * .pure-table` + scorecard shape (q46's discipline) and the
    * extraction is the real path: html kernels for the containers,
    * HtmlTable's header-keyed dict rows for the Score column (the
    * reference zips headers per row — the column is found by NAME,
    * not position). Oracle replays the synthesis arithmetic with
    * identical op order; round(,4) on both sides. Pure projection —
    * zero exchanges at any page count. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    def sc(i: Int): Column = (((k + i) % 21) - 10).cast("string")
    val page = concat(
      lit("<html><body><div class=\"bill-table\">" +
        "<table class=\"pure-table\">" +
        "<thead><tr><th>Bill</th><th>Score</th></tr></thead><tbody>" +
        "<tr><td>B1</td><td>"), sc(1),
      lit("</td></tr><tr><td>B2</td><td>"), sc(2),
      lit("</td></tr><tr><td>B3</td><td></td></tr>" +
        "<tr><td>B4</td><td>"), sc(4),
      lit("</td></tr></tbody></table></div>" +
        "<div class=\"bt50-scorecard-container\">" +
        "<p class=\"legislator-detail-score\"><strong>2023</strong>" +
        "<span>"),
      ((k % 101) - 50).cast("string"),
      lit("</span></p><p class=\"legislator-detail-score\">" +
        "<strong>Lifetime</strong><span>"),
      ((k * 7 % 101) - 50).cast("string"),
      lit("</span></p></div></body></html>"))
    val vi = (total: Column, possible: Column) =>
      round((total + possible) / (lit(2.0) * possible) * 100, 4)
    Tables(s, dir).customer
      .select(k.as("id"), page.as("__html"))
      .withColumn("__tbl", HtmlTable.extractTable(
        CssExtract.element(col("__html"), "table", "class", "pure-table")))
      .withColumn("__possible", aggregate(
        slice(col("__tbl"), lit(2), size(col("__tbl")) - 1), lit(0.0),
        (acc, r) => {
          val v = element_at(
            map_from_arrays(element_at(col("__tbl"), 1), r), "Score")
          acc + when(v.isNull || v === "", lit(0.0))
            .otherwise(abs(v.cast("double")))
        }))
      .withColumn("__sc",
        CssExtract.bt50Scorecard(col("__html")).getField("scores"))
      .select(col("id"),
        round(col("__possible"), 4).as("possible_score"),
        vi(element_at(col("__sc"), "2023").cast("double"),
          col("__possible")).as("vote_index_2023"),
        vi(element_at(col("__sc"), "Lifetime").cast("double"),
          col("__possible")).as("vote_index_lifetime"))
  }

  /** q181: PDF TEXT EXTRACTION ROUND TRIP (Multimodal.syntheticTextPdf
    * → Multimodal.pdfText) — the content-text pull pdfMeta stops short
    * of, exercised end to end: each document's text is embedded in a
    * genuinely valid one-page PDF (even doc_ids through a REAL
    * /FlateDecode-compressed content stream, odd ones uncompressed)
    * and extracted back through the bounded quarantine-disciplined
    * parser. The oracle is simply the source text — extraction must
    * recover it EXACTLY, so the whole generator+inflater+string-
    * unescape chain is hash-checked, not rows-only. A pure typed
    * projection, no shuffle; corrupt/truncated/no-text behavior is
    * SourcesSpec-pinned. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val pdf = graft.sources.Multimodal.syntheticTextPdf(
          Seq(t), compress = id % 2 == 0)
        (id, graft.sources.Multimodal.pdfText(pdf) match {
          case Right(txt) => txt
          case Left(reason) => s"<quarantined: $reason>"
        })
      }.toDF("doc_id", "pdf_text")
  }

  /** q187: WARC INGEST ROUND TRIP — every document serialized into
    * real multi-record `.warc.gz` shards (one gzip archive per
    * partition, written EXECUTOR-side like a crawler's output), read
    * back through the streaming WARC source (file parallelism, gzip
    * member decode, record framing, HTTP pre-split), and the
    * recovered bodies checked against the source column — the q181
    * PDF discipline applied to the archival-input face: the writer,
    * the reader and the HTTP split are all on the oracle's hash. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/q187_warc"
    val od = new java.io.File(out)
    if (od.exists()) {
      val walk = java.nio.file.Files.walk(od.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    od.mkdirs()
    Tables(s, dir).documents.select(col("doc_id"), col("text"))
      .repartition(8, col("doc_id"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        // LOCAL-MODE fixture writer: `out` is a driver-local scratch
        // path, reachable from tasks only because executors share the
        // JVM (a cluster deployment would hand Warc a real writer /
        // shared FS). Write-then-atomic-rename keyed on taskAttemptId:
        // a task retry or speculative duplicate writing part$pid
        // DIRECTLY can interleave two gzip streams into one corrupt
        // file — per-attempt temp names can't collide, and the rename
        // publishes whole files only (last complete attempt wins,
        // byte-identical content either way — the writer is
        // deterministic per partition).
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val fin = new java.io.File(out, f"part$pid%03d.warc.gz")
        val tmp = new java.io.File(out,
          f"part$pid%03d.warc.gz.attempt${tc.taskAttemptId()}%d.tmp")
        val o = new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(tmp))
        try rows.foreach { r =>
          val id = r.getLong(0)
          o.write(graft.sources.Warc.responseRecord(
            s"http://corpus.example/$id", "2024-01-01T00:00:00Z",
            s"urn:doc:$id",
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8),
            httpContentType = "text/plain; charset=utf-8"))
        } finally o.close()
        java.nio.file.Files.move(tmp.toPath, fin.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    graft.sources.Warc.read(s, s"$out/*.warc.gz")
      .filter(col("ok") && col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("body").cast("string").as("text"))
  }

  /** q183: UNIMAX MIXING ALLOCATION (Corpus.unimaxAllocation; Chung
    * et al. 2023) — the published answer to "how many tokens of each
    * source": distribute a token budget as uniformly as possible
    * under a per-source EPOCH CAP, i.e. the waterfilling
    * alloc_s = min(n_s·maxEpochs, θ) with θ solving Σ alloc = budget.
    * Fills the gap between q68's by-fiat target weights and q117's
    * per-source quality cuts. Fully in-plan: one per-source aggregate,
    * one bounded global window (#sources rows), two broadcast scalar
    * rows — no driver loop at any corpus size. budget = 1.0 × total
    * corpus tokens at maxEpochs 1.2, so smaller-than-average sources
    * cap at 1.2 epochs and the freed budget waterfills into the
    * larger ones — the actual UniMax shape. Oracle replays the
    * sorted-prefix characterization with identical op order —
    * hash-exact. */
  private def q183(s: SparkSession, dir: String): DataFrame =
    Corpus.unimaxAllocation(Tables(s, dir).documents, "source",
      TextStats.wsTokenCount(col("text")), maxEpochs = 1.2,
      budgetFraction = 1.0)

  /** q184: UNIMAX SAMPLED CORPUS (Corpus.unimaxMix) — q183's
    * waterfilled allocation APPLIED: each doc repeats
    * floor(epochs_s) times plus one more with probability
    * frac(epochs_s) under the md5-seeded deterministic uniform
    * (q110's esKey construction — cross-engine replayable, which is
    * what lets THIS mix query be hash-exact where q68's xxhash64 mix
    * stays rows-only). Expected sampled tokens per source equal the
    * allocation exactly. Rates join broadcast; the mix is a pure
    * projection + explode — the corpus never shuffles. */
  private def q184(s: SparkSession, dir: String): DataFrame =
    Corpus.unimaxMix(Tables(s, dir).documents, "doc_id", "source",
      TextStats.wsTokenCount(col("text")), maxEpochs = 1.2,
      budgetFraction = 1.0)
      .select(col("doc_id"), col("source"), col("copy").cast("long")
        .as("copy"))

  /** q186: TEMPERATURE (α = 0.5) SAMPLING — the mT5/mC4 α-sampling
    * recipe as a deterministic corpus mix: per-source targets ∝
    * share^α from ONE #sources count aggregate
    * (Corpus.temperatureTargets), applied by mixSources with
    * upsampling allowed (maxRepeat 3 — scarce sources repeat, the
    * point of flattening). α = 0.5 keeps the power a correctly-
    * rounded sqrt so DuckDB replays every double; the md5-seeded
    * uniform keeps the per-doc decisions replayable (hash-exact, the
    * q68/q184 discipline). The third published mixing policy beside
    * fixed-target (q68) and UniMax (q183/q184). */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    Corpus.mixSources(docs, "doc_id", "source",
      Corpus.temperatureTargets(docs, "source", alpha = 0.5),
      maxRepeat = 3)
      .select(col("doc_id"), col("source"), col("copy").cast("long")
        .as("copy"))
  }

  /** q48: corpus n-gram frequency table (top bigrams by doc frequency —
    * shingles are per-doc distinct). Explode → hash-agg with map-side
    * combine; vocabulary-bounded output at any corpus size. */
  private def q48(s: SparkSession, dir: String): DataFrame =
    Corpus.ngramFreq(Tables(s, dir).documents, "text", n = 2, topK = 100)

  /** q69: sketch-first heavy hitters — q48's top-100 bigrams via an
    * approx_top_k sketch pass (constant-size, map-side combined) whose
    * top-400 candidates broadcast into an exact-count second pass. The
    * 100 TB path for open vocabularies: the count shuffle carries only
    * candidates × partitions rows. maxTracked here exceeds the sf0.01
    * vocabulary, so the sketch superset is guaranteed and the output
    * is EXACT — same oracle as q48. */
  private def q69(s: SparkSession, dir: String): DataFrame =
    Corpus.heavyHitters(Tables(s, dir).documents, "text", n = 2,
      topK = 100, maxTracked = 1 << 17)

  /** q71: BM25 ranked retrieval — Okapi BM25 top-50 for a four-term
    * query over the documents corpus (k1=1.2, b=0.75). The shuffle
    * carries only (doc, query-term) hits — the corpus vocabulary never
    * moves; per-term doc frequencies broadcast back; N/avgdl are two
    * driver scalars from one narrow pass. Oracle recomputes the exact
    * formula in DuckDB. */
  private def q71(s: SparkSession, dir: String): DataFrame =
    Corpus.bm25Search(Tables(s, dir).documents, "doc_id", "text",
      queryTerms = Seq("hash", "join", "filter", "scan"), topK = 50)

  /** q73: LM quality score (CCNet recipe, unigram form) — each doc's
    * mean add-one-smoothed log-probability under the word distribution
    * of a reference slice (here: docs 0-99 stand in for the clean
    * reference corpus). Reference model broadcast; one exploded pass,
    * map-side-combined avg. Oracle recomputes the formula in DuckDB. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.lmQualityScore(d, "doc_id", "text",
      reference = d.filter(col("doc_id") < 100), refTextCol = "text")
  }

  /** q74: GPT-style sequence-packing layout — documents concatenate in
    * id order into one token stream cut into 512-token training
    * sequences (docs span boundaries; no padding waste); each doc gets
    * its token count, global start offset, first/last sequence index
    * and span. The global cumsum is Corpus.prefixSum's two-level scan
    * (range-bucketed windows + broadcast bucket offsets) — never the
    * single-task `sum over (order by)` window. Oracle is the plain
    * windowed cumsum in DuckDB, hash-exact including tie semantics. */
  private def q74(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(Tables(s, dir).documents, "doc_id", "text",
      seqLen = 512)

  /** q75: packed training rows — q74's layout materialized: one row
    * per 512-token sequence, documents concatenated in id order and
    * split across boundaries (final sequence may run short). Exactly
    * two text-sized keyed exchanges (prefix-scan window, then piece
    * reassembly by sequence id); the oracle rebuilds the same chunking
    * with a lateral series + ordered string_agg in DuckDB. */
  private def q75(s: SparkSession, dir: String): DataFrame =
    Corpus.packedSequences(Tables(s, dir).documents, "doc_id", "text",
      seqLen = 512)

  /** q77: corpus profile — the data-card stats published with every
    * corpus snapshot as one (metric, value) frame: doc count, token
    * totals, exact-dup rate (md5 content hash, q30's dedup key),
    * language count + top-language share. One narrow aggregate + one
    * tiny language group; every ratio is a single division of exact
    * integers (no floating aggregate), so the oracle is hash-exact. */
  private def q77(s: SparkSession, dir: String): DataFrame =
    Corpus.profile(Tables(s, dir).documents, "doc_id", "text", "lang")

  /** q78: greedy NO-SPLIT packing ("example packing") — each document
    * goes whole into a ≤512-token training sequence, first-fit in id
    * order; oversized docs get their own bin. Registered at buckets=1
    * so the greedy fold is exactly reproducible in SQL (a recursive
    * CTE carries the running fill) — hash-exact oracle for the
    * semantics; the bucketed scale path (independent per-bucket packs,
    * namespaced sequence ids) is pinned by CorpusSpec instead since
    * its bin boundaries depend on the quantile sketch. */
  private def q78(s: SparkSession, dir: String): DataFrame =
    Corpus.packGreedy(Tables(s, dir).documents, "doc_id", "text",
      seqLen = 512, buckets = 1)

  /** q79: Unicode NFC normalization — run before any content hashing
    * or dedup so visually-identical strings with different codepoint
    * sequences hash alike. The synthetic corpus is ASCII (NFC would be
    * the identity), so the query plants combining sequences ("a" →
    * "a"+U+0301) and normalizes them back to precomposed form ("á");
    * the oracle applies DuckDB's nfc_normalize to identically mangled
    * text — hash-exact cross-library conformance (JDK Normalizer vs
    * utf8proc). Native codegen expression with a quick-check fast
    * path, so already-normal text costs one scan. */
  private def q79(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(col("doc_id"),
      call_function("unicode_normalize",
        regexp_replace(col("text"), "a", "a\u0301"), lit("NFC"))
        .as("text"))

  /** q80: overlapping token-window chunking — the RAG-ingestion shape:
    * 256-token windows every 192 tokens (64 shared context tokens), a
    * pure projection with ~n/stride row growth; short docs yield one
    * chunk. Oracle replicates the window math with a generated series
    * + array slices in DuckDB. */
  private def q80(s: SparkSession, dir: String): DataFrame =
    Corpus.chunkOverlap(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      "doc_id", "text", chunkTokens = 256, overlapTokens = 64)

  /** q81: corpus snapshot diff — the audit a recurring crawl publishes:
    * ids classified added/removed/modified between two snapshot views
    * of the corpus (old = ids ∉ 9ℤ with ids ∈ 7ℤ edited; new = ids ∉
    * 10ℤ), unchanged omitted. One full-outer equi-join of two (id,
    * md5) projections; the oracle replicates both views and the
    * classification. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val old = d.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDIT")))
          .otherwise(col("text")).as("text"))
    val neu = d.filter(col("doc_id") % 10 =!= 0)
    Corpus.snapshotDiff(old, neu, "doc_id", "text")
  }

  /** q82: URL canonicalization + per-domain profile — the data-card
    * domain breakdown over a crawl's URL column. The fixture
    * synthesizes every variant class the normalizer handles (scheme/
    * host case, default vs real ports, tracking params — including
    * ADJACENT utm params, the case regex-only stripping mis-handles —
    * fragments, empty paths); the oracle replicates fixture and
    * normalization rule-for-rule in DuckDB. Pure projection → one
    * host-bounded aggregate. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val urls = Tables(s, dir).customer.select(
      concat(
        element_at(array(lit("http"), lit("HTTPS"), lit("https"),
          lit("HTTP")), (k % 4).cast("int") + 1),
        lit("://"),
        when(k % 5 === 0, lit("WWW.")).otherwise(lit("")),
        lit("site"), (k % 37).cast("string"), lit(".Example."),
        element_at(array(lit("com"), lit("org"), lit("net")),
          (k % 3).cast("int") + 1),
        element_at(array(lit(""), lit(":80"), lit(":443"), lit(":8080")),
          (k % 4).cast("int") + 1),
        when(k % 7 === 0, lit(""))
          .otherwise(concat(lit("/page/"), (k % 11).cast("string"))),
        element_at(array(lit(""), lit("?utm_source=feed&ref=r1"),
          lit("?a=1&utm_campaign=c&utm_medium=m&b=2"), lit("?gclid=xyz"),
          lit("?a=1&b=2")), (k % 5).cast("int") + 1),
        when(k % 2 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
    Corpus.domainProfile(urls, "url")
  }

  /** q83: deterministic stratified EXACT sampling — 20% of customers
    * per market segment, membership fixed by md5(id) order (exact
    * ⌈n·20/100⌉ per stratum, stable across runs/layouts, nested under
    * any larger percent). The oracle replicates the window + integer
    * ceiling arithmetic. */
  private def q83(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleStratified(
      Tables(s, dir).customer.select(col("c_custkey"), col("c_mktsegment")),
      "c_mktsegment", "c_custkey", percent = 20)

  /** q84: model-based quality filter — the fastText-shaped classifier
    * gate (DCLM/FineWeb-Edu recipe) trained and applied in-engine:
    * hashed-unigram logistic regression, MINI-BATCH gradient ascent
    * (per-iteration shuffle ≤ (dims+1)×partitions partial sums),
    * apply as a pure projection. Fixture labels are deterministic —
    * odd doc_ids get spam-injected text (label 0), even keep raw text
    * (label 1); train on ids ∉ 5ℤ, score the held-out rest.
    *
    * r16: registered through `batchFraction = 0.5` (the r15 verdict's
    * deferred routing, now that two healthy records pin the
    * full-batch number) — each iteration scans a deterministic
    * hash-rotated HALF of the corpus, halving the 100 TB scan bill
    * at the same iteration count; the rotation visits the whole
    * corpus across iterations and the linear lr-scaling rule keeps
    * lr 12 stable (Classifier.train's scaladoc). rows-only (training
    * is iterative float optimization, not SQL-expressible);
    * ClassifierSpec pins loss descent, holdout separation, mini-batch
    * determinism and fraction-1 ≡ original. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select(col("doc_id"),
      when(col("doc_id") % 2 === 1,
        concat(col("text"),
          lit(" click here buy now free winner prize click")))
        .otherwise(col("text")).as("text"),
      (col("doc_id") % 2 === 0).cast("int").as("label"))
    val model = Classifier.train(d.filter(col("doc_id") % 5 =!= 0),
      "text", "label", dims = 512, iters = 8, lr = 12.0,
      batchFraction = 0.5)
    d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), Classifier.score(col("text"), model).as("__s"))
      .select(col("doc_id"), round(col("__s"), 3).as("score"),
        (col("__s") >= 0.5).cast("int").as("pred"))
  }

  /** q72: cross-document line dedup (the CCNet/RefinedWeb boilerplate
    * recipe) — lines appearing in ≥ 3 distinct documents are stripped
    * from every document, which is reassembled from its surviving
    * lines in order. The synthetic corpus has no newlines, so the
    * query projects each document into 8-word lines first (the
    * operator takes any separator); the oracle replicates the chunking
    * and the strip in SQL. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val lined = Tables(s, dir).documents.select(col("doc_id"),
      array_join(
        transform(sequence(lit(0), ((size(words) - 1) / 8).cast("int")),
          i => concat_ws(" ", slice(words, i * lit(8) + 1, lit(8)))),
        "\n").as("text"))
    Dedup.dropRepeatedLines(lined, "doc_id", "text", "\n", minDocs = 3)
  }

  /** q49: benchmark-contamination screen — docs sharing ≥ 1 trigram
    * with the probe set (here: the first five documents), with the
    * shared-distinct-trigram count. Runs the FIXED-STATE bloom path
    * (Corpus.contaminationBloom): the probe sketch ships as a plan
    * literal, the corpus grams pre-filter at scan speed, and the
    * exact verify join keeps the result row-identical to the
    * broadcast form (no false negatives; positives verified) — so the
    * oracle is unchanged. CorpusSpec pins bloom ≡ exact and the
    * sketch's fixed size. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Corpus.contaminationBloom(
      t.documents, "doc_id", "text",
      probes = t.documents.filter(col("doc_id") < 5), probeTextCol = "text",
      n = 3)
  }

  /** q50: deterministic train/val/test split by id hash — stable
    * across runs and layouts, pure projection. r15: re-registered on
    * the REPLAYABLE md5-prefix bucket, so the whole assignment is
    * ORACLE-CHECKED hash-exact instead of rows-only; CorpusSpec still
    * pins determinism, coverage and proportions. */
  private def q50(s: SparkSession, dir: String): DataFrame =
    Corpus.splitAssign(Tables(s, dir).documents, "doc_id")
      .select(col("doc_id"), col("split"))

  /** q68: training-corpus source mixing — re-weight three sources to
    * 40/40/20 by deterministic hash sampling (src0/src1 land at rate
    * 1.0, src2 at 0.5 — both the exact and the Bernoulli path run).
    * r15: re-registered on the REPLAYABLE md5-seeded uniform (q110's
    * esKey construction) with source-name-ordered normalization, so
    * the whole mix — per-source counts, the rate fold, the Bernoulli
    * keep — is now ORACLE-CHECKED hash-exact instead of rows-only;
    * CorpusSpec still pins proportions, determinism, upsampling copy
    * numbering. */
  private def q68(s: SparkSession, dir: String): DataFrame =
    Corpus.mixSources(Tables(s, dir).documents, "doc_id", "source",
      Map("src0" -> 0.4, "src1" -> 0.4, "src2" -> 0.2))
      .select(col("doc_id"), col("source"),
        col("copy").cast("long").as("copy"))

  /** q51: near-dup clustering — connected components over the verified
    * MinHash near-dup pairs (q33's graph), alternating large-star/
    * small-star. The oracle recomputes the same pair graph by brute
    * force and takes components via a recursive CTE, so the check
    * covers BOTH the LSH pair recall and the clustering itself. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDup(Tables(s, dir).documents,
      "doc_id", "text", shingleN = 3, numHashes = 48, bands = 16,
      threshold = 0.5)
    Graph.connectedComponents(pairs, "a_id", "b_id")
  }

  /** q52: Gopher-style per-doc repetition signals (dup-word /
    * dup-bigram / top-bigram fractions) — pure projection, the quality
    * gate that runs beside q38 in a curation pass. */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Corpus.repetitionStats(Tables(s, dir).documents, "doc_id", "text")

  /** q53: the end-to-end corpus dedup a pipeline actually ships —
    * LSH pairs → exact-Jaccard verify → transitive clusters → keep the
    * min-id doc per cluster. Output is the surviving doc ids. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(Tables(s, dir).documents, "doc_id", "text",
      shingleN = 3, numHashes = 48, bands = 16, threshold = 0.5)
      .select(col("doc_id"))

  /** q54: as-of join — each purchase annotated with the user's most
    * recent prior (or simultaneous) view. No join in the plan: union +
    * one window over (user, ts, side) carries the last view payload
    * forward (see AsOfJoin). Oracle is DuckDB's native ASOF LEFT JOIN. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
    val views = ev.filter(col("event_type") === "view")
    AsOfJoin.asOf(purchases, views, keys = Seq("user_id"), tsCol = "ts",
      rightPayload = Seq("event_id", "value"), prefix = "view_")
      .select(col("event_id"), col("user_id"),
        tsMillis(col("ts")).as("ts_ms"),
        col("view_event_id"), col("view_value"))
  }

  /** q55: banded range join — pairs of same-user events within one
    * hour, as an equi-join on (user, time bin) with the exact band
    * filter post-join (see RangeJoin; the naive inequality join is the
    * oracle). */
  private def q55(s: SparkSession, dir: String): DataFrame =
    RangeJoin.withinWindow(Tables(s, dir).events, keys = Seq("user_id"),
      idCol = "event_id", tsMs = tsMillis(col("ts")),
      windowMs = 3600000L)

  /** Deterministic composite columns for the _1034 split-row shape:
    * every 7th row carries two slash-joined candidates whose name,
    * grade and location align by position. */
  private def synthSplit(k: Column): (Column, Column, Column) = (
    when(k % 7 === 0,
      concat(lit("Cand A"), k.cast("string"), lit("/Cand B"), k.cast("string")))
      .otherwise(concat(lit("Cand "), k.cast("string"))),
    when(k % 7 === 0, lit("A/B")).otherwise(lit("C")),
    when(k % 7 === 0,
      concat(lit("House D"), (k % 9).cast("string"),
        lit("/Senate D"), (k % 9).cast("string")))
      .otherwise(lit("Governor")))

  /** q57: positional split-row explosion — "Name1/Name2" with grade
    * "A/B" becomes two rows, paired by position, other columns
    * replicated (transform_split, national/_1034/transform.py:55-92).
    * Pure narrow projection via arrays_zip + explode. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val (nm, gr, loc) = synthSplit(k)
    val base = Tables(s, dir).customer.select(
      k.as("id"), nm.as("name"), gr.as("grade"), loc.as("loc"))
    SplitRows.splitZip(base, Seq("name", "grade", "loc"), "/")
      .select("id", "name", "grade", "loc")
  }

  /** q59: election location/date parsing (transform_election_location /
    * transform_election_date, national/_1034/transform.py:160-206):
    * "Office - District N" → office + district, "Month day, year" →
    * ISO date with invalid inputs (TBD) → null, year as text. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val loc = when(k % 3 === 0,
      concat(lit("U.S. House - District "), (k % 30).cast("string")))
      .when(k % 3 === 1, lit("Governor"))
      .otherwise(concat(lit("State Senate - District "), (k % 40).cast("string")))
    val dt = when(k % 4 === 0, lit("November 5, 2024"))
      .when(k % 4 === 1, lit("March 3, 2026"))
      .when(k % 4 === 2, lit("TBD"))
      .otherwise(lit("June 10, 2025"))
    Tables(s, dir).customer
      .select(k.as("id"), loc.as("loc"), dt.as("dt"))
      .select(
        col("id"),
        element_at(split(col("loc"), " - "), 1).as("office"),
        regexp_extract(col("loc"), "District ([0-9]+)", 1).as("district"),
        regexp_extract(col("dt"), "([0-9]{4})$", 1).as("election_year"),
        date_format(to_date(col("dt"), "MMMM d, yyyy"), "yyyy-MM-dd")
          .as("election_date"))
  }

  /** q58: full-name parsing, _1034 style — accent fold + nickname +
    * suffix + middle initial + BOTH name orders ("First Last" and
    * "Last, First"). Five deterministic case families exercise every
    * branch (transform_name, national/_1034/transform.py:95-150). */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val ks = k.cast("string")
    val info = when(k % 5 === 0,
      concat(lit("Gárcía"), ks, lit(", José \"Pepe\"")))
      .when(k % 5 === 1, concat(lit("Ann Lee"), ks))
      .when(k % 5 === 2, concat(lit("John Q. Public"), ks))
      .when(k % 5 === 3, concat(lit("Sam Hill"), ks, lit(" Jr.")))
      .otherwise(concat(lit("Tom (Tommy) Ford"), ks, lit(" III")))
    Tables(s, dir).customer
      .select(k.as("id"), info.as("info"))
      .select(col("id"), col("info"),
        TextFunctions.parseFullName(col("info")).as("p"))
      .select(col("id"), col("info"),
        col("p.firstname").as("firstname"), col("p.lastname").as("lastname"),
        col("p.nickname").as("nickname"), col("p.suffix").as("suffix"),
        col("p.middlename").as("middlename"))
  }

  /** q60: the full curation pass — quality gate, repetition gate, then
    * near-dup dedup over the survivors (gates are pure projections and
    * run FIRST, shrinking the corpus before the shuffling dedup). The
    * oracle reproduces all three stages in SQL, so the final kept set
    * is checked end to end. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    Corpus.curate(Tables(s, dir).documents, "doc_id", "text",
      minQuality = 0.25, maxDupWordFrac = 0.65, maxDupBigramFrac = 0.08,
      shingleN = 3, numHashes = 48, bands = 16, threshold = 0.5)
      .select(col("doc_id"))

  /** q56: the 100 TB formulation of q16 — exact `percentile` buffers
    * every value per group (a full sort's worth of state); the approx
    * pass keeps constant-size MERGEABLE sketches (HLL++ for distinct,
    * KLL-style quantile summaries), so the shuffle carries one sketch
    * per group per partition and map-side combine does the heavy
    * lifting. rows-only (sketch internals are engine-specific);
    * ApproxSpec pins error vs the exact answers. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey"), rsd = 0.02)
          .as("approx_custs"),
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4)
          .as("ap50"),
        round(expr("approx_percentile(o_totalprice, 0.99, 10000)"), 4)
          .as("ap99"))

  /** q37: stopword-profile language ID. */
  private def q37(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(
      col("doc_id"),
      TextStats.langId(col("text")).as("pred_lang"),
      TextStats.stopwordHits(col("text"), TextStats.StopwordProfiles.head._2)
        .as("c_en"),
      size(TextStats.words(col("text"))).as("n_words"))

  /** q38: length/stopword-ratio quality score. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(
      col("doc_id"),
      TextStats.qualityScore(col("text")).as("quality"))

  /** q39: whitespace + BPE-ish regex token counts. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(
      col("doc_id"),
      TextStats.wsTokenCount(col("text")).cast("long").as("n_ws"),
      TextStats.bpeTokenCount(col("text")).cast("long").as("n_bpe"))

  /** q40: rolling-hash document fingerprint — order-sensitive
    * polynomial over per-word hashes mod the largest 32-bit prime.
    * r15: re-registered on the REPLAYABLE md5-prefix word hash, so
    * the full polynomial is ORACLE-CHECKED hash-exact instead of
    * rows-only (the prepend-0 list_reduce replays the identical
    * fold). */
  private def q40(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(
      col("doc_id"),
      TextStats.fingerprint(col("text")).as("fingerprint"))

  /** q41: embedding near-dup via random-hyperplane LSH buckets + exact
    * cosine verify, MULTI-PROBE (Lv et al. 2007): each vector also
    * probes the numPlanes Hamming-1 buckets, so one table recovers
    * pairs that disagree on a single plane sign — recall p⁴ →
    * p⁴ + 4p³(1−p) at the same index size, where the classic fix
    * (more tables) multiplies memory and scans. rows-only (bucket
    * recall is probabilistic by design; q34 is the oracle-exact
    * variant; LshRecallSpec pins multi-probe ≥ single-table recall
    * against exact ground truth). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(Tables(s, dir).embeddings, "vec_id", "embedding",
      dim = 64, numPlanes = 4, threshold = 0.2, probeFlips = 1)

  /** q76: semantic dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): k-means blocks the embedding space (k=16,
    * zero-exchange assignment), within-cluster pairs at cosine ≥ 0.35
    * (this corpus's q34 near-dup bar — real-text embedding spaces use
    * ~0.95; the synthetic vectors sit much closer to orthogonal) form
    * duplicate groups, and each
    * group keeps its member FARTHEST from the cluster centroid —
    * retain outliers, drop the redundant core. rows-only (k-means
    * assignment is not SQL-expressible); DedupSpec pins the
    * keep-farthest policy and the cluster-blocking semantics. */
  private def q76(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(
      Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 16, threshold = 0.35, iters = 2)
      .select(col("vec_id"))

  /** q42: fuzzy linkage on the custom jaro_winkler Catalyst expression
    * (registered via GraftExtensions); oracle is DuckDB's
    * jaro_winkler_similarity — both sides use the standard 0.7-boost
    * parameterisation, ordered on the 4dp-rounded score. */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(s, dir)
    val scraped = t.customer.select(
      col("c_custkey").as("s_id"),
      concat(lit("Cust "), col("c_custkey").cast("string")).as("s_name"),
      col("c_nationkey").as("s_blk"))
    val roster = t.customer.select(
      col("c_custkey").as("r_id"), col("c_name").as("r_name"),
      col("c_nationkey").as("r_blk"))
    val scored = Parallelism.ensure(scraped)
      .join(broadcast(roster), col("s_blk") === col("r_blk"))
      .withColumn("jw",
        round(call_function("jaro_winkler", col("s_name"), col("r_name")), 4))
    // struct-min aggregation (negated score for max-first, r_id for tie)
    // instead of a window: map-side partial combine, tiny shuffle
    scored.groupBy(col("s_id"))
      .agg(min(struct(negate(col("jw")).as("njw"), col("r_id"))).as("__best"))
      .select(col("s_id"), col("__best.r_id").as("best_id"),
        negate(col("__best.njw")).as("best_jw"))
  }

  /** q43: the reference's FULL record_matcher configuration
    * (votervoice/match.py:44-92): WRatio default scorer, lowercased
    * partial_token_ratio for middlename, firstname also matched against
    * middlename/nickname, per-column thresholds (85/90/88/98/100/95/
    * 100), required overall 75, duplicate margin 3, blocked on
    * state_id. rows-only (rapidfuzz WRatio is not replicable in SQL).
    */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val base = Tables(s, dir).customer.select(
      k.as("id"),
      concat(lit("First"), (k % 97).cast("string")).as("firstname"),
      when(k % 3 === 0,
        concat(call_function("char", lit(65) + (k % 26).cast("int")), lit("."))
      ).otherwise(lit("")).as("middlename"),
      concat(lit("Last"), (k % 53).cast("string")).as("lastname"),
      concat(lit("Nick"), (k % 41).cast("string")).as("nickname"),
      element_at(array(lit("Jr."), lit("Sr."), lit("")), (k % 3).cast("int") + 1)
        .as("suffix"),
      element_at(array(lit("U.S. House"), lit("U.S. Senate")),
        (k % 2).cast("int") + 1).as("office"),
      regexp_replace((k % 25).cast("string"), "^0+", "").as("district"),
      element_at(array(lit("Republican"), lit("Democratic"), lit("Independent")),
        (k % 3).cast("int") + 1).as("party"),
      // ~50 states like the reference's real blocking key (match.py
      // blocks on state_id): 5 synthetic blocks made every block 10x
      // the realistic pair volume
      (k % 50).cast("int").as("state_id"))
    // scraped side: lowercase-noise on firstname, nickname used as the
    // visible first name for every 13th row (exercises the alternates)
    val scraped = base.select(
      col("id").as("s_id"),
      when(col("id") % 13 === 0, col("nickname"))
        .otherwise(lower(col("firstname"))).as("firstname"),
      col("middlename"), col("lastname"), col("suffix"),
      col("office"), col("district"), col("party"), col("state_id"))
      // the ONE rule that lowercases (middlename's partial_token_ratio,
      // match.py:55-57) gets its lowered operand projected once per
      // side instead of per pair
      .withColumn("__mid_lc", lower(col("middlename")))
    val roster = base.select(
      col("id").as("r_id"), col("firstname"), col("middlename"),
      col("lastname"), col("nickname"), col("suffix"),
      col("office"), col("district"), col("party"),
      col("state_id").as("r_state_id"))
      .withColumn("__mid_lc", lower(col("middlename")))
    val wr = (a: Column, b: Column) => call_function("w_ratio", a, b)
    val ptr = (a: Column, b: Column) =>
      call_function("partial_token_ratio", a, b)
    FuzzyMatch.link(
      scraped, roster, "s_id", "r_id", "state_id", "r_state_id",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname", "middlename", "nickname"),
          wr, threshold = 85),
        FuzzyMatch.Rule("__mid_lc", Seq("__mid_lc"), ptr, threshold = 90),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, threshold = 88),
        FuzzyMatch.Rule("suffix", Seq("suffix"), wr, threshold = 98),
        FuzzyMatch.Rule("office", Seq("office"), wr, threshold = 100),
        FuzzyMatch.Rule("district", Seq("district"), wr, threshold = 95),
        FuzzyMatch.Rule("party", Seq("party"), wr, threshold = 100)),
      requiredOverall = 75, dupMargin = 3.0)
  }

  /** q62: the `_1034` matcher configuration — the OTHER record_matcher
    * setup the reference runs (national/_1034/match.py:44-76). It
    * differs from q43's votervoice config in every knob: the default
    * WRatio scorer lowercases BOTH sides (match.py:45-46), blocking is
    * on `state_name` (GROUPED via columns_to_group, match.py:57-59 —
    * never scored), and the thresholds are default 85 / middlename 90 /
    * lastname 88 / suffix 98 / office 95 / district 95 / party 93 with
    * required_threshold 85 and duplicate_threshold 3 (match.py:63-71).
    * rows-only (WRatio is not SQL-expressible); FuzzyMatchSpec pins
    * best-match + dup flags for this config on a constructed fixture. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val base = Tables(s, dir).customer.select(
      k.as("id"),
      concat(lit("First"), (k % 97).cast("string")).as("firstname"),
      when(k % 3 === 0,
        concat(call_function("char", lit(65) + (k % 26).cast("int")), lit("."))
      ).otherwise(lit("")).as("middlename"),
      concat(lit("Last"), (k % 53).cast("string")).as("lastname"),
      concat(lit("Nick"), (k % 41).cast("string")).as("nickname"),
      element_at(array(lit("Jr."), lit("Sr."), lit("")), (k % 3).cast("int") + 1)
        .as("suffix"),
      element_at(array(lit("U.S. House"), lit("U.S. Senate")),
        (k % 2).cast("int") + 1).as("office"),
      regexp_replace((k % 25).cast("string"), "^0+", "").as("district"),
      element_at(array(lit("Republican"), lit("Democratic"), lit("Independent")),
        (k % 3).cast("int") + 1).as("party"),
      // _1034 groups on the state NAME string, not an id (match.py:58)
      concat(lit("State"), (k % 50).cast("string")).as("state_name"))
    val scraped0 = base.select(
      col("id").as("s_id"),
      // UPPERCASE noise: the _1034 default scorer lowercases both sides,
      // so these still hit 100 — a config that didn't lowercase wouldn't
      when(col("id") % 13 === 0, col("nickname"))
        .otherwise(upper(col("firstname"))).as("firstname"),
      col("middlename"), col("lastname"), col("suffix"),
      col("office"), col("district"), col("party"), col("state_name"))
    val roster0 = base.select(
      col("id").as("r_id"), col("firstname"), col("middlename"),
      col("lastname"), col("nickname"), col("suffix"),
      col("office"), col("district"), col("party"),
      col("state_name").as("r_state_name"))
    // the config lowercases BOTH sides of every comparison — projected
    // ONCE per side here (|rows| lowercase allocations) instead of
    // wrapped around each of the 9 per-pair scorer calls (|pairs|×18);
    // identical scores. The scorers are called plainly: wrapping them
    // in an equal-operand CaseWhen short-circuit measured 2.5x SLOWER
    // than the plain kernel, since the scorer memo already absorbs
    // repeated pairs
    val scoredCols = Seq("firstname", "middlename", "lastname",
      "suffix", "office", "district", "party")
    val scraped = scraped0.select(col("s_id") +: col("state_name") +:
      scoredCols.map(c => lower(col(c)).as(c)): _*)
    val roster = roster0.select(col("r_id") +: col("r_state_name") +:
      (scoredCols :+ "nickname").map(c => lower(col(c)).as(c)): _*)
    val wr = (a: Column, b: Column) =>
      call_function("w_ratio", a, b)
    FuzzyMatch.link(
      scraped, roster, "s_id", "r_id", "state_name", "r_state_name",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname", "middlename", "nickname"),
          wr, threshold = 85),
        FuzzyMatch.Rule("middlename", Seq("middlename"), wr, threshold = 90),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, threshold = 88),
        FuzzyMatch.Rule("suffix", Seq("suffix"), wr, threshold = 98),
        FuzzyMatch.Rule("office", Seq("office"), wr, threshold = 95),
        FuzzyMatch.Rule("district", Seq("district"), wr, threshold = 95),
        FuzzyMatch.Rule("party", Seq("party"), wr, threshold = 93)),
      requiredOverall = 85, dupMargin = 3.0)
  }

  /** q63: EXACT incremental dedup — a new batch (doc_id % 4 == 0)
    * anti-joined against the corpus's content hashes (doc_id % 4 != 0),
    * then min-id per remaining distinct content. The continuous-ingest
    * shape: the corpus contributes only its (tiny) distinct-hash set,
    * never its text. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val corpusHashes = Dedup.exact(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text")
      .select("content_hash")
    Dedup.exactIncremental(
      docs.filter(col("doc_id") % 4 === 0), corpusHashes, "doc_id", "text")
  }

  /** q64: MinHash incremental dedup — the batch (doc_id % 4 == 0)
    * probes a MinHash index built over the corpus (doc_id % 4 != 0):
    * batch bands broadcast against the index's band table, verify
    * fetches corpus shingles for candidates only, survivors then dedup
    * within the batch. Per-batch cost is O(batch + candidates),
    * independent of corpus size. Banding is the suite-wide 32/8 (r=4)
    * config the batch pipeline (q31/q53/q60) uses — the candidate rate
    * follows the 1-(1-s^r)^b curve LshRecallSpec pins, and wider
    * configs (e.g. 48/16, r=3) trade ~4x the candidate volume for
    * higher recall below the threshold. rows-only (LSH banding recall
    * is not SQL-expressible); DedupSpec pins drop/keep/delta
    * semantics. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val index = Dedup.buildMinhashIndex(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8).materialize()
    val (survivors, _) = Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 4 === 0), index, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5)
    survivors.select(col("doc_id"))
  }

  /** q65: incremental EMBEDDING near-dedup — the batch (vec_id % 4
    * == 0) probes a sign-bucket index over the corpus (vec_id % 4 !=
    * 0) with ONE-FLIP MULTI-PROBE (r14, q41's recipe on the
    * incremental path: the batch side explodes its Hamming-1 probe
    * buckets; the index and its shard layout are untouched);
    * survivors dedup within the batch. Threshold at the q34/q76
    * near-dup bar (0.35) — at the old 0.2 the multi-probe recall gain
    * legitimately dropped EVERY batch vector on this label-clustered
    * corpus (nothing survives a near-universal match rate). rows-only
    * (hyperplane LSH recall is not SQL-expressible); DedupSpec pins
    * drop/keep/delta, LshRecallSpec the multi-probe recall bounds. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables(s, dir).embeddings
    val index = Dedup.buildEmbeddingIndex(
      vecs.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      dim = 64, numPlanes = 4).materialize()
    val (survivors, _) = Dedup.incrementalEmbeddingDedup(
      vecs.filter(col("vec_id") % 4 === 0), index, "vec_id", "embedding",
      dim = 64, numPlanes = 4, threshold = 0.35, probeFlips = 1)
    survivors.select(col("vec_id"))
  }

  /** q70: incremental SIMHASH near-dedup — the batch (doc_id % 4 == 0)
    * probes an 8-byte-per-doc SimHash index over the corpus (doc_id %
    * 4 != 0); survivors dedup within the batch. Same parameters as q32
    * (shingleN=2, maxHamming=3). Completes the incremental family:
    * exact/Bloom (q63/q67), MinHash (q64), embedding (q65). rows-only
    * (banded hamming recall is not SQL-expressible); DedupSpec pins
    * drop/keep/delta + the save/load round trip. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val index = Dedup.buildSimhashIndex(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text",
      shingleN = 2).materialize()
    val (survivors, _) = Dedup.incrementalSimhashDedup(
      docs.filter(col("doc_id") % 4 === 0), index, "doc_id", "text",
      shingleN = 2, maxHamming = 3)
    survivors.select(col("doc_id"))
  }

  /** q67: q63's exact incremental dedup with a Bloom pre-filter — the
    * corpus ships as one constant-size sketch (Spark's own
    * BloomFilterAggregate over xxhash64(text)); bloom-negative batch
    * rows (no false negatives) skip the anti-join, bloom-positives
    * alone probe the corpus hash set. Same oracle as q63: the sketch
    * only routes rows, output is row-identical. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val corpusHashes = Dedup.exact(corpus, "doc_id", "text")
      .select("content_hash")
    val bloom = Dedup.buildContentBloom(
      corpus, "text", expectedItems = 1 << 20, fpp = 0.03)
    Dedup.exactIncrementalBloom(
      docs.filter(col("doc_id") % 4 === 0), bloom, corpusHashes,
      "doc_id", "text")
  }

  /** q44: the reference's roster-query shape end to end — DISTINCT ON
    * over LEFT-joined dims ("left join to assume data entry error",
    * election_candidates_by_electionyear.sql:25) with the full
    * parameter set (years / stages / state_ids OR state_names) through
    * the typed RosterQuery API. Dims are broadcast; the only shuffle is
    * the DISTINCT ON key; year params reach the scan as range
    * predicates. In production the fact/entity frames come from
    * graft.sources.Jdbc instead of parquet — same plan either way. */
  private def q44(s: SparkSession, dir: String): DataFrame =
    RosterQuery.candidates(Tables(s, dir),
      RosterQuery.RosterParams(
        electionYears = Seq(1996, 1997),
        stages = Seq("O", "F"),
        stateIds = Seq(1, 2, 3, 4, 5),
        stateNames = Seq("ASIA")))

  /** q85: div-grid table extraction with DYNAMIC header zip — the LCV
    * members-of-congress shape (national/_1012/extract.py:22-47):
    * pages synthesised one-per-nation with each customer as a
    * `div.tableRow` of spans, the first span carrying the record key
    * in its `sort` ATTRIBUTE (the reference reads `row[0]["sort"]`,
    * never the display text), headers zipped dynamically from the
    * `span.sortHeader` texts. The oracle computes the three fields
    * directly from the source columns, so any defect in the balanced
    * scan, the attr pull, or the zip breaks parity. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val rowHtml = concat(
      lit("<div class=\"tableRow\"><span sort=\"C"), k.cast("string"),
      lit("\">"), col("c_name"),
      lit("</span><span>"), col("c_mktsegment"),
      lit("</span><span>"), (k % 101).cast("string"),
      lit("%</span></div>"))
    val page = concat(
      lit("<html><body><div id=\"moc-list-table\">" +
        "<span class=\"sortHeader\">Name</span>" +
        "<span class=\"sortHeader\">Segment</span>" +
        "<span class=\"sortHeader\">Score</span>" +
        "<div id=\"moc-list-table-data\">"),
      array_join(transform(
        array_sort(collect_list(struct(k.as("k"), rowHtml.as("h")))),
        e => e.getField("h")), ""),
      lit("</div></div></body></html>"))
    Tables(s, dir).customer
      // one page per (nation, 40-way split): bounded page size — the
      // balanced-tag scan is linear but a 25-giant-string layout would
      // cap parallelism at 25 tasks and stall on string reallocation
      .groupBy(col("c_nationkey"), (k % 40).as("__pg"))
      .agg(page.as("__html"))
      .select(explode(CssExtract.divTable(col("__html"),
        containerId = "moc-list-table", headerCls = "sortHeader",
        rowCls = "tableRow", cellTag = "span", keyAttr = "sort")).as("__m"))
      .select(
        element_at(col("__m"), "Name").as("row_key"),
        element_at(col("__m"), "Segment").as("segment"),
        element_at(col("__m"), "Score").as("score"))
  }

  /** q86: ordered conversion funnel view → click → purchase with a
    * 1-day conversion window from the anchor — chained unordered
    * min-over-partition windows on ONE user exchange, then two
    * map-side-combined rollups (EventFlow.funnel). ~half the users
    * drop at each later step at this event density, so the counts
    * discriminate the ordering + window semantics. */
  private def q86(s: SparkSession, dir: String): DataFrame =
    EventFlow.funnel(Tables(s, dir).events, "user_id", "ts", "event_type",
      steps = Seq(EventFlow.Step("view"), EventFlow.Step("click"),
        EventFlow.Step("purchase")),
      windowDays = 1)

  /** q87: cross-document duplicated-SPAN removal (token-level Lee et
    * al. 2022) — 8-grams shared by ≥ 2 docs mark spans, spans merge
    * into maximal islands per doc, covered tokens are stripped. The
    * oracle recomputes the semantics the DUMB way (explode every
    * covered position, distinct, count runs) so the engine's
    * interval-merge implementation is checked against an
    * implementation-independent definition. */
  private def q87(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSpans(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      "doc_id", "text", gramN = 8, minDocs = 2)

  /** q88: weekly cohort retention triangle over the events table —
    * first-event cohort (ISO Monday week), distinct active weeks,
    * (cohort, offset) user counts. Two user-keyed shuffles + one
    * bounded rollup (EventFlow.retention). */
  private def q88(s: SparkSession, dir: String): DataFrame =
    EventFlow.retention(Tables(s, dir).events, "user_id", "ts")
      // dates dump as strings: parquet DATE → pandas date vs DuckDB
      // DATE → datetime64 would dtype-mismatch in the driver compare
      .withColumn("cohort_week",
        date_format(col("cohort_week"), "yyyy-MM-dd"))

  /** q89: PageRank over the customer–supplier purchase graph (edge =
    * customer bought from supplier, symmetrised), 10 damped iterations
    * — the iterative link-analysis workload (CommonCrawl-style domain
    * scoring as a web-corpus quality prior). The oracle unrolls the
    * identical 10 iterations as chained CTEs, so the degree join, the
    * symmetrisation dedup, and the damping arithmetic are all checked
    * end-to-end (Graph.pageRank). */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val edges = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(1000000L) + col("l_suppkey")).as("dst"))
    Graph.pageRank(edges, "src", "dst", iterations = 10, undirected = true)
      .select(col("id").as("node_id"), round(col("rank"), 7).as("pr"))
  }

  /** q90: SCD2 history build over periodic full snapshots — four
    * weekly customer snapshots synthesised with deterministic segment/
    * balance-band drift, collapsed into versioned validity intervals
    * (History.scd2: one key exchange, everything downstream
    * exchange-free). The oracle replicates the synthesis and the
    * collapse with lag/run-sum/lead windows, so change detection,
    * gap handling and interval chaining are all checked. */
  /** Shared by q90/q92/q102: weekly customer snapshots `dFrom..dTo`
    * with deterministic segment/balance-band drift. */
  private def scd2Snaps(s: SparkSession, dir: String,
      dFrom: Int, dTo: Int): DataFrame =
    Tables(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        explode(sequence(lit(dFrom), lit(dTo))).as("__d"))
      .select(
        col("c_custkey").as("cust_id"),
        date_add(lit("2024-01-01").cast("date"),
          ((col("__d") - 1) * 7).cast("int")).as("snap_date"),
        concat(col("c_mktsegment"), lit("_"),
          expr("(__d + c_custkey % 4) div 2").cast("string")).as("segment"),
        (floor(col("c_acctbal") / 1000) +
          when(col("__d") >= 3 && col("c_custkey") % 7 === 0, 1)
            .otherwise(0)).as("bal_band"))

  private def scd2Versions(s: SparkSession, dir: String): DataFrame =
    History.scd2(scd2Snaps(s, dir, 1, 4), "cust_id", "snap_date",
      Seq("segment", "bal_band"))

  private def q90(s: SparkSession, dir: String): DataFrame =
    scd2Versions(s, dir)
      .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd"))
      .withColumn("valid_to", date_format(col("valid_to"), "yyyy-MM-dd"))

  /** q91: sliding (hopping) window aggregation over events — 2-hour
    * windows every hour, so each event lands in exactly two windows;
    * counts + distinct users per (window, event type). The built-in
    * `window()` generator keeps the fan-out in-plan (explode of a
    * 2-element window array — no join); the oracle replicates it as a
    * 2-offset cross join on the hour truncation. */
  private def q91(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("__w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"))
      .select(
        date_format(col("__w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("users"))

  /** q92: point-in-time dimension enrichment — every event annotated
    * with the SCD2 version (q90's) valid at the event's date. The
    * classic "fact × slowly-changing dimension" lookup, expressed as
    * an as-of join on valid_from (versions are contiguous, so the
    * latest version at-or-before the date IS the valid one): one keyed
    * exchange, no inequality join, no interval explode. Oracle is
    * DuckDB's native ASOF LEFT JOIN over the same version CTE. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    val dims = scd2Versions(s, dir).select(
      col("cust_id").as("user_id"), col("valid_from").as("d"),
      col("segment"), col("bal_band"))
    AsOfJoin.asOf(ev, dims, Seq("user_id"), "d",
        Seq("segment", "bal_band"), prefix = "dim_")
      .select(col("event_id"), col("user_id"),
        col("dim_segment"), col("dim_bal_band"))
  }

  /** q93: CDC change-feed apply (SCD1 merge) — a deterministic
    * upsert/delete feed (three change batches over a quarter of the
    * keys, every fifth change a delete) merged into the customer
    * snapshot; latest sequence wins per key, winning deletes drop the
    * key. History.applyChanges: one keyed exchange (DistinctOn
    * window), delete filter a pure projection. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).customer.select(
      col("c_custkey").as("id"), col("c_mktsegment").as("segment"),
      round(col("c_acctbal"), 2).as("bal"))
    val feed = Tables(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        explode(sequence(lit(1), lit(3))).as("__v"))
      .filter((col("c_custkey") + col("__v")) % 4 === 0)
      .select(
        col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit("_v"), col("__v")).as("segment"),
        round(col("c_acctbal") + col("__v"), 2).as("bal"),
        col("__v").cast("long").as("seq"),
        when((col("c_custkey") + col("__v") * 7) % 5 === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    History.applyChanges(base, feed, "id", "seq", "op")
  }

  /** q94: CUBE grouping-sets aggregation — all four (status, priority)
    * grouping combinations in ONE pass (q14 covers ROLLUP's prefix
    * sets); Spark expands the grouping sets before the exchange so the
    * shuffle stays a single map-side-combined hash aggregate. Group
    * columns are never null in the data, so coalesce sentinels
    * disambiguate subtotal rows cross-engine. */
  private def q94(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"))
      .select(
        TextFunctions.nullToEmpty(col("o_orderstatus")).as("status"),
        TextFunctions.nullToEmpty(col("o_orderpriority")).as("priority"),
        col("n"), col("total"))

  /** q95: deterministic shard shuffle — the training-data-order step:
    * every document assigned a reproducible pseudo-random (shard,
    * position) via md5 of the id (Corpus.shuffleShards: one exchange
    * on the shard key + per-shard sort; never a global single-task
    * row_number window). 16² = 256 shards here; hex-string order is
    * numeric order, so DuckDB replicates with substring + row_number
    * exactly. */
  private def q95(s: SparkSession, dir: String): DataFrame =
    Corpus.shuffleShards(
      Tables(s, dir).documents.select(col("doc_id")), "doc_id",
      hexChars = 2)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** q96: exact global ranking + decile assignment — every customer
    * ranked by (balance, key) via Corpus.globalRank's two-level prefix
    * scan (range-bucketed windows + broadcast offsets — never the
    * single-task `row_number over (order by …)` global window), then
    * deciles cut by pure integer arithmetic on the rank, so the
    * cross-engine compare is exact. The composite key balInt·2³² + id
    * is tie-free, making the rank a true permutation. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir).customer.select(col("c_custkey"),
      (round(col("c_acctbal") * 100).cast("long") * lit(4294967296L) +
        col("c_custkey")).as("__k"))
    val n = Tables(s, dir).customer.count() // one driver scalar
    Corpus.globalRank(c, "__k", "rank0")
      .select(col("c_custkey"), (col("rank0") + 1).as("rank"),
        expr(s"(rank0 * 10) div $n").as("decile"))
  }

  /** q97: key-skew profile over the events stream — the top-20
    * heaviest users with row counts and corpus share
    * (Corpus.keyProfile: one map-side-combined count, top-k via
    * per-partition heaps, grand total as a broadcast one-row
    * aggregate; the events scan runs once). */
  private def q97(s: SparkSession, dir: String): DataFrame =
    Corpus.keyProfile(
      Tables(s, dir).events.select(col("user_id")), "user_id", k = 20)

  /** q98: token-budget data selection — keep the highest-quality
    * documents whose cumulative token count fits a budget (half the
    * corpus's tokens), the DCLM/FineWeb-style "best data under a
    * budget" cut. Greedy prefix in quality order = an exclusive
    * running token sum over a tie-free key ((10000−qualityInt)·2³² +
    * id), which is Corpus.prefixSum's two-level scan — never a global
    * single-task window. Quality is q38's score ×10⁴ as an integer so
    * the order key and the budget arithmetic are both exact
    * cross-engine; the budget itself is one driver scalar. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    // scored once, then reused by the budget aggregate, the quantile
    // sketch and the final scan — localCheckpoint stops the string-heavy
    // quality/token expressions re-running per action (3 actions here)
    val d = Tables(s, dir).documents.select(
      col("doc_id"),
      TextStats.wsTokenCount(col("text")).cast("long").as("n_tok"),
      round(TextStats.qualityScore(col("text")) * 10000).cast("long")
        .as("__qi"))
      .localCheckpoint(false)
    val budget =
      d.agg(sum(col("n_tok"))).head().getLong(0) / 2 // one driver scalar
    val keyed = d.select(col("doc_id"), col("n_tok"),
      ((lit(10000L) - col("__qi")) * lit(4294967296L) + col("doc_id"))
        .as("__k"))
    Corpus.prefixSum(keyed, "__k", "n_tok", "__cum") // __cum = EXCLUSIVE prefix
      .filter(col("__cum") + col("n_tok") <= budget)
      .select(col("doc_id"), col("n_tok"))
  }

  /** q117: per-source token budgets — q98's cut applied independently
    * per source (mixture construction with per-domain caps): keep each
    * source's highest-quality docs until HALF that source's tokens.
    * The greedy prefix is an exclusive running sum over a per-source
    * ordered window — keys partition naturally, so no prefixSum
    * machinery is needed (one hash exchange on the source; a corpus
    * with ONE dominant source degrades to one fat partition — q98's
    * bucketed two-level scan is the escape hatch at that shape). The
    * per-source budget table is group-count-sized and broadcasts
    * back. Same integer quality key as q98 for cross-engine order.
    *
    * The packed order key `(10000 − qi) · 2^32 + doc_id` assumes
    * doc_id < 2^32: beyond that it wraps in non-ANSI Spark while
    * DuckDB raises on BIGINT overflow — a cross-engine divergence.
    * The driver's generator ids are dense longs far below 2^32; a
    * corpus with wider ids should order by the (quality, doc_id)
    * TUPLE instead of the packed long. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir).documents.select(
      col("doc_id"), col("source"),
      TextStats.wsTokenCount(col("text")).cast("long").as("n_tok"),
      round(TextStats.qualityScore(col("text")) * 10000).cast("long")
        .as("__qi"))
      .localCheckpoint(false) // scored once: budgets + cut both consume
    val budgets = d.groupBy(col("source"))
      .agg((sum(col("n_tok")) / 2).cast("long").as("__budget"))
    val w = Window.partitionBy(col("source"))
      .orderBy((lit(10000L) - col("__qi")) * lit(4294967296L) +
        col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("__cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .join(broadcast(budgets), "source")
      .filter(col("__cum") + col("n_tok") <= col("__budget"))
      .select(col("source"), col("doc_id"), col("n_tok"))
  }

  /** q118: interval overlap join — every (purchase window, view
    * window) intersection per user: purchases live for 2 h, views for
    * 1 h (RangeJoin.overlapJoin, 1-hour bins — the banded equi-join
    * form of the inequality join the oracle runs). */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsMillis(col("ts")).as("ms"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), tsMillis(col("ts")).as("ms"))
    RangeJoin.overlapJoin(p, v, keys = Seq("user_id"),
      aId = "event_id", aStart = col("ms"), aEnd = col("ms") + 7200000L,
      bId = "event_id", bStart = col("ms"), bEnd = col("ms") + 3600000L,
      binMs = 3600000L)
      .select(col("user_id"), col("a_id").as("purchase_id"),
        col("b_id").as("view_id"),
        col("overlap_start_ms"), col("overlap_end_ms"))
  }

  /** q120: main-content extraction / boilerplate removal
    * (CssExtract.mainContent — the jusText/trafilatura step between
    * raw crawl HTML and the quality gates). Pages are synthesised per
    * document with the classic shapes: a nav bar of anchors (link
    * density 19/21 ≈ 0.90 — dropped), the document body (min length
    * 44 in the current testdata, so it passes the 40-char gate — but
    * the oracle applies the gate rather than assuming), an "ok" stub
    * (dropped: short), a truncated
    * teaser of the body (`doc_id % 60` chars, trimmed — kept iff the
    * trimmed prefix reaches 40 chars), and a related-links paragraph
    * (40 chars of text, 25 inside anchors — density 0.625, dropped).
    * The oracle recomputes the expected text from the SOURCE columns,
    * so the whole block/density pipeline is checked implementation-
    * independently. Pure projection — no shuffle anywhere. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val teaser = col("text").substr(lit(1), pmod(col("doc_id"), lit(60)))
    val page = concat(
      lit("<div><p><a href=\"/h\">Home</a> <a href=\"/c\">Contact</a>" +
        " <a href=\"/s\">Site map</a></p><p>"),
      col("text"),
      lit("</p><p>ok</p><p>"), teaser,
      lit("</p><p>See <a href=\"/x\">more offers" +
        "</a> and <a href=\"/y\">archived deals</a> here.</p></div>"))
    val blocks = graft.operators.CssExtract.mainContentBlocks(
      page, minChars = 40, maxLinkDensity = 0.33)
    Tables(s, dir).documents.select(
      col("doc_id"),
      array_join(blocks, "\n").as("main_text"),
      size(blocks).cast("long").as("n_kept"))
  }

  /** q121: first-order Markov transition matrix over per-user event
    * sequences (EventFlow.transitions) — the "what do users do next"
    * table behind funnel design and next-event features. The event
    * stream shuffles ONCE (the lag window's user-key exchange);
    * everything after is bounded by the event-type vocabulary squared
    * (counts map-side combined, per-from totals broadcast back). */
  private def q121(s: SparkSession, dir: String): DataFrame =
    EventFlow.transitions(Tables(s, dir).events,
      "user_id", "ts", "event_type", tieCol = "event_id")

  /** q122: rolling z-score anomaly detection (Stats.rollingZscore) —
    * flag events whose value deviates > 2 sample stddevs from the mean
    * of that user's 10 PRECEDING events (frame exclusive: "does this
    * event look wrong given recent history", the monitoring twin of
    * q109's whole-distribution z). Value scaled to an integer
    * (round(value·100)) so the flag cut is pure integer arithmetic —
    * bit-exact cross-engine, no float epsilon at the threshold; the
    * reported z-score derives from the same integer sums with an
    * identical expression tree on both engines. ONE user-key window
    * exchange (three frame sums share it). */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events.select(
      col("event_id"), col("user_id"), tsMillis(col("ts")).as("__ms"),
      round(col("value") * 100).cast("long").as("x100"))
    Stats.rollingZscore(ev, "user_id", col("__ms"), col("event_id"),
      col("x100"), lookback = 10, z = 2)
      .select(col("user_id"), col("event_id"), col("x100"),
        col("n_prior"), col("sum_prior"), col("zscore"))
  }

  /** q123: NEAR-EXACT (normalized) dedup — the Dolma/CCNet "fuzzy
    * exact" recipe between q30's byte-hash dedup and q31's MinHash:
    * lowercase + Unicode-aware punctuation/whitespace collapse
    * (Dedup.normalizeForDedup), then the q30 md5 group-by. The
    * fixture unions each document with a re-crawled copy (leading 20
    * chars upper-cased, trailing " !!" appended) that a byte hash
    * misses and the canonical form collapses. Normalization is a pure
    * codegen'd projection; the whole query is ONE map-side-combined
    * hash aggregate — same scale shape as q30. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val alt = base.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(upper(substring(col("text"), 1, 20)),
        expr("substring(text, 21)"), lit(" !!")).as("text"))
    val normed = base.unionByName(alt).select(col("doc_id"),
      Dedup.normalizeForDedup(col("text")).as("__norm"))
    Dedup.exact(normed, "doc_id", "__norm")
      .select(col("keep_id"), col("n_copies"))
  }

  /** q124: EXACT all-pairs set-similarity join (SetSimilarity
    * .jaccardJoin) — every document pair whose distinct word-trigram
    * sets overlap at Jaccard ≥ 2/5, found by PREFIX FILTERING with a
    * rare-first global token order: recall is exactly 1.0 (the
    * guarantee q31's MinHash-LSH trades away for its banding bound),
    * candidates bounded by the prefix-filter principle — never
    * all-pairs. Both the prefix length and the similarity cut are
    * integer arithmetic, so the DuckDB brute-force oracle must match
    * pair-for-pair: the oracle directly certifies the recall=1.0
    * contract. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    SetSimilarity.jaccardJoin(docs, "doc_id",
      Dedup.shinglesCol(docs, col("text"), 3), tauNum = 2, tauDen = 5)
  }

  /** q125: per-source quality percent-rank — score CALIBRATION for
    * cross-source mixing: q38's rule quality is comparable only within
    * a source's own distribution, so mixture builders (q68/q117) cut
    * on the within-source rank, not the raw score. percent_rank over
    * (source | quality int, doc_id) — tie-free composite order, ONE
    * source-keyed window exchange; the rank is (rank−1)/(n−1), a
    * single division of exact integers (round 6, cross-engine). */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir).documents.select(
      col("doc_id"), col("source"),
      round(TextStats.qualityScore(col("text")) * 10000).cast("long")
        .as("__qi"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__qi"), col("doc_id"))
    d.select(col("source"), col("doc_id"), col("__qi").as("quality_i"),
      round(percent_rank().over(w), 6).as("pr"))
  }

  /** q146: cross-source QUANTILE NORMALIZATION of quality scores
    * (Stats.quantileNormalize): each doc's within-source rank maps to
    * the global quality value at the same relative rank — the
    * distribution-matching transform that makes q125's within-source
    * ranks comparable on ONE scale for cross-source cuts. All-integer
    * rank arithmetic; the normalized value is an exact global order
    * statistic, so the oracle replays it row-for-row. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select(
      col("doc_id"), col("source"),
      round(TextStats.qualityScore(col("text")) * 10000).cast("long")
        .as("quality_i"))
      .withColumn("__key",
        col("quality_i") * lit(4294967296L) + col("doc_id"))
    Stats.quantileNormalize(d, "source", "__key", "quality_i", "norm_q")
      .select(col("doc_id"), col("source"), col("quality_i"),
        col("norm_q"))
  }

  /** q147: generic COLUMN PROFILE — per-column null count, exact
    * distinct count and min/max (as strings) for a whole table in one
    * logical pass: the schema-drift / data-contract snapshot beside
    * q143's rule gate (q77/q97 profile specific domains; this
    * profiles ANY relation — [[Stats.columnProfile]] derives the
    * column list from the schema). Spark plans the multi-distinct via
    * one Expand + a two-phase aggregate — 2 exchanges total, never a
    * per-column query. Doubles enter as integer cents so min/max
    * strings render identically cross-engine; the wide one-row
    * result melts to long form in a projection. */
  private def q147(s: SparkSession, dir: String): DataFrame =
    Stats.columnProfile(Tables(s, dir).customer.select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long").as("c_acctbal_cents"),
      col("c_mktsegment")))

  /** q126: corpus-wide adjacent character-pair counts — ONE iteration
    * of BPE vocabulary induction (the merge-candidate table a
    * tokenizer trainer recomputes per merge): for every whitespace
    * word, every adjacent 2-char window, counted globally; top 50 by
    * (count desc, pair asc — deterministic tie-break). The explode
    * grows rows to ~total-chars, but every row collapses immediately
    * into the partial (map-side-combined) aggregate whose state is
    * bounded by |charset|² — the only corpus-sized movement is the
    * scan itself; the top-k is TakeOrderedAndProject (per-partition
    * heaps, no global sort). This is the count-collect shape every
    * BPE/WordPiece trainer iteration reduces to at corpus scale. */
  private def q126(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)

  /** q127: mergeable-sketch rollup — daily HLL sketches of distinct
    * users unioned into weekly approx-distinct counts (Spark's
    * Datasketches HllSketchAgg, lgK=14 ≈ ±1.6% at 1σ). The pattern IS
    * the point: the day-grain sketch table is the PERSISTED
    * pre-aggregate (a few KB per day), and every coarser rollup
    * (week/month/quarter, any ad-hoc date range) merges sketches
    * WITHOUT rescanning the event corpus — the sketch-cube recipe for
    * distinct-count dashboards at 100 TB, where exact daily
    * COUNT(DISTINCT) re-shuffles all history per query. Two map-side-
    * combined aggregates; sketch union is associative and loss-free
    * (union of daily sketches ≡ one direct weekly sketch — ApproxSpec
    * pins both that identity and the error vs exact). Rows-only:
    * DuckDB's approx sketch is a different algorithm. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir).events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("__sk"))
    daily
      .groupBy(date_format(date_trunc("week", col("day")), "yyyy-MM-dd")
        .as("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(__sk))")
        .as("approx_users"))
  }

  /** q128: Unicode SCRIPT detection — per-document character counts
    * for Latin/Cyrillic/Greek/CJK blocks and the dominant script (the
    * lang-id VALIDATOR a crawl pipeline runs beside q37: a "French"
    * page that is 80% CJK betrays mislabeled or mixed content, and
    * script shares route docs to script-specific tokenizers). Pure
    * regex projection — the per-block counts strip the complement
    * class and measure length, dominance is a deterministic
    * preference chain on ties. The `\x{…}` code-point class syntax is
    * the one RE2 (DuckDB) and java.util.regex share, so both engines
    * run the LITERAL same patterns. The fixture appends a
    * deterministically-sized Cyrillic/Greek/CJK tail to each doc
    * (doc_id-keyed) so dominance actually varies. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val tail = expr(
      """CASE CAST(doc_id % 4 AS INT)
        |  WHEN 1 THEN repeat('ж', CAST(doc_id % 20 AS INT) * 40)
        |  WHEN 2 THEN repeat('λ', CAST(doc_id % 20 AS INT) * 40)
        |  WHEN 3 THEN repeat('字', CAST(doc_id % 20 AS INT) * 40)
        |  ELSE '' END""".stripMargin)
    def nOf(t: Column, cls: String): Column =
      length(regexp_replace(t, s"[^$cls]", ""))
    val t = concat(col("text"), tail)
    val counted = Tables(s, dir).documents.select(
      col("doc_id"),
      nOf(t, "A-Za-z").as("n_latin"),
      nOf(t, "\\x{0400}-\\x{04FF}").as("n_cyr"),
      nOf(t, "\\x{0370}-\\x{03FF}").as("n_greek"),
      nOf(t, "\\x{4E00}-\\x{9FFF}").as("n_cjk"))
    counted.withColumn("script",
      when(col("n_latin") >= col("n_cyr") &&
        col("n_latin") >= col("n_greek") &&
        col("n_latin") >= col("n_cjk"), "latin")
        .when(col("n_cyr") >= col("n_greek") &&
          col("n_cyr") >= col("n_cjk"), "cyrillic")
        .when(col("n_greek") >= col("n_cjk"), "greek")
        .otherwise("cjk"))
  }

  /** q129: EXACT global median price WITHOUT a global sort
    * (Stats.kthSmallest) — exact order statistics over a relation no
    * task could sort: approx-percentile sketch brackets the k-th key
    * within its proven ±εn rank band, one exact below-bracket count
    * anchors the offset, and Corpus.globalRank ranks the ~2εn bracket
    * rows only (two-level prefix scan, never a single-task window).
    * The key is tie-free (price cents · 2³² + a unique line id) so
    * "the median row" is well-defined cross-engine; the oracle is the
    * definitionally-simple single-sort row_number selection at
    * k = ⌈n/2⌉. The q16/q56 percentile twins answer per-GROUP
    * quantiles (buffered exact / sketched); this is the corpus-wide
    * exact one. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem.select(
      round(col("l_extendedprice") * 100).cast("long").as("__cents"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("__lid"))
    val keyed = li.select(
      (col("__cents") * lit(4294967296L) + col("__lid")).as("__key"),
      col("__cents"))
    val n = keyed.count() // one driver scalar
    Stats.kthSmallest(keyed, "__key", k = (n + 1) / 2, knownN = Some(n))
      .select(col("__cents").as("median_cents"))
  }

  /** q130: INCREMENTAL exact set-similarity — a new batch probed
    * against the persisted q124 index (SetSimilarity.buildIndex /
    * probeIndex): the corpus is never re-shingled, re-counted or
    * re-sorted; the batch sorts its tokens by the index's FROZEN
    * rare-first order (unseen tokens at df 0) so cross-side recall
    * stays exactly 1.0 — certified by the same brute-force oracle
    * shape as q124. Batch = perturbed copies of every 7th corpus doc
    * (three appended words shift the trigram set but keep J ≥ τ). */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zz ww vv")).as("text"))
    val index = SetSimilarity
      .buildIndex(docs, "doc_id", Dedup.shinglesCol(docs, col("text"), 3))
      .materialize()
    SetSimilarity.probeIndex(index, batch, "doc_id",
      Dedup.shinglesCol(batch, col("text"), 3), tauNum = 2, tauDen = 5)
  }

  /** q131: equi-DEPTH histogram of line-item price — 10 quantile
    * buckets of equal row count with exact integer cut points
    * ((rank0·10) div n), the dense-region complement of q101's
    * equi-width buckets. Rank comes from the two-level prefix scan
    * (no global window); tie-free packed key as q96/q129. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem.select(
      round(col("l_extendedprice") * 100).cast("long").as("__cents"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("__lid"))
    val keyed = li.select(
      (col("__cents") * lit(4294967296L) + col("__lid")).as("__key"),
      col("__cents"))
    Stats.equiDepthHistogram(keyed, "__key", col("__cents"), 10)
      .select(col("bucket"), col("n_rows"), col("lo").as("lo_cents"),
        col("hi").as("hi_cents"), col("sum_val").as("sum_cents"))
  }

  /** q132: per-nation revenue TREND — OLS slope/intercept of daily
    * order revenue (cents) against the day index since 1995-01-01,
    * via Stats.trendPerKey's all-long moment sums (cross-engine exact
    * until the final division; doc'd long bounds hold through sf0.1:
    * x ≤ ~2500, Σxy ≲ 1e14). One join exchange + two aggregates. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val daily = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("__x"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__y"))
    Stats.trendPerKey(daily, "n_name", col("__x"), col("__y"))
      .select(col("n_name"), col("n").as("n_days"),
        round(col("slope"), 4).as("slope_cents_per_day"),
        round(col("intercept"), 2).as("intercept_cents"))
  }

  /** q133: exact TRIANGLE COUNT per apex over the part co-purchase
    * graph (parts sharing an order; pair fan-out bounded by C(7,2)
    * per order). Degree orientation bounds the wedge join at
    * O(E^1.5) — the hub-proof plan (Graph.triangles). All-integer,
    * oracle replays the same orientation in SQL. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir).lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val o2 = op.select(col("o").as("__o2"), col("p").as("__p2"))
    val edges = op.join(o2, col("o") === col("__o2") && col("p") < col("__p2"))
      .select(col("p").as("pa"), col("__p2").as("pb"))
    Graph.triangles(edges, "pa", "pb")
  }

  /** q148: APPROXIMATE triangle count by deterministic edge sampling
    * (the DOULION recipe, Tsourakakis'09): keep each canonical edge
    * with probability 1/7 via an ARITHMETIC hash ((a·1000003+b) mod
    * 7 = 0 — deterministic and cross-engine exact, so even the
    * estimator is oracle-checkable), count triangles exactly on the
    * sampled graph, scale by 7³. The trillion-edge escape hatch next
    * to q133's exact count: sampling shrinks the wedge stage by p²
    * (49×) and the estimator is unbiased with relative error
    * O(1/√(p³·T)). One row out: sampled triangles + the estimate. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir).lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val o2 = op.select(col("o").as("__o2"), col("p").as("__p2"))
    val edges = op.join(o2, col("o") === col("__o2") && col("p") < col("__p2"))
      .select(col("p").as("pa"), col("__p2").as("pb"))
      .filter((col("pa") * 1000003L + col("pb")) % 7 === 0)
    Graph.triangles(edges, "pa", "pb")
      .agg(sum(col("tri_n")).as("sampled_tri"),
        count(lit(1)).as("n_apexes"))
      .select(col("sampled_tri"), col("n_apexes"),
        (col("sampled_tri") * lit(343L)).as("est_triangles"))
  }

  /** q150: LABEL-PROPAGATION COMMUNITIES over the co-purchase part
    * graph (q133's wedge edges, thinned 1/5 by q148's arithmetic
    * hash so the graph fragments into real components — the full
    * co-purchase graph is one dense blob) — synchronous
    * deterministic LPA (adopt the modal neighbour label,
    * smallest-label tie-break, 5 fixed rounds), the near-linear
    * community detector beside q89's centrality and q133's cohesion
    * count. Deterministic semantics make even the iterative result
    * hash-exact: the oracle unrolls all 5 rounds as CTEs (q89's
    * unrolled-PageRank precedent). */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir).lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val o2 = op.select(col("o").as("__o2"), col("p").as("__p2"))
    val edges = op.join(o2, col("o") === col("__o2") && col("p") < col("__p2"))
      .filter((col("p") * 1000003L + col("__p2")) % 5 === 0)
      .select(col("p").as("src"), col("__p2").as("dst"))
    Graph.labelPropagation(edges, "src", "dst", iterations = 5)
  }

  /** q153: EXACT CONTAINMENT JOIN (SetSimilarity.containmentJoin) —
    * every ORDERED doc pair where ≥4/5 of A's distinct word trigrams
    * appear in B: the subset-duplicate / quote-inclusion case q124's
    * symmetric Jaccard misses (a short doc quoted inside a long one
    * has low Jaccard but containment ≈ 1). A-side prefix filter +
    * full-B token index, recall exactly 1.0 — the brute-force DuckDB
    * oracle certifies it pair-for-pair. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    SetSimilarity.containmentJoin(docs, "doc_id",
      Dedup.shinglesCol(docs, col("text"), 3), tauNum = 4, tauDen = 5)
  }

  /** FROZEN merge list for q154: the output of `Bpe.train` over the
    * sf0.01 documents corpus (24 merges, maxWords default), kept as a
    * literal so the DuckDB oracle can replay the identical rank table
    * — a runtime-trained list can't appear in a static SQL string.
    * BpeSpec re-derives it from the corpus and pins the equality, so
    * drift between the constant and the trainer is caught in CI. */
  private[graft] val BpeMerges: Seq[String] = Seq(
    "e|r", "i|n", "o|w", "o|r", "s|t", "m|er", "a|t", "l|u", "a|r",
    "p|ar", "j|o", "jo|in", "a|s", "as|h", "h|ash", "r|ow", "at|c",
    "atc|h", "b|atch", "a|n", "c|an", "s|can", "c|o", "c|u")

  /** FROZEN WordPiece vocabulary for q159: the output of
    * `WordPiece.train` over the sf0.01 documents corpus (24 merges,
    * maxWords default — base symbols then merged pieces), kept as a
    * literal so the DuckDB oracle can replay the identical greedy
    * longest-match against a static vocabulary. WordPieceSpec
    * re-derives it from the corpus and pins the equality, so drift
    * between the constant and the trainer is caught in CI. */
  private[graft] val WpVocab: Seq[String] = Seq(
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k",
    "##l", "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u",
    "##w", "##y", "a", "b", "c", "d", "f", "g", "h", "j", "k", "l",
    "m", "o", "p", "q", "r", "s", "t", "v", "w", "ag", "agg", "qu",
    "li", "wi", "lin", "win", "wind", "fi", "##ig", "big", "##in",
    "th", "##sh", "##ch", "fil", "##bl", "##us", "cus", "##up",
    "##lu", "sp", "##lum", "##lumn")

  /** q159: WORDPIECE ENCODE (WordPiece.tokenHistogram + the
    * codegen'd `wordpiece_encode` kernel) — the second tokenizer
    * family beside BPE: every corpus word is greedily
    * longest-match tokenized against the frozen vocabulary (`##`
    * continuation pieces, whole-word [UNK] on failure) and the
    * top-30 tokens by count are reported with a deterministic
    * (cnt desc, token) cutoff. Encoding is a pure projection; the
    * only exchange is the token-count aggregate. The oracle unrolls
    * the left-to-right consume loop as 12 CTE steps (words cap at 12
    * chars → ≤ 12 pieces), each taking the LONGEST vocab prefix via
    * list_max over matching lengths — hash-exact. */
  private def q159(s: SparkSession, dir: String): DataFrame =
    WordPiece.tokenHistogram(
      Tables(s, dir).documents.select(col("text")), "text",
      WpVocab, k = 30)

  /** q160: WORDPIECE TRAIN (WordPiece.vocabTable) — the trained
    * vocabulary itself, (id, piece), from one distributed word-count
    * aggregate + a bounded vocabulary collect + the deterministic
    * likelihood-scored driver loop (score = c(ab)/(c(a)·c(b)) — the
    * published WordPiece/BPE trainer difference). Rows-only vs the
    * oracle (24 likelihood iterations cannot be replayed in static
    * SQL); WordPieceSpec pins the trainer against hand-computed
    * corpora, its determinism, and the frozen q159 vocabulary. */
  private def q160(s: SparkSession, dir: String): DataFrame =
    WordPiece.vocabTable(
      Tables(s, dir).documents.select(col("text")), "text",
      numMerges = 24)

  /** FROZEN unigram-LM piece model for q161: the output of
    * `UnigramLm.train` over the sf0.01 documents corpus (vocab 60,
    * seed 500, 2 EM rounds each side of the prune) as parallel
    * (piece, natural-log prob) literals. Logps are shortest
    * round-trip doubles, so the DuckDB oracle's decimal parse lands
    * on the identical IEEE values and the Viterbi DP additions agree
    * bit-for-bit. UnigramLmSpec re-derives the model from the corpus
    * and pins equality, so trainer/constant drift is caught in CI. */
  private[graft] val UgPieces: Seq[String] = Seq(
    "a", "agg", "b", "batch", "big", "c", "column", "cu", "cust",
    "custo", "custom", "d", "data", "e", "er", "f", "fast", "filter",
    "g", "group", "h", "hash", "i", "j", "join", "k", "key", "l",
    "line", "m", "mer", "merge", "n", "o", "omer", "order", "p",
    "part", "q", "query", "r", "row", "s", "scan", "slow", "small",
    "sort", "spark", "stomer", "stream", "t", "table", "the", "u", "v",
    "value", "vector", "w", "window", "y")
  private[graft] val UgLogps: Seq[Double] = Seq(
    -33.23943007549872, -3.4100738879499226, -33.23943007549872,
    -3.3708958633198383, -3.438213054621869, -33.23943007549872,
    -3.3741027073294174, -16.17074096184864, -16.15919261983006,
    -10.704888815095716, -3.3747635563937544, -6.955482607536778,
    -3.402334766956967, -33.23943007549872, -3.3747635547227386,
    -33.23943007549872, -3.4636479517696905, -3.3751739447109164,
    -33.23943007549872, -3.4359325519231434, -33.23943007549872,
    -3.360280052372182, -33.23943007549872, -33.23943007549872,
    -3.3424878509477147, -33.23943007549872, -3.41563873258333,
    -33.23943007549872, -3.4001345460473646, -23.58458529508683,
    -10.70489136433408, -3.3913817549377696, -33.23943007549872,
    -33.23943007549872, -16.159192632176815, -3.397939155483929,
    -6.955482607536778, -3.4359325519231434, -33.23943007549872,
    -3.4439371687057574, -33.23943007549872, -3.3645128629248027,
    -33.23943007549872, -3.3719636690806682, -3.3913817549377696,
    -3.3805474127720596, -3.4427897216492807, -3.433657238086008,
    -16.170740961848423, -3.42460740256609, -33.23943007549872,
    -3.402334766956967, -3.480177253720901, -6.955482607536778,
    -33.23943007549872, -3.4145232834994643, -3.397939155483929,
    -33.23943007549872, -3.4268621949531792, -33.23943007549872)

  /** q161: UNIGRAM-LM ENCODE (UnigramLm.tokenHistogram + the
    * codegen'd `unigram_encode` Viterbi kernel) — the third
    * tokenizer family: every corpus word segmented to the
    * max-likelihood piece sequence under the frozen unigram model
    * (ties to the earliest split point), top-30 tokens by count with
    * a (cnt desc, token) deterministic cutoff. Encoding is a pure
    * projection; the only exchange is the token-count aggregate. The
    * oracle unrolls the DP as 12 CTE steps, each extending dp/token
    * state one position — the (score, -i) struct list_max replays
    * max-score-then-earliest-parent exactly. */
  private def q161(s: SparkSession, dir: String): DataFrame =
    UnigramLm.tokenHistogram(
      Tables(s, dir).documents.select(col("text")), "text",
      UgPieces, UgLogps, k = 30)

  /** q162: UNIGRAM-LM TRAIN (UnigramLm.modelTable) — the trained
    * (piece, logp) model itself: substring seeding, forward-backward
    * EM over each dict word's segmentation lattice, expected-count
    * pruning with guaranteed character coverage, re-fit. Rows-only
    * vs the oracle (EM cannot be replayed in static SQL);
    * UnigramLmSpec pins lattice expectations on hand-computed
    * corpora, determinism, coverage, and the frozen q161 model. */
  private def q162(s: SparkSession, dir: String): DataFrame =
    UnigramLm.modelTable(
      Tables(s, dir).documents.select(col("text")), "text",
      vocabSize = 60)

  /** q154: BPE ENCODE (Bpe.tokenHistogram + the codegen'd
    * `bpe_encode` kernel) — exact-tokenizer token histogram: every
    * corpus word (lowercased [a-z]+ runs, 2..12 chars) is greedily
    * tokenized against the frozen merge list and the top-30 tokens by
    * count are reported with a deterministic (cnt desc, token)
    * cutoff. Encoding is a pure projection (merge table broadcast by
    * closure, per-thread whole-word memo); the only exchange is the
    * token-count aggregate. The oracle unrolls the greedy
    * one-pair-per-step loop as 11 CTE steps (words cap at 12 chars →
    * ≤ 11 merges), each picking min (rank, position) via a packed
    * rank·100+pos list_min — hash-exact. */
  private def q154(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenHistogram(
      Tables(s, dir).documents.select(col("text")), "text",
      BpeMerges, k = 30)

  /** q155: BPE TRAIN (Bpe.mergeTable) — the trained merge table
    * itself, (rank, left, right), from one distributed word-count
    * aggregate + a bounded vocabulary collect + the deterministic
    * driver loop. Rows-only vs the oracle (40 training iterations
    * cannot be replayed in static SQL); BpeSpec pins the trainer
    * against hand-computed corpora, its determinism, and the frozen
    * q154 list. */
  private def q155(s: SparkSession, dir: String): DataFrame =
    Bpe.mergeTable(
      Tables(s, dir).documents.select(col("text")), "text",
      numMerges = 40)

  /** Case/punctuation-rich twin of the documents text shared by
    * q179/q180: the raw corpus is lowercase [a-z ] only, so a
    * deterministic doc_id-keyed tail of mixed case, digits and
    * punctuation is appended — the input classes the char-level
    * [a-z]+ pipeline (q154) DROPS and byte-level BPE exists to keep.
    * All printable ASCII (byte symbols = identity chars), which is
    * what lets the DuckDB oracle replay the encode; the multi-byte
    * UTF-8 half of the byte story is BpeSpec-pinned on unicode
    * fixtures instead. */
  private[graft] def bbpeFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(col("text"), lit(" "),
        element_at(typedlit(BbpeTails),
          (col("doc_id") % 5 + 1).cast("int"))).as("text"))

  private val BbpeTails = Seq(
    "Dr. Smith-Jones said NO!", "O'Neil (R-2024) voted 57%.",
    "x=42; y*3+1?", "#Done: 100% [OK].", "The U.S. Senate & Co.")

  /** FROZEN byte-level merge list for q179: the output of
    * `Bpe.trainBytes` over the sf0.01 bbpeFixture corpus (24 merges,
    * maxWords default), kept as a literal so the DuckDB oracle can
    * replay the identical rank table. BpeSpec re-derives it from the
    * corpus and pins the equality, so drift between the constant and
    * the trainer is caught in CI. */
  private[graft] val BbpeMerges: Seq[String] = Seq(
    "e|r", "i|n", "o|w", "o|r", "s|t", "a|t", "m|er", "l|u", "a|r",
    "p|ar", "i|l", "j|o", "jo|in", "a|s", "as|h", "h|ash", "r|ow",
    "h|e", "at|c", "atc|h", "b|atch", "a|n", "c|an", "s|can")

  /** q179: BYTE-LEVEL BPE ENCODE (Bpe.tokenHistogramBytes + the
    * `byte_symbols` ∘ `bpe_encode` kernels) — the GPT-2-style
    * tokenizer real pretraining ships: the alphabet is the 256 UTF-8
    * byte values (ByteAlphabet's bijection), so case, digits and
    * punctuation all encode with NO possible UNK — input q154's
    * [a-z]+ char-level pipeline silently drops. Words are
    * case-preserving whitespace tokens of the punctuation-rich
    * fixture. Oracle replays the same unrolled lowest-rank merge
    * loop over the fixture's words — on printable ASCII the byte
    * symbols ARE the chars, so the replay is exact (hash-exact);
    * BpeSpec pins the multi-byte unicode path. */
  private def q179(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenHistogramBytes(bbpeFixture(Tables(s, dir).documents),
      "text", BbpeMerges, k = 30)

  /** q180: BYTE-LEVEL BPE TRAIN (Bpe.mergeTableBytes) — the trained
    * byte merge table (rank, left, right) from the same word-dict +
    * driver-loop recipe as q155, over byte-symbol words. Rows-only
    * (iterative training is not static-SQL-replayable); BpeSpec pins
    * the trainer against the frozen q179 list and the byte-alphabet
    * bijection. */
  private def q180(s: SparkSession, dir: String): DataFrame =
    Bpe.mergeTableBytes(bbpeFixture(Tables(s, dir).documents)
      .select(col("text")), "text", numMerges = 24)

  /** FROZEN merge list for q185: `Bpe.trainBytes` over the sf0.01
    * bbpeFixture corpus with the GPT-2-ish PRE-TOKENIZER classes
    * (Bpe.PretokRe — letter/digit/punct runs; 24 merges). BpeSpec
    * re-derives it so constant/trainer drift fails in CI. Differs
    * from BbpeMerges where punctuation-glued words changed the pair
    * statistics — exactly the effect the pre-tokenizer exists for. */
  private[graft] val BbpePretokMerges: Seq[String] = Seq(
    "e|r", "i|n", "o|w", "o|r", "s|t", "a|t", "m|er", "l|u", "a|r",
    "p|ar", "i|l", "j|o", "jo|in", "a|s", "as|h", "h|ash", "r|ow",
    "h|e", "at|c", "atc|h", "b|atch", "a|n", "c|an", "s|can")
  // NOTE: currently coincides with BbpeMerges — at this corpus scale
  // the top-24 pair statistics are dominated by the lowercase words
  // both tokenizations share; the ENCODE still differs (class-split
  // words tokenize separately). The two constants stay independent
  // so a corpus change diverges them without cross-contamination;
  // BpeSpec pins each against its own trainer configuration.

  /** q185: BYTE-LEVEL BPE WITH GPT-2-ISH PRE-TOKENIZATION — q179's
    * pipeline with the published pre-split: words are letter runs,
    * digit runs and punctuation RUNS (Bpe.PretokRe) instead of bare
    * whitespace tokens, so "votes!" tokenizes as ["votes", "!"] and
    * numbers never merge into neighbouring words — the actual GPT-2
    * recipe's shape (its regex adds apostrophe contractions and
    * leading-space affinity; the class split is the load-bearing
    * part). The alternation is branch-disjoint, so Java and RE2
    * tokenize identically (the q39 parity class) and the unrolled
    * replay stays hash-exact. */
  private def q185(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenHistogramBytes(bbpeFixture(Tables(s, dir).documents),
      "text", BbpePretokMerges, k = 30, wordRe = Bpe.PretokRe)

  /** q157: EXACT TOKENIZER COUNTS (Bpe.tokenCounts) — per-doc
    * (n_words, n_tokens) under the frozen merge list: the real value
    * q39's whitespace-BPE-ish approximation stands in for, and the
    * input a token-budget cut (q98/q117) or packing layout (q74)
    * would consume at a real training run. Same oracle machinery as
    * q154 (the unrolled greedy loop), finishing in a per-doc
    * count/sum instead of the token histogram. */
  private def q157(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenCounts(Tables(s, dir).documents, "doc_id", "text", BpeMerges)

  /** q156: ORDER-2 LM QUALITY (Corpus.lmQualityScoreBigram) — q73's
    * CCNet-style score upgraded to a bigram model with Stupid
    * Backoff (α=0.4, add-one unigram fallback), the standard order-n
    * perplexity-filter shape. Same reference slice as q73 (docs
    * 0-99); both model tables broadcast, transitions generated
    * in-plan. Oracle recomputes both count tables and replays the
    * backoff arithmetic with the identical op order (single ln of a
    * product/quotient per branch); the round(,4) mean absorbs
    * cross-engine sum-order ULPs exactly as q73 does. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.lmQualityScoreBigram(d, "doc_id", "text",
      reference = d.filter(col("doc_id") < 100), refTextCol = "text")
  }

  /** q158: ORDER-3 LM QUALITY (Corpus.lmQualityScoreTrigram) — the
    * full Stupid Backoff chain: trigram hit → α·bigram → α²·add-one
    * unigram, mean over a doc's transitions. Same reference slice as
    * q73/q156 (docs 0-99); all three model tables broadcast, triples
    * generated in-plan. Oracle recomputes the three count tables and
    * replays the three-branch CASE with identical op order per
    * branch (one ln of a product/quotient); round(,4) absorbs
    * sum-order ULPs as q73/q156 do. */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.lmQualityScoreTrigram(d, "doc_id", "text",
      reference = d.filter(col("doc_id") < 100), refTextCol = "text")
  }

  /** q172: ORDER-4 LM QUALITY — the generalized Stupid Backoff chain
    * (Corpus.lmQualityScoreN, which q73/q156/q158 now delegate to) at
    * an order the hand-rolled forms never covered: 4-gram hit →
    * α·trigram → α²·bigram → α³·add-one unigram, mean per doc, same
    * reference slice (docs 0-99). Four broadcast model tables, one
    * exploded transition pass, one per-doc avg exchange. Oracle
    * recomputes all four count tables definitionally and replays the
    * four-branch CASE with identical op order per branch (α powers as
    * explicit left-assoc double products so both engines fold the
    * same IEEE value); round(,4) absorbs sum-order ULPs. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.lmQualityScoreN(d, "doc_id", "text",
      reference = d.filter(col("doc_id") < 100), refTextCol = "text",
      n = 4)
  }

  /** q163: DSIR IMPORTANCE WEIGHTS (Corpus.dsirWeights) — the
    * importance-resampling data-selection scorer (Xie et al. 2023):
    * log w(D) = Σ_f c_D(f)·(ln p_target(f) − ln p_raw(f)) over word
    * uni+bigram features with add-one smoothing; target = docs 0-99
    * (the q73/q156/q158 reference slice), raw = the whole corpus.
    * Both feature models broadcast; one per-doc sum exchange. The
    * registered query runs the exact string-feature form; the
    * hashed-bucket form (the paper's fixed-width recipe, the 100 TB
    * path) is spec-pinned in CorpusSpec. Oracle recomputes both
    * models definitionally and replays the per-feature arithmetic
    * with identical op order; round(,4) absorbs sum-order ULPs. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.dsirWeights(d, "doc_id", "text",
      target = d.filter(col("doc_id") < 100), targetTextCol = "text")
  }

  /** q173: DSIR WEIGHTS AT ORDER 3 — the importance-resampling scorer
    * (q163) with uni+bi+TRIGRAM features via the generalized
    * dsirFeatureExpr: trigram features see phrase-level domain signal
    * the paper's uni+bi recipe is blind to (the q158-vs-q156 argument
    * applied to data selection). Same scale shape at any order — two
    * broadcast count tables + one exploded feature pass into a
    * per-doc sum; at open vocabulary pair with hashBuckets, which
    * caps the model width regardless of order. Oracle recomputes both
    * three-level feature models definitionally and replays the
    * per-feature arithmetic with identical op order. */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    Corpus.dsirWeights(d, "doc_id", "text",
      target = d.filter(col("doc_id") < 100), targetTextCol = "text",
      maxNgram = 3)
  }

  private val LangClasses = Seq("en", "de", "ru", "el", "zh")

  /** Language-variant fixture shared by q174/q175: doc_id % 5 picks a
    * language; non-en classes append a deterministically-sized tail of
    * that language's stopwords/script (q128's tail recipe) so labels
    * are learnable while the base text stays shared. */
  private def langFixture(d: DataFrame): DataFrame = {
    val k = (col("doc_id") % 5).cast("int")
    val reps = (col("doc_id") % 15 + 5).cast("int")
    d.select(col("doc_id"),
      concat(col("text"),
        when(k === 1, repeat(lit(" der die das und ist nicht"), reps))
          .when(k === 2, repeat(lit(" и в не на что он это же"), reps))
          .when(k === 3, repeat(lit(" και το να του με την"), reps))
          .when(k === 4, repeat(lit(" 的 是 在 了 不 我"), reps))
          .otherwise(lit(""))).as("text"),
      element_at(typedlit(LangClasses), k + 1).as("label"))
  }

  /** q174: MODEL-BASED LANGUAGE ID (LangId / Classifier
    * .trainMulticlass) — the CCNet/fastText-class trained lang-id a
    * curation pipeline runs where q37's stopword profile is the
    * FALLBACK: hashed char-trigram + stopword + script-share softmax
    * classifier, trained on a bounded labeled slice (doc_id % 7 = 1 —
    * the production shape: labels are a sample, apply is the corpus),
    * applied to the held-out doc_id % 7 = 0 slice with the
    * low-confidence fallback composition. The scoring model goes
    * through a SAVE + LOAD round trip (Classifier.saveMulti — the
    * production shape: a trained model is a persisted artifact, not
    * a per-session retrain; ModelStoreSpec pins the round trip
    * bit-for-bit, so this query's output is identical to scoring
    * with the in-memory model). rows-only (iterative float training
    * + xxhash featurization); LangIdSpec pins loss descent, holdout
    * separation, determinism, and the fallback routing. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val d = langFixture(Tables(s, dir).documents)
    val trained = LangId.train(d.filter(col("doc_id") % 7 === 1),
      "text", "label", LangClasses, dims = 1024, iters = 6)
    val mdir = s"$scratchDir/q174_model"
    Classifier.saveMulti(s, trained, mdir)
    val model = Classifier.loadMulti(s, mdir)
    d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("label"),
        LangId.predictWithFallback(col("text"), model).as("__p"))
      .select(col("doc_id"), col("label"),
        col("__p.lang").as("pred_lang"),
        round(col("__p.conf"), 3).as("conf"),
        col("__p.src").as("src"))
  }

  /** q176: OPQ-GUARDED IVF-PQ SEARCH — the full composition the OPQ
    * guard exists for, at query level: an ANISOTROPIC view of the
    * embeddings (dim i deterministically scaled by 0.87^i — the
    * corpus shape real projection-head embeddings often have, unlike
    * this synthetic table's isotropic raw vectors), Pca.train reports
    * the eigenvalue spread, `opqRecommended` FIRES, the corpus and
    * queries rotate through `rotateOpq` (eigenbasis + Ge et al. 2013
    * balanced dimension allocation — a pure orthogonal transform, so
    * cosine/L2 are preserved and the IVF-PQ stack is unchanged
    * downstream), and q66's IVF-PQ search runs on the rotated space.
    * Were the corpus isotropic the guard would skip and this IS q66 —
    * both branches are pinned in PcaSpec; the recall-at-equal-bytes
    * win of the rotation is measured there too. rows-only
    * (quantization is engine-specific). */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val scaled = e0.select(col("vec_id"),
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => (x * pow(lit(0.87), i)).cast("float")).as("embedding"))
      .localCheckpoint(false)
    val pca = Pca.train(scaled, "vec_id", "embedding", k = 64)
    val e =
      if (Pca.opqRecommended(pca))
        Pca.rotateOpq(scaled, "vec_id", "embedding", pca, m = 16)
          .localCheckpoint(false)
      else scaled
    // independent trainings over the rotated corpus — overlap (§2.6)
    val (centroids, books) = Parallelism.join2(
      Ann.trainCentroids(e, "vec_id", "embedding",
        k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"),
      Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
        iters = 5, maxTrain = 4096))
    Ann.ivfPqTopK(
      corpus = e, queries = e.filter(col("vec_id") < 10),
      centroids = centroids, codebooks = books,
      idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 3,
      refine = 4)
  }

  /** q177: PERSISTED OPQ INDEX SEARCH — q176's exact composition with
    * the index going to DISK and back between build and search
    * (Ann.saveOpqIndex / loadOpqIndex / searchOpqIndex): the encoded
    * corpus, IVF centroids, PQ codebooks AND the OPQ rotation model
    * persist together (FAISS ships OPQ matrices inside the index for
    * the same reason), so a later session searches with RAW query
    * vectors and never retrains or re-encodes anything. Search input
    * here is the UNROTATED corpus — the loader's stored rotation is
    * what maps both sides into index space, which is the property
    * being exercised. rows-only (quantization is engine-specific);
    * AnnSpec pins save→load→search ≡ in-memory search bit-for-bit on
    * plain, residual and rotated indexes. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val scaled = opqScaledView(s, dir)
    val idir = s"$scratchDir/q177_opq_index"
    buildOpqDir(scaled, idir)
    val loaded = Ann.loadOpqIndex(s, idir)
    Ann.searchOpqIndex(loaded, corpus = scaled,
      queries = scaled.filter(col("vec_id") < 10),
      k = 5, nprobe = 3, refine = 4)
  }

  /** q177/q188's shared anisotropic view: a per-dimension 0.87^i decay
    * over the raw embeddings (what makes the OPQ guard recommend a
    * rotation on this otherwise-isotropic synthetic corpus). */
  private def opqScaledView(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings.select(col("vec_id"),
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => (x * pow(lit(0.87), i)).cast("float")).as("embedding"))
      .localCheckpoint(false)

  /** Train + build + save the OPQ-guarded PQ index directory q177 and
    * q188 share the recipe for (PCA → guarded rotation → IVF centroids
    * → PQ codebooks → encode → saveOpqIndex). Deterministic given the
    * input, so q188's build-once reuse is sound. */
  private def buildOpqDir(scaled: DataFrame, idir: String): Unit = {
    val pca = Pca.train(scaled, "vec_id", "embedding", k = 64)
    val rotation =
      if (Pca.opqRecommended(pca)) Some(Pca.opqModel(pca, 16)) else None
    val e = rotation match {
      case Some(r) => Pca.rotate(scaled, "vec_id", "embedding", r)
        .localCheckpoint(false)
      case None => scaled
    }
    // independent trainings over the rotated corpus — overlap (§2.6)
    val (centroids, books) = Parallelism.join2(
      Ann.trainCentroids(e, "vec_id", "embedding",
        k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"),
      Ann.trainPq(e, "vec_id", "embedding", m = 16, ksub = 128,
        iters = 5, maxTrain = 4096))
    val index = Ann.buildPqIndex(e, centroids, books, "vec_id", "embedding")
    Ann.saveOpqIndex(idir, index, centroids, books, "vec_id", "embedding",
      rotation = rotation)
  }

  /** q188: PERSISTED-INDEX SEARCH, isolated — q177 times the whole
    * lifecycle (train + build + save + load + search: correct as a
    * round-trip exerciser, but it buries the production number); this
    * row is the steady-state serving path alone. The directory builds
    * ONCE per JVM (fixture-style, guarded on the committed meta
    * table) and the registered query is load + probe-pruned ADC +
    * bounded rerank against that frozen artifact — what a deployment
    * actually pays per query batch, and the regression gate the
    * search path lacked while q177's train-dominated total hid it.
    * rows-only (quantization is engine-specific); AnnSpec pins
    * save→load→search ≡ in-memory bit-for-bit, and q188 ≡ q177's
    * result row-for-row on the same directory recipe. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val scaled = opqScaledView(s, dir)
    // fixture keyed per DATA DIR, not just per JVM: a session that
    // runs q188 at two scale factors must not search the first
    // corpus's frozen index with the second corpus's queries. Keyed
    // by a COLLISION-RESISTANT digest of the path (r16 ADVICE: the
    // 32-bit String.hashCode could collide between two dirs in one
    // JVM and silently search the wrong frozen corpus)
    val idir = s"$scratchDir/q188_opq_index_" +
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(12).map(b => f"$b%02x").mkString
    if (!new java.io.File(s"$idir/meta/_SUCCESS").exists())
      buildOpqDir(scaled, idir)
    val loaded = Ann.loadOpqIndex(s, idir)
    Ann.searchOpqIndex(loaded, corpus = scaled,
      queries = scaled.filter(col("vec_id") < 10),
      k = 5, nprobe = 3, refine = 4)
  }

  /** q189: SCALAR-QUANTIZED (SQ8) ANN — the FAISS ScalarQuantizer
    * QT_8bit rung of the compression ladder, between exact floats
    * (q35) and PQ (q66): per-dimension affine [min,max] → uint8
    * codes (4x smaller than float32; at 100 TB the quantized corpus
    * IS the scan), approximate scoring on the dequantized
    * reconstruction, exact rerank of the top k·refine survivors.
    * Final scores/ranks are exact cosine — quantization decides only
    * which candidates reach the rerank, and SQ8's per-dimension
    * error is ≤ step/2 ≈ 0.2% of the range, so the true top-k
    * survives the refine margin on any realistic corpus. Oracle:
    * the exact brute-force top-k SQL (the q36 discipline: checked
    * hash-exact because the OUTPUT is exact; AnnSpec additionally
    * pins sq8TopK ≡ bruteForceTopK at both gate SFs). */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Ann.sq8TopK(corpus = e, queries = e.filter(col("vec_id") < 10),
      idCol = "vec_id", vecCol = "embedding", k = 5, refine = 4)
  }

  /** q190: IVF-SQ8 — q189's codes behind q61's trained-centroid IVF
    * pruning: probe the 3 nearest buckets per query, approximate-
    * score only those buckets' codes, exact-rerank the survivors.
    * The production shape of the SQ8 path (prune → cheap scan →
    * bounded rerank). rows-only like q45/q61/q66 (approximate by
    * construction at bounded nprobe); AnnSpec pins full-probe ≡
    * brute force and the registered shape's recall on the gate
    * corpus. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    // SQ8 scales and IVF k-means are independent trainings — overlap
    // (§2.6) and hand the scales in so sq8IvfTopK skips its own pass
    val (centroids, scales) = Parallelism.join2(
      Ann.trainCentroids(e, "vec_id", "embedding",
        k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"),
      Ann.trainSq8(e.select(col("vec_id"), col("embedding")), "embedding"))
    Ann.sq8IvfTopK(e, e.filter(col("vec_id") < 10), centroids,
      "vec_id", "embedding", k = 5, nprobe = 3, refine = 4,
      scales = Some(scales))
  }

  /** q191: PERSISTED SQ8 INDEX — the SQ8 rung's disk face, completing
    * lifecycle parity with the PQ/OPQ family: train scales (one agg)
    * + IVF centroids, encode, save the directory (index + scales +
    * centroids + meta), load it back and search with RAW query
    * vectors (probe-pruned dequant scoring + exact rerank — the
    * sq8IvfTopK plan off the persisted codes). Tombstones, content-
    * keyed delta-root appends and compaction all reuse the generic
    * IndexMaintenance machinery (compactSq8Index shares
    * compactPqIndex's fold-swap-reclaim cycle). rows-only; AnnSpec
    * pins save→load→search ≡ the in-memory search row-for-row, and
    * append-retry idempotency + tombstone + compact exactness. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    // independent trainings — overlap their jobs (guide §2.6)
    val ((mins, steps), centroids) = Parallelism.join2(
      Ann.trainSq8(e, "embedding"),
      Ann.trainCentroids(e, "vec_id", "embedding",
        k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"))
    val idir = s"$scratchDir/q191_sq8_index"
    Ann.saveSq8Index(idir, e, centroids, mins, steps, "vec_id", "embedding")
    val loaded = Ann.loadSq8Index(s, idir)
    Ann.searchSq8Index(loaded, corpus = e,
      queries = e.filter(col("vec_id") < 10),
      k = 5, nprobe = 3, refine = 4)
  }

  /** q192: PERSISTED SQ8 SEARCH, isolated — q188's serving-only gate
    * carried to the SQ8 rung (the r17 verdict's #7): q191 times the
    * whole lifecycle (train + encode + save + load + search), which
    * is the right round-trip exerciser but buries the number a
    * deployment actually pays per query batch. The index directory
    * builds ONCE per (JVM, data dir) — fixture-style, keyed by a
    * collision-resistant digest of the path like q188 — and the
    * registered query is load + probe-pruned fused-dequant scoring +
    * bounded exact rerank against that frozen artifact. rows-only;
    * AnnSpec pins q192 ≡ q191 row-for-row (same recipe, same
    * parameters, one lifecycle apart). */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val idir = s"$scratchDir/q192_sq8_index_" +
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(12).map(b => f"$b%02x").mkString
    if (!new java.io.File(s"$idir/meta/_SUCCESS").exists()) {
      // independent trainings — overlap their jobs (guide §2.6)
      val ((mins, steps), centroids) = Parallelism.join2(
        Ann.trainSq8(e, "embedding"),
        Ann.trainCentroids(e, "vec_id", "embedding",
          k = 20, iters = 3).withColumnRenamed("centroid_id", "vec_id"))
      Ann.saveSq8Index(idir, e, centroids, mins, steps,
        "vec_id", "embedding")
    }
    val loaded = Ann.loadSq8Index(s, idir)
    Ann.searchSq8Index(loaded, corpus = e,
      queries = e.filter(col("vec_id") < 10),
      k = 5, nprobe = 3, refine = 4)
  }

  /** q193: HYBRID RETRIEVAL via RECIPROCAL RANK FUSION — the
    * published RRF recipe (Cormack/Clarke/Buettcher 2009, the fusion
    * modern RAG and training-data retrieval stacks run): a LEXICAL
    * arm (word-set Jaccard top-20, exact, the q124 family's
    * similarity on the q35 broadcast discipline) and a DENSE arm
    * (exact cosine top-20 over the aligned embeddings) fuse as
    * score(d) = Σ 1/(60 + rank_arm(d)), fused top-10 per query.
    * Ranks not raw scores, so the arms need no calibration; a doc
    * missing from one arm just contributes one term. Arm-agnostic by
    * construction ([[graft.operators.Retrieval.rrfFuse]]): at corpus
    * scale the all-pairs test arms swap for the q71 BM25 postings /
    * the IVF-SQ8 index without touching the fusion, whose input is
    * |queries|·k·#arms rows — nothing in the fusion grows with the
    * corpus. Oracle: both arms AND the fusion replay exactly in SQL
    * (set Jaccard = integer counts, one double division; RRF = sums
    * of 1/(60+r)), so the row is hash-exact like q35/q189. */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("text"))
    val lex = Retrieval.lexicalJaccardTopK(
      docs, docs.filter(col("doc_id") < 10), "doc_id", "text", k = 20)
    val e = t.embeddings
    val dense = Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, dense), k = 10)
  }

  /** q194: MMR DIVERSIFICATION RERANK (Carbonell & Goldstein 1998) —
    * the retrieval-time face of the dedup family: the q35 exact
    * top-20 candidates per query greedily re-select to 5 by
    * score = λ·rel − (1−λ)·max cosine to the already-selected
    * (λ = 0.7), so near-duplicate candidates can't crowd the final
    * list. The greedy runs as one codegen'd `mmr_select` expression
    * per query over the bounded collect_list'd candidates (tens of
    * rows — never the corpus). Oracle: the greedy UNROLLS into k
    * CTE steps ([[mmrOracleSql]], generated by the same loop
    * discipline as the PageRank and BPE oracles so step count and
    * arithmetic can't drift), with the λ and 1−λ literals rendered
    * as exact doubles — hash-exact because every similarity
    * accumulates in the same order both engines. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    // UNROUNDED relevance (denseCosineTopK, not bruteForceTopK's
    // 4-decimal presentation value): λ × a short-decimal rel lands
    // exactly on round-half boundaries where the two engines round
    // apart — see the denseCosineTopK scaladoc
    val cand = Retrieval.denseCosineTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rel"))
    val withVec = e
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vec"))
      .join(broadcast(cand), Seq("neighbor_id"))
    Retrieval.mmrRerank(withVec, lambda = 0.7, k = 5)
  }

  /** q195: PER-QUERY BM25 SEARCH — q71's Okapi scoring generalized
    * from one fixed term list to one term set per query document,
    * i.e. real multi-query lexical retrieval over an inverted
    * postings shape: postings build once, the queries' term union
    * broadcasts to prune them, scores join on TERM (an equi-join —
    * never doc×query all-pairs, which is what makes this the 100 TB
    * lexical arm where q193's Jaccard arm is the exact test-scale
    * one). Ranking by the ROUNDED score (q71's own discipline: a
    * float sum's last ulp is addition-order-dependent, so the
    * rounded value is the rankable one), ties by neighbor_id. */
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 10),
      "doc_id", "text", k = 10)
  }

  /** q196: WEIGHTED HYBRID — the q193 fusion with the INDEX-BACKED
    * lexical arm (q195's per-query BM25) instead of the all-pairs
    * Jaccard arm, and per-arm weights (dense trusted 1.5:1) through
    * [[Retrieval.rrfFuseWeighted]] — the production hybrid shape:
    * both arms are the scalable ones, and the weights exercise the
    * tuned-fusion path under the oracle. */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("text"))
    val lex = Retrieval.bm25TopK(docs, docs.filter(col("doc_id") < 10),
      "doc_id", "text", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val e = t.embeddings
    val dense = Retrieval.denseCosineTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    Retrieval.rrfFuseWeighted(Seq(lex -> 1.0, dense -> 1.5), k = 10)
  }

  /** q195/q196's shared oracle CTE prefix: per-query BM25 rank lists
    * (the q71 arithmetic verbatim, per query). */
  private val bm25PerQuerySql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(words)) AS avgdl
      |  FROM d),
      |w AS (SELECT doc_id, len(words) AS len, unnest(words) AS term FROM d),
      |q AS (SELECT doc_id AS query_id, unnest(list_distinct(words)) AS term
      |  FROM d WHERE doc_id < 10),
      |h AS (SELECT w.doc_id, w.term, count(*) AS tf, max(w.len) AS len
      |  FROM w JOIN (SELECT DISTINCT term FROM q) t USING (term)
      |  GROUP BY 1, 2),
      |i AS (SELECT term, count(DISTINCT doc_id) AS nt FROM h GROUP BY 1),
      |s AS (SELECT q.query_id, h.doc_id AS neighbor_id,
      |    round(sum(ln((g.n - i.nt + 0.5)/(i.nt + 0.5) + 1.0) * h.tf * 2.2 /
      |      (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.len / g.avgdl))), 4) AS score
      |  FROM q JOIN h USING (term) JOIN i USING (term), g
      |  WHERE h.doc_id != q.query_id
      |  GROUP BY 1, 2),
      |lr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, neighbor_id) AS rank FROM s)""".stripMargin

  /** q194's oracle: the MMR greedy unrolled into `k` CTE steps —
    * generated by a loop so the Spark greedy and the SQL replay
    * cannot drift in step count, tie-breaks, or the λ arithmetic
    * (the 1−λ literal is rendered as the EXACT double Scala
    * computes, e.g. 0.30000000000000004 — a hand-written 0.3 would
    * hash-mismatch every selection that depends on it). */
  private def mmrOracleSql(lam: Double, k: Int, n: Int): String = {
    val l = java.lang.Double.toString(lam)
    val oml = java.lang.Double.toString(1.0 - lam)
    val sb = new StringBuilder
    sb ++= s"""WITH v AS (SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE)*x for x in embedding])) AS nrm
      |  FROM embeddings),
      |s0 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_sum([CAST(q.embedding[i] AS DOUBLE)*c.embedding[i]
      |      for i in generate_series(1,64)])/(q.nrm*c.nrm) AS cos
      |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
      |cand AS (SELECT query_id, neighbor_id, cos AS rel FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS r FROM s0) WHERE r <= $n),
      |p AS (SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
      |    list_sum([CAST(va.embedding[i] AS DOUBLE)*vb.embedding[i]
      |      for i in generate_series(1,64)])/(va.nrm*vb.nrm) AS sim
      |  FROM cand a JOIN cand b ON a.query_id = b.query_id
      |    AND a.neighbor_id != b.neighbor_id
      |  JOIN v va ON va.vec_id = a.neighbor_id
      |  JOIN v vb ON vb.vec_id = b.neighbor_id),
      |m1 AS (SELECT query_id, neighbor_id, $l*rel AS mmr FROM cand),
      |s1 AS (SELECT query_id, neighbor_id, mmr, 1 AS rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY mmr DESC, neighbor_id) AS rn FROM m1) WHERE rn = 1),
      |sel1 AS (SELECT * FROM s1)""".stripMargin
    for (t <- 2 to k) {
      sb ++= s""",
        |m$t AS (SELECT c.query_id, c.neighbor_id,
        |    $l*c.rel - $oml*max(p.sim) AS mmr
        |  FROM cand c
        |  JOIN sel${t - 1} s ON s.query_id = c.query_id
        |  JOIN p ON p.query_id = c.query_id AND p.i = c.neighbor_id
        |    AND p.j = s.neighbor_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
        |    WHERE x.query_id = c.query_id
        |      AND x.neighbor_id = c.neighbor_id)
        |  GROUP BY c.query_id, c.neighbor_id, c.rel),
        |s$t AS (SELECT query_id, neighbor_id, mmr, $t AS rank FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, neighbor_id) AS rn FROM m$t) WHERE rn = 1),
        |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)"""
        .stripMargin
    }
    sb ++= s"""
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
      |  round(mmr, 4) AS mmr_score
      |FROM sel$k""".stripMargin
    sb.toString
  }

  /** q175: QUALITY SIGNALS + MODEL LANG — q170's twelve one-scan
    * signals with the q174 trained model's language prediction and
    * confidence appended as columns 13-14, still ONE shared text scan
    * (the model is plan-embedded weights; its prediction is a pure
    * projection like every other signal). The signal export a real
    * FineWeb/Dolma-style run ships: heuristics + the model score side
    * by side. rows-only (model columns); q170 remains the hash-exact
    * heuristic-only twin. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val d = langFixture(Tables(s, dir).documents)
    val model = LangId.train(d.filter(col("doc_id") % 7 === 1),
      "text", "label", LangClasses, dims = 1024, iters = 6)
    Tables(s, dir).documents
      .select(col("doc_id"), col("text"),
        call_function("repetition_counts", col("text")).as("__c"),
        LangId.predict(col("text"), model).as("__m"))
      .select(col("doc_id") +: qualitySignalCols :+
        col("__m.lang").as("model_lang") :+
        round(col("__m.conf"), 3).as("model_conf"): _*)
  }

  /** q164: TOKENIZER COMPARISON PROFILE — all three trained
    * tokenizer families (BPE q154, WordPiece q159, unigram-LM q161)
    * applied to the corpus in ONE scan, reporting per-tokenizer
    * word/token totals and FERTILITY (tokens per word) — the number
    * a tokenizer bake-off reads first (lower fertility = cheaper
    * training tokens for the same text). All three encodes are pure
    * codegen'd projections over the same exploded word stream, so
    * the whole comparison costs one aggregate exchange; the 1-row
    * totals then stack to (tokenizer, n_words, n_tokens, fertility)
    * rows. Oracle composes the three unrolled replay chains
    * (prefixed CTE names) in one WITH and unions their totals —
    * hash-exact. */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val w = Bpe.words(Tables(s, dir).documents.select(col("text")), "text")
      .select(
        size(Bpe.encodeCol(col("word"), BpeMerges)).cast("long").as("b"),
        size(WordPiece.encodeCol(col("word"), WpVocab)).cast("long")
          .as("wp"),
        size(UnigramLm.encodeCol(col("word"), UgPieces, UgLogps))
          .cast("long").as("u"))
    w.agg(count(lit(1)).as("n_words"), sum(col("b")).as("bt"),
        sum(col("wp")).as("wt"), sum(col("u")).as("ut"))
      .select(expr("stack(3, 'bpe', bt, 'unigram', ut, " +
        "'wordpiece', wt) AS (tokenizer, n_tokens)"), col("n_words"))
      .select(col("tokenizer"), col("n_words"), col("n_tokens"),
        round(col("n_tokens") / col("n_words"), 4).as("fertility"))
  }

  /** q182: FOUR-WAY TOKENIZER COMPARISON — q164's one-scan fertility
    * profile with BYTE-level BPE (q179's family) as the fourth row.
    * The corpus text is lowercase [a-z ]-only, so the byte pipeline's
    * \S+ words coincide with q164's [a-z]+ stream — same word
    * multiset, which is what makes the byte row's fertility DIRECTLY
    * comparable to the char-level rows (the merges differ: BbpeMerges
    * trained with the punctuation fixture vs BpeMerges without). All
    * four encodes stay pure codegen'd projections over ONE exploded
    * word stream — one aggregate exchange total. Oracle composes the
    * four unrolled replay chains (prefixed CTEs) — hash-exact. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val w = Bpe.words(Tables(s, dir).documents.select(col("text")), "text")
      .select(
        size(Bpe.encodeCol(col("word"), BpeMerges)).cast("long").as("b"),
        size(Bpe.encodeBytesCol(col("word"), BbpeMerges)).cast("long")
          .as("bb"),
        size(WordPiece.encodeCol(col("word"), WpVocab)).cast("long")
          .as("wp"),
        size(UnigramLm.encodeCol(col("word"), UgPieces, UgLogps))
          .cast("long").as("u"))
    w.agg(count(lit(1)).as("n_words"), sum(col("b")).as("bt"),
        sum(col("bb")).as("bbt"), sum(col("wp")).as("wt"),
        sum(col("u")).as("ut"))
      .select(expr("stack(4, 'bpe', bt, 'byte_bpe', bbt, " +
        "'unigram', ut, 'wordpiece', wt) AS (tokenizer, n_tokens)"),
        col("n_words"))
      .select(col("tokenizer"), col("n_words"), col("n_tokens"),
        round(col("n_tokens") / col("n_words"), 4).as("fertility"))
  }

  /** q166: DSIR IMPORTANCE RESAMPLE (Corpus.dsirWeights →
    * Corpus.gumbelTopK) — the second half of the DSIR paper: the
    * q163 log-weights drive a Gumbel-top-k draw (sampling ∝
    * exp(logw), executed entirely in log space — exp() of a
    * hundreds-of-terms ln-ratio sum would over/underflow, the Gumbel
    * key never leaves logs). Reproducible via the md5-seeded uniform;
    * one TakeOrdered over a pure projection on top of q163's plan.
    * Oracle replays the q163 model arithmetic then the identical
    * key = score − ln(−ln u) ranking. */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val scores = Corpus.dsirWeights(d, "doc_id", "text",
      target = d.filter(col("doc_id") < 100), targetTextCol = "text")
    Corpus.gumbelTopK(scores, "doc_id", "dsir_score", k = 50)
  }

  /** Frozen q168 blocklist: corpus-vocabulary words + multi-word
    * phrases, exercising both single-token and cross-space matches
    * (an Aho–Corasick automaton is substring search — phrases need
    * no tokenizer). */
  private[graft] val Blocklist: Seq[String] =
    Seq("slow", "big data", "hash join", "customer")

  /** q168: BLOCKLIST SCREEN (TextStats.blocklistHits/Matches + the
    * Aho–Corasick kernel) — the C4-style badlist step: every doc
    * checked against a phrase list in ONE automaton pass, O(len +
    * matches) per doc REGARDLESS of pattern count (the naive
    * contains-any is O(len·patterns) and becomes the scan bottleneck
    * exactly when a real blocklist gets to thousands of phrases).
    * Output: flagged docs with total match-pair count (overlaps
    * count) and the distinct patterns hit, pattern-list order. Pure
    * projection + filter; no exchange at all. Oracle recomputes
    * per-pattern overlapping-position counts definitionally. */
  private def q168(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        TextStats.blocklistHits(lower(col("text")), Blocklist)
          .as("n_hits"),
        array_join(TextStats.blocklistMatches(lower(col("text")),
          Blocklist), ",").as("matched"))
      .filter(col("n_hits") > 0)

  /** q169: COMPRESSION-RATIO QUALITY (TextStats.compressionRatio +
    * the `deflate_len` kernel) — the language-agnostic redundancy
    * scalar beside q52's exact repetition counters: ratio ≈ 1 marks
    * high-entropy garbage, very high marks boilerplate repetition;
    * curation recipes cut both tails. Per-thread zlib state, pure
    * projection at scan speed. rows-only by design (DEFLATE output
    * length is zlib-build-specific — no static SQL replay);
    * TextStatsSpec pins determinism, the repetition-monotonicity
    * property, and kernel ≡ direct-Deflater equality. */
  private def q169(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        call_function("deflate_len", col("text"), lit(6))
          .as("deflate_bytes"),
        round(TextStats.compressionRatio(col("text")), 4)
          .as("compression_ratio"))

  /** q170: QUALITY-SIGNALS EXPORT — the wide per-document signal
    * table a FineWeb/Dolma-style curation run ships beside the text:
    * size counts (chars/words/ws/BPE-ish tokens), language id +
    * stopword hits, the composite quality score, the three
    * repetition fractions (native `repetition_counts` kernel), and
    * the Aho–Corasick blocklist hit count — TWELVE signals in ONE
    * scan, every one a codegen'd projection sharing the same text
    * read (running the constituent queries separately would scan the
    * corpus six times; at 100 TB the scan IS the cost). No exchange
    * at all — budget 0. Oracle composes the constituent q37/q38/q39/
    * q52/q168 definitional SQL over one shared CTE chain. */
  /** q170's twelve signal columns over a (doc_id, text, __c) frame —
    * shared with q175, which appends the model-based lang columns to
    * the same single scan. */
  private def qualitySignalCols: Seq[Column] = {
    def frac(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double"), 4))
        .otherwise(lit(0.0))
    Seq(
      length(col("text")).cast("long").as("n_chars"),
      size(TextStats.words(col("text"))).cast("long").as("n_words"),
      TextStats.wsTokenCount(col("text")).cast("long").as("n_ws"),
      TextStats.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
      TextStats.langId(col("text")).as("pred_lang"),
      TextStats.stopwordHits(col("text"),
        TextStats.StopwordProfiles.head._2).cast("long")
        .as("stop_hits_en"),
      TextStats.qualityScore(col("text")).as("quality"),
      frac(col("__c.n_words") - col("__c.n_distinct_words"),
        col("__c.n_words")).as("dup_word_frac"),
      frac(col("__c.n_bigrams") - col("__c.n_distinct_bigrams"),
        col("__c.n_bigrams")).as("dup_bigram_frac"),
      frac(col("__c.top_bigram"), col("__c.n_bigrams"))
        .as("top_bigram_frac"),
      TextStats.blocklistHits(lower(col("text")), Blocklist)
        .cast("long").as("blocklist_hits"))
  }

  private def q170(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), col("text"),
        call_function("repetition_counts", col("text")).as("__c"))
      .select(col("doc_id") +: qualitySignalCols: _*)

  /** q171: INCREMENTAL MEDIA NEAR-DEDUP against a persisted
    * perceptual-hash index (Multimodal.MediaHashIndex — the
    * MinhashIndex/SimhashIndex discipline for image/audio/video):
    * a 300-asset corpus indexes once (8-byte fingerprints, kind-
    * partitioned); the incoming batch carries 60 planted byte-copies
    * of corpus assets (ids +1000) plus 60 fresh assets (ids +2000,
    * disjoint seeds) — copies drop against the index, fresh assets
    * dedup within the batch and emerge with their delta index, the
    * continuous-ingest story for media columns. rows-only
    * (perceptual fingerprints are engine-specific); SourcesSpec pins
    * drop/keep/quarantine/delta and the save/load/probe round trip. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Multimodal
    val all = Multimodal.syntheticMedia(s, 360).toDF()
      .select(col("media_id"), col("bytes"), col("meta.kind").as("kind"))
    val corpus = all.filter(col("media_id") < 300)
    val copies = corpus.filter(col("media_id") % 5 === 0)
      .select((col("media_id") + 1000).as("media_id"), col("bytes"),
        col("kind"))
    val fresh = all.filter(col("media_id") >= 300)
      .select((col("media_id") + 2000).as("media_id"), col("bytes"),
        col("kind"))
    val batch = copies.unionByName(fresh)
    val index = Multimodal
      .buildMediaHashIndex(corpus, "media_id", "bytes", "kind")
      .materialize()
    val (survivors, _) = Multimodal.incrementalMediaDedup(
      batch, index, "media_id", "bytes", "kind")
    survivors.select(col("media_id"), col("kind"))
  }

  /** q152: CHUNK-GRAIN BOILERPLATE REMOVAL — q72's line dedup for
    * continuous text: every content-defined chunk (q149) appearing
    * in ≥3 distinct docs is dropped and docs reassemble from the
    * survivors in order (Dedup.dropBoilerplateChunks). Output is
    * (doc_id, clean_len, clean_md5) — the reassembly is checked by
    * hash, the text never leaves the engine. Spark matches chunks by
    * xxhash64; the oracle by the chunk STRING itself (DuckDB has no
    * xxhash64) — identical results absent a 64-bit collision, the
    * same trade q72 documents. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Dedup.dropBoilerplateChunks(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      "doc_id", "text", minDocs = 3)
    cleaned.select(col("doc_id"),
      length(col("text")).cast("int").as("clean_len"),
      md5(col("text")).as("clean_md5"))
  }

  /** q151: CHUNK-GRAIN INCREMENTAL DIFF — q81's snapshot pair pushed
    * below the document: per doc, how many content-defined chunks
    * (q149's `cdc_cuts`) survive the re-crawl verbatim. The end-of-
    * text " EDIT" on ids ∈ 7ℤ invalidates only the final chunk(s) —
    * `n_kept` ≈ `n_old`, which is exactly the re-processing an
    * incremental pipeline skips; added/removed docs show as all-new /
    * all-gone. Multiset chunk identity (Σ min of per-hash counts). */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
    val old = d.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" EDIT")))
          .otherwise(col("text")).as("text"))
    val neu = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    Corpus.chunkDiff(old, neu, "doc_id", "text")
  }

  /** q149: CONTENT-DEFINED CHUNKING — every document split at
    * rolling-hash boundaries (window 4, mod 64 → ~64-code-point
    * chunks) via the native `cdc_cuts` kernel: boundaries follow the
    * text, so an edit re-chunks only its neighbourhood and chunk
    * md5s stay join-stable across crawls — the dedup-stable
    * alternative to q80's fixed windows. Output is (doc, chunk_id,
    * start, len, md5): offsets + hashes only, never chunk text. The
    * oracle replays the identical base-31 polynomial as explicit
    * ord()·31^j terms over a list_filter — hash-exact. */
  private def q149(s: SparkSession, dir: String): DataFrame =
    Corpus.cdcChunks(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      "doc_id", "text", window = 4, modulus = 64)

  /** q134: PMI COLLOCATIONS — top-20 adjacent word pairs by pointwise
    * mutual information (min bigram count 10, both here and in the
    * oracle). Bigrams are generated
    * IN-PLAN (transform over the token array — zero extra shuffle
    * beyond the two count aggregates); unigram totals and the bigram
    * denominator ride broadcast one-row aggregates, no driver
    * collect. Ordering is on the ROUNDED pmi then the pair, so the
    * cutoff is cross-engine deterministic. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(split(col("text"), " ").as("__ws"))
    val uni = docs.select(explode(col("__ws")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("__c"))
    val bg = docs.filter(size(col("__ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ws) - 2), " +
          "i -> struct(__ws[i] AS a, __ws[i + 1] AS b))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    val ua = uni.select(col("t").as("a"), col("__c").as("__ca"))
    val ub = uni.select(col("t").as("b"), col("__c").as("__cb"))
    val m = uni.agg(sum(col("__c")).as("__m"))
    val nb = bg.agg(sum(col("n")).as("__nb"))
    bg.join(ua, "a").join(ub, "b")
      .crossJoin(broadcast(m)).crossJoin(broadcast(nb))
      .filter(col("n") >= 10)
      .select(col("a"), col("b"), col("n"),
        round(log(
          (col("n").cast("double") * col("__m") * col("__m")) /
            (col("__nb").cast("double") * col("__ca") * col("__cb"))),
          4).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
  }

  /** q135: ANCHOR-TEXT aggregation — the other half of the q99 WAT
    * shape: for every target host, the top-3 anchor texts pointing at
    * it (what the web "calls" a page — a classic relevance/quality
    * signal for crawl curation). href and anchor arrays come from two
    * regexp_extract_all passes zipped positionally IN-PLAN (the
    * DuckDB twin zips two unnests the same way); one (host, anchor)
    * count exchange + the per-host top-k window over the reduced
    * counts. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    def url(i: Int): Column = concat(
      element_at(array(lit("http"), lit("https")), (k % 2).cast("int") + 1),
      lit("://"),
      when(k % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("h"), ((k * i) % 23).cast("string"), lit(".Example.org"),
      when(k % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (k % 7).cast("string"))
    def anchor(i: Int): Column = concat(lit("t"), ((k * i) % 13).cast("string"))
    val html = concat(
      lit("<p>see <a href=\""), url(1), lit("\">"), anchor(5), lit("</a> and "),
      lit("<a class=\"x\" href=\""), url(2), lit("\">"), anchor(7), lit("</a>"),
      lit("<a href=\""), url(3), lit("\">"), anchor(11), lit("</a></p>"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("n").desc, col("anchor"))
    Tables(s, dir).customer
      .select(k.as("page_id"), html.as("__html"))
      .withColumn("__us", regexp_extract_all(col("__html"),
        lit("href=\"([^\"]*)\""), lit(1)))
      .withColumn("__as", regexp_extract_all(col("__html"),
        lit(">([^<>]*)</a>"), lit(1)))
      .select(explode(arrays_zip(col("__us"), col("__as"))).as("__p"))
      .select(graft.functions.UrlFunctions.urlHost(col("__p.__us"))
        .as("host"), col("__p.__as").as("anchor"))
      .groupBy(col("host"), col("anchor")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** q136: truncated EWMA of per-user daily spend (α=0.25 — exact in
    * binary — over the last 7 daily points; Timeseries.ewmaTruncated).
    * Daily cents are LONG sums (exact), and the fold replays the
    * identical double op sequence in DuckDB's list_reduce, so the
    * smoothed series is hash-exact. Row-position semantics (day gaps
    * are not re-weighted; compose with gapFillForward when calendar
    * decay matters). */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir).events
      .groupBy(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.ewmaTruncated(daily, "user_id", "day", "cents",
        alpha = 0.25, window = 7)
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cents"), round(col("ewma"), 4).as("ewma_cents"))
  }

  /** q137: sequence-PACKING WASTE profile — if every doc pads to its
    * length bucket (64/128/256/512, cap 1024 with truncation), how
    * many tokens are padding per bucket? The batching-efficiency
    * diagnostic that motivates q74/q78's packing: high waste_pct in a
    * bucket says "pack, don't pad". Pure projection + one tiny
    * aggregate; integer arithmetic until the final percentage. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val t = size(split(col("text"), " "))
    val eff = least(t, lit(1024))
    val bucket = when(eff <= 64, 64).when(eff <= 128, 128)
      .when(eff <= 256, 256).when(eff <= 512, 512).otherwise(1024)
    Tables(s, dir).documents
      .select(t.cast("long").as("__t"), eff.cast("long").as("__eff"),
        bucket.cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__t") > 1024, 1L).otherwise(0L)).as("n_truncated"),
        sum(col("__eff")).as("sum_tokens"),
        sum(col("bucket") - col("__eff")).as("sum_padding"))
      .withColumn("waste_pct", round(
        col("sum_padding").cast("double") * 100 /
          (col("sum_padding") + col("sum_tokens")), 2))
  }

  /** q138: inverted-index TOP POSTINGS — per term: document
    * frequency and the 3 highest-tf postings (tf desc, doc_id
    * tie-break). The posting build is ONE (term, doc) count exchange;
    * df and the top-3 ride a single BOUNDED AGGREGATE per term
    * (topk_pairs — k pairs of buffer per term per task, map-side
    * combined like max), so a stop-word term whose posting list is
    * the whole corpus never funnels through one task's window sort:
    * its rows pre-reduce to 3 pairs per map partition before the
    * exchange. Row-identical to the window form (topk_pairs orders
    * by (ord DESC, payload ASC) = (tf desc, doc_id); doc_id is
    * unique within a term, so the order is tie-free); the window
    * form survives as the DuckDB oracle, and PlanAuditSpec pins that
    * no Window node remains in this plan. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        expr("topk_pairs(tf, doc_id, 3)").as("__t"))
      .select(col("term"), col("df"), posexplode(col("__t")))
      .select(col("term"), col("df"), (col("pos") + 1).as("rnk"),
        col("col.payload").as("doc_id"), col("col.ord").as("tf"))
  }

  /** q139: mergeable QUANTILE-SKETCH rollup (DdSketchAgg/DdUnionAgg/
    * DdQuantile — q127's sketch-cube pattern applied to percentiles):
    * daily DDSketches of order value (cents, α=1%) union into weekly
    * p50/p95/p99 WITHOUT rescanning orders. approx_percentile answers
    * one query per scan and can't persist; the day-grain sketch table
    * is a few KB per day and every coarser/ad-hoc grain merges
    * loss-free (union-of-daily ≡ direct-weekly to the byte —
    * ApproxSpec). Rows-only: DuckDB has no DDSketch; the error bound
    * and merge exactness are pinned in ApproxSpec instead. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir).orders
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(expr(
        "dd_sketch_agg(CAST(round(o_totalprice * 100) AS BIGINT), 0.01D)")
        .as("__sk"))
    daily
      .groupBy(date_format(date_trunc("week", col("day")), "yyyy-MM-dd")
        .as("week"))
      .agg(expr("dd_union_agg(__sk)").as("__wk"))
      .select(col("week"),
        round(expr("dd_quantile(__wk, 0.5D)"), 4).as("p50_cents"),
        round(expr("dd_quantile(__wk, 0.95D)"), 4).as("p95_cents"),
        round(expr("dd_quantile(__wk, 0.99D)"), 4).as("p99_cents"))
  }

  /** q140: per-label embedding CENTROIDS — the class-prototype build
    * behind nearest-centroid classification, semantic-dedup blocking
    * (q76) and embedding drift monitoring: mean vector per label via
    * the native vector_sum_f aggregate (one dim-length double[] per
    * group per partition crosses the wire — the posexplode detour
    * multiplies shuffle rows by the dimensionality). Output exploded
    * to (label, dim, mean) rows for the oracle. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).embeddings
      .groupBy(col("label"))
      .agg(expr("vector_sum_f(embedding)").as("__s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"), posexplode(col("__s")))
      .select(col("label"), col("pos").cast("long").as("dim"), col("n"),
        round(col("col") / col("n"), 4).as("mean_val"))
  }

  /** q141: TPC-H Q5 shape — revenue by nation through LOCAL suppliers
    * (customer and supplier in the same nation): the 6-way join whose
    * plan quality IS the test — dims broadcast, the c_nationkey =
    * s_nationkey residual rides the lineitem-supplier join, one
    * map-side-combined rollup at the end. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
  }

  /** q142: VOCABULARY COVERAGE / OOV rate per document against the
    * corpus's own top-20 vocabulary — the tokenizer-planning
    * diagnostic (what fraction of tokens would an N-entry vocab
    * leave unknown?). The vocab cut is deterministic ((count desc,
    * term), TakeOrderedAndProject) and broadcasts back; per-doc
    * counts ride one map-side-combined aggregate. All integers until
    * the rate. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables(s, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("t")).limit(20)
      .select(col("t").as("__vt"))
    toks.join(broadcast(vocab), col("t") === col("__vt"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__vt").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))
  }

  /** q143: data-quality EXPECTATIONS report (Expectations — the
    * Deequ-style validation gate): six predicate rules in ONE
    * aggregate pass over ONE lineitem scan, plus the key-uniqueness
    * count and the lineitem→orders referential check (each its own
    * single pass by nature), unioned into (rule, n_checked,
    * n_violations). N rules must never mean N scans. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    import Expectations._
    val t = Tables(s, dir)
    val li = t.lineitem
    val rules = Seq(
      notNull("l_shipdate"),
      inRange("l_quantity", 1.0, 30.0),
      inRange("l_discount", 0.0, 0.05),
      positive("l_extendedprice"),
      matches("l_returnflag", "^[ARN]$"),
      notNull("l_orderkey"))
    check(li, rules)
      .unionByName(uniqueCheck("unique(l_orderkey,l_linenumber)", li,
        Seq("l_orderkey", "l_linenumber")))
      .unionByName(fkCheck("fk(l_orderkey->orders)", li, "l_orderkey",
        t.orders, "o_orderkey"))
  }

  /** q144: per-group top-k as a BOUNDED AGGREGATE (topk_pairs — the
    * skew-safe form of q12's window): top-3 orders per priority by
    * (cents desc, key asc). The window form sorts every row of a hot
    * group in one task; the aggregate keeps k pairs per group per
    * task and map-side combines like max. Row-identical to the
    * window form by construction (tie-free pair order). */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(expr(
        "topk_pairs(CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey, 3)")
        .as("__t"))
      .select(col("o_orderpriority"), posexplode(col("__t")))
      .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
        col("col.ord").as("cents"), col("col.payload").as("o_orderkey"))
  }

  /** q145: DENORMALIZED nested export — the one-row-per-entity
    * training-record shape (an order with its line items embedded)
    * that feeds JSONL/document sinks: collect_list(struct) per order,
    * canonically ordered IN the array (sort_array by the leading
    * struct field — no per-group window sort), rendered to a
    * deterministic digest string for the oracle. One
    * map-side-combined agg exchange; group size bounded by lines per
    * order (≤7). */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).lineitem
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("total_qty"),
        sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_partkey").as("pk"),
          round(col("l_quantity")).cast("long").as("q")))).as("__items"))
      .select(col("o_orderkey"), col("n_items"), col("total_qty"),
        array_join(expr(
          "transform(__items, x -> concat(x.ln, ':', x.pk, ':', x.q))"),
          "|").as("items"))
  }

  /** q99: outlink-graph extraction — the web-graph edge build that
    * feeds q89's PageRank (CommonCrawl WAT-shape): pages carry three
    * anchors each; hrefs come out with one regexp_extract_all pass
    * (codegen'd, no per-row parser state), hosts canonicalize through
    * the native urlHost kernel (lowercase, port strip, www strip),
    * and the per-host edge rollup is one map-side-combined aggregate.
    * Row growth is bounded by links-per-page; the page text never
    * shuffles — only (page_id, host) pairs move. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    def url(i: Int): Column = concat(
      element_at(array(lit("http"), lit("https")), (k % 2).cast("int") + 1),
      lit("://"),
      when(k % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("h"), ((k * i) % 23).cast("string"), lit(".Example.org"),
      when(k % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (k % 7).cast("string"))
    val html = concat(
      lit("<p>see <a href=\""), url(1), lit("\">one</a> and "),
      lit("<a class=\"x\" href=\""), url(2), lit("\">two</a>"),
      lit("<a href=\""), url(3), lit("\">three</a></p>"))
    Tables(s, dir).customer
      .select(k.as("page_id"), html.as("__html"))
      .select(col("page_id"),
        explode(regexp_extract_all(col("__html"),
          lit("href=\"([^\"]*)\""), lit(1))).as("__u"))
      .select(col("page_id"),
        graft.functions.UrlFunctions.urlHost(col("__u")).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("page_id")).as("n_pages"))
  }

  /** q100: end-to-end ENTITY RESOLUTION with golden records — the MDM
    * shape the reference's matcher feeds into: two source systems
    * (customer + a deterministically perturbed copy), blocked
    * candidate pairs (equi-join on the block key, never all-pairs)
    * linked at levenshtein ≤ 1 (integer metric → exact cross-engine
    * parity), transitive closure via the large-star/small-star
    * components, every record assigned an entity id (singletons keep
    * their own id), and one golden record per entity (the min-id
    * member's name via a struct-min aggregate — no window). The
    * oracle replays the pairs + a recursive-CTE closure + the same
    * min-id merge. Names carry pseudo-random (Knuth-hash) digits, not
    * the sequential c_name ones (sequential ids put every record one
    * edit from its neighbour and the closure degenerates into
    * block-sized digit-ladder components). The blocking key is
    * (nation, 3-digit name prefix) — nation alone leaves ~1200-record
    * blocks whose all-pairs scoring is 36M levenshtein calls at sf0.1
    * (measured 31.5 s); the prefix key bounds candidates the way
    * production ER blocking does (measured 2.9 s end to end, the
    * residue mostly the closure's fixed per-round job count), trading
    * recall on
    * edits inside the prefix exactly like every blocking scheme (LSH
    * included) trades recall outside its buckets. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir).customer.select(
      col("c_custkey").as("id"),
      concat(lit("Customer#"),
        ((col("c_custkey") * lit(2654435761L)) % 1000000000L)
          .cast("string")).as("name"),
      col("c_nationkey").as("blk"))
    val alt = base.select((col("id") + lit(10000000L)).as("id"),
      when(col("id") % 3 === 0, col("name"))
        .otherwise(concat(col("name"), lit("x"))).as("name"),
      col("blk"))
    val recs = base.unionByName(alt).localCheckpoint(false)
    val bkey = (blk: Column, name: Column) =>
      concat(blk.cast("string"), lit("|"), substring(name, 1, 12))
    val a = recs.select(col("id").as("a_id"), col("name").as("a_name"),
      bkey(col("blk"), col("name")).as("a_blk"))
    val b = recs.select(col("id").as("b_id"), col("name").as("b_name"),
      bkey(col("blk"), col("name")).as("b_blk"))
    val pairs = a.join(b, col("a_blk") === col("b_blk") &&
        col("a_id") < col("b_id") &&
        levenshtein(col("a_name"), col("b_name")) <= 1)
      .select(col("a_id"), col("b_id"))
    val comps = Graph.connectedComponents(pairs, "a_id", "b_id")
    val withEntity = recs
      .join(comps.withColumnRenamed("id", "__cid"),
        col("id") === col("__cid"), "left")
      .select(col("id"), col("name"),
        coalesce(col("component"), col("id")).as("entity"))
    val golden = withEntity.groupBy(col("entity"))
      .agg(min(struct(col("id"), col("name"))).as("__g"))
      .select(col("entity").as("__ge"),
        col("__g.name").as("canonical_name"))
    withEntity.join(golden, col("entity") === col("__ge"))
      .select(col("id"), col("entity"), col("canonical_name"))
  }

  /** q101: equi-width histogram of lineitem prices — the profiling
    * primitive behind range-bucket choices (q96's deciles are the
    * equi-DEPTH dual). Min/max come from one narrow aggregate (two
    * driver scalars), bucket assignment is a pure projection, the
    * count is map-side combined — two passes total, both
    * full-pushdown column scans. Bucket arithmetic is shared-double
    * math so DuckDB reproduces the exact cut points. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val buckets = 20
    val li = Tables(s, dir).lineitem.select(col("l_extendedprice").as("x"))
    val r = li.agg(min(col("x")), max(col("x"))).head()
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    val w = (mx - mn) / buckets
    li.select(least(floor((col("x") - mn) / w), lit(buckets - 1))
        .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(lit(mn) + col("bucket") * w, 4).as("lo"),
        round(lit(mn) + (col("bucket") + 1) * w, 4).as("hi"),
        col("n"))
  }

  /** q102: INCREMENTAL SCD2 merge — snapshots 1-3 collapse into a
    * history (the backfill), then snapshot 4 applies via
    * History.scd2Apply: only the current slice joins the new
    * snapshot; closed history passes through untouched. The oracle is
    * q90's batch collapse over ALL FOUR snapshots — incremental must
    * be row-identical to the full recollapse, across engines. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val tracked = Seq("segment", "bal_band")
    val hist3 = History.scd2(scd2Snaps(s, dir, 1, 3), "cust_id",
      "snap_date", tracked)
    History.scd2Apply(hist3, scd2Snaps(s, dir, 4, 4), "cust_id",
        "snap_date", tracked)
      .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd"))
      .withColumn("valid_to", date_format(col("valid_to"), "yyyy-MM-dd"))
  }

  /** q103: pivot — the reverse of q09's unpivot: return-flag columns
    * out of rows (`groupBy().pivot(col, values)` with the value list
    * PINNED — a pivot without the value list needs a distinct-collect
    * pre-pass, which is a second job at 100 TB). Catalyst compiles the
    * pinned pivot to two stacked aggregates: corpus-sized data moves
    * only in the first exchange, map-side combined on (linestatus,
    * returnflag); the PivotFirst exchange reshuffles the handful of
    * reduced rows (pinned at 2 in PlanAuditSpec). */
  private def q103(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(col("l_quantity")), 4))
      .withColumnRenamed("A", "qty_a")
      .withColumnRenamed("N", "qty_n")
      .withColumnRenamed("R", "qty_r")

  /** q104: gap-filled sensor series — sparse (sensor, day, reading)
    * points densified to each sensor's full daily range with forward
    * fill (Timeseries.gapFillForward: union + one fill window, no
    * calendar join). Fixture: per-(user bucket, day) max signup value
    * — ~26% of the grid absent at sf0.01, so the fill path is
    * genuinely exercised. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val points = Tables(s, dir).events
      .filter(col("event_type") === "signup")
      .groupBy((col("user_id") % 50).as("sensor"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(round(max(col("value")), 4).as("reading"))
    Timeseries.gapFillForward(points, "sensor", "day", "reading")
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
  }

  /** q105: exact per-bucket mode event type (Stats.modePerKey — the
    * window-free struct-min tie-break: most frequent, then
    * lexicographically first). */
  private def q105(s: SparkSession, dir: String): DataFrame =
    Stats.modePerKey(
      Tables(s, dir).events
        .select((col("user_id") % 100).as("bucket"), col("event_type")),
      "bucket", "event_type")
      .select(col("bucket"), col("mode_val").as("mode_type"), col("cnt"))

  /** q106: peak concurrency — max overlapping one-hour event windows
    * per event type (EventFlow.maxConcurrency: ±1 sweep + running sum,
    * ONE hash exchange, pinned in PlanAuditSpec). */
  private def q106(s: SparkSession, dir: String): DataFrame =
    EventFlow.maxConcurrency(
      Tables(s, dir).events.select(col("event_type"), col("ts")),
      "event_type", col("ts"), col("ts") + expr("INTERVAL 1 HOUR"))

  /** q107: top-5 TF-IDF keywords per document
    * (Corpus.tfidfTopTerms, sklearn-smoothed idf; ties by term). */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidfTopTerms(Tables(s, dir).documents, "doc_id", "text", 5)

  /** q108: per-nation order-priority digest — sorted DISTINCT
    * priorities as one string plus the order count: the
    * `string_agg`/`listagg` reporting shape, done as collect_set →
    * array_sort → array_join so the aggregate stays map-side combined
    * (the set is bounded by the priority vocabulary, never the order
    * count; an ORDER-BY-inside-agg would force a per-group sort of
    * every row at 100 TB). */
  private def q108(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).customer
      .join(Tables(s, dir).orders,
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nation"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("prios"),
        count(lit(1)).as("n_orders"))

  /** q109: per-type z-score outliers (Stats.zscoreOutliers — stats
    * ride the data's own key window, no join). The fixture plants a
    * 25× spike on every 97th event id: spikes land at |z| ≈ 10, the
    * uniform bulk stays under 1, so membership is rounding-robust. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val spiked = Tables(s, dir).events
      .select(col("event_id"), col("event_type"),
        (col("value") *
          when(col("event_id") % 97 === 0, 25).otherwise(1)).as("v"))
    Stats.zscoreOutliers(spiked, "event_type", col("v"), z = 3.0)
      .select(col("event_id"), col("event_type"),
        round(col("v"), 4).as("v"), round(col("zscore"), 4).as("z"))
  }

  /** q119: q109's fixture through the SKEW-SAFE formulation
    * (Stats.zscoreOutliersAgg — per-key moments as a map-side-combined
    * aggregate broadcast back; the data itself never shuffles, so a
    * hot key can't funnel its group through one task the way q109's
    * window does). Same oracle as q109: the two forms are
    * row-identical by contract, and this registration makes DuckDB
    * pin that, not just StatsSpec. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val spiked = Tables(s, dir).events
      .select(col("event_id"), col("event_type"),
        (col("value") *
          when(col("event_id") % 97 === 0, 25).otherwise(1)).as("v"))
    Stats.zscoreOutliersAgg(spiked, "event_type", col("v"), z = 3.0)
      .select(col("event_id"), col("event_type"),
        round(col("v"), 4).as("v"), round(col("zscore"), 4).as("z"))
  }

  /** q110: weighted sample — 100 documents drawn without replacement
    * with probability proportional to length (Corpus.weightedSample,
    * Efraimidis–Spirakis keys from the doc id's md5, so the draw is
    * reproducible across engines). */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Corpus.weightedSample(Tables(s, dir).documents, "doc_id", "n_chars",
      k = 100)

  /** q111: robust outliers — the q109 spike fixture flagged by
    * median/MAD instead of mean/stddev (Stats.madOutliers). The
    * contrast IS the point: the 25× spikes inflate a stddev toward
    * masking themselves but leave the median untouched. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val spiked = Tables(s, dir).events
      .select(col("event_id"), col("event_type"),
        (col("value") *
          when(col("event_id") % 97 === 0, 25).otherwise(1)).as("v"))
    Stats.madOutliers(spiked, "event_type", col("v"), k = 10.0)
      .select(col("event_id"), col("event_type"),
        round(col("v"), 4).as("v"), round(col("deviation"), 4).as("dev"),
        round(col("median"), 4).as("med"), round(col("mad"), 4).as("mad"))
  }

  /** q112: first-touch attribution — each purchase credited to the
    * EARLIEST view in the preceding 30 minutes (AsOfJoin.firstWithin:
    * union + one range-frame window, no join; q54 is the last-touch
    * dual). */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
    val views = ev.filter(col("event_type") === "view")
    AsOfJoin.firstWithin(purchases, views, keys = Seq("user_id"),
      tsCol = "ts", rightPayload = Seq("event_id"),
      windowMs = 30L * 60 * 1000, prefix = "first_")
      .select(col("event_id"), col("user_id"),
        tsMillis(col("ts")).as("ts_ms"),
        col("first_event_id").as("first_view_id"),
        (tsMillis(col("ts")) - col("first_ms")).as("first_gap_ms"))
  }

  /** q113: per-type winsorization — event values clamped to their
    * type's [p05, p95] band (Stats.winsorize; the row survives at the
    * clipped value where q109/q111 would flag it). */
  private def q113(s: SparkSession, dir: String): DataFrame =
    Stats.winsorize(Tables(s, dir).events, "event_type", col("value"),
      lo = 0.05, hi = 0.95)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("v"),
        round(col("winsorized"), 4).as("v_w"),
        round(col("lo_bound"), 4).as("lo"),
        round(col("hi_bound"), 4).as("hi"))

  /** q114: per-source weighted sample — 20 docs per source, drawn
    * without replacement proportional to length
    * (Corpus.weightedSamplePerStratum). */
  private def q114(s: SparkSession, dir: String): DataFrame =
    Corpus.weightedSamplePerStratum(Tables(s, dir).documents,
      "source", "doc_id", "n_chars", k = 20)

  /** q115: cumulative distinct users by day
    * (EventFlow.cumulativeUsers — first-seen reduction, never a
    * per-day re-dedup of history). */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    // the 150 raw users all land on day one — a synthetic visitor key
    // (user × event residue, ~5.5k visitors) spreads first-seen days
    // across the month so the curve is genuinely cumulative
    val ev = Tables(s, dir).events
      .withColumn("visitor",
        col("user_id") * 100 + pmod(col("event_id"), lit(37)))
    EventFlow.cumulativeUsers(ev, "visitor", "ts")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
  }

  // ----------------------------------------------------------------
  // Registry
  // ----------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_name_parse" -> (q01 _),
    "q02_party_state_district" -> (q02 _),
    "q03_normalize" -> (q03 _),
    "q04_distinct_on" -> (q04 _),
    "q05_election_candidates" -> (q05 _),
    "q06_incumbents_by_term" -> (q06 _),
    "q07_reference_lists" -> (q07 _),
    "q08_fuzzy_match" -> (q08 _),
    "q09_unpivot_scores" -> (q09 _),
    "q10_pricing_summary" -> (q10 _),
    "q11_ship_priority" -> (q11 _),
    "q12_topk_per_group" -> (q12 _),
    "q13_json_extract" -> (q13 _),
    "q14_rollup" -> (q14 _),
    "q15_anti_join" -> (q15 _),
    "q16_percentiles" -> (q16 _),
    "q17_moments" -> (q17 _),
    "q18_moving_avg" -> (q18 _),
    "q20_sessionize" -> (q20 _),
    "q21_tumbling_agg" -> (q21 _),
    "q30_dedup_exact" -> (q30 _),
    "q31_dedup_minhash" -> (q31 _),
    "q32_dedup_simhash" -> (q32 _),
    "q33_ngram_jaccard" -> (q33 _),
    "q34_embed_neardup" -> (q34 _),
    "q35_ann_bruteforce" -> (q35 _),
    "q36_ann_ivf" -> (q36 _),
    "q37_lang_id" -> (q37 _),
    "q38_quality_score" -> (q38 _),
    "q39_token_count" -> (q39 _),
    "q40_fingerprint" -> (q40 _),
    "q41_embed_lsh" -> (q41 _),
    "q42_fuzzy_jaro_winkler" -> (q42 _),
    "q43_fuzzy_link_full" -> (q43 _),
    "q44_roster_query" -> (q44 _),
    "q45_ann_ivf_pruned" -> (q45 _),
    "q46_css_extract" -> (q46 _),
    "q47_redact_pii" -> (q47 _),
    "q48_ngram_freq" -> (q48 _),
    "q49_contamination" -> (q49 _),
    "q50_split_assign" -> (q50 _),
    "q51_dedup_cluster" -> (q51 _),
    "q52_repetition" -> (q52 _),
    "q53_dedup_survivors" -> (q53 _),
    "q54_asof_join" -> (q54 _),
    "q55_range_join" -> (q55 _),
    "q56_approx_stats" -> (q56 _),
    "q57_split_rows" -> (q57 _),
    "q58_name_full" -> (q58 _),
    "q59_election_parse" -> (q59 _),
    "q60_curate" -> (q60 _),
    "q61_ann_ivf_trained" -> (q61 _),
    "q62_fuzzy_link_1034" -> (q62 _),
    "q63_dedup_incr_exact" -> (q63 _),
    "q64_dedup_incremental" -> (q64 _),
    "q65_embed_incremental" -> (q65 _),
    "q66_ann_ivfpq" -> (q66 _),
    "q67_dedup_incr_bloom" -> (q67 _),
    "q68_mix_sources" -> (q68 _),
    "q69_heavy_hitters" -> (q69 _),
    "q70_simhash_incremental" -> (q70 _),
    "q71_bm25" -> (q71 _),
    "q72_line_dedup" -> (q72 _),
    "q73_lm_quality" -> (q73 _),
    "q74_pack_sequences" -> (q74 _),
    "q75_pack_emit" -> (q75 _),
    "q76_semantic_dedup" -> (q76 _),
    "q77_corpus_profile" -> (q77 _),
    "q78_pack_greedy" -> (q78 _),
    "q79_unicode_normalize" -> (q79 _),
    "q80_chunk_overlap" -> (q80 _),
    "q81_snapshot_diff" -> (q81 _),
    "q82_domain_profile" -> (q82 _),
    "q83_stratified_sample" -> (q83 _),
    "q84_quality_classifier" -> (q84 _),
    "q85_div_table" -> (q85 _),
    "q86_funnel" -> (q86 _),
    "q87_span_dedup" -> (q87 _),
    "q88_retention" -> (q88 _),
    "q89_pagerank" -> (q89 _),
    "q90_scd2_history" -> (q90 _),
    "q91_sliding_window" -> (q91 _),
    "q92_dim_asof" -> (q92 _),
    "q93_cdc_apply" -> (q93 _),
    "q94_cube" -> (q94 _),
    "q95_shard_shuffle" -> (q95 _),
    "q96_global_rank" -> (q96 _),
    "q97_key_profile" -> (q97 _),
    "q98_token_budget" -> (q98 _),
    "q99_outlink_graph" -> (q99 _),
    "q100_entity_resolution" -> (q100 _),
    "q101_histogram" -> (q101 _),
    "q102_scd2_apply" -> (q102 _),
    "q103_pivot" -> (q103 _),
    "q104_gap_fill" -> (q104 _),
    "q105_mode" -> (q105 _),
    "q106_concurrency" -> (q106 _),
    "q107_tfidf" -> (q107 _),
    "q108_string_agg" -> (q108 _),
    "q109_zscore_outliers" -> (q109 _),
    "q110_weighted_sample" -> (q110 _),
    "q111_mad_outliers" -> (q111 _),
    "q112_first_touch" -> (q112 _),
    "q113_winsorize" -> (q113 _),
    "q114_sample_per_stratum" -> (q114 _),
    "q115_cumulative_users" -> (q115 _),
    "q116_session_window" -> (q116 _),
    "q117_budget_per_source" -> (q117 _),
    "q118_interval_overlap" -> (q118 _),
    "q119_zscore_agg" -> (q119 _),
    "q120_main_content" -> (q120 _),
    "q121_transition_matrix" -> (q121 _),
    "q122_rolling_zscore" -> (q122 _),
    "q123_dedup_normalized" -> (q123 _),
    "q124_set_similarity" -> (q124 _),
    "q125_quality_rank" -> (q125 _),
    "q126_bpe_pairs" -> (q126 _),
    "q127_hll_rollup" -> (q127 _),
    "q128_script_detect" -> (q128 _),
    "q129_exact_median" -> (q129 _),
    "q130_set_sim_probe" -> (q130 _),
    "q131_equidepth_hist" -> (q131 _),
    "q132_sales_trend" -> (q132 _),
    "q133_triangles" -> (q133 _),
    "q134_pmi_bigrams" -> (q134 _),
    "q135_anchor_text" -> (q135 _),
    "q136_ewma_spend" -> (q136 _),
    "q137_padding_waste" -> (q137 _),
    "q138_top_postings" -> (q138 _),
    "q139_quantile_rollup" -> (q139 _),
    "q140_label_centroids" -> (q140 _),
    "q141_local_supplier_volume" -> (q141 _),
    "q142_vocab_coverage" -> (q142 _),
    "q143_expectations" -> (q143 _),
    "q144_topk_agg" -> (q144 _),
    "q145_nested_export" -> (q145 _),
    "q146_quantile_normalize" -> (q146 _),
    "q147_column_profile" -> (q147 _),
    "q148_triangles_approx" -> (q148 _),
    "q149_cdc_chunks" -> (q149 _),
    "q150_communities" -> (q150 _),
    "q151_chunk_diff" -> (q151 _),
    "q152_chunk_dedup" -> (q152 _),
    "q153_containment" -> (q153 _),
    "q154_bpe_encode" -> (q154 _),
    "q155_bpe_train" -> (q155 _),
    "q156_lm_bigram" -> (q156 _),
    "q157_bpe_token_count" -> (q157 _),
    "q158_lm_trigram" -> (q158 _),
    "q159_wordpiece_encode" -> (q159 _),
    "q160_wordpiece_train" -> (q160 _),
    "q161_unigram_encode" -> (q161 _),
    "q162_unigram_train" -> (q162 _),
    "q163_dsir_weights" -> (q163 _),
    "q164_tokenizer_compare" -> (q164 _),
    "q165_ann_ivfpq_residual" -> (q165 _),
    "q166_dsir_resample" -> (q166 _),
    "q167_pca_whiten" -> (q167 _),
    "q168_blocklist" -> (q168 _),
    "q169_compress_ratio" -> (q169 _),
    "q170_quality_signals" -> (q170 _),
    "q171_media_dedup_incr" -> (q171 _),
    "q172_lm_4gram" -> (q172 _),
    "q173_dsir_trigram" -> (q173 _),
    "q174_langid_model" -> (q174 _),
    "q175_quality_signals_model" -> (q175 _),
    "q176_ann_opq" -> (q176 _),
    "q177_ann_opq_saved" -> (q177 _),
    "q178_vote_index" -> (q178 _),
    "q179_bbpe_encode" -> (q179 _),
    "q180_bbpe_train" -> (q180 _),
    "q181_pdf_text" -> (q181 _),
    "q182_tokenizer_compare4" -> (q182 _),
    "q183_unimax_mix" -> (q183 _),
    "q184_unimax_sample" -> (q184 _),
    "q185_bbpe_pretok" -> (q185 _),
    "q186_temperature_mix" -> (q186 _),
    "q187_warc_roundtrip" -> (q187 _),
    "q188_ann_search_saved" -> (q188 _),
    "q189_ann_sq8" -> (q189 _),
    "q190_ann_sq8_ivf" -> (q190 _),
    "q191_ann_sq8_saved" -> (q191 _),
    "q192_ann_sq8_search_saved" -> (q192 _),
    "q193_hybrid_rrf" -> (q193 _),
    "q194_mmr_rerank" -> (q194 _),
    "q195_bm25_search" -> (q195 _),
    "q196_hybrid_bm25" -> (q196 _)
  )

  /** q89 oracle: the same 10 PageRank iterations unrolled as CTEs —
    * generated by a loop so the Spark loop and the SQL loop can't
    * drift in iteration count or arithmetic shape. */
  private def pageRankSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH dedges AS (
      |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS r
      |       FROM nodes)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
        |c$i AS (SELECT e.dst AS id, sum(r.r / d.d) AS s
        |  FROM r${i - 1} r JOIN deg d ON r.id = d.src
        |  JOIN edges e ON e.src = r.id
        |  GROUP BY 1),
        |r$i AS (SELECT nodes.id,
        |  (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
        |    + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE)) AS r
        |  FROM nodes LEFT JOIN c$i c ON nodes.id = c.id)""".stripMargin
    }
    sb ++= s"\nSELECT id AS node_id, round(r, 7) AS pr FROM r$iters"
    sb.toString
  }

  /** SCD2 batch-collapse oracle — shared by q90 (batch build) and
    * q102 (incremental apply, which must equal the full recollapse):
    * synthesis replicated, then lag change flags → running-sum
    * version ids → per-version rollup → lead interval-close. */
  private val scd2BatchSql =
    """WITH snaps AS (
      |  SELECT c_custkey AS cust_id,
      |    DATE '2024-01-01' + CAST((d.d - 1) * 7 AS INTEGER) AS snap_date,
      |    c_mktsegment || '_' ||
      |      CAST((d.d + c_custkey % 4) // 2 AS VARCHAR) AS segment,
      |    CAST(floor(c_acctbal / 1000) +
      |      CASE WHEN d.d >= 3 AND c_custkey % 7 = 0 THEN 1 ELSE 0 END
      |      AS BIGINT) AS bal_band
      |  FROM customer
      |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS d) d),
      |ch AS (SELECT *,
      |  CASE WHEN lag(segment) OVER w IS DISTINCT FROM segment
      |         OR lag(bal_band) OVER w IS DISTINCT FROM bal_band
      |       THEN 1 ELSE 0 END AS chg
      |  FROM snaps WINDOW w AS (PARTITION BY cust_id ORDER BY snap_date)),
      |v AS (SELECT *, sum(chg) OVER
      |  (PARTITION BY cust_id ORDER BY snap_date) AS ver FROM ch),
      |g AS (SELECT cust_id, ver, min(snap_date) AS valid_from,
      |  any_value(segment) AS segment, any_value(bal_band) AS bal_band
      |  FROM v GROUP BY 1, 2)
      |SELECT cust_id, segment, bal_band,
      |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
      |  strftime(lead(valid_from) OVER
      |    (PARTITION BY cust_id ORDER BY valid_from), '%Y-%m-%d')
      |    AS valid_to,
      |  lead(valid_from) OVER
      |    (PARTITION BY cust_id ORDER BY valid_from) IS NULL AS is_current
      |FROM g""".stripMargin

  /** Exact cosine top-k oracle — shared by q35 (brute force) and q36
    * (IVF at full probe, which must equal brute force). */
  private val annTopkSql =
    """WITH v AS (SELECT vec_id, embedding,
      |   sqrt(list_sum([CAST(x AS DOUBLE)*x for x in embedding])) AS nrm FROM embeddings),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |   list_sum([CAST(q.embedding[i] AS DOUBLE)*c.embedding[i]
      |     for i in generate_series(1,64)])/(q.nrm*c.nrm) AS cos
      | FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
      |r AS (SELECT *, row_number() OVER (
      |   PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
      |  round(cos, 4) AS cosine
      |FROM r WHERE rank <= 5""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_name_parse" ->
      s"""WITH synth AS ($synthInfoSql),
        |p1 AS (
        |  SELECT id, info,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      info,
        |      '\\s\\([^)]*\\)', '', 'g'),
        |      '^Rep\\.\\s', ''), '^Sen\\.\\s', ''), '^Minority Leader\\s', ''),
        |      '^Majority Leader\\s', ''), '^Resident Commissioner\\s', ''),
        |      '^Speaker\\s', ''), '^Delegate\\s', ''), '^President\\s', ''),
        |      '^Senate President\\s', ''), 'Pro Tempore\\s', '', 'g') AS name
        |  FROM synth),
        |p2 AS (
        |  SELECT id, info, name,
        |    regexp_extract(name, ',?\\s?((?:[IVX]{2,3}|Jr\\.?|Sr\\.?|Dr\\.?|Mr\\.?|Ms\\.?|Mrs\\.?|M\\.?\\s?D\\.?))$$', 1) AS suffix,
        |    regexp_replace(name, ',?\\s?((?:[IVX]{2,3}|Jr\\.?|Sr\\.?|Dr\\.?|Mr\\.?|Ms\\.?|Mrs\\.?|M\\.?\\s?D\\.?))$$', '') AS base
        |  FROM p1),
        |p3 AS (
        |  SELECT id, info, suffix,
        |    regexp_extract(base, '\\s+([A-Z]\\.)', 1) AS middlename,
        |    regexp_replace(base, '\\s+[A-Z]\\.', '', 'g') AS first_last
        |  FROM p2)
        |SELECT id, info,
        |  regexp_extract(first_last, '^(\\S+)', 1) AS firstname,
        |  middlename,
        |  trim(regexp_replace(regexp_replace(first_last, '^\\S+\\s*', ''), '\\s+', ' ', 'g')) AS lastname,
        |  suffix
        |FROM p3""".stripMargin,
    "q02_party_state_district" ->
      s"""WITH synth AS ($synthPsdSql)
        |SELECT id, info,
        |  regexp_extract(info, '\\((\\w+)-(\\w+)-?(\\w+)?\\)', 1) AS party,
        |  regexp_extract(info, '\\((\\w+)-(\\w+)-?(\\w+)?\\)', 2) AS state,
        |  CASE WHEN regexp_matches(info, '^Delegate') THEN 'Delegate'
        |       ELSE regexp_replace(regexp_extract(info, '\\((\\w+)-(\\w+)-?(\\w+)?\\)', 3), '^0+', '')
        |  END AS district
        |FROM synth""".stripMargin,
    "q03_normalize" ->
      """SELECT c_custkey,
        |  CASE c_mktsegment WHEN 'BUILDING' THEN 'BLDG'
        |    WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'MACHINERY' THEN 'MACH'
        |    ELSE c_mktsegment END AS seg_norm,
        |  coalesce(CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_name END, '') AS name_norm
        |FROM customer""".stripMargin,
    "q04_distinct_on" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
        | round(o_totalprice, 4) AS latest_price
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin,
    "q05_election_candidates" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |  AND c_custkey IN (
        |    SELECT o_custkey FROM orders
        |    WHERE year(o_orderdate) IN (1995, 1996))""".stripMargin,
    "q06_incumbents_by_term" ->
      """SELECT c_custkey, c_name, w.n_orders
        |FROM customer
        |JOIN (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders
        |  WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '1998-12-31'
        |  GROUP BY 1) w
        |ON c_custkey = o_custkey""".stripMargin,
    "q07_reference_lists" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q08_fuzzy_match" ->
      """WITH scraped AS (
        |  SELECT c_custkey AS s_id,
        |    'Cust ' || CAST(c_custkey AS VARCHAR) AS s_name,
        |    c_nationkey AS blk
        |  FROM customer),
        |roster AS (
        |  SELECT c_custkey AS r_id, c_name AS r_name, c_nationkey AS blk
        |  FROM customer),
        |scored AS (
        |  SELECT s_id, r_id, levenshtein(s_name, r_name) AS score
        |  FROM scraped JOIN roster USING (blk)),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY s_id ORDER BY score, r_id) AS rn,
        |    CAST(sum(CASE WHEN score <= 12 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY s_id) AS BIGINT) AS n_within
        |  FROM scored)
        |SELECT s_id, r_id AS best_id, score AS best_score,
        |  n_within > 1 AS is_dup
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q09_unpivot_scores" ->
      """WITH wide AS (
        |  SELECT o_custkey,
        |    round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS o_sum,
        |    round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS f_sum,
        |    round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS p_sum
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, 'O' AS status, o_sum AS total FROM wide WHERE o_sum IS NOT NULL
        |UNION ALL
        |SELECT o_custkey, 'F' AS status, f_sum AS total FROM wide WHERE f_sum IS NOT NULL
        |UNION ALL
        |SELECT o_custkey, 'P' AS status, p_sum AS total FROM wide WHERE p_sum IS NOT NULL""".stripMargin,
    "q10_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q11_ship_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        | o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > TIMESTAMP '1999-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q12_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank,
        | round(o_totalprice, 4) AS price
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "q13_json_extract" ->
      """SELECT event_id, event_type,
        | CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        | round(value, 4) AS value
        |FROM events""".stripMargin,
    "q14_rollup" ->
      """SELECT coalesce(r_name, '') AS r_name, coalesce(n_name, '') AS n_name,
        | count(*) AS n_customers, round(sum(c_acctbal), 4) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q15_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate BETWEEN TIMESTAMP '2000-01-01' AND TIMESTAMP '2000-12-31')""".stripMargin,
    "q16_percentiles" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY 1""".stripMargin,
    "q17_moments" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_extendedprice), 4) AS sd_price,
        | round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q18_moving_avg" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, day, round(rev, 4) AS revenue,
        |  round(avg(rev) OVER (
        |    PARTITION BY o_orderpriority ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rev_ma7
        |FROM daily""".stripMargin,
    "q20_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
        |l AS (
        |  SELECT *, lag(ms) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000
        |    THEN 1 ELSE 0 END AS is_new FROM l),
        |c AS (
        |  SELECT *, CAST(sum(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms,
        |  round(sum(value), 4) AS sum_value
        |FROM c GROUP BY user_id, session_id""".stripMargin,
    "q21_tumbling_agg" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        | event_type, count(*) AS n_events,
        | round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q63_dedup_incr_exact" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0)
        |SELECT h AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM batch WHERE h NOT IN (SELECT h FROM corpus)
        |GROUP BY 1""".stripMargin,
    // q67 is q63 behind a Bloom pre-filter; the sketch only routes rows,
    // so the exact-dedup oracle is identical.
    "q67_dedup_incr_bloom" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 = 0)
        |SELECT h AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM batch WHERE h NOT IN (SELECT h FROM corpus)
        |GROUP BY 1""".stripMargin,
    "q33_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |          for i in generate_series(1, len(words)-2)]) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.tri, b.tri)) AS i,
        |    len(list_distinct(list_concat(a.tri, b.tri))) AS u
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, round(CAST(i AS DOUBLE)/u, 4) AS jaccard FROM pairs
        |WHERE round(CAST(i AS DOUBLE)/u, 4) >= 0.5""".stripMargin,
    "q34_embed_neardup" ->
      """WITH v AS (SELECT vec_id, label, embedding,
        |   sqrt(list_sum([CAST(x AS DOUBLE)*x for x in embedding])) AS nrm FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | round(list_sum([CAST(a.embedding[i] AS DOUBLE)*b.embedding[i]
        |   for i in generate_series(1,64)])/(a.nrm*b.nrm), 4) AS cosine
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_sum([CAST(a.embedding[i] AS DOUBLE)*b.embedding[i]
        |   for i in generate_series(1,64)])/(a.nrm*b.nrm), 4) >= 0.35""".stripMargin,
    "q35_ann_bruteforce" -> annTopkSql,
    // q36 at full probe is exact: every bucket is searched, so IVF must
    // reproduce the brute-force top-k bit-for-bit.
    "q36_ann_ivf" -> annTopkSql,
    "q37_lang_id" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_filter(words, x -> list_contains(['the','a','of','and','to'], x))) AS c_en,
        |  len(list_filter(words, x -> list_contains(['der','die','das','und'], x))) AS c_de,
        |  len(list_filter(words, x -> list_contains(['el','la','los','y'], x))) AS c_es,
        |  len(list_filter(words, x -> list_contains(['le','les','et','du'], x))) AS c_fr,
        |  len(list_filter(words, x -> list_contains(['的','是','在'], x))) AS c_zh,
        |  len(words) AS n_words
        | FROM w)
        |SELECT doc_id,
        | CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
        |      WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
        |      WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |      WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
        | CAST(c_en AS INT) AS c_en, CAST(n_words AS INT) AS n_words
        |FROM c""".stripMargin,
    "q38_quality_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) AS c_en,
        |  CAST(len(words) AS DOUBLE) AS n_words
        | FROM w)
        |SELECT doc_id,
        | round(least(n_words / 200.0, 1.0) * 0.6
        |   + least(c_en / n_words * 5.0, 1.0) * 0.4, 4) AS quality
        |FROM c""".stripMargin,
    "q39_token_count" ->
      """SELECT doc_id,
        | len(string_split_regex(text, '\s+')) AS n_ws,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin,
    "q42_fuzzy_jaro_winkler" ->
      """WITH scraped AS (
        |  SELECT c_custkey AS s_id,
        |    'Cust ' || CAST(c_custkey AS VARCHAR) AS s_name,
        |    c_nationkey AS blk
        |  FROM customer),
        |roster AS (
        |  SELECT c_custkey AS r_id, c_name AS r_name, c_nationkey AS blk
        |  FROM customer),
        |scored AS (
        |  SELECT s_id, r_id,
        |    round(100 * jaro_winkler_similarity(s_name, r_name), 4) AS jw
        |  FROM scraped JOIN roster USING (blk)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY s_id ORDER BY jw DESC, r_id) AS rn
        |  FROM scored)
        |SELECT s_id, r_id AS best_id, jw AS best_jw
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q44_roster_query" ->
      """WITH joined AS (
        |  SELECT c_custkey, c_name, n_name, r_name, o_orderkey, o_orderdate
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  LEFT JOIN nation ON c_nationkey = n_nationkey
        |  LEFT JOIN region ON n_regionkey = r_regionkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |    AND o_orderstatus IN ('O', 'F')
        |    AND (c_nationkey IN (1, 2, 3, 4, 5) OR r_name = 'ASIA'))
        |SELECT c_custkey, c_name, n_name AS office, r_name AS state,
        |  o_orderkey AS latest_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS latest_date
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM joined)
        |WHERE rn = 1""".stripMargin,
    "q46_css_extract" ->
      """SELECT c_custkey AS id,
        |  c_name || ' (' || c_mktsegment || ')' AS info,
        |  CAST(c_custkey % 101 AS VARCHAR) || '%' AS score_2023,
        |  CAST((c_custkey * 7) % 101 AS VARCHAR) || '%' AS lifetime
        |FROM customer""".stripMargin,
    "q47_redact_pii" ->
      """WITH raw AS (
        |  SELECT c_custkey AS id,
        |    'Reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
        |    || '@example.com or '
        |    || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(c_custkey % 741 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '; ssn '
        |    || lpad(CAST(c_custkey % 900 AS VARCHAR), 3, '0') || '-'
        |    || lpad(CAST(c_custkey % 89 AS VARCHAR), 2, '0') || '-'
        |    || lpad(CAST(c_custkey % 7919 AS VARCHAR), 4, '0') || '.' AS text
        |  FROM customer)
        |SELECT id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}[-.]\d{3}[-.]\d{4}', '[PHONE]', 'g'),
        |    '\d{3}-\d{2}-\d{4}', '[SSN]', 'g') AS clean
        |FROM raw""".stripMargin,
    "q48_ngram_freq" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT list_distinct([words[i] || ' ' || words[i+1]
        |         for i in generate_series(1, len(words)-1)]) AS bi FROM w),
        |u AS (SELECT unnest(bi) AS ngram FROM sh)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS freq
        |FROM u GROUP BY 1
        |ORDER BY freq DESC, ngram
        |LIMIT 100""".stripMargin,
    "q73_lm_quality" ->
      """WITH ref AS (SELECT unnest(string_split(text, ' ')) AS word
        |            FROM documents WHERE doc_id < 100),
        |rc AS (SELECT word, count(*) AS c FROM ref GROUP BY 1),
        |g AS (SELECT CAST(sum(c) AS DOUBLE) AS t,
        |             CAST(count(*) AS DOUBLE) AS v FROM rc),
        |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |SELECT doc_id,
        |  round(avg(ln(coalesce(rc.c, 0) + 1.0) - ln(g.t + g.v)), 4)
        |    AS lm_score
        |FROM w LEFT JOIN rc USING (word), g
        |GROUP BY 1""".stripMargin,
    "q74_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) - n_tokens
        |    AS start_offset FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS first_seq,
        |  (start_offset + n_tokens - 1) // 512 AS last_seq,
        |  (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
        |    AS n_seqs
        |FROM c""".stripMargin,
    "q75_pack_emit" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, w, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) - n AS o FROM t),
        |p AS (SELECT w, n, o,
        |  unnest(generate_series(o // 512, (o + n - 1) // 512)) AS seq_id
        |  FROM c),
        |pieces AS (SELECT seq_id,
        |  greatest(o, seq_id * 512) AS pstart,
        |  array_to_string(
        |    w[CAST(greatest(o, seq_id * 512) - o + 1 AS BIGINT) :
        |      CAST(least(o + n, (seq_id + 1) * 512) - o AS BIGINT)],
        |    ' ') AS piece
        |  FROM p)
        |SELECT seq_id, string_agg(piece, ' ' ORDER BY pstart) AS text
        |FROM pieces GROUP BY 1""".stripMargin,
    "q77_corpus_profile" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |  md5(text) AS h, lang FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM b),
        |t AS (SELECT count(*) AS c FROM b GROUP BY lang
        |      ORDER BY c DESC, lang LIMIT 1)
        |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM g
        |UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM g
        |UNION ALL SELECT 'avg_tokens',
        |  round(CAST(total_tokens AS DOUBLE) / n_docs, 4) FROM g
        |UNION ALL SELECT 'exact_dup_rate',
        |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 4) FROM g
        |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM g
        |UNION ALL SELECT 'top_lang_share',
        |  round(CAST(t.c AS DOUBLE) / g.n_docs, 4) FROM g, t""".stripMargin,
    "q78_pack_greedy" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |  row_number() OVER (ORDER BY doc_id) AS rn FROM documents),
        |r AS (
        |  SELECT rn, doc_id, n, n AS fill, CAST(0 AS BIGINT) AS bin
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.rn, t.doc_id, t.n,
        |    CASE WHEN r.fill + t.n > 512 THEN t.n ELSE r.fill + t.n END,
        |    CASE WHEN r.fill + t.n > 512 THEN r.bin + 1 ELSE r.bin END
        |  FROM r JOIN t ON t.rn = r.rn + 1)
        |SELECT doc_id, n AS n_tokens, bin AS seq_id FROM r""".stripMargin,
    "q79_unicode_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(regexp_replace(text, 'a', 'a' || chr(769), 'g'))
        |    AS text
        |FROM documents""".stripMargin,
    "q80_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |  greatest(1, CAST(ceil((n - 64) / 192.0) AS BIGINT)) AS k FROM t),
        |e AS (SELECT doc_id, w,
        |  unnest(generate_series(0, k - 1)) AS chunk_id FROM c)
        |SELECT doc_id, chunk_id,
        |  array_to_string(w[chunk_id*192+1 : chunk_id*192+256], ' ') AS text
        |FROM e""".stripMargin,
    "q81_snapshot_diff" ->
      """WITH o AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT' ELSE text END)
        |    AS h
        |  FROM documents WHERE doc_id % 9 <> 0),
        |n AS (SELECT doc_id, md5(text) AS h
        |      FROM documents WHERE doc_id % 10 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'modified' END AS change
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h""".stripMargin,
    "q82_domain_profile" ->
      """WITH u AS (SELECT concat(
        |    ['http','HTTPS','https','HTTP'][CAST(c_custkey % 4 AS INT) + 1],
        |    '://',
        |    CASE WHEN c_custkey % 5 = 0 THEN 'WWW.' ELSE '' END,
        |    'site', CAST(c_custkey % 37 AS VARCHAR), '.Example.',
        |    ['com','org','net'][CAST(c_custkey % 3 AS INT) + 1],
        |    ['', ':80', ':443', ':8080'][CAST(c_custkey % 4 AS INT) + 1],
        |    CASE WHEN c_custkey % 7 = 0 THEN ''
        |         ELSE concat('/page/', CAST(c_custkey % 11 AS VARCHAR)) END,
        |    ['', '?utm_source=feed&ref=r1',
        |     '?a=1&utm_campaign=c&utm_medium=m&b=2', '?gclid=xyz',
        |     '?a=1&b=2'][CAST(c_custkey % 5 AS INT) + 1],
        |    CASE WHEN c_custkey % 2 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM customer),
        |s AS (SELECT url, regexp_replace(trim(url), '#.*$', '') AS u
        |      FROM u),
        |p AS (SELECT url,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
        |    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')
        |      AS rest
        |  FROM s),
        |q AS (SELECT url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
        |         ELSE auth0 END AS auth,
        |    CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
        |         ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(rest, '^[^?]*\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9]+|gclid|fbclid)=')), '&') AS qq
        |  FROM p),
        |n AS (SELECT
        |    concat(scheme, '://', auth, path,
        |      CASE WHEN qq = '' THEN '' ELSE concat('?', qq) END) AS un,
        |    regexp_replace(lower(regexp_extract(trim(url),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\.', '')
        |      AS host
        |  FROM q)
        |SELECT host, count(*) AS n_docs,
        |  count(DISTINCT un) AS n_urls
        |FROM n GROUP BY host""".stripMargin,
    "q83_stratified_sample" ->
      """WITH r AS (SELECT c_custkey, c_mktsegment,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment FROM r
        |WHERE rn * 100 <= n * 20 + 99""".stripMargin,
    "q72_line_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ld AS (SELECT doc_id,
        |  [array_to_string(w[i*8+1 : i*8+8], ' ')
        |   for i in generate_series(0, CAST(floor((len(w)-1)/8) AS INT))] AS ls
        |  FROM d),
        |l AS (SELECT doc_id, unnest(ls) AS line,
        |  generate_subscripts(ls, 1) AS pos FROM ld),
        |bp AS (SELECT line FROM l GROUP BY 1
        |       HAVING count(DISTINCT doc_id) >= 3),
        |keep AS (SELECT doc_id, line, pos FROM l
        |         WHERE line NOT IN (SELECT line FROM bp)),
        |re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
        |       FROM keep GROUP BY 1)
        |SELECT d.doc_id, coalesce(re.t, '') AS text
        |FROM d LEFT JOIN re USING (doc_id)""".stripMargin,
    "q71_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(words)) AS avgdl FROM d),
        |w AS (SELECT doc_id, len(words) AS len, unnest(words) AS term FROM d),
        |h AS (SELECT doc_id, term, count(*) AS tf, max(len) AS len FROM w
        |      WHERE term IN ('hash', 'join', 'filter', 'scan') GROUP BY 1, 2),
        |i AS (SELECT term, count(DISTINCT doc_id) AS nt FROM h GROUP BY 1)
        |SELECT h.doc_id,
        |  round(sum(ln((g.n - i.nt + 0.5) / (i.nt + 0.5) + 1.0)
        |    * h.tf * 2.2 / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.len / g.avgdl))), 4)
        |    AS score
        |FROM h, i, g WHERE h.term = i.term
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    // q69 is q48 computed sketch-first; with maxTracked above the
    // sf0.01 vocabulary the candidate superset is guaranteed, so the
    // exact-count second pass reproduces q48's oracle verbatim.
    "q69_heavy_hitters" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT list_distinct([words[i] || ' ' || words[i+1]
        |         for i in generate_series(1, len(words)-1)]) AS bi FROM w),
        |u AS (SELECT unnest(bi) AS ngram FROM sh)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS freq
        |FROM u GROUP BY 1
        |ORDER BY freq DESC, ngram
        |LIMIT 100""".stripMargin,
    "q49_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |    for i in generate_series(1, len(words)-2)]) AS tri FROM w),
        |probe AS (SELECT DISTINCT unnest(tri) AS ngram FROM sh WHERE doc_id < 5),
        |d AS (SELECT doc_id, unnest(tri) AS ngram FROM sh)
        |SELECT d.doc_id, CAST(count(DISTINCT d.ngram) AS BIGINT) AS n_hits
        |FROM d JOIN probe USING (ngram)
        |GROUP BY d.doc_id""".stripMargin,
    // q51/q53 recompute the near-dup pair graph by brute force (same
    // construction as the q33 oracle), then take connected components
    // with a recursive CTE (min reachable id per node). `pairs` is
    // MATERIALIZED: DuckDB otherwise re-evaluates the all-pairs Jaccard
    // on every recursion step.
    "q51_dedup_cluster" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id, list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |  for i in generate_series(1, len(words)-2)]) AS tri FROM w),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tri, b.tri))), 4) >= 0.5),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS component
        |FROM reach GROUP BY id""".stripMargin,
    "q52_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words,
        |  [words[i] || ' ' || words[i+1] for i in generate_series(1, len(words)-1)] AS bg
        |  FROM w),
        |tops AS (SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bg) AS g FROM b) GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(words) AS INT) AS n_words,
        |  CASE WHEN len(words) > 0 THEN
        |    round(CAST(len(words) - len(list_distinct(words)) AS DOUBLE)/len(words), 4)
        |    ELSE 0.0 END AS dup_word_frac,
        |  CASE WHEN len(bg) > 0 THEN
        |    round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)/len(bg), 4)
        |    ELSE 0.0 END AS dup_bigram_frac,
        |  CASE WHEN len(bg) > 0 THEN
        |    round(CAST(coalesce(tops.topc, 0) AS DOUBLE)/len(bg), 4)
        |    ELSE 0.0 END AS top_bigram_frac
        |FROM b LEFT JOIN tops USING (doc_id)""".stripMargin,
    "q53_dedup_survivors" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (SELECT doc_id, list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |  for i in generate_series(1, len(words)-2)]) AS tri FROM w),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tri, b.tri))), 4) >= 0.5),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        |cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE component < id)""".stripMargin,
    "q54_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
        |  v.event_id AS view_event_id, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
    "q55_range_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_ms(b.ts) - epoch_ms(a.ts) AS gap_ms
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 3600000""".stripMargin,
    // multiple unnest() in one DuckDB SELECT zip positionally — the
    // exact semantics of arrays_zip + explode
    "q57_split_rows" ->
      """WITH t AS (SELECT c_custkey AS id,
        |  CASE WHEN c_custkey % 7 = 0
        |    THEN 'Cand A' || CAST(c_custkey AS VARCHAR) || '/Cand B' || CAST(c_custkey AS VARCHAR)
        |    ELSE 'Cand ' || CAST(c_custkey AS VARCHAR) END AS name,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'A/B' ELSE 'C' END AS grade,
        |  CASE WHEN c_custkey % 7 = 0
        |    THEN 'House D' || CAST(c_custkey % 9 AS VARCHAR) || '/Senate D' || CAST(c_custkey % 9 AS VARCHAR)
        |    ELSE 'Governor' END AS loc
        |  FROM customer)
        |SELECT id, unnest(string_split(name, '/')) AS name,
        |  unnest(string_split(grade, '/')) AS grade,
        |  unnest(string_split(loc, '/')) AS loc FROM t""".stripMargin,
    "q58_name_full" ->
      """WITH t AS (SELECT c_custkey AS id,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'Gárcía' || CAST(c_custkey AS VARCHAR) || ', José "Pepe"'
        |       WHEN c_custkey % 5 = 1 THEN 'Ann Lee' || CAST(c_custkey AS VARCHAR)
        |       WHEN c_custkey % 5 = 2 THEN 'John Q. Public' || CAST(c_custkey AS VARCHAR)
        |       WHEN c_custkey % 5 = 3 THEN 'Sam Hill' || CAST(c_custkey AS VARCHAR) || ' Jr.'
        |       ELSE 'Tom (Tommy) Ford' || CAST(c_custkey AS VARCHAR) || ' III' END AS info
        |  FROM customer),
        |f AS (SELECT id, info, strip_accents(info) AS folded FROM t),
        |c AS (SELECT *, regexp_replace(folded, '\s?["(]([^")]*)[")]', '', 'g') AS c1 FROM f),
        |s AS (SELECT *, regexp_extract(c1, ',? ?(III|II|IV|Jr\.?|Sr\.?)$', 1) AS suffix,
        |  regexp_replace(c1, ',? ?(III|II|IV|Jr\.?|Sr\.?)$', '') AS c2 FROM c),
        |m AS (SELECT *, regexp_extract(c2, ' ([A-Z]\.) ', 1) AS middlename,
        |  regexp_replace(c2, ' [A-Z]\. ', ' ') AS c3 FROM s)
        |SELECT id, info,
        |  trim(CASE WHEN strpos(c3, ',') > 0 THEN string_split(c3, ',')[2]
        |       ELSE regexp_replace(c3, ' [^ ]+$', '') END) AS firstname,
        |  trim(CASE WHEN strpos(c3, ',') > 0 THEN string_split(c3, ',')[1]
        |       ELSE regexp_extract(c3, '([^ ]+)$', 1) END) AS lastname,
        |  regexp_extract(folded, '["(]([^")]*)[")]', 1) AS nickname,
        |  suffix, middlename
        |FROM m""".stripMargin,
    "q59_election_parse" ->
      """WITH t AS (SELECT c_custkey AS id,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'U.S. House - District ' || CAST(c_custkey % 30 AS VARCHAR)
        |       WHEN c_custkey % 3 = 1 THEN 'Governor'
        |       ELSE 'State Senate - District ' || CAST(c_custkey % 40 AS VARCHAR) END AS loc,
        |  CASE WHEN c_custkey % 4 = 0 THEN 'November 5, 2024'
        |       WHEN c_custkey % 4 = 1 THEN 'March 3, 2026'
        |       WHEN c_custkey % 4 = 2 THEN 'TBD'
        |       ELSE 'June 10, 2025' END AS dt
        |  FROM customer)
        |SELECT id, string_split(loc, ' - ')[1] AS office,
        |  regexp_extract(loc, 'District ([0-9]+)', 1) AS district,
        |  regexp_extract(dt, '([0-9]{4})$', 1) AS election_year,
        |  strftime(try_strptime(dt, '%B %d, %Y'), '%Y-%m-%d') AS election_date
        |FROM t""".stripMargin,
    // q60: quality gate (q38 formula) + repetition gate (q52 formula)
    // + near-dup dedup over the gated survivors (q53 machinery)
    "q60_curate" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words,
        |  [words[i] || ' ' || words[i+1] for i in generate_series(1, len(words)-1)] AS bg FROM w),
        |g AS (SELECT doc_id, words FROM b
        |  WHERE round(least(len(words)/200.0, 1.0) * 0.6
        |      + least(CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
        |          / len(words) * 5.0, 1.0) * 0.4, 4) >= 0.25
        |    AND (CASE WHEN len(words) > 0 THEN
        |      round(CAST(len(words) - len(list_distinct(words)) AS DOUBLE)/len(words), 4)
        |      ELSE 0.0 END) <= 0.65
        |    AND (CASE WHEN len(bg) > 0 THEN
        |      round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)/len(bg), 4)
        |      ELSE 0.0 END) <= 0.08),
        |sh AS (SELECT doc_id, list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |  for i in generate_series(1, len(words)-2)]) AS tri FROM g),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.tri, b.tri))), 4) >= 0.5),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        |cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT g.doc_id FROM g
        |WHERE g.doc_id NOT IN (SELECT id FROM cc WHERE component < id)""".stripMargin,
    // q85: the page synthesis round-trips through the div-grid
    // extractor, so the oracle computes the three fields straight from
    // the source columns.
    "q85_div_table" ->
      """SELECT 'C' || CAST(c_custkey AS VARCHAR) AS row_key,
        |  c_mktsegment AS segment,
        |  CAST(c_custkey % 101 AS VARCHAR) || '%' AS score
        |FROM customer""".stripMargin,
    "q86_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |u1 AS (SELECT user_id,
        |         min(ts) FILTER (WHERE event_type = 'view') AS t1
        |       FROM e GROUP BY 1),
        |u2 AS (SELECT u1.user_id, u1.t1, min(e.ts) AS t2
        |       FROM u1 JOIN e ON e.user_id = u1.user_id
        |         AND e.event_type = 'click' AND e.ts > u1.t1
        |         AND e.ts <= u1.t1 + INTERVAL 1 DAY
        |       GROUP BY 1, 2),
        |u3 AS (SELECT u2.user_id, min(e.ts) AS t3
        |       FROM u2 JOIN e ON e.user_id = u2.user_id
        |         AND e.event_type = 'purchase' AND e.ts > u2.t2
        |         AND e.ts <= u2.t1 + INTERVAL 1 DAY
        |       GROUP BY 1)
        |SELECT 1 AS step_no, 'view' AS step, CAST(count(*) AS BIGINT) AS users
        |FROM u1 WHERE t1 IS NOT NULL
        |UNION ALL
        |SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM u2
        |UNION ALL
        |SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM u3""".stripMargin,
    // q87: implementation-independent recomputation — every covered
    // position exploded + distinct'd, islands counted via lag runs,
    // clean text re-joined from uncovered tokens.
    "q87_span_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gl AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 8
        |    THEN [array_to_string(w[i:i+7], ' ')
        |          for i in generate_series(1, len(w)-7)]
        |    ELSE [] END AS gs FROM d),
        |g AS (SELECT doc_id, unnest(gs) AS gram,
        |  generate_subscripts(gs, 1) AS pos FROM gl),
        |dup AS (SELECT gram FROM g GROUP BY 1
        |        HAVING count(DISTINCT doc_id) >= 2),
        |occ AS (SELECT doc_id, pos FROM g
        |        WHERE gram IN (SELECT gram FROM dup)),
        |cov AS (SELECT DISTINCT doc_id, p FROM
        |  (SELECT doc_id, unnest(generate_series(pos, pos+7)) AS p FROM occ)),
        |runs AS (SELECT doc_id, p,
        |  lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp FROM cov),
        |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens,
        |  CAST(sum(CASE WHEN pp IS NULL OR p > pp + 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS dup_spans FROM runs GROUP BY 1),
        |tok AS (SELECT doc_id, unnest(w) AS t,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |keep AS (SELECT tok.doc_id, tok.t, tok.pos FROM tok
        |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
        |  WHERE cov.p IS NULL),
        |re AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS ct
        |       FROM keep GROUP BY 1)
        |SELECT d.doc_id, coalesce(re.ct, '') AS text,
        |  coalesce(stats.dup_tokens, 0) AS dup_tokens,
        |  coalesce(stats.dup_spans, 0) AS dup_spans
        |FROM d LEFT JOIN re USING (doc_id)
        |LEFT JOIN stats USING (doc_id)""".stripMargin,
    "q88_retention" ->
      """WITH f AS (SELECT user_id,
        |  CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST(datediff('day', f.cohort_week, a.wk) // 7 AS INT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q89_pagerank" -> pageRankSql(10),
    // q90: synthesis replicated, then the SCD2 collapse as lag (change
    // flags) → running sum (version ids) → rollup → lead (close).
    // q102 (incremental apply) shares it verbatim: incremental must
    // equal the batch recollapse.
    "q90_scd2_history" -> scd2BatchSql,
    "q102_scd2_apply" -> scd2BatchSql,
    // q91: each event belongs to exactly the two 2h/1h-hop windows
    // starting at its hour truncation and one hour before it.
    "q91_sliding_window" ->
      """SELECT strftime(date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR,
        |    '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) o
        |GROUP BY 1, 2""".stripMargin,
    // q92: the q90 version CTE, then DuckDB's native ASOF LEFT JOIN —
    // latest version at-or-before the event date.
    "q92_dim_asof" ->
      """WITH snaps AS (
        |  SELECT c_custkey AS cust_id,
        |    DATE '2024-01-01' + CAST((d.d - 1) * 7 AS INTEGER) AS snap_date,
        |    c_mktsegment || '_' ||
        |      CAST((d.d + c_custkey % 4) // 2 AS VARCHAR) AS segment,
        |    CAST(floor(c_acctbal / 1000) +
        |      CASE WHEN d.d >= 3 AND c_custkey % 7 = 0 THEN 1 ELSE 0 END
        |      AS BIGINT) AS bal_band
        |  FROM customer
        |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS d) d),
        |ch AS (SELECT *,
        |  CASE WHEN lag(segment) OVER w IS DISTINCT FROM segment
        |         OR lag(bal_band) OVER w IS DISTINCT FROM bal_band
        |       THEN 1 ELSE 0 END AS chg
        |  FROM snaps WINDOW w AS (PARTITION BY cust_id ORDER BY snap_date)),
        |v AS (SELECT *, sum(chg) OVER
        |  (PARTITION BY cust_id ORDER BY snap_date) AS ver FROM ch),
        |g AS (SELECT cust_id, ver, min(snap_date) AS valid_from,
        |  any_value(segment) AS segment, any_value(bal_band) AS bal_band
        |  FROM v GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT e.event_id, e.user_id, g.segment AS dim_segment,
        |  g.bal_band AS dim_bal_band
        |FROM e ASOF LEFT JOIN g
        |  ON e.user_id = g.cust_id AND e.d >= g.valid_from""".stripMargin,
    // q93: latest-sequence-wins merge replicated with a row_number
    // window over the unioned snapshot (seq 0) + feed.
    "q93_cdc_apply" ->
      """WITH base AS (
        |  SELECT c_custkey AS id, c_mktsegment AS segment,
        |    round(c_acctbal, 2) AS bal, CAST(0 AS BIGINT) AS seq,
        |    'U' AS op
        |  FROM customer),
        |feed AS (
        |  SELECT c_custkey AS id,
        |    c_mktsegment || '_v' || CAST(v.v AS VARCHAR) AS segment,
        |    round(c_acctbal + v.v, 2) AS bal, CAST(v.v AS BIGINT) AS seq,
        |    CASE WHEN (c_custkey + v.v * 7) % 5 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM customer
        |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS v) v
        |  WHERE (c_custkey + v.v) % 4 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM feed),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY id ORDER BY seq DESC) AS rn FROM u)
        |SELECT id, segment, bal FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,
    "q94_cube" ->
      """SELECT coalesce(o_orderstatus, '') AS status,
        |  coalesce(o_orderpriority, '') AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    // q95: hex-string lexicographic order is md5 numeric order, so
    // substring sharding + in-shard row_number replicate exactly.
    "q95_shard_shuffle" ->
      """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM documents""".stripMargin,
    // q96: the same tie-free composite key ranked by a plain window;
    // decile via integer arithmetic — exact cross-engine.
    "q96_global_rank" ->
      """WITH r AS (
        |  SELECT c_custkey, row_number() OVER (
        |    ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) * 4294967296
        |      + c_custkey) - 1 AS rank0
        |  FROM customer)
        |SELECT c_custkey, rank0 + 1 AS rank,
        |  (rank0 * 10) // (SELECT count(*) FROM customer) AS decile
        |FROM r""".stripMargin,
    "q97_key_profile" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |  round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM events),
        |    6) AS share
        |FROM events GROUP BY user_id
        |ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin,
    // q98: q38's quality formula (×10⁴ as integer), then an exclusive
    // running token sum in quality order against a half-of-total budget.
    "q98_token_budget" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(len(list_filter(words, x -> list_contains(
        |      ['the','a','of','and','to'], x))) AS DOUBLE) AS c_en,
        |    CAST(len(words) AS DOUBLE) AS n_words
        |  FROM w),
        |q AS (SELECT doc_id, n_tok,
        |    CAST(round(round(least(n_words / 200.0, 1.0) * 0.6
        |      + least(c_en / n_words * 5.0, 1.0) * 0.4, 4) * 10000)
        |      AS BIGINT) AS qi
        |  FROM c),
        |r AS (SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (
        |      ORDER BY (10000 - qi) * 4294967296 + doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cume
        |  FROM q)
        |SELECT doc_id, n_tok FROM r
        |WHERE cume + n_tok <= (SELECT sum(n_tok) // 2 FROM w)""".stripMargin,
    // q117: q98's quality/token pipeline with the cumsum and budget
    // both PARTITIONED BY source.
    "q117_budget_per_source" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    CAST(len(list_filter(words, x -> list_contains(
        |      ['the','a','of','and','to'], x))) AS DOUBLE) AS c_en,
        |    CAST(len(words) AS DOUBLE) AS n_words
        |  FROM w),
        |q AS (SELECT doc_id, source, n_tok,
        |    CAST(round(round(least(n_words / 200.0, 1.0) * 0.6
        |      + least(c_en / n_words * 5.0, 1.0) * 0.4, 4) * 10000)
        |      AS BIGINT) AS qi
        |  FROM c),
        |b AS (SELECT source, sum(n_tok) // 2 AS budget FROM w GROUP BY 1),
        |r AS (SELECT doc_id, source, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY (10000 - qi) * 4294967296 + doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cume
        |  FROM q)
        |SELECT r.source, r.doc_id, r.n_tok
        |FROM r JOIN b USING (source)
        |WHERE r.cume + r.n_tok <= b.budget""".stripMargin,
    // q118: the naive inequality join the banded plan replaces.
    "q118_interval_overlap" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS s,
        |    epoch_ms(ts) + 7200000 AS e
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS s,
        |    epoch_ms(ts) + 3600000 AS e
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id AS purchase_id,
        |  v.event_id AS view_id,
        |  greatest(p.s, v.s) AS overlap_start_ms,
        |  least(p.e, v.e) AS overlap_end_ms
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND p.s <= v.e AND v.s <= p.e""".stripMargin,
    // q99: same three-anchor synthesis, hrefs via regexp_extract_all,
    // host = lowercase authority minus port and leading www.
    "q99_outlink_graph" ->
      """WITH pages AS (SELECT c_custkey AS page_id, concat(
        |    '<p>see <a href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 1) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">one</a> and <a class="x" href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 2) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">two</a><a href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 3) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">three</a></p>') AS html
        |  FROM customer),
        |links AS (SELECT page_id, unnest(
        |    regexp_extract_all(html, 'href="([^"]*)"', 1)) AS u
        |  FROM pages),
        |hosts AS (SELECT page_id,
        |    regexp_replace(lower(regexp_extract(trim(u),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\.', '')
        |      AS host
        |  FROM links)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT page_id) AS BIGINT) AS n_pages
        |FROM hosts GROUP BY host""".stripMargin,
    // q100: same blocked pairs, recursive-CTE transitive closure,
    // min-id golden record.
    "q100_entity_resolution" ->
      """WITH RECURSIVE
        |base AS (SELECT c_custkey AS id,
        |  'Customer#' || CAST((c_custkey * 2654435761) % 1000000000
        |    AS VARCHAR) AS name,
        |  c_nationkey AS blk FROM customer),
        |alt AS (SELECT id + 10000000 AS id,
        |  CASE WHEN id % 3 = 0 THEN name ELSE name || 'x' END AS name,
        |  blk FROM base),
        |recs AS (SELECT * FROM base UNION ALL SELECT * FROM alt),
        |keyed AS (SELECT *, CAST(blk AS VARCHAR) || '|' ||
        |  substr(name, 1, 12) AS bk FROM recs),
        |pairs AS MATERIALIZED (
        |  SELECT a.id AS u, b.id AS v FROM keyed a JOIN keyed b
        |  ON a.bk = b.bk AND a.id < b.id
        |    AND levenshtein(a.name, b.name) <= 1),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |ent AS (SELECT r.id, r.name,
        |  coalesce(c.component, r.id) AS entity
        |  FROM recs r LEFT JOIN comp c USING (id)),
        |canon AS (SELECT entity, min(id) AS mid FROM ent GROUP BY entity),
        |golden AS (SELECT c.entity, e.name AS canonical_name
        |  FROM canon c JOIN ent e ON e.id = c.mid)
        |SELECT e.id, e.entity, g.canonical_name
        |FROM ent e JOIN golden g ON e.entity = g.entity""".stripMargin,
    // q101: same two-pass min/max + shared-double bucket arithmetic.
    "q101_histogram" ->
      """WITH s AS (SELECT min(l_extendedprice) AS mn,
        |    max(l_extendedprice) AS mx FROM lineitem),
        |b AS (SELECT CAST(least(floor((l_extendedprice - s.mn) /
        |    ((s.mx - s.mn) / 20)), 19) AS BIGINT) AS bucket
        |  FROM lineitem, s)
        |SELECT bucket,
        |  round(s.mn + bucket * ((s.mx - s.mn) / 20), 4) AS lo,
        |  round(s.mn + (bucket + 1) * ((s.mx - s.mn) / 20), 4) AS hi,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b, s GROUP BY bucket, s.mn, s.mx""".stripMargin,
    // q103: a pinned-value-list pivot IS conditional aggregation — the
    // oracle spells out what Catalyst's PivotFirst rewrites to.
    "q103_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag='A' THEN l_quantity END), 4) AS qty_a,
        |  round(sum(CASE WHEN l_returnflag='N' THEN l_quantity END), 4) AS qty_n,
        |  round(sum(CASE WHEN l_returnflag='R' THEN l_quantity END), 4) AS qty_r
        |FROM lineitem GROUP BY 1""".stripMargin,
    // q104: the classic calendar-join formulation (spine via
    // generate_series + last_value IGNORE NULLS) — deliberately the
    // OTHER plan shape than the engine's join-free union+window.
    "q104_gap_fill" ->
      """WITH points AS (
        |  SELECT user_id % 50 AS sensor,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    round(max(value), 4) AS reading
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |bounds AS (
        |  SELECT sensor, min(day) AS lo, max(day) AS hi
        |  FROM points GROUP BY 1),
        |spine AS (
        |  SELECT sensor, CAST(unnest(generate_series(
        |    CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        |filled AS (
        |  SELECT s.sensor, s.day,
        |    last_value(p.reading IGNORE NULLS) OVER (
        |      PARTITION BY s.sensor ORDER BY s.day) AS reading
        |  FROM spine s LEFT JOIN points p
        |    ON s.sensor = p.sensor AND s.day = p.day)
        |SELECT sensor, strftime(day, '%Y-%m-%d') AS day, reading
        |FROM filled""".stripMargin,
    // q105: the row_number-over-(count DESC, value) formulation the
    // struct-min plan replaces.
    "q105_mode" ->
      """WITH c AS (
        |  SELECT user_id % 100 AS bucket, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY bucket ORDER BY cnt DESC, event_type) AS rn FROM c)
        |SELECT bucket, event_type AS mode_type, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn = 1""".stripMargin,
    // q106: the identical ±1 sweep, as SQL — ends sort before starts at
    // equal timestamps (ORDER BY t, d with d=-1 for ends), giving the
    // same half-open [start, end) semantics.
    "q106_concurrency" ->
      """WITH deltas AS (
        |  SELECT event_type, ts AS t, 1 AS d FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 1 HOUR AS t, -1 AS d
        |  FROM events),
        |run AS (
        |  SELECT event_type, sum(d) OVER (
        |    PARTITION BY event_type ORDER BY t, d
        |    ROWS UNBOUNDED PRECEDING) AS r
        |  FROM deltas)
        |SELECT event_type, CAST(max(r) AS BIGINT) AS max_concurrent
        |FROM run GROUP BY 1""".stripMargin,
    // q107: formula replication (sklearn-smoothed idf), as q71 bm25.
    "q107_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * (ln((1.0 + n.n) / (dfreq.df + 1.0)) + 1.0), 4)
        |      AS tfidf
        |  FROM tf, dfreq, n WHERE tf.term = dfreq.term),
        |r AS (SELECT *, CAST(row_number() OVER (
        |  PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 5""".stripMargin,
    // q108: DuckDB's native ordered string_agg(DISTINCT) — the form
    // whose per-group sort the collect_set→array_sort plan avoids.
    "q108_string_agg" ->
      """SELECT CAST(c_nationkey AS INT) AS nation,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
        |    AS prios,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q109: avg/stddev_samp as plain windows; the filter uses the
    // UNROUNDED z on both sides (the fixture keeps |z| far from 3).
    "q109_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    value * CASE WHEN event_id % 97 = 0 THEN 25 ELSE 1 END AS v
        |  FROM events),
        |z AS (
        |  SELECT *, (v - avg(v) OVER (PARTITION BY event_type)) /
        |    stddev_samp(v) OVER (PARTITION BY event_type) AS zscore
        |  FROM s)
        |SELECT event_id, event_type, round(v, 4) AS v,
        |  round(zscore, 4) AS z
        |FROM z WHERE abs(zscore) > 3""".stripMargin,
    // q119: IDENTICAL oracle to q109 — the agg and window forms are
    // row-identical by contract; DuckDB checks both independently
    "q119_zscore_agg" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    value * CASE WHEN event_id % 97 = 0 THEN 25 ELSE 1 END AS v
        |  FROM events),
        |z AS (
        |  SELECT *, (v - avg(v) OVER (PARTITION BY event_type)) /
        |    stddev_samp(v) OVER (PARTITION BY event_type) AS zscore
        |  FROM s)
        |SELECT event_id, event_type, round(v, 4) AS v,
        |  round(zscore, 4) AS z
        |FROM z WHERE abs(zscore) > 3""".stripMargin,
    // q120: the oracle recomputes the kept blocks from the SOURCE
    // columns — the ≥40-char gate applied to BOTH the body and the
    // trimmed doc_id%60-char teaser (no "body always passes"
    // assumption: current testdata bottoms out at 44 chars, only 4
    // above the gate, and a regenerated dataset could cross it);
    // nav/stub/related-links blocks are constants that always fail
    // the gates. concat_ws skips NULLs like array_join skips dropped
    // blocks, so the HTML parsing is checked implementation-
    // independently for 0, 1 and 2 surviving blocks
    "q120_main_content" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    trim(substr(text, 1, CAST(doc_id % 60 AS INT))) AS teaser
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 40 THEN text END AS b1,
        |    CASE WHEN length(teaser) >= 40 THEN teaser END AS b2
        |  FROM b)
        |SELECT doc_id,
        |  concat_ws(chr(10), b1, b2) AS main_text,
        |  CAST((CASE WHEN b1 IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN b2 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM k""".stripMargin,
    // q121: the same lag + rollup; probabilities are single divisions
    // of exact counts, so round(…, 6) matches cross-engine.
    "q121_transition_matrix" ->
      """WITH seq AS (
        |  SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT prev AS from_type, event_type AS to_type,
        |    count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c""".stripMargin,
    // q122: identical trailing frame + the SAME integer cross-multiplied
    // flag cut ((m·x−s1)²·(m−1) > 4·m·(m·s2−s1²)) — no float at the
    // threshold on either engine; the z column derives from the same
    // integer sums with the same expression tree.
    "q122_rolling_zscore" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, x,
        |    sum(x)     OVER w AS s1,
        |    sum(x * x) OVER w AS s2,
        |    count(x)   OVER w AS m
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, x AS x100,
        |  m AS n_prior, CAST(s1 AS BIGINT) AS sum_prior,
        |  CASE WHEN m * s2 - s1 * s1 > 0 THEN
        |    round((m * x - s1) / m /
        |      sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE) / (m * (m - 1))), 4)
        |  END AS zscore
        |FROM s
        |WHERE m >= 3 AND
        |  (m * x - s1) * (m * x - s1) * (m - 1) >
        |    4 * m * (m * s2 - s1 * s1)""".stripMargin,
    // q123: same re-crawled-copy synthesis + the same Unicode-aware
    // canonical form ('g' makes DuckDB's regexp_replace global like
    // Spark's).
    "q123_dedup_normalized" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |alt AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    upper(substr(text, 1, 20)) || substr(text, 21) || ' !!'
        |      AS text
        |  FROM base),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM alt),
        |n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}]+', ' ', 'g')) AS norm
        |  FROM u)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM n GROUP BY norm""".stripMargin,
    // q124: BRUTE-FORCE all pairs in DuckDB — the oracle certifies the
    // prefix filter's recall=1.0 contract pair-for-pair; the Jaccard
    // cut is integer on both sides (inter·5 ≥ 2·uni), no float at the
    // threshold.
    "q124_set_similarity" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |      for i in generate_series(1, len(words)-2)]) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) AS inter,
        |    CAST(len(a.tri) + len(b.tri)
        |      - len(list_intersect(a.tri, b.tri)) AS BIGINT) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.tri) > 0 AND len(b.tri) > 0)
        |SELECT a_id, b_id, inter, uni FROM p
        |WHERE inter * 5 >= 2 * uni""".stripMargin,
    // q125: same integer quality key as q98; percent_rank is
    // (rank−1)/(n−1) in both engines, a single exact-integer division.
    "q125_quality_rank" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(len(list_filter(words, x -> list_contains(
        |      ['the','a','of','and','to'], x))) AS DOUBLE) AS c_en,
        |    CAST(len(words) AS DOUBLE) AS n_words
        |  FROM w),
        |q AS (SELECT doc_id, source,
        |    CAST(round(round(least(n_words / 200.0, 1.0) * 0.6
        |      + least(c_en / n_words * 5.0, 1.0) * 0.4, 4) * 10000)
        |      AS BIGINT) AS quality_i
        |  FROM c)
        |SELECT source, doc_id, quality_i,
        |  round(percent_rank() OVER (
        |    PARTITION BY source ORDER BY quality_i, doc_id), 6) AS pr
        |FROM q""".stripMargin,
    // q126: same word split, same per-word 2-char windows (DuckDB's
    // w[i:i+1] slice is 1-based inclusive = 2 chars), same
    // deterministic (n DESC, pair) top-50.
    "q126_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        |  SELECT unnest([w[i:i+1]
        |      for i in generate_series(1, length(w)-1)]) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // q128: the \x{…} class syntax is shared by RE2 and java.regex, so
    // the patterns are literally identical; same fixture tail, same
    // strip-complement-and-measure counts, same tie-preference chain.
    "q128_script_detect" ->
      """WITH t AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 1 THEN repeat('ж', CAST(doc_id % 20 AS INT) * 40)
        |    WHEN 2 THEN repeat('λ', CAST(doc_id % 20 AS INT) * 40)
        |    WHEN 3 THEN repeat('字', CAST(doc_id % 20 AS INT) * 40)
        |    ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_latin,
        |    CAST(length(regexp_replace(t, '[^\x{0400}-\x{04FF}]', '', 'g'))
        |      AS BIGINT) AS n_cyr,
        |    CAST(length(regexp_replace(t, '[^\x{0370}-\x{03FF}]', '', 'g'))
        |      AS BIGINT) AS n_greek,
        |    CAST(length(regexp_replace(t, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
        |      AS BIGINT) AS n_cjk
        |  FROM t)
        |SELECT doc_id, n_latin, n_cyr, n_greek, n_cjk,
        |  CASE WHEN n_latin >= n_cyr AND n_latin >= n_greek
        |         AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyr >= n_greek AND n_cyr >= n_cjk THEN 'cyrillic'
        |       WHEN n_greek >= n_cjk THEN 'greek'
        |       ELSE 'cjk' END AS script
        |FROM c""".stripMargin,
    // q129: the definitional selection — ONE global sort + row_number
    // (fine in DuckDB at sf0.01; the engine's bracket+rank plan exists
    // precisely because this formulation cannot scale) at k = ⌈n/2⌉.
    "q129_exact_median" ->
      """WITH t AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296
        |      + (l_orderkey * 8 + l_linenumber) AS key
        |  FROM lineitem),
        |r AS (SELECT cents, row_number() OVER (ORDER BY key) AS rn
        |      FROM t)
        |SELECT cents AS median_cents FROM r
        |WHERE rn = (SELECT (count(*) + 1) // 2 FROM t)""".stripMargin,
    // q130: cross-side brute force (corpus × synthesized batch) — the
    // oracle certifies the INCREMENTAL probe's recall = 1.0 exactly
    // like q124's certifies the batch join's.
    "q130_set_sim_probe" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |      for i in generate_series(1, len(words)-2)]) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |bsh AS (
        |  SELECT doc_id + 2000000 AS b_id,
        |    list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |      for i in generate_series(1, len(words)-2)]) AS tri
        |  FROM (SELECT doc_id, string_split(text || ' zz ww vv', ' ')
        |          AS words
        |        FROM documents WHERE doc_id % 7 = 0)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.b_id,
        |    CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) AS inter,
        |    CAST(len(a.tri) + len(b.tri)
        |      - len(list_intersect(a.tri, b.tri)) AS BIGINT) AS uni
        |  FROM sh a, bsh b
        |  WHERE len(a.tri) > 0 AND len(b.tri) > 0)
        |SELECT a_id, b_id, inter, uni FROM p
        |WHERE inter * 5 >= 2 * uni""".stripMargin,
    // q110: the same E-S keys byte-for-byte — DuckDB casts the 0x-
    // prefixed md5 slice where Spark uses conv(hex, 16, 10).
    "q110_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    pow((CAST(concat('0x', substring(
        |        md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |      / 4294967296.0,
        |      1.0 / n_chars) AS key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
        |    AS sample_rank
        |FROM s ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,
    // q111: DuckDB's median interpolates even-count groups exactly like
    // Spark's exact percentile(0.5).
    "q111_mad_outliers" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    value * CASE WHEN event_id % 97 = 0 THEN 25 ELSE 1 END AS v
        |  FROM events),
        |med AS (SELECT event_type, median(v) AS med FROM s GROUP BY 1),
        |mad AS (
        |  SELECT s.event_type, median(abs(s.v - med.med)) AS mad
        |  FROM s JOIN med USING (event_type) GROUP BY 1)
        |SELECT s.event_id, s.event_type, round(s.v, 4) AS v,
        |  round(abs(s.v - med.med), 4) AS dev,
        |  round(med.med, 4) AS med, round(mad.mad, 4) AS mad
        |FROM s JOIN med USING (event_type) JOIN mad USING (event_type)
        |WHERE mad.mad > 0 AND abs(s.v - med.med) > 10 * mad.mad""".stripMargin,
    // q112: the naive formulation — left join all in-band views, keep
    // rn=1 by (view time, view id); the engine's range-frame window
    // must agree row for row, nulls included.
    "q112_first_touch" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
        |  WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ms,
        |    v.event_id AS view_id, v.ms AS vms,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ms, v.event_id) AS rn
        |  FROM p LEFT JOIN v ON p.user_id = v.user_id
        |    AND v.ms <= p.ms AND v.ms >= p.ms - 1800000)
        |SELECT event_id, user_id, ms AS ts_ms, view_id AS first_view_id,
        |  ms - vms AS first_gap_ms
        |FROM j WHERE rn = 1""".stripMargin,
    // q113: quantile_cont interpolates exactly like Spark's exact
    // percentile; the clamp is least/greatest on both sides.
    "q113_winsorize" ->
      """WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS v,
        |  round(least(greatest(e.value, b.lo), b.hi), 4) AS v_w,
        |  round(b.lo, 4) AS lo, round(b.hi, 4) AS hi
        |FROM events e JOIN b USING (event_type)""".stripMargin,
    // q114: q110's keys ranked per stratum instead of globally.
    "q114_sample_per_stratum" ->
      """WITH s AS (
        |  SELECT source, doc_id, n_chars,
        |    pow((CAST(concat('0x', substring(
        |        md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |      / 4294967296.0,
        |      1.0 / n_chars) AS key
        |  FROM documents WHERE n_chars > 0)
        |SELECT source, doc_id, n_chars, sample_rank FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY key DESC, doc_id) AS INT) AS sample_rank
        |  FROM s)
        |WHERE sample_rank <= 20""".stripMargin,
    // q115: the same first-seen identity in SQL (the naive
    // COUNT(DISTINCT) OVER (ORDER BY day) re-dedups history per day).
    "q115_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id * 100 + event_id % 37 AS visitor,
        |    min(CAST(date_trunc('day', ts) AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d""".stripMargin,
    // q116: q20's lag+cumsum CTE rolled up to session bounds — the
    // same `> gap` split rule: Spark's session window is boundary-
    // INCLUSIVE (an event exactly at last+gap merges; pinned in
    // OperatorsSpec against the lag+cumsum form).
    "q116_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
        |l AS (
        |  SELECT *, lag(ms) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000
        |    THEN 1 ELSE 0 END AS is_new FROM l),
        |c AS (
        |  SELECT *, CAST(sum(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, min(ms) AS start_ms,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM c GROUP BY user_id, session_id""".stripMargin,
    // q131: same packed tie-free key, same integer bucket cut.
    "q131_equidepth_hist" ->
      """WITH k AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |         l_orderkey * 8 + l_linenumber AS lid FROM lineitem),
        |r AS (SELECT cents,
        |        row_number() OVER (ORDER BY cents * 4294967296 + lid) - 1
        |          AS rk,
        |        count(*) OVER () AS n FROM k)
        |SELECT (rk * 10) // n AS bucket, count(*) AS n_rows,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM r GROUP BY 1""".stripMargin,
    // q132: identical long moment sums; division only at the end.
    "q132_sales_trend" ->
      """WITH d AS (
        |  SELECT n_name,
        |    datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      AS x,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |m AS (SELECT n_name, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT n_name, n AS n_days,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 4)
        |    AS slope_cents_per_day,
        |  round((CAST(sy AS DOUBLE) -
        |     (CAST(n * sxy - sx * sy AS DOUBLE) /
        |      CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n,
        |    2) AS intercept_cents
        |FROM m""".stripMargin,
    // q133: the same degree orientation replayed in SQL — tuple
    // comparisons mirror the Spark struct comparisons; all integers.
    "q133_triangles" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |raw AS (SELECT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |e AS (SELECT DISTINCT a, b FROM raw),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS vd
        |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |w AS (SELECT o1.u AS apex, o1.v AS v1, o2.v AS v2
        |  FROM o o1 JOIN o o2
        |  ON o1.u = o2.u AND (o1.vd, o1.v) < (o2.vd, o2.v))
        |SELECT w.apex AS node_id, count(*) AS tri_n
        |FROM w JOIN o oc ON oc.u = w.v1 AND oc.v = w.v2
        |GROUP BY 1""".stripMargin,
    // q148: q133's orientation replay over the deterministically
    // hash-sampled edge set; the estimator itself is cross-engine
    // exact because the sample is.
    "q148_triangles_approx" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |raw AS (SELECT x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |e AS (SELECT DISTINCT a, b FROM raw
        |  WHERE (a * 1000003 + b) % 7 = 0),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
        |    CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS vd
        |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |w AS (SELECT o1.u AS apex, o1.v AS v1, o2.v AS v2
        |  FROM o o1 JOIN o o2
        |  ON o1.u = o2.u AND (o1.vd, o1.v) < (o2.vd, o2.v)),
        |t AS (SELECT w.apex, CAST(count(*) AS BIGINT) AS tri
        |  FROM w JOIN o oc ON oc.u = w.v1 AND oc.v = w.v2 GROUP BY 1)
        |SELECT CAST(sum(tri) AS BIGINT) AS sampled_tri,
        |  CAST(count(*) AS BIGINT) AS n_apexes,
        |  CAST(sum(tri) * 343 AS BIGINT) AS est_triangles FROM t"""
        .stripMargin,
    // q134: bigrams via 1-based list indexing over the same split;
    // ordering on the ROUNDED pmi keeps the top-20 cutoff exact.
    "q134_pmi_bigrams" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |toks AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks
        |  GROUP BY 1),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM uni),
        |bgi AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
        |  WHERE len(ws) >= 2),
        |bg AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM bgi),
        |bgc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM bg
        |  GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(n) AS BIGINT) AS nb FROM bgc)
        |SELECT a, b, n,
        |  round(ln((CAST(n AS DOUBLE) * m.m * m.m) /
        |           (CAST(nb.nb AS DOUBLE) * ua.c * ub.c)), 4) AS pmi
        |FROM bgc, m, nb
        |JOIN uni ua ON bgc.a = ua.t
        |JOIN uni ub ON bgc.b = ub.t
        |WHERE n >= 10
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    // q135: q99's page synthesis with VARIED anchors; two unnests in
    // one SELECT zip positionally, mirroring Spark's arrays_zip.
    "q135_anchor_text" ->
      """WITH pages AS (SELECT c_custkey AS page_id, concat(
        |    '<p>see <a href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 1) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">t', CAST((c_custkey * 5) % 13 AS VARCHAR),
        |    '</a> and <a class="x" href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 2) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">t', CAST((c_custkey * 7) % 13 AS VARCHAR),
        |    '</a><a href="',
        |    ['http','https'][CAST(c_custkey % 2 AS INT) + 1], '://',
        |    CASE WHEN c_custkey % 3 = 0 THEN 'www.' ELSE '' END,
        |    'h', CAST((c_custkey * 3) % 23 AS VARCHAR), '.Example.org',
        |    CASE WHEN c_custkey % 4 = 0 THEN ':443' ELSE '' END,
        |    '/p/', CAST(c_custkey % 7 AS VARCHAR),
        |    '">t', CAST((c_custkey * 11) % 13 AS VARCHAR),
        |    '</a></p>') AS html
        |  FROM customer),
        |links AS (SELECT
        |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS u,
        |    unnest(regexp_extract_all(html, '>([^<>]*)</a>', 1)) AS a
        |  FROM pages),
        |hosts AS (SELECT
        |    regexp_replace(lower(regexp_extract(trim(u),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\.', '')
        |      AS host,
        |    a AS anchor FROM links),
        |c AS (SELECT host, anchor, CAST(count(*) AS BIGINT) AS n
        |  FROM hosts GROUP BY 1, 2),
        |r AS (SELECT host, anchor, n, row_number() OVER (
        |    PARTITION BY host ORDER BY n DESC, anchor) AS rnk FROM c)
        |SELECT host, anchor, n, rnk FROM r WHERE rnk <= 3""".stripMargin,
    // q136: list() over the same 7-row frame + list_reduce replays
    // the identical fold — bit-exact before the round.
    "q136_ewma_spend" ->
      """WITH d AS (SELECT user_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, day, cents,
        |    list(CAST(cents AS DOUBLE)) OVER (
        |      PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr FROM d)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, cents,
        |  round(list_reduce(arr, (acc, x) ->
        |    CAST(0.25 AS DOUBLE) * x + CAST(0.75 AS DOUBLE) * acc), 4)
        |    AS ewma_cents
        |FROM l""".stripMargin,
    // q137: same bucket CASE; integers until the percentage.
    "q137_padding_waste" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS t
        |  FROM documents),
        |e AS (SELECT t, least(t, 1024) AS eff,
        |    CASE WHEN least(t, 1024) <= 64 THEN 64
        |         WHEN least(t, 1024) <= 128 THEN 128
        |         WHEN least(t, 1024) <= 256 THEN 256
        |         WHEN least(t, 1024) <= 512 THEN 512
        |         ELSE 1024 END AS bucket FROM d)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN t > 1024 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated,
        |  CAST(sum(eff) AS BIGINT) AS sum_tokens,
        |  CAST(sum(bucket - eff) AS BIGINT) AS sum_padding,
        |  round(CAST(sum(bucket - eff) AS DOUBLE) * 100 /
        |        (sum(bucket - eff) + sum(eff)), 2) AS waste_pct
        |FROM e GROUP BY 1""".stripMargin,
    // q138: posting build + per-term window over the reduced counts.
    "q138_top_postings" ->
      """WITH tf0 AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM tf0 GROUP BY 1, 2),
        |r AS (SELECT term, doc_id, tf,
        |    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
        |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)
        |      AS rnk
        |  FROM c)
        |SELECT term, df, rnk, doc_id, tf FROM r WHERE rnk <= 3""".stripMargin,
    // q140: two zipped unnests (values + 0-based dims) replicate the
    // posexplode; float→double widening is exact on both sides.
    "q140_label_centroids" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    unnest(range(len(embedding))) AS dim FROM embeddings)
        |SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(CAST(v AS DOUBLE)) / count(*), 4) AS mean_val
        |FROM e GROUP BY 1, 2""".stripMargin,
    "q141_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1998-01-01'
        |GROUP BY 1""".stripMargin,
    // q142: same deterministic (count desc, term) vocab cut.
    "q142_vocab_coverage" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS t FROM documents),
        |vc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks
        |  GROUP BY 1),
        |vocab AS (SELECT t FROM vc ORDER BY c DESC, t LIMIT 20)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 4) AS oov_rate
        |FROM toks LEFT JOIN vocab ON toks.t = vocab.t
        |GROUP BY 1""".stripMargin,
    // q143: each rule recomputed as a definitional count; names match
    // the Expectations helpers' generated strings exactly.
    "q143_expectations" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
        |SELECT 'not_null(l_shipdate)' AS rule, n.n AS n_checked,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_shipdate IS NULL) AS n_violations FROM n
        |UNION ALL
        |SELECT 'in_range(l_quantity,1.0,30.0)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1.0
        |      OR l_quantity > 30.0) FROM n
        |UNION ALL
        |SELECT 'in_range(l_discount,0.0,0.05)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_discount IS NULL OR l_discount < 0.0
        |      OR l_discount > 0.05) FROM n
        |UNION ALL
        |SELECT 'positive(l_extendedprice)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_extendedprice IS NULL OR l_extendedprice <= 0) FROM n
        |UNION ALL
        |SELECT 'matches(l_returnflag)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_returnflag IS NULL
        |      OR NOT regexp_matches(l_returnflag, '^[ARN]$')) FROM n
        |UNION ALL
        |SELECT 'not_null(l_orderkey)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey IS NULL) FROM n
        |UNION ALL
        |SELECT 'unique(l_orderkey,l_linenumber)', n.n,
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
        |     SELECT count(*) AS c FROM lineitem
        |     GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
        |  FROM n
        |UNION ALL
        |SELECT 'fk(l_orderkey->orders)', n.n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem li
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = li.l_orderkey))
        |  FROM n""".stripMargin,
    // q144: the window form the aggregate replaces IS the oracle.
    "q144_topk_agg" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |        o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_orderpriority, rnk, cents, o_orderkey
        |FROM o WHERE rnk <= 3""".stripMargin,
    // q145: ordered string_agg replays the sorted-array render.
    "q145_nested_export" ->
      """SELECT l_orderkey AS o_orderkey,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS total_qty,
        |  string_agg(
        |    l_linenumber || ':' || l_partkey || ':' ||
        |      CAST(round(l_quantity) AS BIGINT),
        |    '|' ORDER BY l_linenumber, l_partkey,
        |      CAST(round(l_quantity) AS BIGINT)) AS items
        |FROM lineitem GROUP BY 1""".stripMargin,
    // q146: q125's quality synthesis + the same integer rank mapping.
    "q146_quantile_normalize" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(len(list_filter(words, x -> list_contains(
        |      ['the','a','of','and','to'], x))) AS DOUBLE) AS c_en,
        |    CAST(len(words) AS DOUBLE) AS n_words
        |  FROM w),
        |q AS (SELECT doc_id, source,
        |    CAST(round(round(least(n_words / 200.0, 1.0) * 0.6
        |      + least(c_en / n_words * 5.0, 1.0) * 0.4, 4) * 10000)
        |      AS BIGINT) AS quality_i
        |  FROM c),
        |k AS (SELECT *, quality_i * 4294967296 + doc_id AS key FROM q),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM k),
        |g AS (SELECT quality_i AS norm_q,
        |    row_number() OVER (ORDER BY key) - 1 AS gidx FROM k),
        |r AS (SELECT doc_id, source, quality_i,
        |    row_number() OVER (PARTITION BY source ORDER BY key) - 1
        |      AS r0,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM k)
        |SELECT r.doc_id, r.source, r.quality_i, g.norm_q
        |FROM r CROSS JOIN nn
        |JOIN g ON g.gidx = CASE WHEN r.m = 1 THEN (nn.n - 1) // 2
        |  ELSE (2 * r.r0 * (nn.n - 1) + (r.m - 1)) // (2 * (r.m - 1))
        |  END""".stripMargin,
    // q147: per-column definitional counts; same cents projection.
    "q147_column_profile" ->
      """WITH t AS (SELECT c_custkey, c_name, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents,
        |    c_mktsegment FROM customer)
        |SELECT 'c_custkey' AS column_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(c_custkey) AS VARCHAR) AS max_s FROM t
        |UNION ALL
        |SELECT 'c_name', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT c_name) AS BIGINT),
        |  min(c_name), max(c_name) FROM t
        |UNION ALL
        |SELECT 'c_nationkey', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT),
        |  CAST(min(c_nationkey) AS VARCHAR),
        |  CAST(max(c_nationkey) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'c_acctbal_cents', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN c_acctbal_cents IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT c_acctbal_cents) AS BIGINT),
        |  CAST(min(c_acctbal_cents) AS VARCHAR),
        |  CAST(max(c_acctbal_cents) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT),
        |  min(c_mktsegment), max(c_mktsegment) FROM t""".stripMargin,
    // q149: the SAME base-31 polynomial over 4-code-point windows,
    // written as explicit ord() terms (31^3=29791, 31^2=961); cut
    // list = [0] ++ hits ++ [n], chunk k spans (cuts[k], cuts[k+1]].
    "q149_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, text,
        |    list_concat(list_concat([0],
        |      list_filter(range(4, n), i ->
        |        (ord(substring(text, i-3, 1)) * 29791
        |       + ord(substring(text, i-2, 1)) * 961
        |       + ord(substring(text, i-1, 1)) * 31
        |       + ord(substring(text, i, 1))) % 64 = 0)),
        |      [n]) AS cuts
        |  FROM d),
        |k AS (SELECT doc_id, text, cuts,
        |    unnest(range(1, len(cuts))) AS kk FROM c)
        |SELECT doc_id, CAST(kk - 1 AS INT) AS chunk_id,
        |  CAST(cuts[kk] + 1 AS INT) AS chunk_start,
        |  CAST(cuts[kk+1] - cuts[kk] AS INT) AS chunk_len,
        |  md5(substring(text, CAST(cuts[kk] + 1 AS INT),
        |    CAST(cuts[kk+1] - cuts[kk] AS INT))) AS chunk_md5
        |FROM k""".stripMargin,
    // q150: all 5 synchronous LPA rounds unrolled — modal neighbour
    // label with smallest-label tie-break via row_number over the
    // grouped counts (Spark's min(struct(-c, label)) equivalently).
    "q150_communities" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o,
        |    CAST(l_partkey AS BIGINT) AS p FROM lineitem),
        |e0 AS (SELECT x.p AS s, y.p AS d
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |  WHERE (x.p * 1000003 + y.p) % 5 = 0),
        |e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
        |l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
        |l1 AS (SELECT node, label FROM (
        |  SELECT e.d AS node, p.label, row_number() OVER (
        |    PARTITION BY e.d ORDER BY count(*) DESC, p.label) AS rn
        |  FROM e JOIN l0 p ON p.node = e.s
        |  GROUP BY e.d, p.label) WHERE rn = 1),
        |l2 AS (SELECT node, label FROM (
        |  SELECT e.d AS node, p.label, row_number() OVER (
        |    PARTITION BY e.d ORDER BY count(*) DESC, p.label) AS rn
        |  FROM e JOIN l1 p ON p.node = e.s
        |  GROUP BY e.d, p.label) WHERE rn = 1),
        |l3 AS (SELECT node, label FROM (
        |  SELECT e.d AS node, p.label, row_number() OVER (
        |    PARTITION BY e.d ORDER BY count(*) DESC, p.label) AS rn
        |  FROM e JOIN l2 p ON p.node = e.s
        |  GROUP BY e.d, p.label) WHERE rn = 1),
        |l4 AS (SELECT node, label FROM (
        |  SELECT e.d AS node, p.label, row_number() OVER (
        |    PARTITION BY e.d ORDER BY count(*) DESC, p.label) AS rn
        |  FROM e JOIN l3 p ON p.node = e.s
        |  GROUP BY e.d, p.label) WHERE rn = 1),
        |l5 AS (SELECT node, label FROM (
        |  SELECT e.d AS node, p.label, row_number() OVER (
        |    PARTITION BY e.d ORDER BY count(*) DESC, p.label) AS rn
        |  FROM e JOIN l4 p ON p.node = e.s
        |  GROUP BY e.d, p.label) WHERE rn = 1)
        |SELECT node AS node_id, label AS community FROM l5""".stripMargin,
    // q151: q149's CDC replay over BOTH q81 snapshot views, per-hash
    // multiset counts full-joined, per-doc min-sum rollup.
    "q151_chunk_diff" ->
      """WITH oldv AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' EDIT' ELSE text END AS text
        |  FROM documents WHERE doc_id % 9 <> 0),
        |newv AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 <> 0),
        |od AS (SELECT doc_id, text, length(text) AS n FROM oldv
        |  WHERE length(text) > 0),
        |oc AS (SELECT doc_id, text, list_concat(list_concat([0],
        |    list_filter(range(4, n), i ->
        |      (ord(substring(text, i-3, 1)) * 29791
        |     + ord(substring(text, i-2, 1)) * 961
        |     + ord(substring(text, i-1, 1)) * 31
        |     + ord(substring(text, i, 1))) % 64 = 0)), [n]) AS cuts
        |  FROM od),
        |ok AS (SELECT doc_id, text, cuts,
        |    unnest(range(1, len(cuts))) AS kk FROM oc),
        |oh AS (SELECT doc_id, md5(substring(text,
        |    CAST(cuts[kk] + 1 AS INT),
        |    CAST(cuts[kk+1] - cuts[kk] AS INT))) AS h FROM ok),
        |ocnt AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS ocn
        |  FROM oh GROUP BY 1, 2),
        |wd AS (SELECT doc_id, text, length(text) AS n FROM newv
        |  WHERE length(text) > 0),
        |wc AS (SELECT doc_id, text, list_concat(list_concat([0],
        |    list_filter(range(4, n), i ->
        |      (ord(substring(text, i-3, 1)) * 29791
        |     + ord(substring(text, i-2, 1)) * 961
        |     + ord(substring(text, i-1, 1)) * 31
        |     + ord(substring(text, i, 1))) % 64 = 0)), [n]) AS cuts
        |  FROM wd),
        |wk AS (SELECT doc_id, text, cuts,
        |    unnest(range(1, len(cuts))) AS kk FROM wc),
        |wh AS (SELECT doc_id, md5(substring(text,
        |    CAST(cuts[kk] + 1 AS INT),
        |    CAST(cuts[kk+1] - cuts[kk] AS INT))) AS h FROM wk),
        |wcnt AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS wcn
        |  FROM wh GROUP BY 1, 2),
        |j AS (SELECT coalesce(o.doc_id, w.doc_id) AS doc_id,
        |    coalesce(o.ocn, 0) AS co, coalesce(w.wcn, 0) AS cn
        |  FROM ocnt o FULL JOIN wcnt w
        |  ON o.doc_id = w.doc_id AND o.h = w.h)
        |SELECT doc_id, CAST(sum(co) AS BIGINT) AS n_old,
        |  CAST(sum(cn) AS BIGINT) AS n_new,
        |  CAST(sum(least(co, cn)) AS BIGINT) AS n_kept
        |FROM j GROUP BY 1""".stripMargin,
    // q152: chunk pieces by STRING identity (no xxhash64 in DuckDB),
    // boiler = pieces in >= 3 distinct docs, ordered reassembly via
    // string_agg, absent/empty docs normalize to ''.
    "q152_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, text, list_concat(list_concat([0],
        |    list_filter(range(4, n), i ->
        |      (ord(substring(text, i-3, 1)) * 29791
        |     + ord(substring(text, i-2, 1)) * 961
        |     + ord(substring(text, i-1, 1)) * 31
        |     + ord(substring(text, i, 1))) % 64 = 0)), [n]) AS cuts
        |  FROM d),
        |k AS (SELECT doc_id, text, cuts,
        |    unnest(range(1, len(cuts))) AS kk FROM c),
        |p AS (SELECT doc_id, kk, substring(text,
        |    CAST(cuts[kk] + 1 AS INT),
        |    CAST(cuts[kk+1] - cuts[kk] AS INT)) AS piece FROM k),
        |b AS (SELECT piece FROM (
        |  SELECT piece, count(DISTINCT doc_id) AS nd FROM p GROUP BY 1)
        |  WHERE nd >= 3),
        |cl AS (SELECT doc_id, string_agg(piece, '' ORDER BY kk) AS clean
        |  FROM p ANTI JOIN b USING (piece) GROUP BY doc_id)
        |SELECT dd.doc_id,
        |  CAST(length(coalesce(cl.clean, '')) AS INT) AS clean_len,
        |  md5(coalesce(cl.clean, '')) AS clean_md5
        |FROM documents dd LEFT JOIN cl ON dd.doc_id = cl.doc_id""".stripMargin,
    // q153: q124's brute-force shape with the asymmetric containment
    // predicate over ORDERED pairs — certifies recall = 1.0 for the
    // prefix-filtered join.
    "q153_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
        |      for i in generate_series(1, len(words)-2)]) AS tri
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) AS inter,
        |    CAST(len(a.tri) AS BIGINT) AS n_a,
        |    CAST(len(b.tri) AS BIGINT) AS n_b
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.tri) > 0 AND len(b.tri) > 0)
        |SELECT a_id, b_id, inter, n_a, n_b FROM p
        |WHERE inter * 5 >= 4 * n_a""".stripMargin,
    // q156: both model tables recomputed definitionally; the CASE
    // replays the backoff arithmetic with identical op order per
    // branch (one ln of a quotient / one ln of 0.4·(c+1)/(T+V));
    // round(avg, 4) absorbs sum-order ULPs as in q73.
    "q156_lm_bigram" ->
      """WITH refd AS (SELECT string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 100),
        |u AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
        |  (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        |bgi AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM refd
        |  WHERE len(ws) >= 2),
        |b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2,
        |  CAST(count(*) AS BIGINT) AS c2 FROM bgi GROUP BY 1, 2),
        |g AS (SELECT CAST(sum(c1) AS DOUBLE) AS t,
        |  CAST(count(*) AS DOUBLE) AS v FROM u),
        |di AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM
        |  (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 2),
        |tr AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM di)
        |SELECT doc_id, round(avg(CASE WHEN b.c2 IS NOT NULL
        |    THEN ln(CAST(b.c2 AS DOUBLE) / u.c1)
        |    ELSE ln(CAST(0.4 AS DOUBLE) *
        |      (coalesce(u2.c1, 0) + CAST(1.0 AS DOUBLE)) / (g.t + g.v))
        |    END), 4) AS lm2_score
        |FROM tr
        |LEFT JOIN b USING (w1, w2)
        |LEFT JOIN u USING (w1)
        |LEFT JOIN u u2 ON u2.w1 = tr.w2, g
        |GROUP BY 1""".stripMargin,
    // q158: the trigram chain — three model tables recomputed
    // definitionally; the CASE replays the three-branch backoff with
    // identical op order per branch (ln of one product/quotient;
    // α·α written as an explicit double product so both engines fold
    // the same IEEE value); round(avg, 4) as in q73/q156.
    "q158_lm_trigram" ->
      """WITH refd AS (SELECT string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 100),
        |u AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
        |  (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        |bgi AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM refd
        |  WHERE len(ws) >= 2),
        |b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2,
        |  CAST(count(*) AS BIGINT) AS c2 FROM bgi GROUP BY 1, 2),
        |tgi AS (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM refd
        |  WHERE len(ws) >= 3),
        |t3 AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3,
        |  CAST(count(*) AS BIGINT) AS c3 FROM tgi GROUP BY 1, 2, 3),
        |g AS (SELECT CAST(sum(c1) AS DOUBLE) AS t,
        |  CAST(count(*) AS DOUBLE) AS v FROM u),
        |di AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM
        |  (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3),
        |tr AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2,
        |  ws[i + 2] AS w3 FROM di)
        |SELECT doc_id, round(avg(CASE
        |    WHEN t3.c3 IS NOT NULL
        |    THEN ln(CAST(t3.c3 AS DOUBLE) / b.c2)
        |    WHEN b23.c2 IS NOT NULL
        |    THEN ln(CAST(0.4 AS DOUBLE) * CAST(b23.c2 AS DOUBLE) / u2.c1)
        |    ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
        |      (coalesce(u3.c1, 0) + CAST(1.0 AS DOUBLE)) / (g.t + g.v))
        |    END), 4) AS lm3_score
        |FROM tr
        |LEFT JOIN t3 USING (w1, w2, w3)
        |LEFT JOIN b USING (w1, w2)
        |LEFT JOIN b b23 ON b23.w1 = tr.w2 AND b23.w2 = tr.w3
        |LEFT JOIN u u2 ON u2.w1 = tr.w2
        |LEFT JOIN u u3 ON u3.w1 = tr.w3, g
        |GROUP BY 1""".stripMargin,
    // q172: the order-4 chain — four model tables recomputed
    // definitionally; the CASE replays the four-branch backoff with
    // identical op order per branch (α powers as explicit left-assoc
    // double products); round(avg, 4) as in q73/q156/q158.
    "q172_lm_4gram" ->
      """WITH refd AS (SELECT string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 100),
        |u AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
        |  (SELECT unnest(ws) AS w1 FROM refd) GROUP BY 1),
        |bgi AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM refd
        |  WHERE len(ws) >= 2),
        |b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2,
        |  CAST(count(*) AS BIGINT) AS c2 FROM bgi GROUP BY 1, 2),
        |tgi AS (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM refd
        |  WHERE len(ws) >= 3),
        |t3 AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3,
        |  CAST(count(*) AS BIGINT) AS c3 FROM tgi GROUP BY 1, 2, 3),
        |qgi AS (SELECT ws, unnest(range(1, len(ws) - 2)) AS i FROM refd
        |  WHERE len(ws) >= 4),
        |q4 AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3,
        |  ws[i + 3] AS w4, CAST(count(*) AS BIGINT) AS c4 FROM qgi
        |  GROUP BY 1, 2, 3, 4),
        |g AS (SELECT CAST(sum(c1) AS DOUBLE) AS t,
        |  CAST(count(*) AS DOUBLE) AS v FROM u),
        |di AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 2)) AS i FROM
        |  (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 4),
        |tr AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2,
        |  ws[i + 2] AS w3, ws[i + 3] AS w4 FROM di)
        |SELECT doc_id, round(avg(CASE
        |    WHEN q4.c4 IS NOT NULL
        |    THEN ln(CAST(q4.c4 AS DOUBLE) / t3.c3)
        |    WHEN t3b.c3 IS NOT NULL
        |    THEN ln(CAST(0.4 AS DOUBLE) * CAST(t3b.c3 AS DOUBLE) / b23.c2)
        |    WHEN b34.c2 IS NOT NULL
        |    THEN ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
        |      CAST(b34.c2 AS DOUBLE) / u3.c1)
        |    ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
        |      CAST(0.4 AS DOUBLE) *
        |      (coalesce(u4.c1, 0) + CAST(1.0 AS DOUBLE)) / (g.t + g.v))
        |    END), 4) AS lm4_score
        |FROM tr
        |LEFT JOIN q4 USING (w1, w2, w3, w4)
        |LEFT JOIN t3 USING (w1, w2, w3)
        |LEFT JOIN t3 t3b ON t3b.w1 = tr.w2 AND t3b.w2 = tr.w3
        |  AND t3b.w3 = tr.w4
        |LEFT JOIN b b23 ON b23.w1 = tr.w2 AND b23.w2 = tr.w3
        |LEFT JOIN b b34 ON b34.w1 = tr.w3 AND b34.w2 = tr.w4
        |LEFT JOIN u u3 ON u3.w1 = tr.w3
        |LEFT JOIN u u4 ON u4.w1 = tr.w4, g
        |GROUP BY 1""".stripMargin,
    // q163: both feature models recomputed definitionally (uni+bi
    // features; target slice doc_id < 100), the per-feature term
    // replayed with identical op order (two lns of a quotient,
    // integer counts + CAST 1.0 AS DOUBLE); round(sum, 4) absorbs
    // sum-order ULPs.
    "q163_dsir_weights" -> ("WITH " + dsirModelSteps +
      """SELECT doc_id, round(sum(
        |    ln((coalesce(tc.ct, 0) + CAST(1.0 AS DOUBLE)) / (g.tg + g.v))
        |  - ln((coalesce(rc.cr, 0) + CAST(1.0 AS DOUBLE)) / (g.rg + g.v))
        |  ), 4) AS dsir_score
        |FROM rf LEFT JOIN tc USING (f) LEFT JOIN rc USING (f), g
        |GROUP BY 1""".stripMargin),
    // q173: q163's replay at feature order 3 — the model CTEs are
    // GENERATED at the same order as the Spark operator's parameter
    // (dsirModelStepsN), so the two sides can't drift.
    "q173_dsir_trigram" -> ("WITH " + dsirModelStepsN(3) +
      """SELECT doc_id, round(sum(
        |    ln((coalesce(tc.ct, 0) + CAST(1.0 AS DOUBLE)) / (g.tg + g.v))
        |  - ln((coalesce(rc.cr, 0) + CAST(1.0 AS DOUBLE)) / (g.rg + g.v))
        |  ), 4) AS dsir_score
        |FROM rf LEFT JOIN tc USING (f) LEFT JOIN rc USING (f), g
        |GROUP BY 1""".stripMargin),
    // q166: the q163 score arithmetic, then the identical Gumbel key
    // score − ln(−ln u) with u from the md5-seeded uniform (the q110
    // esKey construction); top-50 by (key desc, doc_id).
    "q166_dsir_resample" -> ("WITH " + dsirModelSteps +
      """, sc AS (SELECT doc_id, round(sum(
        |    ln((coalesce(tc.ct, 0) + CAST(1.0 AS DOUBLE)) / (g.tg + g.v))
        |  - ln((coalesce(rc.cr, 0) + CAST(1.0 AS DOUBLE)) / (g.rg + g.v))
        |  ), 4) AS dsir_score
        |FROM rf LEFT JOIN tc USING (f) LEFT JOIN rc USING (f), g
        |GROUP BY 1),
        |es AS (SELECT doc_id, dsir_score, dsir_score
        |  - ln(-ln((CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |    / 4294967296.0)) AS key FROM sc)
        |SELECT doc_id, dsir_score,
        |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
        |    AS sample_rank
        |FROM es ORDER BY key DESC, doc_id LIMIT 50""".stripMargin),
    // q168: per-pattern OVERLAPPING position counts recomputed
    // definitionally (substr equality at every start position),
    // summed for n_hits; matched = the >0-count patterns joined in
    // pattern-list order — exactly the kernel's contract.
    "q168_blocklist" ->
      """WITH m AS (SELECT
        |  ['slow', 'big data', 'hash join', 'customer'] AS ps),
        |d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(ps, p -> coalesce(list_sum(list_transform(
        |    range(1, length(t) - length(p) + 2),
        |    i -> CASE WHEN substr(t, i, length(p)) = p
        |      THEN 1 ELSE 0 END)), 0)) AS cs
        |  FROM d, m)
        |SELECT doc_id, CAST(list_sum(cs) AS INT) AS n_hits,
        |  array_to_string(list_transform(
        |    list_filter(range(1, len(ps) + 1), k -> cs[k] > 0),
        |    k -> ps[k]), ',') AS matched
        |FROM h, m WHERE list_sum(cs) > 0""".stripMargin,
    // q170: the constituent q37/q38/q39/q52/q168 definitional SQL
    // composed over one shared CTE chain; identical per-signal
    // arithmetic and rounding as the standalone oracles.
    "q170_quality_signals" ->
      """WITH w AS (SELECT doc_id, text,
        |  string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words,
        |  [words[i] || ' ' || words[i+1]
        |    for i in generate_series(1, len(words)-1)] AS bg FROM w),
        |tops AS (SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bg) AS g FROM b)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |c AS (SELECT doc_id,
        |  len(list_filter(words, x ->
        |    list_contains(['the','a','of','and','to'], x))) AS c_en,
        |  len(list_filter(words, x ->
        |    list_contains(['der','die','das','und'], x))) AS c_de,
        |  len(list_filter(words, x ->
        |    list_contains(['el','la','los','y'], x))) AS c_es,
        |  len(list_filter(words, x ->
        |    list_contains(['le','les','et','du'], x))) AS c_fr,
        |  len(list_filter(words, x ->
        |    list_contains(['的','是','在'], x))) AS c_zh
        | FROM w),
        |m AS (SELECT
        |  ['slow', 'big data', 'hash join', 'customer'] AS ps),
        |h AS (SELECT doc_id, list_sum(list_transform(ps, p ->
        |    coalesce(list_sum(list_transform(
        |      range(1, length(lower(text)) - length(p) + 2),
        |      i -> CASE WHEN substr(lower(text), i, length(p)) = p
        |        THEN 1 ELSE 0 END)), 0))) AS bl
        |  FROM w, m)
        |SELECT w.doc_id,
        |  CAST(length(w.text) AS BIGINT) AS n_chars,
        |  CAST(len(w.words) AS BIGINT) AS n_words,
        |  CAST(len(string_split_regex(w.text, '\s+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(w.text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
        |         AND c_en >= c_zh THEN 'en'
        |       WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh
        |         THEN 'de'
        |       WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
        |       WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
        |  CAST(c_en AS BIGINT) AS stop_hits_en,
        |  round(least(CAST(len(w.words) AS DOUBLE) / 200.0, 1.0) * 0.6
        |    + least(CAST(c_en AS DOUBLE) / len(w.words) * 5.0, 1.0)
        |      * 0.4, 4) AS quality,
        |  CASE WHEN len(w.words) > 0 THEN
        |    round(CAST(len(w.words) - len(list_distinct(w.words))
        |      AS DOUBLE) / len(w.words), 4) ELSE 0.0 END
        |    AS dup_word_frac,
        |  CASE WHEN len(bg) > 0 THEN
        |    round(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
        |      / len(bg), 4) ELSE 0.0 END AS dup_bigram_frac,
        |  CASE WHEN len(bg) > 0 THEN
        |    round(CAST(coalesce(tops.topc, 0) AS DOUBLE) / len(bg), 4)
        |    ELSE 0.0 END AS top_bigram_frac,
        |  CAST(h.bl AS BIGINT) AS blocklist_hits
        |FROM w JOIN b USING (doc_id) JOIN c USING (doc_id)
        |  JOIN h USING (doc_id) LEFT JOIN tops USING (doc_id)""".stripMargin,
    // q167: each whitened coordinate replayed as
    // ((Σ emb[i]·m[i]) − c)·s over identical double operands (the
    // oracle string is generated from the frozen model itself).
    "q167_pca_whiten" -> pcaOracleSql,
    // q154: the greedy encode loop unrolled — each step merges the
    // adjacent pair with min (rank, position), packed as rank*100+pos
    // (pos ≤ 11 < 100); list_min of an empty candidate list is NULL =
    // done. 11 steps cover the 12-char word cap.
    "q154_bpe_encode" -> ("WITH " + bpeUnrolledSteps(BpeMerges, steps = 11) +
      """enc AS (SELECT unnest(l) AS token FROM t11)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM enc
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin),
    // q179: the byte-level twin — same unrolled lowest-rank merge
    // machinery over the punctuation-rich fixture's case-preserving
    // \S+ words; printable-ASCII byte symbols ARE the chars, so the
    // char-split replay is exact (the multi-byte unicode path is
    // BpeSpec-pinned instead).
    "q179_bbpe_encode" -> ("WITH " + bpeUnrolledSteps(BbpeMerges,
      steps = 11,
      wordsSql = "SELECT doc_id, unnest(regexp_extract_all(" +
        "text || ' ' || (" +
        BbpeTails.map(t => "'" + t.replace("'", "''") + "'")
          .mkString("[", ", ", "]") +
        ")[CAST(doc_id % 5 + 1 AS INT)], '\\S+')) AS w FROM documents") +
      """enc AS (SELECT unnest(l) AS token FROM t11)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM enc
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin),
    // q185: the pre-tokenized byte chain — words are letter/digit/
    // punct RUNS (branch-disjoint alternation, the q39 parity class).
    "q185_bbpe_pretok" -> ("WITH " + bpeUnrolledSteps(BbpePretokMerges,
      steps = 11,
      wordsSql = "SELECT doc_id, unnest(regexp_extract_all(" +
        "text || ' ' || (" +
        BbpeTails.map(t => "'" + t.replace("'", "''") + "'")
          .mkString("[", ", ", "]") +
        ")[CAST(doc_id % 5 + 1 AS INT)], " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS w FROM documents") +
      """enc AS (SELECT unnest(l) AS token FROM t11)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM enc
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin),
    // q157: same unrolled machinery, finished as per-doc counts
    "q157_bpe_token_count" -> ("WITH " + bpeUnrolledSteps(BpeMerges, steps = 11) +
      """fin AS (SELECT doc_id, l FROM t11)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens
        |FROM fin GROUP BY 1""".stripMargin),
    // q159: the greedy longest-match consume loop unrolled — each
    // step takes the LONGEST vocab prefix at position s (list_max
    // over matching lengths), '##'-prefixing after the first piece;
    // no match -> whole word ['[UNK]'] and s jumps past the end. 12
    // steps cover the 12-char word cap (>= 1 char consumed/step).
    "q159_wordpiece_encode" -> ("WITH " + wordpieceUnrolledSteps(WpVocab, steps = 12) +
      """enc AS (SELECT unnest(l) AS token FROM t12)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM enc
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin),
    // q161: the Viterbi DP unrolled — step j extends dp scores (sc)
    // and best token lists (tk) to position j; the (score, -i)
    // struct list_max picks max score then EARLIEST parent, exactly
    // the kernel's strict-> tie-break. Logp literals are shortest
    // round-trip doubles -> identical IEEE dp sums in both engines.
    "q161_unigram_encode" -> ("WITH " + unigramUnrolledSteps(UgPieces, UgLogps,
      steps = 12, maxPieceLen = 6) +
      """enc AS (SELECT unnest(CASE WHEN tk[length(w) + 1] IS NULL
        |  THEN ['[UNK]'] ELSE tk[length(w) + 1] END) AS token FROM t12)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM enc
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin),
    // q164: the three replay chains composed in one WITH via
    // prefixed CTE names; per-family totals union to the same
    // (tokenizer, n_words, n_tokens, fertility) rows — one BIGINT
    // division each, identical on both engines.
    "q164_tokenizer_compare" -> ("WITH " +
      bpeUnrolledSteps(BpeMerges, steps = 11, prefix = "b_") +
      wordpieceUnrolledSteps(WpVocab, steps = 12, prefix = "w_") +
      unigramUnrolledSteps(UgPieces, UgLogps, steps = 12,
        maxPieceLen = 6, prefix = "u_") +
      """bt AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM b_t11),
        |wt AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM w_t12),
        |ut AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(CASE WHEN tk[length(w) + 1] IS NULL
        |    THEN ['[UNK]'] ELSE tk[length(w) + 1] END)) AS BIGINT)
        |    AS n_tokens FROM u_t12)
        |SELECT 'bpe' AS tokenizer, n_words, n_tokens,
        |  round(n_tokens / n_words, 4) AS fertility FROM bt
        |UNION ALL SELECT 'wordpiece', n_words, n_tokens,
        |  round(n_tokens / n_words, 4) FROM wt
        |UNION ALL SELECT 'unigram', n_words, n_tokens,
        |  round(n_tokens / n_words, 4) FROM ut""".stripMargin),
    // q178: the synthesis arithmetic replayed from c_custkey with
    // identical op order — possible = |s1|+|s2|+|s4| (s3 blank →
    // contributes 0), vote_index = ((t + p) / (2·p)) · 100; all
    // operands exact small-integer doubles, so only the final
    // quotient/product carry float bits and both engines fold them
    // identically.
    "q178_vote_index" ->
      """WITH b AS (SELECT c_custkey AS id,
        |  abs(CAST(((c_custkey + 1) % 21) - 10 AS DOUBLE))
        |    + abs(CAST(((c_custkey + 2) % 21) - 10 AS DOUBLE))
        |    + abs(CAST(((c_custkey + 4) % 21) - 10 AS DOUBLE))
        |    AS possible,
        |  CAST((c_custkey % 101) - 50 AS DOUBLE) AS t2023,
        |  CAST((c_custkey * 7 % 101) - 50 AS DOUBLE) AS tlife
        |  FROM customer)
        |SELECT id, round(possible, 4) AS possible_score,
        |  round((t2023 + possible) / (2.0 * possible) * 100, 4)
        |    AS vote_index_2023,
        |  round((tlife + possible) / (2.0 * possible) * 100, 4)
        |    AS vote_index_lifetime
        |FROM b""".stripMargin,
    // q181: the PDF round trip must recover the source text exactly —
    // the oracle IS the source column, which makes the generator,
    // Flate inflater and string unescape all hash-checked.
    "q181_pdf_text" ->
      "SELECT doc_id, text AS pdf_text FROM documents",
    // q182: q164's three chains + the byte-BPE chain (same [a-z]+
    // word stream — the corpus is lowercase-only, so \S+ ≡ [a-z]+
    // and byte symbols ≡ chars; only the merge table differs).
    "q182_tokenizer_compare4" -> ("WITH " +
      bpeUnrolledSteps(BpeMerges, steps = 11, prefix = "b_") +
      bpeUnrolledSteps(BbpeMerges, steps = 11, prefix = "bb_") +
      wordpieceUnrolledSteps(WpVocab, steps = 12, prefix = "w_") +
      unigramUnrolledSteps(UgPieces, UgLogps, steps = 12,
        maxPieceLen = 6, prefix = "u_") +
      """bt AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM b_t11),
        |bbt AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM bb_t11),
        |wt AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM w_t12),
        |ut AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(CASE WHEN tk[length(w) + 1] IS NULL
        |    THEN ['[UNK]'] ELSE tk[length(w) + 1] END)) AS BIGINT)
        |    AS n_tokens FROM u_t12)
        |SELECT 'bpe' AS tokenizer, n_words, n_tokens,
        |  round(n_tokens / n_words, 4) AS fertility FROM bt
        |UNION ALL SELECT 'byte_bpe', n_words, n_tokens,
        |  round(n_tokens / n_words, 4) FROM bbt
        |UNION ALL SELECT 'wordpiece', n_words, n_tokens,
        |  round(n_tokens / n_words, 4) FROM wt
        |UNION ALL SELECT 'unigram', n_words, n_tokens,
        |  round(n_tokens / n_words, 4) FROM ut""".stripMargin),
    // q183: the waterfilling replayed via the sorted-prefix
    // characterization — capped iff prefix + cap·(n−rn+1) ≤ B, fill
    // level θ = (B − Σ_capped cap)/(n − K); identical op order, and
    // every operand is an exact small double (long sums ×1.2 / ×1.0),
    // so only θ and epochs carry float bits — folded identically.
    "q183_unimax_mix" ->
      """WITH s AS (SELECT source,
        |  CAST(sum(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
        |    AS DOUBLE) AS n_tokens
        |  FROM documents GROUP BY 1),
        |z AS (SELECT source, n_tokens, n_tokens * 1.2 AS cap FROM s),
        |t AS (SELECT sum(n_tokens) * 1.0 AS B, count(*) AS n FROM z),
        |c AS (SELECT source, n_tokens, cap,
        |    row_number() OVER (ORDER BY cap, source) AS rn,
        |    coalesce(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prefix
        |  FROM z),
        |g AS (SELECT c.*, t.B, t.n,
        |    (prefix + cap * (n - rn + 1)) <= B AS capped FROM c, t),
        |l AS (SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0)
        |    AS capsum,
        |  coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS k FROM g)
        |SELECT g.source, g.n_tokens, round(g.cap, 4) AS cap,
        |  round(CASE WHEN g.capped THEN g.cap
        |    ELSE (g.B - l.capsum) / CAST(g.n - l.k AS DOUBLE) END, 4)
        |    AS allocation,
        |  round(CASE WHEN g.capped THEN g.cap
        |    ELSE (g.B - l.capsum) / CAST(g.n - l.k AS DOUBLE) END
        |    / g.n_tokens, 4) AS epochs
        |FROM g, l""".stripMargin,
    // q40 (r15 upgrade from rows-only): the rolling polynomial with
    // md5-prefix word values replayed via the prepend-0 list_reduce
    // (DuckDB's reduce has no init — the prepended 0 IS the init:
    // (0·31 + h1) % P reproduces the Spark fold's first step). All
    // integer arithmetic under 2^38 — exact both engines.
    "q40_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        w -> CAST(CAST(concat('0x', substring(md5(w), 1, 8))
        |          AS UBIGINT) % 4294967291 AS BIGINT))),
        |    (acc, h) -> (acc * 31 + h) % 4294967291) AS fingerprint
        |FROM documents""".stripMargin,
    // q50 (r15 upgrade from rows-only): the md5-prefix bucket + the
    // same boundary CASE fold (train < 80, val < 90, else test).
    "q50_split_assign" ->
      """SELECT doc_id, CASE
        |    WHEN CAST(concat('0x', substring(
        |        md5(CAST(doc_id AS VARCHAR) || '0'), 1, 8))
        |      AS UBIGINT) % 100 < 80 THEN 'train'
        |    WHEN CAST(concat('0x', substring(
        |        md5(CAST(doc_id AS VARCHAR) || '0'), 1, 8))
        |      AS UBIGINT) % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // q68 (r15 upgrade from rows-only): the whole mix replayed — the
    // source-name-ordered weight normalization, per-source counts,
    // total = min(maxRepeat·cnt/t), rate = t·total/cnt, and the
    // md5-seeded Bernoulli keep. Literals CAST to DOUBLE (DuckDB
    // parses bare decimals as DECIMAL); op order mirrors the Scala
    // fold exactly.
    "q68_mix_sources" ->
      """WITH n AS (SELECT source, count(*) AS cnt FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |w AS (SELECT source, cnt,
        |    (CASE source WHEN 'src0' THEN CAST(0.4 AS DOUBLE)
        |      WHEN 'src1' THEN CAST(0.4 AS DOUBLE)
        |      ELSE CAST(0.2 AS DOUBLE) END)
        |    / ((CAST(0.4 AS DOUBLE) + CAST(0.4 AS DOUBLE))
        |       + CAST(0.2 AS DOUBLE)) AS t
        |  FROM n),
        |tot AS (SELECT min((1 * cnt) / t) AS total FROM w),
        |r AS (SELECT source, (w.t * tot.total) / w.cnt AS rate
        |  FROM w, tot)
        |SELECT d.doc_id, d.source, CAST(0 AS BIGINT) AS copy
        |FROM documents d JOIN r USING (source)
        |WHERE (CAST(concat('0x', substring(
        |    md5(CAST(d.doc_id AS VARCHAR) || '0'), 1, 8)) AS UBIGINT)
        |  + 0.5) / 4294967296.0 < r.rate""".stripMargin,
    // q184: q183's unrounded rates + the md5-seeded per-doc uniform
    // (q110/q166's construction), identical copy arithmetic.
    "q184_unimax_sample" ->
      """WITH s AS (SELECT source,
        |  CAST(sum(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
        |    AS DOUBLE) AS n_tokens
        |  FROM documents GROUP BY 1),
        |z AS (SELECT source, n_tokens, n_tokens * 1.2 AS cap FROM s),
        |t AS (SELECT sum(n_tokens) * 1.0 AS B, count(*) AS n FROM z),
        |c AS (SELECT source, n_tokens, cap,
        |    row_number() OVER (ORDER BY cap, source) AS rn,
        |    coalesce(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prefix
        |  FROM z),
        |g AS (SELECT c.*, t.B, t.n,
        |    (prefix + cap * (n - rn + 1)) <= B AS capped FROM c, t),
        |l AS (SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0)
        |    AS capsum,
        |  coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS k FROM g),
        |r AS (SELECT g.source,
        |    (CASE WHEN g.capped THEN g.cap
        |     ELSE (g.B - l.capsum) / CAST(g.n - l.k AS DOUBLE) END)
        |     / g.n_tokens AS rate
        |  FROM g, l),
        |d AS (SELECT doc_id, source,
        |    (CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |      / 4294967296.0 AS u
        |  FROM documents),
        |m AS (SELECT d.doc_id, d.source,
        |    CAST(floor(r.rate) AS INT) + CASE
        |      WHEN d.u < r.rate - floor(r.rate) THEN 1 ELSE 0 END
        |      AS copies
        |  FROM d JOIN r USING (source))
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(0, copies - 1)) AS BIGINT)
        |    AS copy
        |FROM m WHERE copies > 0""".stripMargin,
    // q186: temperatureTargets (share^0.5 / Σ share^0.5 — sqrt is
    // correctly rounded in both engines) + mixSources' own wsum
    // re-normalization, total and rate arithmetic in the same op
    // order, then the q68/q184 md5 uniform + copy explode. Counts
    // are integers so N is exact under any summation order; the two
    // non-integral folds (z, wsum) are a handful of like-magnitude
    // doubles (empirically order-insensitive — the q183 bet).
    "q186_temperature_mix" ->
      """WITH n AS (SELECT source, count(*) AS cnt FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |nn AS (SELECT sum(CAST(cnt AS DOUBLE)) AS N FROM n),
        |p AS (SELECT source, cnt, sqrt(CAST(cnt AS DOUBLE) / nn.N)
        |    AS pw FROM n, nn),
        |zz AS (SELECT sum(pw) AS z FROM p),
        |t0 AS (SELECT source, cnt, pw / zz.z AS t0 FROM p, zz),
        |ws AS (SELECT sum(t0) AS wsum FROM t0),
        |w AS (SELECT source, cnt, t0 / ws.wsum AS t FROM t0, ws),
        |tot AS (SELECT min((3 * cnt) / t) AS total FROM w),
        |r AS (SELECT source, (w.t * tot.total) / w.cnt AS rate
        |  FROM w, tot),
        |d AS (SELECT doc_id, source,
        |    (CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '0'), 1, 8)) AS UBIGINT)
        |      + 0.5) / 4294967296.0 AS u
        |  FROM documents),
        |m AS (SELECT d.doc_id, d.source,
        |    CAST(floor(r.rate) AS INT) + CASE
        |      WHEN d.u < r.rate - floor(r.rate) THEN 1 ELSE 0 END
        |      AS copies
        |  FROM d JOIN r USING (source))
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(0, copies - 1)) AS BIGINT)
        |    AS copy
        |FROM m WHERE copies > 0""".stripMargin,
    // q187: the round trip's oracle is the SOURCE COLUMN — writer,
    // gzip, framing and HTTP split all sit on the hash (q181's
    // discipline for the archival-input face)
    "q187_warc_roundtrip" ->
      "SELECT doc_id, text FROM documents",
    // q189: SQ8 search exact-reranks its candidates, so the OUTPUT is
    // the exact brute-force top-k — same oracle as q35/q36 (the
    // quantization decides only which candidates reach the rerank;
    // AnnSpec pins the equality at both gate SFs)
    "q189_ann_sq8" -> annTopkSql,
    // q193: both arms and the fusion replay exactly — set Jaccard is
    // integer intersection/union counts (one double division, same
    // value both engines), the dense arm is the q35 cosine, RRF sums
    // two 1/(60+rank) doubles (order-free), ties break by neighbor
    "q193_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS words
        |  FROM documents),
        |q AS (SELECT doc_id, words FROM d WHERE doc_id < 10),
        |lex AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    CAST(len(list_intersect(q.words, c.words)) AS DOUBLE)
        |      / len(list_distinct(list_concat(q.words, c.words))) AS sim
        |  FROM q JOIN d c ON c.doc_id != q.doc_id),
        |lr AS (SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS r
        |  FROM lex),
        |v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum([CAST(x AS DOUBLE)*x for x in embedding])) AS nrm
        |  FROM embeddings),
        |s AS (SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum([CAST(qv.embedding[i] AS DOUBLE)*c.embedding[i]
        |      for i in generate_series(1,64)])/(qv.nrm*c.nrm) AS cos
        |  FROM v qv JOIN v c ON qv.vec_id < 10 AND c.vec_id != qv.vec_id),
        |vr AS (SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS r
        |  FROM s),
        |u AS (
        |  SELECT query_id, neighbor_id, 1.0/(60+r) AS c FROM lr WHERE r <= 20
        |  UNION ALL
        |  SELECT query_id, neighbor_id, 1.0/(60+r) AS c FROM vr WHERE r <= 20),
        |f AS (SELECT query_id, neighbor_id, sum(c) AS rrf
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
        |  FROM f)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |  round(rrf, 6) AS rrf_score
        |FROM fr WHERE rank <= 10""".stripMargin,
    "q194_mmr_rerank" -> mmrOracleSql(lam = 0.7, k = 5, n = 20),
    "q195_bm25_search" -> (bm25PerQuerySql + """
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      |FROM lr WHERE rank <= 10""".stripMargin),
    // q196: the q195 rank list (top-20) fused with the q35-cosine
    // rank list (top-20) under weights 1.0 / 1.5 — both arms and the
    // weighted sum replay exactly (1.5 is binary-exact)
    "q196_hybrid_bm25" -> (bm25PerQuerySql + """,
      |v AS (SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE)*x for x in embedding])) AS nrm
      |  FROM embeddings),
      |sc AS (SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_sum([CAST(qv.embedding[ix] AS DOUBLE)*c.embedding[ix]
      |      for ix in generate_series(1,64)])/(qv.nrm*c.nrm) AS cos
      |  FROM v qv JOIN v c ON qv.vec_id < 10 AND c.vec_id != qv.vec_id),
      |vr AS (SELECT query_id, neighbor_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM sc),
      |u AS (
      |  SELECT query_id, neighbor_id, 1.0/(60+rank) AS c FROM lr
      |  WHERE rank <= 20
      |  UNION ALL
      |  SELECT query_id, neighbor_id, 1.5/(60+rank) AS c FROM vr
      |  WHERE rank <= 20),
      |f AS (SELECT query_id, neighbor_id, sum(c) AS rrf
      |  FROM u GROUP BY 1, 2),
      |fr AS (SELECT query_id, neighbor_id, rrf, row_number() OVER (
      |    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
      |  FROM f)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
      |  round(rrf, 6) AS rrf_score
      |FROM fr WHERE rank <= 10""".stripMargin)
  )

  /** q167 oracle, BUILT from the same frozen constants the query
    * uses (each float component rendered as the shortest round-trip
    * DOUBLE of its float value — the exact operand `dot_f` widens
    * to), so literal drift between query and oracle is impossible. */
  private def pcaOracleSql: String = {
    def dlist(xs: Seq[Double]): String =
      xs.map(java.lang.Double.toString).mkString("[", ", ", "]") +
        "::DOUBLE[]"
    val dim = PcaComps.head.size
    val ms = PcaComps.zipWithIndex.map { case (c, j) =>
      s"${dlist(c.map(_.toDouble))} AS m${j + 1}"
    }.mkString(",\n  ")
    val ws = PcaComps.indices.map { j =>
      val c = java.lang.Double.toString(PcaOffsets(j))
      val sc = java.lang.Double.toString(PcaScales(j))
      s"""round((list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> embedding[i] * m${j + 1}[i]))
         |  - CAST('$c' AS DOUBLE)) * CAST('$sc' AS DOUBLE), 4)
         |  AS w${j + 1}""".stripMargin
    }.mkString(",\n  ")
    s"""WITH m AS (SELECT
       |  $ms)
       |SELECT vec_id,
       |  $ws
       |FROM embeddings, m WHERE embedding IS NOT NULL""".stripMargin
  }

  /** Shared oracle machinery for q163/q166: the DSIR feature models
    * (uni+bigram counts for the doc_id<100 target slice and the full
    * corpus, plus the T/V scalars) as CTEs `tc`, `rf`, `rc`, `g` —
    * callers append the scoring/resampling stages. */
  private val dsirModelSteps: String = dsirModelStepsN(2)

  /** The DSIR oracle's model CTEs at feature order `n`: target/raw
    * feature streams are unigrams UNION ALL bigrams UNION ALL … up to
    * n-grams (each level length-guarded), counted into tc/rc with the
    * tg/rg/v scalars — generated so the Spark operator's order
    * parameter and the SQL replay can't drift. */
  private def dsirModelStepsN(n: Int): String = {
    def grams(j: Int, withDoc: Boolean): String = {
      val sel = (0 until j).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
      val doc = if (withDoc) "doc_id, " else ""
      val whereTail =
        if (withDoc) s"WHERE len(ws) >= $j"
        else s"WHERE doc_id < 100 AND len(ws) >= $j"
      if (j == 1) {
        if (withDoc) "SELECT doc_id, unnest(ws) AS f FROM ws0"
        else "SELECT unnest(ws) AS f FROM ws0 WHERE doc_id < 100"
      } else
        s"SELECT $doc$sel AS f FROM\n" +
          s"      (SELECT ${doc}ws, unnest(range(1, len(ws) - ${j - 2})) AS i FROM ws0\n" +
          s"       $whereTail)"
    }
    val tUnion = (1 to n).map(grams(_, withDoc = false))
      .mkString("\n    UNION ALL\n    ")
    val rUnion = (1 to n).map(grams(_, withDoc = true))
      .mkString("\n    UNION ALL\n    ")
    s"""ws0 AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |tf AS (SELECT f FROM (
      |    $tUnion)),
      |tc AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM tf
      |  GROUP BY 1),
      |rf AS (SELECT doc_id, f FROM (
      |    $rUnion)),
      |rc AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM rf
      |  GROUP BY 1),
      |g AS (SELECT
      |  (SELECT CAST(sum(ct) AS DOUBLE) FROM tc) AS tg,
      |  (SELECT CAST(sum(cr) AS DOUBLE) FROM rc) AS rg,
      |  (SELECT CAST(count(*) AS DOUBLE) FROM
      |    (SELECT f FROM tc UNION SELECT f FROM rc)) AS v)
      |""".stripMargin
  }

  /** Shared oracle machinery for q161: the unigram Viterbi DP as
    * `steps` unrolled CTE stages over DuckDB lists — sc carries
    * dp[0..j] (NULL = unreachable), tk the best token list per
    * position. Candidate splits scan back at most `maxPieceLen`
    * positions (no frozen piece is longer). */
  private def unigramUnrolledSteps(pieces: Seq[String],
      logps: Seq[Double], steps: Int, maxPieceLen: Int,
      prefix: String = ""): String = {
    val P = prefix
    val ps = pieces.map(p => s"'$p'").mkString("[", ", ", "]")
    val ls = logps.map(d => java.lang.Double.toString(d))
      .mkString("[", ", ", "]") + "::DOUBLE[]"
    val sb = new StringBuilder
    sb.append(
      s"""${P}m AS (SELECT $ps AS ps, $ls AS lls),
         |${P}t0 AS (
         |  SELECT doc_id, w, [0.0]::DOUBLE[] AS sc,
         |    [[]::VARCHAR[]] AS tk
         |  FROM (SELECT doc_id,
         |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |        FROM documents)
         |  WHERE length(w) BETWEEN 2 AND 12),
         |""".stripMargin)
    for (j <- 1 to steps) {
      sb.append(
        s"""${P}a$j AS (SELECT doc_id, w, sc, tk, CASE WHEN $j > length(w)
           |  THEN NULL ELSE list_max(list_transform(list_filter(
           |    range(greatest(0, $j - $maxPieceLen), $j),
           |    i -> sc[i + 1] IS NOT NULL AND
           |      lls[list_position(ps, substr(w, i + 1, $j - i))]
           |        IS NOT NULL),
           |    i -> {'s': sc[i + 1] +
           |      lls[list_position(ps, substr(w, i + 1, $j - i))],
           |      'ni': -i})) END AS bp
           |  FROM ${P}t${j - 1}, ${P}m),
           |${P}t$j AS (SELECT doc_id, w,
           |  CASE WHEN $j > length(w) THEN sc ELSE sc || [bp.s] END AS sc,
           |  CASE WHEN $j > length(w) THEN tk
           |       WHEN bp IS NULL THEN tk || [NULL::VARCHAR[]]
           |       ELSE tk || [tk[-bp.ni + 1]
           |         || [substr(w, -bp.ni + 1, $j + bp.ni)]] END AS tk
           |  FROM ${P}a$j),
           |""".stripMargin)
    }
    sb.toString
  }

  /** Shared oracle machinery for q159: the WordPiece greedy
    * longest-match loop as `steps` unrolled CTE stages over DuckDB
    * lists, carrying (doc_id, word, next position s, piece list l)
    * into a final stage the caller appends. */
  private def wordpieceUnrolledSteps(vocab: Seq[String], steps: Int,
      prefix: String = ""): String = {
    val P = prefix
    val vs = vocab.map(p => s"'$p'").mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb.append(
      s"""${P}v AS (SELECT $vs AS vb),
         |${P}t0 AS (
         |  SELECT doc_id, w, 1 AS s, []::VARCHAR[] AS l
         |  FROM (SELECT doc_id,
         |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |        FROM documents)
         |  WHERE length(w) BETWEEN 2 AND 12),
         |""".stripMargin)
    for (i <- 1 to steps) {
      sb.append(
        s"""${P}s$i AS (SELECT doc_id, w, s, l, CASE WHEN s > length(w)
           |  THEN NULL ELSE list_max(list_filter(
           |    range(1, length(w) - s + 2),
           |    L -> list_position(vb, (CASE WHEN s > 1 THEN '##' ELSE ''
           |      END) || substr(w, s, L)) > 0)) END AS bl
           |  FROM ${P}t${i - 1}, ${P}v),
           |${P}t$i AS (SELECT doc_id, w,
           |  CASE WHEN s > length(w) THEN s
           |       WHEN bl IS NULL THEN length(w) + 1
           |       ELSE s + bl END AS s,
           |  CASE WHEN s > length(w) THEN l
           |       WHEN bl IS NULL THEN ['[UNK]']
           |       ELSE l || [(CASE WHEN s > 1 THEN '##' ELSE '' END)
           |         || substr(w, s, bl)] END AS l FROM ${P}s$i),
           |""".stripMargin)
    }
    sb.toString
  }

  /** Shared oracle machinery for q154/q157: the kernel's
    * one-pair-per-step greedy loop as `steps` unrolled CTE stages
    * over DuckDB lists, carrying (doc_id, token list) into a final
    * stage the caller appends. */
  private def bpeUnrolledSteps(merges: Seq[String], steps: Int,
      prefix: String = "",
      wordsSql: String = "SELECT doc_id, unnest(regexp_extract_all(" +
        "lower(text), '[a-z]+')) AS w FROM documents"): String = {
    val P = prefix
    val ms = merges.map(p => s"'$p'").mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb.append(
      s"""${P}m AS (SELECT $ms AS ms),
         |${P}t0 AS (
         |  SELECT doc_id, regexp_extract_all(w, '.') AS l
         |  FROM ($wordsSql)
         |  WHERE length(w) BETWEEN 2 AND 12),
         |""".stripMargin)
    for (i <- 1 to steps) {
      sb.append(
        s"""${P}s$i AS (SELECT doc_id, l, list_min(list_transform(
           |  list_filter(range(1, len(l)),
           |    x -> list_position(ms, l[x] || '|' || l[x+1]) > 0),
           |  x -> list_position(ms, l[x] || '|' || l[x+1]) * 100 + x)) AS bp
           |  FROM ${P}t${i - 1}, ${P}m),
           |${P}t$i AS (SELECT doc_id, CASE WHEN bp IS NULL THEN l ELSE
           |  l[1:(bp % 100) - 1] || [l[bp % 100] || l[(bp % 100) + 1]]
           |    || l[(bp % 100) + 2:len(l)] END AS l FROM ${P}s$i),
           |""".stripMargin)
    }
    sb.toString
  }
}
