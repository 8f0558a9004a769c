package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's parameterized roster queries as a typed API
  * (ref: queries/election_candidates_by_electionyear.sql:39-48 — runtime
  * `ANY(%(election_years)s)` / stages / office_ids / state_ids OR
  * state_names params, invoked from votervoice/match.py:107-126).
  *
  * Mapping onto the driver star schema (as q44): orders plays
  * election_candidate (the fact), customer plays candidate, nation
  * plays office, region plays state.
  *
  * Scale contract: every param compiles to a scan-pushable predicate.
  * Year lists become OR-of-range predicates on the raw date column —
  * never `year(col).isin(...)`, which wraps the stored column in a
  * function and forfeits parquet row-group pruning.
  */
object RosterQuery {

  /** Runtime query parameters, all optional (empty = no filter) — the
    * reference SQL's placeholder set. */
  final case class RosterParams(
      electionYears: Seq[Int] = Nil,
      stages: Seq[String] = Nil,
      officeIds: Seq[Int] = Nil,
      stateIds: Seq[Int] = Nil,
      stateNames: Seq[String] = Nil)

  /** Year list → OR of half-open timestamp ranges on the stored column,
    * merging contiguous runs (1995,1996 → one [1995-01-01, 1997-01-01)
    * range). Both range bounds and their disjunction push down to the
    * parquet scan. */
  private[graft] def yearRangePredicate(
      dateCol: Column, years: Seq[Int]): Option[Column] = {
    if (years.isEmpty) return None
    val runs = years.distinct.sorted
      .foldLeft(List.empty[(Int, Int)]) {
        case ((lo, hi) :: rest, y) if y == hi + 1 => (lo, y) :: rest
        case (acc, y) => (y, y) :: acc
      }.reverse
    val preds = runs.map { case (lo, hi) =>
      dateCol >= lit(f"$lo%04d-01-01").cast("timestamp") &&
        dateCol < lit(f"${hi + 1}%04d-01-01").cast("timestamp")
    }
    Some(preds.reduce(_ || _))
  }

  private def inList(c: Column, vs: Seq[Any]): Option[Column] =
    if (vs.isEmpty) None else Some(c.isin(vs: _*))

  private def factFilter(p: RosterParams): Column =
    Seq(
      yearRangePredicate(col("o_orderdate"), p.electionYears),
      inList(col("o_orderstatus"), p.stages)
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))

  /** The state_id-OR-state_name disjunction
    * (election_candidates_by_electionyear.sql:44-48: "state_id =
    * ANY(...) OR state.name = ANY(...)"). Empty on both sides = no
    * filter; one side empty = plain IN list. */
  private def stateFilter(p: RosterParams): Column =
    Seq(
      inList(col("c_nationkey"), p.stateIds),
      inList(col("r_name"), p.stateNames)
    ).flatten.reduceOption(_ || _).getOrElse(lit(true))

  /** election_candidates_by_electionyear.sql end to end: DISTINCT ON
    * over LEFT-joined dims ("left join to assume data entry error",
    * ibid:25) with the full param set. This is q44's plan: dims
    * broadcast, fact filter at the scan, the only shuffle is the
    * DISTINCT ON key. */
  def candidates(t: Tables, p: RosterParams): DataFrame = {
    val joined = t.orders
      .filter(factFilter(p))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
      .filter(stateFilter(p))
      .filter(inList(col("n_nationkey"), p.officeIds).getOrElse(lit(true)))
    DistinctOn(joined,
      keys = Seq(col("c_custkey")),
      order = Seq(col("o_orderdate").desc, col("o_orderkey")))
      .select(
        col("c_custkey"), col("c_name"),
        col("n_name").as("office"), col("r_name").as("state"),
        col("o_orderkey").as("latest_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"))
  }

  /** The reference's OTHER parameterized roster query
    * (office-candidates_by_congstatus.sql: incumbents whose status
    * date falls BETWEEN the runtime term bounds, refined by the same
    * office/state params; invoked from match.py:118-125 with bounds
    * derived from the scrape years). Mapping: orders plays the status
    * fact — activity count per entity inside the window. Date bounds
    * are raw inclusive range predicates on the stored column (scan-
    * pushable); dim joins only enter the plan when a param needs them.
    */
  def incumbents(
      t: Tables, startDate: String, endDate: String,
      p: RosterParams = RosterParams()): DataFrame = {
    val statusInWindow = t.orders
      .filter(col("o_orderdate").between(startDate, endDate))
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val base = t.customer
      .join(statusInWindow, col("c_custkey") === col("o_custkey"))
    val needDims = p.officeIds.nonEmpty || p.stateNames.nonEmpty
    val refined =
      if (needDims)
        base
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"), "left")
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"), "left")
          .filter(stateFilter(p))
          .filter(inList(col("n_nationkey"), p.officeIds).getOrElse(lit(true)))
      else
        base.filter(inList(col("c_nationkey"), p.stateIds).getOrElse(lit(true)))
    refined.select(col("c_custkey"), col("c_name"), col("n_orders"))
  }

  /** The reference's main() glue (votervoice/match.py:107-126): derive
    * the roster-query params from the TRANSFORMED scraped records —
    * office names resolve to ids through the office reference list
    * (`office_list.get(r["office"])`; names absent from the list drop
    * out, exactly like the reference's `if r["office"] in office_list`
    * guard), distinct numeric state ids collect directly.
    *
    * ONE query over the records: a single global aggregate gathers the
    * distinct office names and state ids (nulls and non-numeric states
    * drop out), the names explode against the broadcast reference list,
    * and one collect returns both. Each distinct name contributes the
    * id of every list row carrying it; a list row whose id is not
    * numeric is skipped. The sets are tiny and compile into
    * scan-pushable predicates.
    */
  def paramsFromRecords(
      records: DataFrame, officeCol: String, stateCol: String,
      officeList: DataFrame, officeNameCol: String, officeIdCol: String,
      electionYears: Seq[Int] = Nil, stages: Seq[String] = Nil): RosterParams = {
    val rows = records
      .agg(collect_set(col(officeCol)).as("__names"),
        collect_set(col(stateCol).cast("int")).as("__sids"))
      .select(explode_outer(col("__names")).as("__name"), col("__sids"))
      .join(broadcast(officeList.select(col(officeNameCol).as("__name"),
        col(officeIdCol).cast("int").as("__id"))), Seq("__name"), "left")
      .select(col("__id"), col("__sids"))
      .collect()
    RosterParams(
      electionYears = electionYears, stages = stages,
      officeIds = rows.collect { case r if !r.isNullAt(0) => r.getInt(0) }
        .toSeq.sorted,
      stateIds = rows.head.getSeq[Int](1).sorted)
  }

  /** The candidates-by-year semi-join shape (q05): entities with ≥ 1
    * fact row inside the param window, dims attached, dims filtered by
    * state names. INNER dim joins here — this is the strict variant the
    * reference uses for reference-list pulls. */
  def activeEntities(t: Tables, p: RosterParams): DataFrame = {
    val factF = t.orders.filter(factFilter(p)).select("o_custkey")
    val regionDim = p.stateNames match {
      case Nil => t.region
      case names => t.region.filter(col("r_name").isin(names: _*))
    }
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(regionDim), col("n_regionkey") === col("r_regionkey"))
      .join(factF, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
  }
}
