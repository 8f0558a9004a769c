package graft

import org.apache.spark.sql.functions._
import graft.operators.RosterQuery
import graft.operators.RosterQuery.RosterParams
import graft.sources.Jdbc

/** Param compilation for the reference's runtime-parameterized roster
  * queries and the JDBC source plumbing. */
class RosterQuerySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("yearRangePredicate merges contiguous years into single ranges") {
    val df = Seq("1995-06-01", "1996-06-01", "1997-06-01", "1999-06-01", "2000-06-01")
      .toDF("d").select(col("d").cast("timestamp").as("d"))
    def years(ys: Int*): Set[String] =
      df.filter(RosterQuery.yearRangePredicate(col("d"), ys).get)
        .select(date_format(col("d"), "yyyy")).as[String].collect().toSet
    assert(years(1995, 1996) == Set("1995", "1996"))
    // non-contiguous list → OR of ranges, gap excluded
    assert(years(1995, 1997, 1999) == Set("1995", "1997", "1999"))
    // duplicates and order don't matter
    assert(years(1996, 1995, 1996) == Set("1995", "1996"))
    assert(RosterQuery.yearRangePredicate(col("d"), Nil).isEmpty)
  }

  test("empty params = no filters (full DISTINCT ON roster)") {
    val t = Tables(spark, sf)
    val all = RosterQuery.candidates(t, RosterParams())
    // one row per customer with >= 1 order
    val expected = t.orders.select("o_custkey").distinct().count()
    assert(all.count() == expected)
  }

  test("stages and stateIds params filter the roster") {
    val t = Tables(spark, sf)
    val p = RosterParams(stages = Seq("F"), stateIds = Seq(3))
    val out = RosterQuery.candidates(t, p)
    // spot-check against a direct formulation
    val direct = t.orders.filter(col("o_orderstatus") === "F")
      .join(t.customer.filter(col("c_nationkey") === 3),
        col("o_custkey") === col("c_custkey"))
      .select("c_custkey").distinct().count()
    assert(out.count() == direct)
  }

  test("officeIds param restricts the office dimension") {
    val t = Tables(spark, sf)
    val out = RosterQuery.candidates(t, RosterParams(officeIds = Seq(7)))
    assert(out.select("office").distinct().count() == 1)
  }

  test("incumbents: date window + param refinement") {
    val t = Tables(spark, sf)
    val all = RosterQuery.incumbents(t, "1998-01-01", "1998-12-31")
    val direct = t.orders
      .filter(col("o_orderdate").between("1998-01-01", "1998-12-31"))
      .select("o_custkey").distinct().count()
    assert(all.count() == direct)
    // state refinement without dims in the plan
    val byState = RosterQuery.incumbents(t, "1998-01-01", "1998-12-31",
      RosterQuery.RosterParams(stateIds = Seq(2)))
    assert(byState.count() ==
      all.join(t.customer.filter(col("c_nationkey") === 2)
          .select(col("c_custkey").as("k")),
        col("c_custkey") === col("k")).count())
    // office refinement pulls the dims in
    val byOffice = RosterQuery.incumbents(t, "1998-01-01", "1998-12-31",
      RosterQuery.RosterParams(officeIds = Seq(2)))
    assert(byOffice.count() == byState.count())
  }

  test("paramsFromRecords: office names resolve through the reference list") {
    val t = Tables(spark, sf)
    // scraped records carrying office NAMES and state ids — one office
    // name is not in the reference list and must drop out (match.py's
    // `if r["office"] in office_list` guard)
    val records = Seq(
      ("NATION_3", 3), ("NATION_3", 7), ("No Such Office", 3), ("NATION_12", 12))
      .toDF("office", "state_id")
    val p = RosterQuery.paramsFromRecords(
      records, "office", "state_id",
      officeList = t.nation, officeNameCol = "n_name", officeIdCol = "n_nationkey",
      electionYears = Seq(1996), stages = Seq("F"))
    assert(p.officeIds == Seq(3, 12)) // "No Such Office" dropped
    assert(p.stateIds == Seq(3, 7, 12))
    assert(p.electionYears == Seq(1996) && p.stages == Seq("F"))
    // and the derived params drive the roster query end to end
    val out = RosterQuery.candidates(t, p)
    assert(out.select("office").distinct().as[String].collect().toSet
      .subsetOf(Set("NATION_3", "NATION_12")))
  }

  test("paramsFromRecords: the one-query form returns the two-query params") {
    // the earlier form: two separate collects over the records
    def twoQuery(records: org.apache.spark.sql.DataFrame,
        list: org.apache.spark.sql.DataFrame): RosterParams = {
      val officeIds = records
        .select(col("office").as("__name")).distinct()
        .join(list.select(col("name").as("__name"),
          col("id").cast("int").as("__id")), "__name")
        .select("__id").collect().map(_.getInt(0)).toSeq.sorted
      val stateIds = records
        .select(col("state").cast("int").as("__sid"))
        .filter(col("__sid").isNotNull).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      RosterParams(electionYears = Seq(2020), officeIds = officeIds,
        stateIds = stateIds)
    }
    // "Senate" is shared by two list rows; "Mayor" is not in the list
    val list = Seq(("Senate", "4"), ("House", "7"), ("Senate", "9"),
      ("Governor", "2")).toDF("name", "id")
    val batches = Map(
      "absent office, null and non-numeric states" -> Seq(
        ("House", "12"), ("Mayor", "3"), ("House", null), ("Senate", "TX"),
        (null, "5"), ("House", "12")),
      "name shared by two list rows" -> Seq(
        ("Senate", "1"), ("Senate", "1"), ("Governor", "8")),
      "empty batch" -> Seq.empty[(String, String)])
    for ((what, rows) <- batches) {
      val records = rows.toDF("office", "state")
      val got = RosterQuery.paramsFromRecords(records, "office", "state",
        list, "name", "id", electionYears = Seq(2020))
      assert(got == twoQuery(records, list), what)
    }
    // the cases exercise what they claim
    val shared = RosterQuery.paramsFromRecords(
      batches("name shared by two list rows").toDF("office", "state"),
      "office", "state", list, "name", "id")
    assert(shared.officeIds == Seq(2, 4, 9) && shared.stateIds == Seq(1, 8))
    val empty = RosterQuery.paramsFromRecords(
      Seq.empty[(String, String)].toDF("office", "state"),
      "office", "state", list, "name", "id")
    assert(empty.officeIds.isEmpty && empty.stateIds.isEmpty)
  }

  test("Jdbc.reader builds without a live database; load is the only connect") {
    val cfg = Jdbc.Config(
      url = "jdbc:postgresql://localhost:5432/roster", table = "candidate",
      user = Some("u"), password = Some("p"),
      partitionColumn = Some("candidate_id"),
      lowerBound = Some(0L), upperBound = Some(1000000L),
      numPartitions = Some(32))
    Jdbc.reader(spark, cfg) // must not throw (no connection yet)
  }

  test("Jdbc.configFor fails fast with the missing key name") {
    val e = intercept[IllegalArgumentException] {
      Jdbc.configFor(spark, "candidate")
    }
    assert(e.getMessage.contains("graft.jdbc.url"))
    spark.conf.set("graft.jdbc.url", "jdbc:postgresql://cfg/db")
    try {
      val cfg = Jdbc.configFor(spark, "candidate")
      assert(cfg.url == "jdbc:postgresql://cfg/db" && cfg.table == "candidate")
    } finally spark.conf.unset("graft.jdbc.url")
  }
}
