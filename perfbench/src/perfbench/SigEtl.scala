package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{FuzzyMatch, HtmlTable, RosterQuery}
import graft.sources.Pipeline

/** The paper's staged pipeline on generated scorecard pages: extract
  * (HtmlTable) → transform (TextFunctions) → roster query (RosterQuery
  * over generated star tables) → fuzzy match (FuzzyMatch.link under the
  * reference rules) → four stage exports (Pipeline.run / StageSink). */
final class SigEtl(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import SigEtl._
  import spark.implicits._

  private val rng = new Random(seed)
  private val roster: IndexedSeq[Cand] = genRoster(rng)
  private val byId = roster.map(c => c.id -> c).toMap
  private val years = Seq(2022, 2024)
  private val active = roster.filter(_.years.exists(years.contains))
  private val activeByState = active.groupBy(_.state)
  private val soIds: Map[(String, String), Int] =
    roster.map(c => (c.state, c.office)).distinct.sorted
      .zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
  private val officeList = soIds.toSeq
    .map { case ((_, office), id) => (office, id) }
    .toDF("name", "id")
  private val soMap: Map[String, String] =
    soIds.map { case ((s, o), id) => s"$s|$o" -> id.toString }

  private var tables: Tables = _
  private val exports = mutable.Map.empty[Int, Pipeline.Exports]
  private var lastRoster: DataFrame = _

  def setup(rep: Int): Unit = {
    val dir = s"$work/sig_tables_$rep"
    roster.map(_.state).distinct.sorted.zipWithIndex
      .map { case (s, i) => (i.toLong + 1, s) }
      .toDF("r_regionkey", "r_name").coalesce(1)
      .write.parquet(s"$dir/region.parquet")
    val stateKey = roster.map(_.state).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i.toLong + 1) }.toMap
    soIds.toSeq.map { case ((s, o), id) => (id.toLong, o, stateKey(s)) }
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    roster.map(c => (c.id, c.fullName, soIds((c.state, c.office)).toLong,
        c.first, c.middle, c.last, c.suffix, c.nick, c.party, c.district))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_first", "c_middle",
        "c_last", "c_suffix", "c_nick", "c_party", "c_district")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    roster.flatMap(c => c.years.zipWithIndex.map { case (y, j) =>
        (c.id * 10 + j, c.id, java.sql.Date.valueOf(f"$y%04d-11-0${j + 1}"),
          if (j == 0) "G" else "P") })
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    tables = Tables(spark, dir)
  }

  /** Regenerated on each call rather than cached, so that no state grows
    * with the number of operations before the heap is read. */
  private def batch(i: Int): Seq[Rec] =
    genBatch(new Random(seed * 1000003L + i), i, active)

  def op(i: Int): Long = {
    val recs = batch(i)
    val pages = recs.grouped(RowsPerPage).zipWithIndex.map { case (rs, p) =>
      (i.toLong * 1000 + p, page(rs))
    }.toSeq.toDF("page_id", "page")
    var open = -1
    def step(name: String): Unit = { Trace.close(open); open = Trace.open(name) }
    val ex = Pipeline.run(spark,
      extract = () => {
        step("sources.extract")
        HtmlTable.toRecords(pages, "page", Seq("page_id"))
          .select(col("page_id"), col("row_idx"),
            col("record")("info").as("info"),
            col("record")("office").as("office"),
            col("record")("rating").as("rating"))
      },
      transform = df => { step("functions.transform"); transform(df) },
      matcher = df => {
        Trace.close(open)
        open = -1
        val (matched, query) = matchStage(df)
        open = Trace.open("operators.link")
        (matched, query)
      },
      baseDir = s"$work/sig_out", session = "2023-2024",
      at = Instant.ofEpochSecond(1700000000L + i))
    Trace.close(open)
    exports(i) = ex
    recs.size
  }

  private def transform(df: DataFrame): DataFrame = {
    val info = col("info")
    df.select(
      (col("page_id") * 1000 + col("row_idx")).as("s_id"),
      TextFunctions.firstName(info).as("firstname"),
      TextFunctions.middleName(info).as("middlename"),
      TextFunctions.lastName(info).as("lastname"),
      TextFunctions.extractSuffix(info).as("suffix"),
      TextFunctions.replaceValues(TextFunctions.party(info), PartyNames)
        .as("party"),
      TextFunctions.state(info).as("state_id"),
      TextFunctions.district(info).as("district"),
      TextFunctions.nullToEmpty(
        TextFunctions.replaceValues(col("office"), OfficeNames)).as("office"),
      col("rating"))
      .withColumn("so_id", TextFunctions.replaceValues(
        concat_ws("|", col("state_id"), col("office")), soMap))
      .withColumn("__mid_lc", lower(col("middlename")))
  }

  private def rosterFor(transformed: DataFrame): DataFrame = {
    val params = RosterQuery.paramsFromRecords(transformed, "office",
      "so_id", officeList, "name", "id", electionYears = years)
    RosterQuery.candidates(tables, params)
      .join(tables.customer.select(col("c_custkey"),
        col("c_first").as("firstname"), col("c_middle").as("middlename"),
        col("c_last").as("lastname"), col("c_nick").as("nickname"),
        col("c_suffix").as("suffix"), col("c_party").as("party"),
        col("c_district").as("district")), "c_custkey")
      .select(col("c_custkey").as("r_id"), col("c_name"),
        col("state").as("r_state"), col("office"), col("firstname"),
        col("middlename"), col("lastname"), col("nickname"),
        col("suffix"), col("party"), col("district"),
        lower(col("middlename")).as("__mid_lc"), col("latest_date"))
      .localCheckpoint()
  }

  private def matchStage(transformed: DataFrame): (DataFrame, DataFrame) = {
    val roster = Trace.span("operators.roster_query")(rosterFor(transformed))
    lastRoster = roster
    val matched = FuzzyMatch.link(transformed, roster, "s_id", "r_id",
      "state_id", "r_state", Rules, requiredOverall = 75, dupMargin = 3.0)
    (matched, roster.drop("__mid_lc"))
  }

  override def kernels(i: Int): Unit = {
    val ex = exports(i)
    val extracted = spark.read.parquet(ex.extract.get)
    Trace.span("functions.text_parse_kernel") {
      extracted.select(TextFunctions.parseName(col("info")),
        TextFunctions.party(col("info")), TextFunctions.state(col("info")),
        TextFunctions.district(col("info")))
        .write.format("noop").mode("overwrite").save()
    }
    val pairs = spark.read.parquet(ex.transformed.get).alias("l")
      .join(lastRoster.alias("r"), col("l.state_id") === col("r.r_state"))
      .localCheckpoint()
    Trace.span("functions.fuzzy_score_kernel") {
      pairs.select(Rules.flatMap(r => r.rightCols.map(c =>
          r.scorer(col(s"l.${r.leftCol}"), col(s"r.$c")))): _*)
        .write.format("noop").mode("overwrite").save()
    }
  }

  // ---------------------------------------------------------------
  // independent checks
  // ---------------------------------------------------------------

  /** Transformed rows and links of the given operations, read back from
    * their exports in one pass each; s_id / 10^6 is the operation. */
  private val outCache = mutable.Map.empty[Int, (Map[Long, Parsed], Map[Long, (Long, Double)])]

  private def outputs(i: Int) = {
    val missing = (Seq(i) ++ exports.keys).filterNot(outCache.contains).distinct
    if (missing.nonEmpty) {
      val parsed = spark.read.parquet(missing.map(exports(_).transformed.get): _*)
        .select("s_id", "firstname", "middlename", "lastname", "suffix",
          "party", "state_id", "district", "office").collect()
        .map(r => r.getLong(0) -> Parsed(r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getString(5), r.getString(6),
          r.getString(7), r.getString(8)))
      val links = spark.read.parquet(missing.map(exports(_).matched.get): _*)
        .select("s_id", "best_id", "match_score").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      val p = parsed.groupBy(x => (x._1 / 1000000L).toInt)
      val l = links.groupBy(x => (x._1 / 1000000L).toInt)
      missing.foreach { m =>
        outCache(m) = (p.getOrElse(m, Array.empty).toMap,
          l.getOrElse(m, Array.empty).toMap)
      }
    }
    outCache(i)
  }

  def check(ops: Seq[Int]): Seq[String] =
    ops.flatMap(i => checkOp(batch(i), outputs(i)._1, outputs(i)._2))

  /** The four checks of one operation's outputs against its records. */
  def checkOp(recs: Seq[Rec], parsed: Map[Long, Parsed],
      links: Map[Long, (Long, Double)]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (parsed.size != recs.size)
      out += s"transformed export has ${parsed.size} rows, batch ${recs.size}"
    recs.foreach { r =>
      parsed.get(r.sid) match {
        case Some(p) if p == r.expected =>
        case got => out += s"record ${r.sid} parsed as $got, composed ${r.expected}"
      }
      links.get(r.sid).foreach { case (best, score) =>
        val st = byId.get(best).map(_.state)
        if (!st.contains(r.expected.state))
          out += s"record ${r.sid} (${r.expected.state}) linked across blocks to $best ($st)"
        if (score < 75.0)
          out += s"record ${r.sid} linked at score $score < 75"
        if (r.kind == Negative)
          out += s"negative record ${r.sid} linked to $best"
      }
      if (r.kind == Exact && !links.get(r.sid).exists(_._1 == r.truth))
        out += s"unperturbed record ${r.sid} linked to ${links.get(r.sid)}, not its row ${r.truth}"
    }
    out.toSeq
  }

  def quality(ops: Seq[Int]): Double = {
    var tp, fp, fn = 0L
    ops.foreach { i =>
      val links = outputs(i)._2
      batch(i).foreach { r =>
        val got = links.get(r.sid).map(_._1)
        val truth = if (r.kind == Negative) None else Some(r.truth)
        if (got.isDefined && got == truth) tp += 1
        else {
          if (got.isDefined) fp += 1
          if (truth.isDefined) fn += 1
        }
      }
    }
    System.err.println(s"sig_etl links: tp=$tp fp=$fp fn=$fn")
    2.0 * tp / (2.0 * tp + fp + fn)
  }

  private def exportBytes(i: Int): Long = {
    val ex = exports(i)
    Seq(ex.extract, ex.transformed, ex.matched, ex.query).flatten
      .map(p => Files.bytes(p)).sum
  }

  def storedBytesPerRecord(ops: Seq[Int]): Double =
    ops.map(exportBytes).sum.toDouble / ops.map(batch(_).size).sum

  override def layerCounts(ops: Seq[Int]): Map[String, Double] = Map(
    "sources.export_bytes_per_record" -> storedBytesPerRecord(ops),
    "operators.link_pairs_per_op" -> ops.map { i =>
      val recs = batch(i)
      val pulled = recs.map(r => (r.expected.state, r.expected.office)).toSet
      val rosterByState = active.filter(c => pulled((c.state, c.office)))
        .groupBy(_.state).view.mapValues(_.size).toMap
      recs.map(r => rosterByState.getOrElse(r.expected.state, 0)).sum.toDouble
    }.sum / ops.size)

  def selfTest(ops: Seq[Int]): Seq[String] = {
    val i = ops.head
    val recs = batch(i)
    val (parsed, links) = outputs(i)
    val exact = recs.find(_.kind == Exact).get
    val neg = recs.find(_.kind == Negative).get
    val other = roster.find(_.state != exact.expected.state).get
    val p0 = parsed(exact.sid)
    val corruptions = Seq(
      "misparsed last name" -> (parsed.updated(exact.sid,
        p0.copy(last = p0.last + "x")), links),
      "link across blocks" -> (parsed, links.updated(exact.sid,
        (other.id, 100.0))),
      "link below 75" -> (parsed, links.updated(exact.sid,
        (exact.truth, 74.0))),
      "unperturbed record unlinked" -> (parsed, links - exact.sid),
      "negative record linked" -> (parsed, links.updated(neg.sid,
        (activeByState(neg.expected.state).head.id, 80.0))))
    corruptions.collect {
      case (name, (p, l)) if checkOp(recs, p, l).isEmpty => name
    }
  }
}

object SigEtl {
  val RowsPerPage = 25
  val PagesPerOp = 24

  sealed trait Kind
  case object Exact extends Kind
  case object Perturbed extends Kind
  case object Negative extends Kind

  final case class Parsed(first: String, middle: String, last: String,
      suffix: String, party: String, state: String, district: String,
      office: String)

  final case class Cand(id: Long, state: String, office: String,
      district: String, party: String, first: String, middle: String,
      last: String, suffix: String, nick: String, years: Seq[Int]) {
    def fullName: String =
      Seq(first, middle, last, suffix).filter(_.nonEmpty).mkString(" ")
  }

  /** One scraped row: the info string and the parts composed into it. */
  final case class Rec(sid: Long, info: String, officeRaw: String,
      rating: Int, expected: Parsed, kind: Kind, truth: Long)

  val PartyNames = Map("R" -> "Republican", "D" -> "Democratic",
    "I" -> "Independent")
  val OfficeNames = Map("US House" -> "U.S. House",
    "St. Senate" -> "State Senate", "St. House" -> "State House")
  private val OfficeRaw = OfficeNames.map(_.swap)

  val States = Seq("AZ", "CA", "FL", "GA", "IL", "MA", "MI", "NC", "NY",
    "OH", "PA", "TX")
  val Territories = Seq("DC", "PR")
  val PerOffice = 20

  val FirstNames = Seq("James", "Mary", "Robert", "Patricia", "John",
    "Jennifer", "Michael", "Linda", "William", "Elizabeth", "David",
    "Barbara", "Richard", "Susan", "Joseph", "Jessica", "Thomas", "Sarah",
    "Charles", "Karen", "Daniel", "Nancy", "Matthew", "Lisa", "Anthony",
    "Margaret", "Mark", "Sandra", "Donald", "Ashley", "Steven", "Emily",
    "Andrew", "Donna", "Joshua", "Michelle", "Kenneth", "Carol", "Kevin",
    "Amanda", "Brian", "Melissa", "George", "Deborah", "Timothy",
    "Stephanie", "Ronald", "Rebecca", "Edward", "Laura")
  val Nicks = Map("James" -> "Jim", "Robert" -> "Bob", "John" -> "Jack",
    "Michael" -> "Mike", "William" -> "Bill", "Elizabeth" -> "Liz",
    "David" -> "Dave", "Richard" -> "Dick", "Joseph" -> "Joe",
    "Thomas" -> "Tom", "Charles" -> "Chuck", "Daniel" -> "Dan",
    "Matthew" -> "Matt", "Anthony" -> "Tony", "Margaret" -> "Peggy",
    "Donald" -> "Don", "Steven" -> "Steve", "Andrew" -> "Andy",
    "Kenneth" -> "Ken", "Timothy" -> "Tim", "Ronald" -> "Ron",
    "Edward" -> "Ted", "Rebecca" -> "Becky", "Patricia" -> "Pat",
    "Jennifer" -> "Jen", "Barbara" -> "Barb", "Susan" -> "Sue",
    "Deborah" -> "Deb", "Stephanie" -> "Steph", "Kevin" -> "Kev")
  val LastNames = Seq("Smith", "Johnson", "Williams", "Brown", "Jones",
    "Garcia", "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez",
    "Lopez", "Gonzalez", "Wilson", "Anderson", "Thomas", "Taylor",
    "Moore", "Jackson", "Martin", "Lee", "Perez", "Thompson", "White",
    "Harris", "Sanchez", "Clark", "Ramirez", "Lewis", "Robinson",
    "Walker", "Young", "Allen", "King", "Wright", "Scott", "Torres",
    "Nguyen", "Hill", "Flores", "Green", "Adams", "Nelson", "Baker",
    "Hall", "Rivera", "Campbell", "Mitchell", "Carter", "Roberts",
    "Van Dyke", "De La Cruz", "Van Buren", "Del Toro")
  /** Names sharing no consonant with the roster pools' common ones, so
    * no reference rule can accept them. */
  val NegFirst = Seq("Zyx", "Qwuzo", "Vyxa", "Kozuq", "Yuvox", "Xaqu",
    "Zuvy", "Quxo")
  val NegLast = Seq("Qyzzuv", "Xuvoq", "Zaxqy", "Vuqqo", "Kyxzu",
    "Quzyx", "Yoxqa", "Zuqvy")
  val Suffixes = Seq("Jr.", "Sr.", "II", "III")
  val Middles = ('A' to 'Z').map(c => s"$c.")

  val Rules: Seq[FuzzyMatch.Rule] = {
    val wr = (a: Column, b: Column) => call_function("w_ratio", a, b)
    val ptr = (a: Column, b: Column) =>
      call_function("partial_token_ratio", a, b)
    Seq(
      FuzzyMatch.Rule("firstname", Seq("firstname", "middlename", "nickname"),
        wr, threshold = 85),
      FuzzyMatch.Rule("__mid_lc", Seq("__mid_lc"), ptr, threshold = 90),
      FuzzyMatch.Rule("lastname", Seq("lastname"), wr, threshold = 88),
      FuzzyMatch.Rule("suffix", Seq("suffix"), wr, threshold = 98),
      FuzzyMatch.Rule("office", Seq("office"), wr, threshold = 100),
      FuzzyMatch.Rule("district", Seq("district"), wr, threshold = 95),
      FuzzyMatch.Rule("party", Seq("party"), wr, threshold = 100))
  }

  private def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** Roster: per state and office, `PerOffice` seats with distinct
    * districts; names are unique within a state. A candidate is active
    * when one of its elections falls in the queried years. */
  def genRoster(rng: Random): IndexedSeq[Cand] = {
    val out = mutable.ArrayBuffer.empty[Cand]
    val taken = mutable.Set.empty[(String, String, String)]
    var id = 1L
    val seats = States.flatMap(s => OfficeNames.values.toSeq.sorted
        .map(o => (s, o))) ++ Territories.map(t => (t, "U.S. House"))
    seats.foreach { case (state, office) =>
      val n = if (Territories.contains(state)) 3 else PerOffice
      (1 to n).foreach { d =>
        var first, last = ""
        do {
          first = pick(rng, FirstNames)
          last = pick(rng, LastNames)
        } while (!taken.add((state, first, last)))
        val district =
          if (Territories.contains(state)) "Delegate" else d.toString
        val years = (0 until 1 + rng.nextInt(2)).map(_ =>
          2016 + 2 * rng.nextInt(5)).distinct.sorted.reverse
        out += Cand(id, state, office, district,
          pick(rng, Seq("Republican", "Republican", "Democratic",
            "Democratic", "Independent")),
          first,
          if (rng.nextDouble() < 0.5) pick(rng, Middles) else "",
          last,
          if (rng.nextDouble() < 0.3) pick(rng, Suffixes) else "",
          Nicks.getOrElse(first, first), years)
        id += 1
      }
    }
    out.toIndexedSeq
  }

  private val Titles = Map(
    "U.S. House" -> Seq("Rep. ", "Rep. ", "", "Majority Leader ", "Speaker "),
    "State Senate" -> Seq("Sen. ", "Sen. ", "", "President Pro Tempore ",
      "Senate President "),
    "State House" -> Seq("Rep. ", "", "Minority Leader "))

  private val PartyCode = PartyNames.map(_.swap)

  /** Scorecard row text in the reference's shape:
    * `[Title ]First[ M.] Last[[,] Suffix] (P-SS-DD)`. */
  def compose(rng: Random, c: Cand, first: String, middle: String,
      last: String): String = {
    val title =
      if (c.district == "Delegate") "Delegate " else pick(rng, Titles(c.office))
    val mid = if (middle.isEmpty) "" else s" $middle"
    val suf =
      if (c.suffix.isEmpty) ""
      else (if (rng.nextBoolean()) ", " else " ") + c.suffix
    val dist = if (c.district == "Delegate") "00" else f"${c.district.toInt}%02d"
    s"$title$first$mid $last$suf (${PartyCode(c.party)}-${c.state}-$dist)"
  }

  def genBatch(rng: Random, op: Int, active: IndexedSeq[Cand]): Seq[Rec] =
    (0 until RowsPerPage * PagesPerOp).map { j =>
      val sid = (op.toLong * 1000 + j / RowsPerPage) * 1000 + j % RowsPerPage
      val c = active(rng.nextInt(active.size))
      val u = rng.nextDouble()
      val rating = rng.nextInt(101)
      if (u < 0.7) {
        Rec(sid, compose(rng, c, c.first, c.middle, c.last), OfficeRaw(c.office),
          rating, Parsed(c.first, c.middle, c.last, c.suffix, c.party, c.state,
            c.district, c.office), Exact, c.id)
      } else if (u < 0.9) {
        val (f, m, l) = rng.nextInt(3) match {
          case 0 => (c.nick, c.middle, c.last)
          case 1 => (c.first, "", c.last)
          case _ =>
            val k = rng.nextInt(c.last.length - 1)
            val a = c.last.toCharArray
            if (a(k) != ' ' && a(k + 1) != ' ' && k > 0) {
              val t = a(k); a(k) = a(k + 1); a(k + 1) = t
            }
            (c.first, c.middle, new String(a))
        }
        Rec(sid, compose(rng, c, f, m, l), OfficeRaw(c.office), rating,
          Parsed(f, m, l, c.suffix, c.party, c.state, c.district, c.office),
          Perturbed, c.id)
      } else {
        val f = pick(rng, NegFirst)
        val l = pick(rng, NegLast)
        val neg = c.copy(suffix = "")
        Rec(sid, compose(rng, neg, f, "", l), OfficeRaw(c.office), rating,
          Parsed(f, "", l, "", c.party, c.state, c.district, c.office),
          Negative, -1L)
      }
    }

  def page(rs: Seq[Rec]): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
    rs.map(r => s"<tr><td>${esc(r.info)}</td><td>${r.officeRaw}</td>" +
        s"<td>${r.rating}</td></tr>")
      .mkString("<table>\n<tr><th>info</th><th>office</th><th>rating</th></tr>\n",
        "\n", "\n</table>")
  }
}
