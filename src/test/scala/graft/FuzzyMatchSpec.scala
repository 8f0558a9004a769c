package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.functions.FuzzyImpl
import graft.operators.FuzzyMatch

class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._

  test("FuzzyImpl scorers match known values") {
    assert(FuzzyImpl.levenshtein("kitten", "sitting") === 3)
    assert(FuzzyImpl.ratio("abcd", "abcd") === 100.0)
    assert(math.abs(FuzzyImpl.jaroWinkler("MARTHA", "MARHTA") - 96.11) < 0.01)
    assert(FuzzyImpl.tokenSortRatio("smith john", "john smith") === 100.0)
    assert(FuzzyImpl.tokenSetRatio("john smith extra", "john smith") === 100.0)
    assert(FuzzyImpl.partialRatio("smith", "mr smith jr") === 100.0)
    assert(FuzzyImpl.wRatio("john q smith", "smith john") > 90.0)
  }

  test("registered SQL functions resolve via extensions") {
    val r = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw, " +
        "token_sort_ratio('a b', 'b a') AS tsr, " +
        "w_ratio('john smith', 'smith, john') AS wr").head
    assert(math.abs(r.getDouble(0) - 96.11) < 0.01)
    assert(r.getDouble(1) === 100.0)
    assert(r.getDouble(2) > 85.0)
  }

  test("null inputs yield null scores") {
    val r = spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x') AS jw").head
    assert(r.isNullAt(0))
  }

  test("bestByDistance picks nearest roster row within block, flags dups") {
    val scraped = Seq((1L, "jon smith", 10), (2L, "ann lee", 20))
      .toDF("s_id", "s_name", "s_blk")
    val roster = Seq(
      (100L, "john smith", 10), (101L, "jane smythe", 10),
      (200L, "ann lee", 20), (201L, "ann leigh", 20))
      .toDF("r_id", "r_name", "r_blk")
    val out = FuzzyMatch.bestByDistance(
      scraped, roster, "s_id", "r_id", "s_blk", "r_blk",
      (a, b) => levenshtein(a, b).cast("long"), "s_name", "r_name",
      threshold = 3)
      .orderBy("s_id").collect()
    assert(out(0).getLong(1) === 100L) // jon smith -> john smith
    assert(out(1).getLong(1) === 200L) // exact
    assert(out(1).getBoolean(3) === true) // ann leigh also within 3
  }

  test("second_max is the exact multiset second-largest, map-side merged") {
    val vals = Seq((1, 5.0), (1, 9.0), (1, 9.0), (2, 3.0), (3, 7.0), (3, 1.0))
      .toDF("k", "v").repartition(4) // force cross-partition merge
    val got = vals.groupBy("k").agg(expr("second_max(v)").as("m2"))
      .orderBy("k").collect()
    assert(got(0).getDouble(1) === 9.0) // two rows tied at the max
    assert(got(1).isNullAt(1)) // fewer than two inputs -> null
    assert(got(2).getDouble(1) === 1.0)
    val withNulls = Seq((1, Some(4.0)), (1, None), (1, Some(2.0)))
      .toDF("k", "v")
    assert(withNulls.groupBy("k").agg(expr("second_max(v)"))
      .head.getDouble(1) === 2.0) // nulls ignored, not demoted
  }

  test("link best/dup aggregate matches the windowed n_close definition") {
    val left = Seq((1L, "aaa", 7), (2L, "bbb", 7), (3L, "ccc", 7))
      .toDF("l_id", "l_name", "l_blk")
    val right = Seq(
      (10L, "aaa", 7), (11L, "aaa", 7), // two perfect scores -> dup
      (20L, "bbb", 7), (21L, "bbz", 7), // runner-up far below margin 3
      (30L, "ccc", 7)) // single candidate
      .toDF("r_id", "r_name", "r_blk")
    val rules = Seq(FuzzyMatch.Rule("l_name", "r_name",
      FuzzyMatch.levenshteinRatio, threshold = 0))
    val out = FuzzyMatch.link(left, right, "l_id", "r_id", "l_blk", "r_blk",
      rules, requiredOverall = 50, dupMargin = 3.0)
      .orderBy("s_id").collect()
    // ties on score break to the LOWER roster id, as the old
    // row_number(overall desc, rightId asc) did
    assert(out(0).getLong(1) === 10L && out(0).getBoolean(3) === true)
    assert(out(1).getLong(1) === 20L && out(1).getBoolean(3) === false)
    assert(out(1).getDouble(2) === 100.0)
    assert(out(2).getLong(1) === 30L && out(2).getBoolean(3) === false)
  }

  test("_1034 matcher config: state grouped not scored, lowercased WRatio") {
    // the _1034 config (national/_1034/match.py:44-76): WRatio default
    // lowercasing BOTH sides, blocking on state_name, office 95 /
    // party 93 / required 85, duplicate_threshold 3
    val leftIds = Seq(
      // case-noisy but identical after lower(): must score 100
      (1L, "JOHN", "SMITH", "U.S. HOUSE", "REPUBLICAN", "Ohio"),
      // two identical roster rows (distinct ids) tie -> dup flag
      (2L, "ann", "lee", "U.S. Senate", "Democratic", "Utah"),
      // same name exists only in ANOTHER state: state_name is a block
      // key, never scored, so the cross-state candidate is unreachable
      (3L, "john", "smith", "U.S. House", "Republican", "Texas"))
      .toDF("s_id", "firstname", "lastname", "office", "party", "state_name")
    val roster = Seq(
      (10L, "John", "Smith", "U.S. House", "Republican", "Ohio"),
      (20L, "Ann", "Lee", "U.S. Senate", "Democratic", "Utah"),
      (21L, "Ann", "Lee", "U.S. Senate", "Democratic", "Utah"),
      (30L, "John", "Smith", "U.S. House", "Republican", "Montana"))
      .toDF("r_id", "firstname", "lastname", "office", "party", "state_name")
      .withColumnRenamed("state_name", "r_state_name")
    val wr = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("w_ratio", lower(a), lower(b))
    val out = FuzzyMatch.link(
      leftIds, roster, "s_id", "r_id", "state_name", "r_state_name",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname"), wr, threshold = 85),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, threshold = 88),
        FuzzyMatch.Rule("office", Seq("office"), wr, threshold = 95),
        FuzzyMatch.Rule("party", Seq("party"), wr, threshold = 93)),
      requiredOverall = 85, dupMargin = 3.0)
      .orderBy("s_id").collect()
    // s_id 3 has NO roster row in its Texas block: the Montana john
    // (r_id 30) must be unreachable, so only two rows come back
    assert(out.length === 2)
    // case noise scores 100 through the lowercased default scorer
    assert(out(0).getLong(1) === 10L && out(0).getDouble(2) === 100.0)
    assert(out(0).getBoolean(3) === false)
    // identical roster rows both score 100 -> duplicate within margin 3,
    // tie broken to the lower roster id
    assert(out(1).getLong(1) === 20L && out(1).getBoolean(3) === true)
  }

  test("link applies per-column thresholds and overall requirement") {
    val left = Seq((1L, "john", "smith", 5), (2L, "zzz", "qqq", 5))
      .toDF("l_id", "l_first", "l_last", "l_blk")
    val right = Seq((10L, "jon", "smith", 5), (11L, "mary", "jones", 5))
      .toDF("r_id", "r_first", "r_last", "r_blk")
    val rules = Seq(
      FuzzyMatch.Rule("l_first", "r_first",
        (a, b) => call_function("jaro_winkler", a, b), threshold = 80),
      FuzzyMatch.Rule("l_last", "r_last",
        (a, b) => call_function("jaro_winkler", a, b), threshold = 85))
    val out = FuzzyMatch.link(left, right, "l_id", "r_id", "l_blk", "r_blk",
      rules, requiredOverall = 85)
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(0) === 1L && rows(0).getLong(1) === 10L)
  }

  // ------------------------------------------------------------------
  // link ≡ a plain-Scala loop over every same-block pair
  // ------------------------------------------------------------------

  /** FuzzyMatch.levenshteinRatio on the JVM: the same double
    * arithmetic over the same integer edit distance. */
  private def ratio(a: String, b: String): Double = {
    val maxLen = math.max(a.length, b.length)
    if (maxLen == 0) 100.0
    else 100.0 * (1.0 - FuzzyImpl.levenshtein(a, b).toDouble / maxLen.toDouble)
  }

  /** Short names from a small pool, so exact ties, near scores and
    * empty strings all occur. */
  private val name = Gen.oneOf("ann", "anne", "an", "bob", "rob",
    "robert", "", "zoë", "zoe", "lee", "leigh")

  private val linkCase = for {
    nl <- Gen.choose(1, 12)
    nr <- Gen.choose(1, 12)
    left <- Gen.listOfN(nl, Gen.zip(name, name, Gen.choose(0, 2)))
    right <- Gen.listOfN(nr, Gen.zip(name, name, name, Gen.choose(0, 3)))
    thA <- Gen.oneOf(0.0, 50.0, 70.0)
    thB <- Gen.oneOf(0.0, 60.0, 100.0)
    wB <- Gen.oneOf(1.0, 2.0)
    required <- Gen.oneOf(0.0, 40.0, 65.0)
    margin <- Gen.oneOf(0.0, 3.0, 20.0)
  } yield (left, right, thA, thB, wB, required, margin)

  test("link equals a plain-Scala pair loop: thresholds, argmax, dup flag") {
    val params = Check.Parameters.default
      .withMinSuccessfulTests(30)
      .withInitialSeed(Seed(20261019L))
      .withWorkers(1)
    val p = Prop.forAllNoShrink(linkCase) {
      case (left, right, thA, thB, wB, required, margin) =>
        val l = left.zipWithIndex.map { case ((a, b, blk), i) =>
          (i.toLong, a, b, blk) }
        // roster ids descend against row order, so the id tie-break is
        // not the input order
        val r = right.zipWithIndex.map { case ((a, alt, b, blk), i) =>
          (100L - i, a, alt, b, blk) }
        val lDf = spark.createDataFrame(l.map(t => Row(t._1, t._2, t._3, t._4))
          .asJava, StructType(Seq(StructField("l_id", LongType),
            StructField("l_a", StringType), StructField("l_b", StringType),
            StructField("l_blk", IntegerType))))
        val rDf = spark.createDataFrame(r.map(t => Row(t._1, t._2, t._3, t._4, t._5))
          .asJava, StructType(Seq(StructField("r_id", LongType),
            StructField("r_a", StringType), StructField("r_alt", StringType),
            StructField("r_b", StringType), StructField("r_blk", IntegerType))))
        val rules = Seq(
          FuzzyMatch.Rule("l_a", Seq("r_a", "r_alt"),
            FuzzyMatch.levenshteinRatio, thA),
          FuzzyMatch.Rule("l_b", Seq("r_b"), FuzzyMatch.levenshteinRatio,
            thB, wB))
        val got = FuzzyMatch.link(lDf, rDf, "l_id", "r_id", "l_blk", "r_blk",
          rules, requiredOverall = required, dupMargin = margin)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
            x.getBoolean(3))).sortBy(_._1).toSeq
        def keep(s: Double, th: Double) = if (s >= th) s else 0.0
        val want = l.flatMap { case (lid, la, lb, lblk) =>
          val cands = r.filter(_._5 == lblk).map { case (rid, ra, ralt, rb, _) =>
            val sa = keep(math.max(ratio(la, ra), ratio(la, ralt)), thA)
            val sb = keep(ratio(lb, rb), thB)
            rid -> (sa * 1.0 + sb * wB) / (1.0 + wB)
          }.filter(_._2 >= required)
          if (cands.isEmpty) None
          else {
            val (bestId, best) = cands.minBy { case (rid, o) => (-o, rid) }
            val second = cands.map(_._2).sorted.reverse.lift(1)
            Some((lid, bestId,
              BigDecimal(best).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble,
              second.exists(_ >= best - margin)))
          }
        }
        (got == want) :| s"got $got\nwant $want"
    }
    val res = Check.check(params, p)
    assert(res.passed, Pretty.pretty(res))
  }
}
