package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats

/** Mode tie-breaking and z-score edge semantics (q105/q109). */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("modePerKey: highest count wins; ties break to the smallest value") {
    val df = Seq(
      // key a: "x" ×2 beats "y" ×1
      ("a", "y"), ("a", "x"), ("a", "x"),
      // key b: two-way tie at 2 — lexicographically first ("p") wins
      ("b", "q"), ("b", "p"), ("b", "q"), ("b", "p"),
      // key c: single row
      ("c", "z")).toDF("k", "v")
    val out = Stats.modePerKey(df, "k", "v")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out === Map(
      "a" -> (("x", 2L)), "b" -> (("p", 2L)), "c" -> (("z", 1L))))
  }

  test("zscoreOutliers: flags beyond z; constant and singleton groups never flag") {
    val df = Seq(
      // group g: mean 0 over 10 zeros + one spike → spike's z ≈ 3.02
      ("g", 100.0), ("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 0.0),
      ("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 0.0),
      ("g", 0.0),
      // constant group: stddev 0 → null z, never flagged (not a NaN leak)
      ("c", 5.0), ("c", 5.0), ("c", 5.0),
      // singleton group: stddev_samp undefined → null z
      ("s", 42.0)).toDF("k", "v")
    val out = Stats.zscoreOutliers(df, "k", col("v"), z = 3.0)
      .select(col("k"), col("v")).as[(String, Double)].collect()
    assert(out.toSeq === Seq(("g", 100.0)))
    // the same spike survives only while z clears the bar
    assert(Stats.zscoreOutliers(df, "k", col("v"), z = 3.1).count() === 0)
  }

  test("zscoreOutliers: passes input columns through and appends zscore") {
    val df = Seq(("g", 1L, 10.0), ("g", 2L, -10.0), ("g", 3L, 0.0))
      .toDF("k", "id", "v")
    val out = Stats.zscoreOutliers(df, "k", col("v"), z = 100.0)
    assert(out.columns.toSeq === Seq("k", "id", "v", "zscore"))
  }

  test("zscoreOutliersAgg: row-identical to the window form, incl. null keys") {
    // random-ish groups + a null key group + a constant group + a
    // singleton — every edge the window form defines, the agg form
    // must reproduce row for row
    val rows = (1 to 200).map { i =>
      val k = if (i % 17 == 0) null else s"g${i % 5}"
      val v = if (i % 41 == 0) 500.0 + i else (i % 23).toDouble
      (k, i.toLong, v)
    } ++ Seq(("const", 900L, 7.0), ("const", 901L, 7.0), ("solo", 902L, 3.0))
    val df = rows.toDF("k", "id", "v")
    for (z <- Seq(1.5, 3.0)) {
      val w = Stats.zscoreOutliers(df, "k", col("v"), z)
        .select(col("k"), col("id"), round(col("zscore"), 9).as("z"))
        .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2))).toSet
      val a = Stats.zscoreOutliersAgg(df, "k", col("v"), z)
        .select(col("k"), col("id"), round(col("zscore"), 9).as("z"))
        .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a === w, s"agg/window drift at z=$z")
    }
    assert(Stats.zscoreOutliersAgg(df, "k", col("v"), 100.0).columns
      .toSeq === Seq("k", "id", "v", "zscore"))
  }

  test("madOutliers: catches the spike a z-score masks") {
    // bulk 1..9 plus a 100 spike: the spike inflates the stddev to
    // ~30 so its own z is only ~2.8 (zscore at 3.0 misses it), while
    // median 5.5 (10 values interpolate) / MAD 2.5 flags it at 38×
    // the threshold
    val df = (Seq.tabulate(9)(i => ("g", (i + 1).toDouble)) :+
      (("g", 100.0))).toDF("k", "v")
    assert(Stats.zscoreOutliers(df, "k", col("v"), z = 3.0).count() === 0)
    val out = Stats.madOutliers(df, "k", col("v"), k = 3.0)
      .select(col("v"), col("median"), col("mad"))
      .as[(Double, Double, Double)].collect()
    assert(out.toSeq === Seq((100.0, 5.5, 2.5)))
  }

  test("madOutliers: zero-MAD and singleton groups never flag") {
    val df = Seq(
      // >half the group at the median → MAD 0 → no flags, even for
      // the wild value (documented: no denominator, no evidence)
      ("z", 5.0), ("z", 5.0), ("z", 5.0), ("z", 1000.0),
      // singleton: deviation 0, MAD 0
      ("s", 42.0)).toDF("k", "v")
    assert(Stats.madOutliers(df, "k", col("v"), k = 1.0).count() === 0)
  }

  test("winsorize: clamps to the group's interpolated quantiles") {
    // group g = 1..10: p05 = 1.45, p95 = 9.55 (linear interpolation);
    // the extremes clip, the middle passes through untouched
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("k", "v")
    val got = Stats.winsorize(df, "k", col("v"), 0.05, 0.95)
      .select(col("v"), round(col("winsorized"), 4))
      .as[(Double, Double)].collect().toMap
    assert(got(1.0) === 1.45 && got(10.0) === 9.55)
    assert(got(5.0) === 5.0)
    // a singleton group clamps to itself
    val one = Stats.winsorize(Seq(("s", 7.0)).toDF("k", "v"),
      "k", col("v"), 0.05, 0.95)
      .select(col("winsorized")).as[Double].collect()
    assert(one.toSeq === Seq(7.0))
  }

  test("rollingZscore: spike vs trailing history flags; short history never does") {
    // key g, ordered by t; lookback 5, minPrior 3, z 2
    val df = Seq(
      ("g", 1L, 10L), ("g", 2L, 10L),
      ("g", 3L, 50L),   // only 2 prior rows → below minPrior, no flag
      ("g", 4L, 10L), ("g", 5L, 10L), ("g", 6L, 10L),
      ("g", 7L, 10L),   // prior {10,10,50,10,10}: dev 8 ≪ 2σ, no flag
      ("g", 8L, 100L),  // prior {50,10,10,10,10}: m=5 s1=90 s2=2900 →
                        // dev=410, 410²·4 > 4·5·6400 → FLAG, z≈4.5839
      ("i", 1L, 999L)   // isolated key: no history at all
    ).toDF("k", "t", "x")
    val out = Stats.rollingZscore(df, "k", col("t"), col("t"), col("x"),
      lookback = 5, z = 2)
      .select(col("t"), col("n_prior"), col("sum_prior"), col("zscore"))
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((8L, 5L, 90L, 4.5839)))
  }

  test("rollingZscore: constant history flags any deviation with a null z") {
    val df = Seq(
      ("h", 1L, 7L), ("h", 2L, 7L), ("h", 3L, 7L), ("h", 4L, 7L),
      ("h", 5L, 8L),  // prior all-7 (σ=0): ANY deviation flags, z null
      ("h", 6L, 7L)   // prior {7,7,7,8}+… has variance; dev tiny, no flag
    ).toDF("k", "t", "x")
    val out = Stats.rollingZscore(df, "k", col("t"), col("t"), col("x"),
      lookback = 5, z = 2)
      .select(col("t"), col("zscore")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(5L))
    assert(out.head.isNullAt(1), "zero-variance frame must report null z")
  }

  test("rollingZscore: the current row is excluded from its own frame") {
    // if the frame included the current row, the spike would drag its
    // own mean toward itself and the all-constant-prior case above
    // would have nonzero variance; pin it directly: 3 constant rows
    // then a spike — the spike's frame stats are exactly the constants
    val df = Seq(("k", 1L, 5L), ("k", 2L, 5L), ("k", 3L, 5L),
      ("k", 4L, 50L)).toDF("k", "t", "x")
    val out = Stats.rollingZscore(df, "k", col("t"), col("t"), col("x"),
      lookback = 10, z = 2)
      .select(col("t"), col("n_prior"), col("sum_prior"))
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((4L, 3L, 15L))) // NOT m=4 / s1=65
  }

  test("kthSmallest: exact selection ≡ full sort at every tested rank and accuracy") {
    // shuffled distinct keys; the bracket+rank path must agree with
    // plain sorted order at the ends, the median, and arbitrary ranks,
    // including at a deliberately COARSE sketch accuracy (wider
    // bracket, same exact answer — accuracy affects cost, never truth)
    val rnd = new scala.util.Random(23)
    val keys = rnd.shuffle((1 to 2000).map(i => i * 7919L)).toSeq
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("key", "payload")
    val sortedKeys = keys.sorted
    for (k <- Seq(1L, 2L, 1000L, 1999L, 2000L); acc <- Seq(100, 10000)) {
      val got = Stats.kthSmallest(df, "key", k, accuracy = acc)
        .select(col("key")).as[Long].collect()
      assert(got.toSeq === Seq(sortedKeys(k.toInt - 1)),
        s"k=$k acc=$acc: got ${got.toSeq}")
    }
  }

  test("equiDepthHistogram: equal bucket sizes, contiguous bounds, exact sums") {
    // 1000 tie-free keys with a deliberately SKEWED value distribution
    // (equi-depth's reason to exist: equi-width would put 90% of rows
    // into one bucket). value = key so ordering is transparent.
    val rnd = new scala.util.Random(11)
    val vals = rnd.shuffle(
      ((1 to 900).map(_.toLong) ++ (1 to 100).map(_ * 10000L)).toSeq)
    val df = vals.map(v => (v, v)).toDF("key", "v")
    val got = Stats.equiDepthHistogram(df, "key", col("v"), 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val sorted = vals.sorted
    val want = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / sorted.size }
      .map { case (b, g) =>
        val vs = g.map(_._1)
        b -> ((vs.size.toLong, vs.min, vs.max, vs.sum))
      }
    assert(got === want)
    // every bucket holds exactly n/buckets rows here (1000 % 10 == 0)
    assert(got.values.forall(_._1 == 100L))
    // bucket ranges are disjoint and ordered
    val bounds = got.toSeq.sortBy(_._1).map(t => (t._2._2, t._2._3))
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
  }

  test("equiDepthHistogram: uneven n distributes the remainder ±1") {
    val df = (1L to 103L).map(v => (v, v)).toDF("key", "v")
    val sizes = Stats.equiDepthHistogram(df, "key", col("v"), 10)
      .select(col("n_rows")).as[Long].collect().sorted
    assert(sizes.sum === 103L)
    assert(sizes.forall(s => s == 10L || s == 11L))
  }

  test("trendPerKey: recovers exact integer lines; constant x yields nulls") {
    val pts =
      // key "a": y = 3x + 7 exactly
      (0L to 50L).map(x => ("a", x, 3 * x + 7)) ++
        // key "b": y = -2x + 100
        (0L to 30L).map(x => ("b", x, -2 * x + 100)) ++
        // key "c": single x value — slope undefined
        Seq(("c", 5L, 1L), ("c", 5L, 3L))
    val df = pts.toDF("k", "x", "y")
    val got = Stats.trendPerKey(df, "k", col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got("a")._1 === 51L)
    assert(math.abs(got("a")._2.get.asInstanceOf[Double] - 3.0) < 1e-12)
    assert(math.abs(got("a")._3.get.asInstanceOf[Double] - 7.0) < 1e-12)
    assert(math.abs(got("b")._2.get.asInstanceOf[Double] + 2.0) < 1e-12)
    assert(math.abs(got("b")._3.get.asInstanceOf[Double] - 100.0) < 1e-12)
    assert(got("c")._2.isEmpty && got("c")._3.isEmpty)
  }

  test("quantileNormalize: maps within-group ranks to exact global order stats") {
    // group A holds the 10 smallest values, group B the 10 largest:
    // after normalization A's top row must map near the global top —
    // the cross-source calibration the raw scores can't support
    val rows = (0L until 10L).map(v => ("A", v)) ++
      (100L until 110L).map(v => ("B", v))
    val df = rows.toDF("g", "v")
      .withColumn("key", col("v") * 1000 + monotonically_increasing_id() % 1000)
    val out = Stats.quantileNormalize(df, "g", "key", "v", "norm")
      .select(col("g"), col("v"), col("norm"))
      .as[(String, Long, Long)].collect()
    val n = 20L
    val globalSorted = rows.map(_._2).sorted
    // reference mapping: r-th of m rows -> global index round(r(n-1)/(m-1))
    val want = Seq("A", "B").flatMap { g =>
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      vs.zipWithIndex.map { case (v, r) =>
        val idx = (2L * r * (n - 1) + (vs.size - 1)) / (2L * (vs.size - 1))
        (g, v, globalSorted(idx.toInt))
      }
    }.toSet
    assert(out.toSet === want)
    // both groups span the SAME normalized range after calibration
    val byG = out.groupBy(_._1)
    assert(byG("A").map(_._3).min === byG("B").map(_._3).min)
    assert(byG("A").map(_._3).max === byG("B").map(_._3).max)
  }

  test("quantileNormalize: singleton group maps to the global median") {
    val rows = (0L until 9L).map(v => ("big", v)) :+ ("solo", 50L)
    val df = rows.toDF("g", "v").withColumn("key", col("v"))
    val out = Stats.quantileNormalize(df, "g", "key", "v", "norm")
      .filter(col("g") === "solo").select(col("norm")).as[Long].head()
    // n=10 -> median index (10-1)/2 = 4 -> 5th smallest value = 4
    assert(out === 4L)
  }

  test("columnProfile: schema-driven counts, native-order min/max, map fallback") {
    val df = Seq(
      (1L, Option("b"), Seq(1, 2), Map("k" -> 1)),
      (10L, Option("a"), Seq(9), Map("k" -> 2)),
      (2L, Option.empty[String], Seq(1, 2), Map("k" -> 1))
    ).toDF("id", "s", "arr", "m")
    val out = Stats.columnProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("id", "s", "arr", "m"))
    assert(out.values.forall(_.getLong(1) === 3L)) // n_rows
    // numeric min/max in NUMERIC order (10 > 2 numerically, not lexically)
    assert(out("id").getLong(2) === 0L && out("id").getLong(3) === 3L)
    assert(out("id").getString(4) === "1" && out("id").getString(5) === "10")
    assert(out("s").getLong(2) === 1L && out("s").getLong(3) === 2L)
    assert(out("s").getString(4) === "a" && out("s").getString(5) === "b")
    // arrays are orderable/groupable: profiled natively
    assert(out("arr").getLong(3) === 2L && out("arr").getString(4) != null)
    // maps: null min/max, distinct over the string rendering
    assert(out("m").getLong(3) === 2L && out("m").isNullAt(4)
      && out("m").isNullAt(5))
  }

  test("trendPerKey: noisy line matches the closed-form OLS solution") {
    // integer noise so the scala-side reference arithmetic is exact
    val pts = (0L until 40L).map(x => ("k", x, 5 * x + (x % 7) - 3))
    val df = pts.toDF("k", "x", "y")
    val r = Stats.trendPerKey(df, "k", col("x"), col("y")).collect().head
    val n = pts.size.toLong
    val sx = pts.map(_._2).sum; val sy = pts.map(_._3).sum
    val sxy = pts.map(p => p._2 * p._3).sum
    val sxx = pts.map(p => p._2 * p._2).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val icept = (sy.toDouble - slope * sx.toDouble) / n
    assert(math.abs(r.getDouble(2) - slope) < 1e-12)
    assert(math.abs(r.getDouble(3) - icept) < 1e-12)
  }
}
