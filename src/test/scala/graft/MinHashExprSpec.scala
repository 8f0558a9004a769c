package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class MinHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "completely different words entirely here now").toDF("text")

  test("native expression matches the Column-function signature exactly") {
    val sh = Dedup.shingles(col("text"), 2)
    val both = docs.select(
      Dedup.minhashSignature(sh, 16).as("hof"),
      call_function("minhash_signature", sh, lit(16)).as("native"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (hof, native) => assert(hof === native) }
  }

  test("native simhash64 matches the Column-function formulation") {
    val sh = Dedup.shingles(col("text"), 2)
    val both = docs.select(
      Dedup.simhash64(sh).as("hof"),
      call_function("simhash64", sh).as("native"))
      .as[(Long, Long)].collect()
    both.foreach { case (hof, native) => assert(hof === native) }
  }

  test("native jaccard matches array_intersect/union formulation") {
    val sh = Dedup.shingles(col("text"), 2)
    val a = docs.select(sh.as("s")).limit(1)
    val pairs = a.crossJoin(docs.select(sh.as("t")))
    val both = pairs.select(
      Dedup.jaccard(col("s"), col("t")).as("hof"),
      call_function("jaccard_shingles", col("s"), col("t")).as("native"))
      .as[(Double, Double)].collect()
    both.foreach { case (hof, native) => assert(hof === native) }
  }

  test("native stopword_hits matches the filter/isin formulation") {
    val stops = Seq("the", "now", "quick")
    val both = docs.select(
      size(filter(split(col("text"), " "), w => w.isin(stops: _*))).as("hof"),
      call_function("stopword_hits", col("text"),
        lit(stops.mkString(","))).as("native"))
      .as[(Int, Int)].collect()
    both.foreach { case (hof, native) => assert(hof === native) }
    assert(both.map(_._2).toSeq === Seq(3, 1)) // 'the' x2 + quick; now
  }

  test("inter_longs matches size(array_intersect) on every input shape") {
    // unsorted, duplicated, disjoint, empty, and identical operands —
    // the kernel's sorted fast path and its sort-copy fallback must
    // both reproduce the builtin's distinct-intersection count
    val cases = Seq(
      (Seq(3L, 1L, 2L), Seq(2L, 3L, 9L)),          // unsorted
      (Seq(1L, 1L, 2L, 2L), Seq(2L, 2L, 2L, 5L)),  // duplicates
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),              // disjoint
      (Seq.empty[Long], Seq(1L, 2L)),              // empty side
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L)),          // identical sorted
      (Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MaxValue, Long.MinValue)))        // extremes
    val df = cases.toDF("a", "b")
    val got = df.select(
      call_function("inter_longs", col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .as[(Long, Long)].collect()
    got.foreach { case (k, ref) => assert(k === ref) }
    // null ELEMENTS follow array_intersect: null matches null (one
    // distinct hit), never a value — toLongArray would have coerced
    // them to 0L
    val nulls = spark.range(1).selectExpr(
      "inter_longs(array(cast(null as bigint), 1L)," +
        " array(cast(null as bigint), 2L)) as both_null",
      "inter_longs(array(cast(null as bigint)), array(0L)) as null_vs_zero",
      "size(array_intersect(array(cast(null as bigint), 1L)," +
        " array(cast(null as bigint), 2L))) as ref_both",
      "size(array_intersect(array(cast(null as bigint)), array(0L)))" +
        " as ref_zero")
      .head
    assert(nulls.getLong(0) === nulls.getInt(2).toLong) // 1
    assert(nulls.getLong(1) === nulls.getInt(3).toLong) // 0
  }

  test("native word_shingles matches Dedup.shingles, order included") {
    // repeats (distinct keeps first occurrences), runs of spaces
    // (empty tokens), fewer words than n, the empty string, unicode
    val texts = Seq("a b a b a b c", "x  y   z", "one two", "",
      "über naïve café über naïve café", " lead trail ").toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val both = texts.select(
        Dedup.shingles(col("text"), n).as("hof"),
        call_function("word_shingles", col("text"), lit(n)).as("native"))
        .as[(Seq[String], Seq[String])].collect()
      both.foreach { case (hof, native) => assert(native === hof, s"n=$n") }
    }
    assert(Seq("a b a b a b c").toDF("t")
      .select(call_function("word_shingles", col("t"), lit(2)))
      .as[Seq[String]].head === Seq("a b", "b a", "b c"))
    // a null text: the kernel returns null, the formula an empty array
    // (size(null) is -1 with ANSI off); both explode to no rows
    val nullText = Seq(Option.empty[String]).toDF("t")
    assert(nullText.select(call_function("word_shingles", col("t"), lit(2)))
      .head.isNullAt(0))
    assert(nullText.select(explode(
      call_function("word_shingles", col("t"), lit(2)))).count() === 0)
    assert(nullText.select(explode(Dedup.shingles(col("t"), 2))).count() === 0)
  }

  test("native jaccard_longs matches Dedup.jaccard on long arrays") {
    val cases = Seq(
      (Seq(3L, 1L, 2L), Seq(2L, 3L, 9L)),
      (Seq(1L, 1L, 2L), Seq(2L, 2L, 5L)),
      (Seq(1L, 2L), Seq(4L, 5L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MaxValue, 0L)))
    val got = cases.toDF("a", "b").select(
      call_function("jaccard_longs", col("a"), col("b")),
      Dedup.jaccard(col("a"), col("b")))
      .as[(Double, Double)].collect()
    got.foreach { case (native, ref) => assert(native === ref) }
    assert(got.map(_._1).toSeq === Seq(0.5, 1.0 / 3, 0.0, 0.0, 0.0, 2.0 / 3))
  }

  test("empty shingle array yields MaxValue sentinels") {
    val sig = Seq("x").toDF("t")
      .select(call_function("minhash_signature",
        Dedup.shingles(col("t"), 3), lit(4)))
      .as[Seq[Long]].head
    assert(sig === Seq.fill(4)(Long.MaxValue))
  }

  test("type check rejects non-string arrays") {
    val e = intercept[Exception] {
      Seq((Seq(1L, 2L))).toDF("a")
        .select(call_function("minhash_signature", col("a"), lit(4)))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("minhash_signature"))
  }
}
