package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.functions.Md5Uniform
import graft.operators.{Corpus, TextStats}

/** The md5-prefix helper behind every replayable draw, pinned to a
  * plain-JVM reference (`java.security.MessageDigest` over the UTF-8
  * bytes) on generated ids and salts: at the helper itself, and at the
  * call sites whose output exposes the draw — the `splitAssign` bucket
  * and the `mixSources` keep decision (both salted with
  * `seed.toString`), `weightedSample`'s top-k (salted with `seed`) and
  * the `fingerprint` word hash (unsalted).
  *
  * A drifted salt at a site changes its draws and fails that site's
  * property; a drifted `+ 0.5` fails the helper's. A site cannot
  * drift silently around the helper either: GraftExtensionsSpec fails
  * on any `substring(md5(` outside it. */
class Md5UniformSpec extends SparkSpec {

  private val params = Check.Parameters.default
    .withMinSuccessfulTests(30)
    .withInitialSeed(Seed(20261019L))
    .withWorkers(1)

  private def check(p: Prop): Unit = {
    val r = Check.check(params, p)
    assert(r.passed, Pretty.pretty(r))
  }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The first 4 md5 bytes of `s` as an unsigned 32-bit value. */
  private def prefix32(s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  private def uniform(id: String, salt: String): Double =
    (prefix32(id + salt) + 0.5) / 4294967296.0

  private val longId: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(-1000L, 1000L),
    3 -> Gen.choose(Long.MinValue, Long.MaxValue),
    2 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue))

  /** ASCII, accented, CJK and astral-plane pieces, and the empty
    * string. */
  private val text: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr,
    2 -> Gen.listOf(Gen.oneOf("a", "Z", "é", "ß", "中文", "😀", "0", "-"))
      .map(_.mkString),
    1 -> Gen.const(""))

  private val salt: Gen[String] =
    Gen.frequency(2 -> Gen.const(""), 2 -> Gen.const("0"), 1 -> text)

  private val seed: Gen[Long] = Gen.frequency(
    2 -> Gen.const(0L), 2 -> Gen.choose(-50L, 50L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  test("uniform and prefix32 match MessageDigest on long ids") {
    val gen = for {
      ids <- Gen.nonEmptyListOf(longId)
      s <- salt
    } yield (ids, s)
    check(Prop.forAllNoShrink(gen) { case (ids, s) =>
      val df = frame(StructType(Seq(StructField("id", LongType))),
        ids.map(Row(_)))
      val got = df.select(col("id"), Md5Uniform.uniform(col("id"), s),
        Md5Uniform.saltedPrefix32(col("id"), s)).collect()
      val bad = got.filterNot { r =>
        val id = r.getLong(0).toString
        bits(r.getDouble(1)) == bits(uniform(id, s)) &&
          r.getLong(2) == prefix32(id + s)
      }
      bad.isEmpty :| s"salt '$s': ${bad.take(5).mkString("; ")}"
    })
  }

  test("uniform matches MessageDigest on string ids, null ids stay null") {
    val gen = for {
      ids <- Gen.nonEmptyListOf(Gen.frequency(6 -> text.map(Option(_)),
        1 -> Gen.const(Option.empty[String])))
      s <- salt
    } yield (ids, s)
    check(Prop.forAllNoShrink(gen) { case (ids, s) =>
      val df = frame(StructType(Seq(StructField("id", StringType))),
        ids.map(i => Row(i.orNull)))
      val got = df.select(col("id"), Md5Uniform.uniform(col("id"), s),
        Md5Uniform.prefix32(col("id"))).collect()
      val bad = got.filterNot { r =>
        if (r.isNullAt(0)) r.isNullAt(1) && r.isNullAt(2)
        else {
          val id = r.getString(0)
          bits(r.getDouble(1)) == bits(uniform(id, s)) &&
            r.getLong(2) == prefix32(id)
        }
      }
      bad.isEmpty :| s"salt '$s': ${bad.take(5).mkString("; ")}"
    })
  }

  test("splitAssign buckets by the id's md5 prefix salted with seed.toString") {
    val gen = for {
      ids <- Gen.nonEmptyListOf(longId)
      sd <- seed
    } yield (ids.distinct, sd)
    check(Prop.forAllNoShrink(gen) { case (ids, sd) =>
      val df = frame(StructType(Seq(StructField("doc_id", LongType))),
        ids.map(Row(_)))
      val got = Corpus.splitAssign(df, "doc_id", seed = sd).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = ids.map { id =>
        val b = prefix32(id.toString + sd.toString) % 100
        id -> (if (b < 80) "train" else if (b < 90) "val" else "test")
      }.toMap
      (got == want) :| s"seed $sd: got $got want $want"
    })
  }

  test("mixSources keeps a row iff its seed.toString-salted uniform is under the rate") {
    val gen = for {
      a <- Gen.choose(2, 40)
      b <- Gen.choose(1, 20)
      ids <- Gen.listOfN(a + b, longId).map(_.distinct)
      sd <- seed
    } yield (ids.take(a), ids.drop(a), sd)
    check(Prop.forAllNoShrink(gen.suchThat(g => g._2.nonEmpty)) {
      case (as, bs, sd) =>
        val rows = as.map(Row(_, "a")) ++ bs.map(Row(_, "b"))
        val df = frame(StructType(Seq(StructField("doc_id", LongType),
          StructField("source", StringType))), rows)
        val got = Corpus.mixSources(df, "doc_id", "source",
          Map("a" -> 0.5, "b" -> 0.5), seed = sd)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        // the driver-side rate arithmetic, replayed in the same order
        val counts = Map("a" -> as.size.toLong, "b" -> bs.size.toLong)
        val total = Seq("a", "b").map(s => 1 * counts(s) / 0.5).min
        val rate = Seq("a", "b").map(s => s -> 0.5 * total / counts(s)).toMap
        val want = (as.map(_ -> "a") ++ bs.map(_ -> "b")).collect {
          case (id, s) if uniform(id.toString, sd.toString) < rate(s) => id
        }.toSet
        (got == want) :| s"seed $sd: extra ${got -- want}, missing ${want -- got}"
    })
  }

  test("weightedSample with unit weights is the top-k of the seed-salted uniform") {
    val gen = for {
      ids <- Gen.nonEmptyListOf(longId).map(_.distinct)
      k <- Gen.choose(1, 8)
      s <- salt
    } yield (ids, k, s)
    check(Prop.forAllNoShrink(gen) { case (ids, k, s) =>
      val df = frame(StructType(Seq(StructField("doc_id", LongType),
        StructField("w", DoubleType))), ids.map(Row(_, 1.0)))
      val got = Corpus.weightedSample(df, "doc_id", "w", k, seed = s)
        .orderBy("sample_rank").select("doc_id").collect()
        .map(_.getLong(0)).toSeq
      // u^(1/1) = u: descending u, ties to the lower id
      val want = ids.sortBy(id => (-uniform(id.toString, s), id)).take(k)
      (got == want) :| s"salt '$s': got $got want $want"
    })
  }

  test("fingerprint folds the unsalted md5 prefix of each space-split word") {
    val P = 4294967291L
    def reference(t: String): Long =
      t.split(" ", -1).foldLeft(0L)((acc, w) =>
        Math.floorMod(acc * 31L + prefix32(w) % P, P))
    val doc: Gen[String] = Gen.listOf(text).map(_.mkString(" "))
    check(Prop.forAllNoShrink(Gen.nonEmptyListOf(doc)) { docs =>
      val df = frame(StructType(Seq(StructField("text", StringType))),
        docs.map(Row(_)))
      val got = df.select(col("text"), TextStats.fingerprint(col("text")))
        .collect()
      val bad = got.filterNot(r => r.getLong(1) == reference(r.getString(0)))
      bad.isEmpty :| bad.take(5).mkString("; ")
    })
  }
}
