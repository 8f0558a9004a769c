package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different words entirely here now"),
    (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length === 3)
    val dupGroup = out.find(_.getLong(1) == 0L).get
    assert(dupGroup.getLong(2) === 2L) // docs 0 and 3
  }

  test("shingles builds distinct word n-grams") {
    val sh = docs.filter($"doc_id" === 0)
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head
    assert(sh.contains("the quick brown"))
    assert(sh.contains("over the lazy"))
    assert(sh.length === 7) // 9 words -> 7 trigrams, all distinct
  }

  test("jaccard of identical sets is 1") {
    val j = docs.filter($"doc_id" === 0)
      .select(Dedup.jaccard(
        Dedup.shingles(col("text"), 3), Dedup.shingles(col("text"), 3)))
      .as[Double].head
    assert(j === 1.0)
  }

  test("minhash near-dup finds the exact and near pair, not the unrelated doc") {
    val out = Dedup.minhashNearDup(docs, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16, threshold = 0.5)
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((0L, 3L))) // exact dup always caught
    assert(!out.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("simhash candidates include exact dup with hamming 0") {
    val out = Dedup.simhashCandidates(docs, "doc_id", "text",
      shingleN = 2, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = out.find(t => t._1 == 0L && t._2 == 3L)
    assert(exact.nonEmpty && exact.get._3 === 0)
  }

  test("incrementalNearDup probes a saved index without touching corpus text") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different words entirely here now"),
      (2L, "grand unified theories of modern physics explained simply"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (11L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (12L, "fresh novel content with no corpus counterpart at all"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    // build + save in one "run", load + probe in another: persisted
    // bucket keys must stay join-compatible across the parquet boundary
    Dedup.buildMinhashIndex(corpus, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16).save(dir)
    val index = Dedup.MinhashIndex.load(spark, dir)
    val pairs = Dedup.incrementalNearDup(batch, index, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 10L && p._3 == 1.0))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 11L))
    assert(!pairs.exists(p => p._2 == 12L))
  }

  test("incrementalDedup drops corpus dups, keeps min id within batch, emits delta") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val index = Dedup.buildMinhashIndex(corpus, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of corpus
      (11L, "brand new document about distributed query engines"),
      (12L, "brand new document about distributed query engines"), // dup of 11
      (13L, "a singleton with entirely original narrative text"))
      .toDF("doc_id", "text")
    val (survivors, delta) = Dedup.incrementalDedup(batch, index,
      "doc_id", "text", shingleN = 2, numHashes = 48, bands = 16,
      threshold = 0.5)
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(11L, 13L))
    // delta indexes exactly the survivors
    assert(delta.shingles.select("id").as[Long].collect().sorted.toSeq ===
      Seq(11L, 13L))
    // next batch dedups against the GROWN index: a dup of survivor 11
    // is now caught
    val grown = index.union(delta)
    val next = Seq(
      (20L, "brand new document about distributed query engines"))
      .toDF("doc_id", "text")
    val (nextSurvivors, _) = Dedup.incrementalDedup(next, grown,
      "doc_id", "text", shingleN = 2, numHashes = 48, bands = 16,
      threshold = 0.5)
    assert(nextSurvivors.isEmpty)
  }

  // ------------------------------------------------------------------
  // incrementalDedup ≡ the chained form: incrementalNearDup → left-anti
  // → dropNearDuplicates → buildMinhashIndex of the survivors
  // ------------------------------------------------------------------

  private val diffParams = Check.Parameters.default
    .withMinSuccessfulTests(25)
    .withInitialSeed(Seed(20261020L))
    .withWorkers(1)

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    "ünïcode", "日本語")

  private val freshText: Gen[String] =
    Gen.choose(4, 10).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
      .map(_.mkString(" "))

  /** `t` with one word replaced: a near copy (or, when the draw
    * repeats the word, an exact one). */
  private def nearCopy(t: String): Gen[String] = {
    val ws = t.split(" ")
    for {
      i <- Gen.choose(0, ws.length - 1)
      w <- Gen.oneOf(vocab)
    } yield ws.updated(i, w).mkString(" ")
  }

  /** (index texts, batch texts): the batch plants exact and near copies
    * of index docs and of earlier batch siblings, null and empty texts;
    * either side may be empty. */
  private val incrementalCase: Gen[(Seq[String], Seq[Option[String]])] =
    for {
      nIndex <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 5))
      index <- Gen.listOfN(nIndex, freshText)
      nBatch <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 8))
      batch <- (0 until nBatch).foldLeft(
          Gen.const(Vector.empty[Option[String]])) { (acc, _) =>
        acc.flatMap { prev =>
          val seen = index ++ prev.flatten
          val copies =
            if (seen.isEmpty) Nil
            else Seq(3 -> Gen.oneOf(seen).map(Option(_)),
              3 -> Gen.oneOf(seen).flatMap(nearCopy).map(Option(_)))
          Gen.frequency(Seq(
            3 -> freshText.map(Option(_)),
            1 -> Gen.const(None),
            1 -> Gen.const(Some(""))) ++ copies: _*).map(prev :+ _)
        }
      }
    } yield (index, batch)

  /** Rows in a column-name and row order both sides agree on. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def textFrame(texts: Seq[Option[String]], firstId: Long): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (firstId + i, t.orNull) }
      .toDF("doc_id", "text")

  test("incrementalDedup ≡ incrementalNearDup → left-anti → dropNearDuplicates → buildMinhashIndex") {
    val root = Files.createTempDirectory("graft_incr_diff").toString
    val (n, h, b, tau) = (2, 48, 16, 0.5)
    var cases = 0
    val r = Check.check(diffParams,
      Prop.forAllNoShrink(incrementalCase) { case (indexTexts, batchTexts) =>
        cases += 1
        val dir = s"$root/case$cases"
        Dedup.buildMinhashIndex(textFrame(indexTexts.map(Option(_)), 0L),
          "doc_id", "text", n, h, b).save(dir)
        val index = Dedup.MinhashIndex.load(spark, dir)
        val batch = textFrame(batchTexts, 100L)
        val (survivors, delta) = Dedup.incrementalDedup(batch, index,
          "doc_id", "text", n, h, b, tau)
        val hits = Dedup.incrementalNearDup(batch, index, "doc_id", "text",
          n, h, b, tau).select(col("b_id").as("doc_id"))
        val refSurvivors = Dedup.dropNearDuplicates(
          batch.join(hits, Seq("doc_id"), "left_anti"), "doc_id", "text",
          n, h, b, tau)
        val refDelta = Dedup.buildMinhashIndex(refSurvivors, "doc_id",
          "text", n, h, b)
        val (gotS, wantS) = (rows(survivors), rows(refSurvivors))
        val (gotD, wantD) = (rows(delta.entries), rows(refDelta.entries))
        (gotS == wantS && gotD == wantD) :|
          s"survivors $gotS vs $wantS; delta $gotD vs $wantD"
      })
    assert(r.passed, Pretty.pretty(r))
  }

  test("incrementalSimhashDedup ≡ incrementalSimhashNearDup → left-anti → dropSimhashDuplicates → buildSimhashIndex") {
    val root = Files.createTempDirectory("graft_simincr_diff").toString
    // a wide radius, so near copies (one word swapped) cluster too
    val (n, maxH) = (2, 8)
    var cases = 0
    val r = Check.check(diffParams,
      Prop.forAllNoShrink(incrementalCase) { case (indexTexts, batchTexts) =>
        cases += 1
        val dir = s"$root/case$cases"
        Dedup.buildSimhashIndex(textFrame(indexTexts.map(Option(_)), 0L),
          "doc_id", "text", n).save(dir)
        val index = Dedup.SimhashIndex.load(spark, dir)
        val batch = textFrame(batchTexts, 100L)
        val (survivors, delta) = Dedup.incrementalSimhashDedup(batch, index,
          "doc_id", "text", n, maxH)
        val hits = Dedup.incrementalSimhashNearDup(batch, index, "doc_id",
          "text", n, maxH).select(col("b_id").as("doc_id"))
        val refSurvivors = Dedup.dropSimhashDuplicates(
          batch.join(hits, Seq("doc_id"), "left_anti"), "doc_id", "text",
          n, maxH)
        val refDelta = Dedup.buildSimhashIndex(refSurvivors, "doc_id",
          "text", n)
        val (gotS, wantS) = (rows(survivors), rows(refSurvivors))
        val (gotD, wantD) = (rows(delta.entries), rows(refDelta.entries))
        (gotS == wantS && gotD == wantD) :|
          s"survivors $gotS vs $wantS; delta $gotD vs $wantD"
      })
    assert(r.passed, Pretty.pretty(r))
  }

  private val freshVec: Gen[Seq[Float]] =
    Gen.listOfN(4, Gen.choose(-10, 10).map(_ / 10.0f))

  /** `v` nudged on one axis: a near copy (or an exact one at step 0). */
  private def nearVec(v: Seq[Float]): Gen[Seq[Float]] =
    for {
      i <- Gen.choose(0, v.size - 1)
      d <- Gen.choose(-2, 2)
    } yield v.updated(i, v(i) + d * 0.05f)

  /** (index vectors, batch vectors): the batch plants exact and near
    * copies of index vectors and of earlier batch siblings, and zero
    * vectors; either side may be empty. */
  private val vectorCase: Gen[(Seq[Seq[Float]], Seq[Seq[Float]])] =
    for {
      nIndex <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 5))
      index <- Gen.listOfN(nIndex, freshVec)
      nBatch <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 8))
      batch <- (0 until nBatch).foldLeft(
          Gen.const(Vector.empty[Seq[Float]])) { (acc, _) =>
        acc.flatMap { prev =>
          val seen = index ++ prev
          val copies =
            if (seen.isEmpty) Nil
            else Seq(2 -> Gen.oneOf(seen), 4 -> Gen.oneOf(seen).flatMap(nearVec))
          Gen.frequency(Seq(
            3 -> freshVec,
            1 -> Gen.const(Seq.fill(4)(0.0f))) ++ copies: _*).map(prev :+ _)
        }
      }
    } yield (index, batch)

  test("incrementalEmbeddingDedup ≡ incrementalEmbeddingNearDup → left-anti → dropEmbeddingNearDuplicates → buildEmbeddingIndex") {
    val root = Files.createTempDirectory("graft_embincr_diff").toString
    val (dim, planes, tau) = (4, 4, 0.9)
    def vecFrame(vs: Seq[Seq[Float]], firstId: Long): DataFrame =
      vs.zipWithIndex.map { case (v, i) => (firstId + i, v) }
        .toDF("vec_id", "embedding")
    var cases = 0
    val r = Check.check(diffParams,
      Prop.forAllNoShrink(vectorCase) { case (indexVecs, batchVecs) =>
        cases += 1
        val dir = s"$root/case$cases"
        Dedup.buildEmbeddingIndex(vecFrame(indexVecs, 0L), "vec_id",
          "embedding", dim, planes).save(dir)
        val index = Dedup.EmbeddingIndex.load(spark, dir)
        val batch = vecFrame(batchVecs, 100L)
        val checks = for (flips <- Seq(0, 1)) yield {
          val (survivors, delta) = Dedup.incrementalEmbeddingDedup(batch,
            index, "vec_id", "embedding", dim, planes, tau, flips)
          val hits = Dedup.incrementalEmbeddingNearDup(batch, index,
            "vec_id", "embedding", dim, planes, tau, flips)
            .select(col("b_id").as("vec_id"))
          val refSurvivors = Dedup.dropEmbeddingNearDuplicates(
            batch.join(hits, Seq("vec_id"), "left_anti"), "vec_id",
            "embedding", dim, planes, tau, flips)
          val refDelta = Dedup.buildEmbeddingIndex(refSurvivors, "vec_id",
            "embedding", dim, planes)
          val (gotS, wantS) = (rows(survivors), rows(refSurvivors))
          val (gotD, wantD) = (rows(delta.entries), rows(refDelta.entries))
          (gotS == wantS && gotD == wantD) :|
            s"probeFlips $flips: survivors $gotS vs $wantS; " +
              s"delta $gotD vs $wantD"
        }
        checks.reduce(_ && _)
      })
    assert(r.passed, Pretty.pretty(r))
  }

  test("incremental SimHash and embedding dedup featurize the batch once") {
    // survivors and delta read the pinned batch features; neither plan
    // computes the signature again
    def computes(df: DataFrame, kernel: String): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(kernel)
    // materialized indexes: their own features are not the batch's
    val (simS, simD) = Dedup.incrementalSimhashDedup(docs, Dedup
      .buildSimhashIndex(docs.limit(1), "doc_id", "text").materialize(),
      "doc_id", "text")
    assert(!computes(simS, "simhash64") && !computes(simD.entries, "simhash64"))
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val (embS, embD) = Dedup.incrementalEmbeddingDedup(vecs, Dedup
      .buildEmbeddingIndex(vecs.limit(1), "vec_id", "embedding", dim = 2,
        numPlanes = 4).materialize(), "vec_id", "embedding", dim = 2,
      numPlanes = 4, threshold = 0.9, probeFlips = 1)
    assert(!computes(embS, "hyperplane_bucket") &&
      !computes(embD.entries, "hyperplane_bucket"))
  }

  test("SimhashIndex.load drops tombstoned ids") {
    val dir = Files.createTempDirectory("graft_simtomb").toString
    Dedup.buildSimhashIndex(Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different words entirely here now"))
      .toDF("doc_id", "text"), "doc_id", "text").save(dir)
    graft.operators.IndexMaintenance.addTombstones(Seq(1L).toDF("id"), dir)
    assert(Dedup.SimhashIndex.load(spark, dir).entries.select("id")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("exactIncremental anti-joins corpus hashes then keeps min id per content") {
    val corpusHashes = Dedup.exact(docs, "doc_id", "text")
      .select("content_hash")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // in corpus
      (11L, "novel content one"), (12L, "novel content one"),
      (13L, "novel content two"))
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, corpusHashes, "doc_id", "text")
      .orderBy("keep_id")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(out.toSeq === Seq((11L, 2L), (13L, 1L)))
  }

  test("dropRepeatedLines strips cross-doc boilerplate, keeps order, empties all-boilerplate docs") {
    val lined = Seq(
      (1L, "COOKIE BANNER\nalpha one\nSHARED FOOTER\nalpha two", "k1"),
      (2L, "COOKIE BANNER\nbeta solo\nSHARED FOOTER", "k2"),
      (3L, "gamma first\nCOOKIE BANNER\ngamma last\nSHARED FOOTER", "k3"),
      (4L, "COOKIE BANNER\nSHARED FOOTER", "k4"), // all boilerplate
      (5L, "delta only line", "k5"))
      .toDF("doc_id", "text", "extra")
    val out = Dedup.dropRepeatedLines(lined, "doc_id", "text", "\n", minDocs = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("extra"))).toSet
    assert(out === Set(
      (1L, "alpha one\nalpha two", "k1"),
      (2L, "beta solo", "k2"),
      (3L, "gamma first\ngamma last", "k3"),
      (4L, "", "k4"),
      (5L, "delta only line", "k5")))
    // minDocs = 2 would also strip nothing here that appears once
    val loose = Dedup.dropRepeatedLines(lined, "doc_id", "text", "\n", minDocs = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(loose(4L) === "COOKIE BANNER\nSHARED FOOTER") // under threshold: kept
  }

  test("dropBoilerplateChunks strips shared passages from continuous text") {
    // a ~300-char boilerplate passage embedded mid-text in 3 docs with
    // DIFFERENT surroundings (no newlines anywhere — line dedup can't
    // touch this); CDC boundaries resynchronize inside the passage so
    // its interior chunks hash identically across docs
    val boiler = "this exact legal disclaimer is appended to every " +
      "page of the site and repeats verbatim across documents " * 5
    val docs = Seq(
      (1L, "alpha opening words " + boiler + " alpha closing words", "k1"),
      (2L, "beta starts differently here " + boiler + " beta tail", "k2"),
      (3L, "gamma prefix " + boiler + " gamma suffix text", "k3"),
      (4L, "entirely unique document with no shared passages at all", "k4"))
      .toDF("doc_id", "text", "extra")
    // scala reference of the full pipeline: same cuts, string identity
    def cuts(s: String, w: Int, m: Int): Seq[Int] = {
      val cps = s.codePoints().toArray.toSeq
      val hits = (w to cps.length - 1).filter { i =>
        cps.slice(i - w, i).foldLeft(0L)((h, c) => h * 31 + c) % m == 0
      }
      0 +: hits :+ cps.length
    }
    val raw = Seq(
      (1L, "alpha opening words " + boiler + " alpha closing words", "k1"),
      (2L, "beta starts differently here " + boiler + " beta tail", "k2"),
      (3L, "gamma prefix " + boiler + " gamma suffix text", "k3"),
      (4L, "entirely unique document with no shared passages at all", "k4"))
    val pieces = raw.map { case (id, t, _) =>
      id -> cuts(t, 4, 16).sliding(2).map(p => t.substring(p(0), p(1))).toSeq
    }
    val counts = pieces.flatMap { case (id, ps) => ps.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).distinct.size }
    val boilerSet = counts.filter(_._2 >= 3).keySet
    val want = raw.map { case (id, _, extra) =>
      (id, pieces.toMap.apply(id).filterNot(boilerSet).mkString, extra)
    }.toSet
    assert(boilerSet.nonEmpty, "fixture must produce shared chunks")
    val out = Dedup.dropBoilerplateChunks(docs, "doc_id", "text",
        minDocs = 3, window = 4, modulus = 16)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("extra"))).toSet
    assert(out === want)
    // the shared passage is actually gone, the unique doc untouched
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(!byId(1L).contains(boiler) && byId(1L).startsWith("alpha"))
    assert(byId(4L) === raw.find(_._1 == 4L).get._2)
  }

  test("exactIncrementalBloom matches exactIncremental row for row") {
    val corpusHashes = Dedup.exact(docs, "doc_id", "text")
      .select("content_hash")
    val bloom = Dedup.buildContentBloom(docs, "text", expectedItems = 100)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // in corpus
      (11L, "novel content one"), (12L, "novel content one"),
      (13L, "novel content two"))
      .toDF("doc_id", "text")
    val plain = Dedup.exactIncremental(batch, corpusHashes, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val bloomed = Dedup.exactIncrementalBloom(
      batch, bloom, corpusHashes, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(bloomed === plain)
    assert(bloomed.map(_(1)) === Set(11L, 13L))
  }

  test("bloom probe is negative-definitive and routes around the anti-join") {
    import graft.functions.BloomFunctions._
    val bloom = Dedup.buildContentBloom(docs, "text", expectedItems = 100)
    // every corpus content probes positive (no false negatives, ever)
    val hits = docs
      .select(bloomMightContain(bloom, xxhash64(col("text"))).as("m"))
      .collect().map(_.getBoolean(0))
    assert(hits.forall(identity))
    // the probe sits in the plan as a pure filter below the anti-join
    // (a parquet source, because ConvertToLocalRelation pre-evaluates
    // filters — bloom probe included — on in-memory relations)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    docs.write.mode("overwrite").parquet(dir)
    val plan = Dedup.exactIncrementalBloom(
      spark.read.parquet(dir), bloom, Dedup.exact(docs, "doc_id", "text")
        .select("content_hash"), "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("incrementalSimhashDedup drops corpus dups, dedups within batch, round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_simidx").toString
    Dedup.buildSimhashIndex(docs, "doc_id", "text").save(dir)
    val index = Dedup.SimhashIndex.load(spark, dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact corpus dup
      (11L, "entirely novel sentence with new words"),      // fresh
      (12L, "entirely novel sentence with new words"),      // dup of 11 in batch
      (13L, "another separate batch document altogether"))  // fresh
      .toDF("doc_id", "text")
    val (survivors, delta) = Dedup.incrementalSimhashDedup(
      batch, index, "doc_id", "text")
    val kept = survivors.select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L)) // 10 hit corpus (hamming 0); 12 lost to 11
    // the delta indexes exactly the survivors, 8 bytes of state each
    val deltaIds = delta.entries.select("id").as[Long].collect().toSet
    assert(deltaIds === Set(11L, 13L))
    assert(delta.entries.columns.toSeq === Seq("id", "sim"))
    // a second batch against the UNIONED index sees the first's survivors
    val batch2 = Seq(
      (20L, "entirely novel sentence with new words"), // dup of indexed 11
      (21L, "completely fresh second batch text"))
      .toDF("doc_id", "text")
    val (s2, _) = Dedup.incrementalSimhashDedup(
      batch2, index.union(delta).materialize(), "doc_id", "text")
    assert(s2.select("doc_id").as[Long].collect().toSet === Set(21L))
  }

  test("incrementalEmbeddingDedup drops corpus near-dups, dedups within batch") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_embidx").toString
    Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      dim = 4, numPlanes = 6).save(dir)
    val index = Dedup.EmbeddingIndex.load(spark, dir)
    val batch = Seq(
      (10L, Array(0.99f, 0.01f, 0.0f, 0.0f)),  // near-dup of corpus 0
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)),    // fresh
      (12L, Array(0.0f, 0.0f, 0.99f, 0.01f)),  // near-dup of 11 in batch
      (13L, Array(0.0f, 0.0f, 0.0f, 1.0f)))    // fresh
      .toDF("vec_id", "embedding")
    val (survivors, delta) = Dedup.incrementalEmbeddingDedup(
      batch, index, "vec_id", "embedding", dim = 4, numPlanes = 6,
      threshold = 0.9)
    val kept = survivors.select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(11L, 13L))
    assert(delta.entries.select("id").as[Long].collect().sorted.toSeq ===
      Seq(11L, 13L))
    // grown index catches a next-batch dup of survivor 11
    val next = Seq((20L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (nextKept, _) = Dedup.incrementalEmbeddingDedup(
      next, index.union(delta), "vec_id", "embedding", dim = 4,
      numPlanes = 6, threshold = 0.9)
    assert(nextKept.isEmpty)
  }

  test("ngramJaccardPairs respects blocking") {
    val blocked = docs.withColumn("blk", lit(1))
    val out = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", "blk",
      n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((0L, 3L)))
    assert(out.contains((0L, 1L))) // near-dup above 0.5 on bigrams
  }

  test("semanticDedup keeps the group member FARTHEST from its centroid") {
    // one cluster (k=1) of three vectors, all pairwise above the 0.95
    // threshold: ids 1/2 sit near the centroid, id 3 is the outlier
    // (cos-to-centroid ≈ 0.983 vs 0.995/0.996). SemDeDup's policy
    // keeps the outlier — a min-id policy would keep 1 instead, so
    // this discriminates.
    val vs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9999f, 0.0141f, 0.0f, 0.0f)),
      (3L, Array(0.96f, 0.28f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vs, "vec_id", "embedding", k = 1,
      threshold = 0.95)
    assert(out.select("vec_id").as[Long].collect().toSeq === Seq(3L))
  }

  test("pre-shard index saves load with the shard backfilled") {
    val corpus = Seq((1L, "the quick brown fox jumps over the dog"),
      (2L, "entirely different words live here now today"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_oldidx").toString
    // simulate a pre-shard save: entries without the shard column,
    // unpartitioned — the on-disk layout the previous revision wrote
    idx.entries.drop("shard").write.parquet(s"$dir/entries")
    val loaded = Dedup.MinhashIndex.load(spark, dir)
    assert(loaded.entries.columns.contains("shard"))
    val batch = Seq((10L, "the quick brown fox jumps over the dog"))
      .toDF("doc_id", "text")
    val hits = Dedup.incrementalNearDup(batch, loaded, "doc_id", "text",
      shingleN = 2, numHashes = 48, bands = 16, threshold = 0.5)
    assert(hits.select("a_id", "b_id").as[(Long, Long)].collect().toSeq
      === Seq((1L, 10L)))
  }

  test("semanticDedupWith uses supplied centroids without retraining") {
    // hand-made centroids on the two axes: assignment is fully
    // determined, so the pretrained path is exactly predictable
    val cents = Seq(
      (0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("centroid_id", "embedding")
    val vs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9999f, 0.0141f, 0.0f, 0.0f)), // dup of 1, nearer x-axis
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))        // other cluster, untouched
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedupWith(vs, cents, "vec_id", "embedding",
      threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // keep-farthest: id 2 (cos to centroid ≈ 0.9999) loses to id 1?
    // no — id 1 IS the centroid direction (cos 1.0), id 2 is farther
    // (cos 0.9999) and survives; id 3 is a singleton
    assert(out === Seq(2L, 3L))
  }

  test("semanticDedup blocks by cluster and removes planted duplicates") {
    // two orthogonal groups (x-y plane / z-w plane), members 25° apart
    // (cos 0.906 < 0.95 — distinct members never merge); ids 100/101
    // exactly duplicate one member of each group
    def ang(deg: Double) = math.toRadians(deg)
    val xy = (0 until 4).map(i => (i.toLong,
      Array(math.cos(ang(25 * i)).toFloat, math.sin(ang(25 * i)).toFloat,
        0.0f, 0.0f)))
    val zw = (0 until 4).map(i => (10L + i,
      Array(0.0f, 0.0f, math.cos(ang(25 * i)).toFloat,
        math.sin(ang(25 * i)).toFloat)))
    val dups = Seq((100L, xy(1)._2.clone), (101L, zw(2)._2.clone))
    val vs = (xy ++ zw ++ dups).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vs, "vec_id", "embedding", k = 2,
      threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // exactly one of each planted pair survives; everything else kept
    assert(out.length === 8)
    assert((out.contains(1L) ^ out.contains(100L)) &&
      (out.contains(12L) ^ out.contains(101L)))
    // deterministic
    val again = Dedup.semanticDedup(vs, "vec_id", "embedding", k = 2,
      threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(again === out)
  }

  test("dropDuplicateSpans strips shared spans, merges islands, counts tokens") {
    val docs = Seq(
      (1L, "a b c d e f", "s1"),
      (2L, "x y a b c d z", "s2"),
      (3L, "u v w q r s t", "s3") // nothing shared
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dropDuplicateSpans(docs, "doc_id", "text",
      gramN = 3, minDocs = 2)
      .select("doc_id", "text", "dup_tokens", "dup_spans", "source")
      .as[(Long, String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // shared 3-grams "a b c" + "b c d" cover [1,4] in doc 1, [3,6] in
    // doc 2 — one merged island each; doc 3 untouched, passthrough
    // column preserved
    assert(out(1L) === ((1L, "e f", 4L, 1L, "s1")))
    assert(out(2L) === ((2L, "x y z", 4L, 1L, "s2")))
    assert(out(3L) === ((3L, "u v w q r s t", 0L, 0L, "s3")))
  }

  test("dropDuplicateSpans separates gapped islands, merges adjacent ones") {
    val docs = Seq(
      (1L, "a b c q r s t d e f"), // shared at both ends, gap between
      (2L, "a b c"),
      (3L, "d e f"),
      (4L, "a b c d e f") // two shared spans touching → one island
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, "doc_id", "text",
      gramN = 3, minDocs = 2)
      .select("doc_id", "text", "dup_tokens", "dup_spans")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "q r s t", 6L, 2L)))
    assert(out(4L) === ((4L, "", 6L, 1L)))
    // the 3-token donors are themselves fully covered
    assert(out(2L) === ((2L, "", 3L, 1L)))
    assert(out(3L) === ((3L, "", 3L, 1L)))
  }

  test("dropDuplicateSpans needs DISTINCT docs and leaves short docs alone") {
    val docs = Seq(
      (1L, "p q r p q r"), // "p q r" repeats WITHIN one doc only
      (2L, "a b"),         // shorter than gramN
      (3L, "c")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, "doc_id", "text",
      gramN = 3, minDocs = 2)
      .select("doc_id", "text", "dup_tokens", "dup_spans")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "p q r p q r", 0L, 0L)))
    assert(out(2L) === ((2L, "a b", 0L, 0L)))
    assert(out(3L) === ((3L, "c", 0L, 0L)))
  }

  test("lshPlan picks the split whose S-curve crossing matches the target") {
    // 48 hashes, target 0.5: divisor splits include 12x4 (t50=0.537)
    // and 16x3 (t50=0.397) -> 12x4 is closer
    val p5 = Dedup.lshPlan(0.5, 48)
    assert((p5.bands, p5.rowsPerBand) == (12, 4))
    assert(math.abs(p5.threshold50 - 0.537284965911771) < 1e-12)
    assert(math.abs(p5.pAtThreshold - 0.5390484106017048) < 1e-12)
    assert(math.abs(p5.pBelow - 0.2674330803047421) < 1e-12)
    assert(math.abs(p5.pAbove - 0.8109282742449611) < 1e-12)
    // recall-leaning 0.4 target recovers q31's default 16x3 split
    val p4 = Dedup.lshPlan(0.4, 48)
    assert((p4.bands, p4.rowsPerBand) == (16, 3))
    assert(math.abs(p4.threshold50 - 0.3968502629920499) < 1e-12)
    // the S-curve is monotone: P below < P at < P above
    assert(p5.pBelow < p5.pAtThreshold && p5.pAtThreshold < p5.pAbove)
    // degenerate splits behave: 2 hashes
    val tiny = Dedup.lshPlan(0.5, 2)
    assert(tiny.bands * tiny.rowsPerBand == 2)
  }

  test("normalizeForDedup: case/punct/whitespace collapse, Unicode letters kept") {
    val got = Seq(
      "  Hello,   WORLD!!  ",
      "hello world",
      "Église—Café 42",      // non-Latin letters survive, dash collapses
      "a1-b2\t\nc3")
      .toDF("t")
      .select(Dedup.normalizeForDedup(col("t"))).as[String].collect()
    assert(got.toSeq === Seq(
      "hello world", "hello world", "église café 42", "a1 b2 c3"))
    // the operator contract: the two layouts of one text dedup together
    val docs = Seq((1L, "The Quick--Brown FOX!"), (2L, "the quick brown fox"),
      (3L, "unrelated")).toDF("doc_id", "text")
    val out = Dedup.exact(
      docs.select(col("doc_id"),
        Dedup.normalizeForDedup(col("text")).as("n")), "doc_id", "n")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }
}
