package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BloomFunctions, InterCountLongs}
import graft.operators.{Ann, SetSimilarity}
import graft.plans.GraftExtensions

/** The extension as a precondition: one kernel path whatever session
  * is active, one `require` message when the DataFrame's own session
  * lacks the extension, and no second extension probe in the library. */
class GraftExtensionsSpec extends SparkSpec {

  /** A second session on the same context with every graft function
    * dropped — what a session built without the extension looks like
    * (injected functions are session-registry entries, not Spark
    * builtins, so DROP TEMPORARY FUNCTION removes them). */
  private lazy val stripped: SparkSession = {
    val names = spark.catalog.listFunctions().collect()
      .filter(_.className == "graft.functions").map(_.name)
    assert(Set("inter_longs", "pq_encode", "bloom_agg", "word_shingles")
      .subsetOf(names.toSet), s"graft functions not listed: ${names.toSeq}")
    val s = spark.newSession()
    names.foreach(n => s.sql(s"DROP TEMPORARY FUNCTION $n"))
    s
  }

  private def withActive[T](s: SparkSession)(body: => T): T = {
    SparkSession.setActiveSession(s)
    try body finally SparkSession.setActiveSession(spark)
  }

  test("a stripped session loses the graft functions; the full one keeps them") {
    for (n <- Seq("inter_longs", "pq_encode", "bloom_agg")) {
      assert(!stripped.catalog.functionExists(n), n)
      assert(spark.catalog.functionExists(n), n)
    }
  }

  test("jaccardJoin plans inter_longs from the DataFrame's session, not the active one") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("x", "y"))).toDF("id", "toks")
    val (plan, rows) = withActive(stripped) {
      val out = SetSimilarity.jaccardJoin(df, "id", col("toks"), 1, 2)
      (out.queryExecution.optimizedPlan, out.collect())
    }
    assert(plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[InterCountLongs]))),
      s"verify join lost the inter_longs kernel:\n$plan")
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq === Seq((1L, 2L, 3L, 5L)))
  }

  test("operators on a session without the extension fail with the one require message") {
    def assertMissing(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(
        "spark.sql.extensions=graft.plans.GraftExtensions"), s"$what: $e")
    }
    val corpus: DataFrame = stripped.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))).toDF("id", "vec")
    val books = Seq(Seq(Seq(1.0f), Seq(0.0f)), Seq(Seq(0.0f), Seq(1.0f)))
    withActive(stripped) {
      assertMissing("buildPqIndex")(
        Ann.buildPqIndex(corpus, corpus, books, "id", "vec"))
      assertMissing("bloomAgg")(
        corpus.agg(BloomFunctions.bloomAgg(xxhash64(col("id")), 2L, 64L)))
    }
    assertMissing("require")(GraftExtensions.require(stripped))
    GraftExtensions.require(spark) // the full session passes
  }

  /** Every `src/main` line matching `pattern`, as (path, 0-based line
    * index, the file's lines). */
  private def mainSourceHits(pattern: scala.util.matching.Regex)
      : Seq[(String, Int, Vector[String])] = {
    val root = new java.io.File("src/main/scala")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = files(root)
    assert(all.size > 50, s"source tree not found under ${root.getAbsolutePath}")
    for {
      f <- all
      src = scala.io.Source.fromFile(f, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex
      if pattern.findFirstIn(line).nonEmpty
    } yield (f.getPath, i, lines)
  }

  test("no extension probe outside GraftExtensions.require") {
    val hits = mainSourceHits("functionExists|getActiveSession".r)
    assert(hits.size === 1, "extension probes: " +
      hits.map { case (p, i, ls) => s"$p:${i + 1}: ${ls(i).trim}" }.mkString("; "))
    val (path, i, lines) = hits.head
    assert(path.endsWith("graft/plans/GraftExtensions.scala"), path)
    val enclosing = lines.take(i + 1).reverseIterator
      .find(_.trim.startsWith("def ")).getOrElse("")
    assert(enclosing.trim.startsWith("def require("), enclosing)
  }

  test("ANN and PCA models never ship as plan literals") {
    // the kernels hold trained state by reference; a typed literal in
    // these files would put a codebook, centroid set or rotation back
    // into every plan (reflected, rendered and canonicalized per query)
    val hits = for {
      name <- Seq("Ann.scala", "Pca.scala")
      path = s"src/main/scala/graft/operators/$name"
      src = scala.io.Source.fromFile(path, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex
      if "typed[lL]it".r.findFirstIn(line).nonEmpty
    } yield s"$path:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("the md5 prefix is built only in Md5Uniform") {
    // every replayable draw goes through the one helper; DuckDB oracle
    // text (stripMargin lines, starting with `|`) replays the same
    // prefix and is exempt
    val hits = mainSourceHits("""substring\(md5\(""".r).collect {
      case (p, i, ls) if !ls(i).trim.startsWith("|") &&
          !p.endsWith("graft/functions/Md5Uniform.scala") =>
        s"$p:${i + 1}: ${ls(i).trim}"
    }
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("the deleted join, sampling and export options stay deleted") {
    // each had one value every query passed; a second code path behind
    // a switch no workload sets is untested configuration
    val gone = ("\\b(replayableUniform|replayableWordHash|equalFast|" +
      "broadcastRight|saltBuckets|packIds|broadcastBatch|broadcastStats|" +
      "coalesceTo|resumeLatest|SkewJoin|saltedInner)\\b").r
    val hits = mainSourceHits(gone).map { case (p, i, ls) =>
      s"$p:${i + 1}: ${ls(i).trim}" }
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("each near-dup step is written once") {
    // the pair join, probe, cluster drop and partition prune live in
    // Dedup; a family that spelled one out again would drift from the
    // others (the copies did, before they were folded)
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val steps = Seq(
      "the loser filter" -> """col\("component"\) =!= col\("id"\)""".r,
      "the banded repartition" ->
        """repartition\(col\("band"\), col\("bucket"\)\)""".r,
      "the flip-bucket XOR set" -> """bitwiseXOR\(lit\(""".r,
      "the partition isin" ->
        """(shard|kind|partition).*\.isin\(|\.isin\(.*(shard|kind|partition)""".r)
    for ((what, pattern) <- steps) {
      val hits = mainSourceHits(pattern).collect {
        case (p, i, ls) if !isComment(ls(i)) => s"$p:${i + 1}: ${ls(i).trim}"
      }
      assert(hits.size === 1, s"$what written ${hits.size} times: " +
        hits.mkString("; "))
    }
  }

  test("index files go through Hadoop paths; delta folder names are built once") {
    // java.io.File cannot list a file: URI or any other Hadoop path: a
    // root listing through it finds nothing, silently
    val fileHits = mainSourceHits("""java\.io\.File\b""".r).collect {
      case (p, i, ls) if p.contains("graft/streaming/") ||
          p.contains("graft/operators/") =>
        s"$p:${i + 1}: ${ls(i).trim}"
    }
    assert(fileHits.isEmpty, fileHits.mkString("; "))
    // the encoded-index delta folder and the streaming delta root each
    // have one writer; a second spelling could drift from its readers
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    for (name <- Seq("index_delta", "delta_b")) {
      val hits = mainSourceHits(name.r).collect {
        case (p, i, ls) if !isComment(ls(i)) => s"$p:${i + 1}: ${ls(i).trim}"
      }
      assert(hits.size === 1, s"$name built in ${hits.size} places: " +
        hits.mkString("; "))
    }
  }
}
