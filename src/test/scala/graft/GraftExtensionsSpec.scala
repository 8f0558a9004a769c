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

  test("no extension probe outside GraftExtensions.require") {
    val root = new java.io.File("src/main/scala")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = files(root)
    assert(all.size > 50, s"source tree not found under ${root.getAbsolutePath}")
    val probe = "functionExists|getActiveSession".r
    val hits = for {
      f <- all
      src = scala.io.Source.fromFile(f, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex
      if probe.findFirstIn(line).nonEmpty
    } yield (f.getPath, i, lines)
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
}
