package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.functions.TextFunctions
import graft.operators.{FuzzyMatch, HtmlTable}
import graft.sources.{Pipeline, StageSink}

/** The reference's full votervoice flow (votervoice/__main__.py main):
  * extract (HTML → records) → transform (name/psd/normalize) → match
  * (fuzzy linkage vs roster) → save each stage — end to end on Spark.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val page =
    """<table>
      |<tr><th>info</th><th>office</th><th>sig_rating</th></tr>
      |<tr><td>Rep. John A. Smith Jr. (R-TX-07)</td><td>US House</td><td>95</td></tr>
      |<tr><td>Delegate Mary Jones (D-DC-00)</td><td>US House</td><td>88</td></tr>
      |<tr><td>Sen. Bob Lee (I-VT-01)</td><td>US Senate</td><td>72</td></tr>
      |</table>""".stripMargin

  test("extract -> transform -> match -> staged exports") {
    val base = Files.createTempDirectory("graft_pipeline").toString
    val t0 = Instant.parse("2024-05-06T07:08:09.000001Z")

    // EXTRACT: page source -> records keyed by header
    val extracted = HtmlTable.toRecords(
      Seq((1L, page)).toDF("page_id", "page"), "page", Seq("page_id"))
      .select(col("page_id"), col("row_idx"),
        col("record")("info").as("info"),
        col("record")("office").as("office"),
        col("record")("sig_rating").as("sig_rating"))
    StageSink.save(extracted, base, "EXTRACT_FILES", "Ratings-Extract", t0)

    // TRANSFORM: the reference's get_name + get_party_state_district +
    // VALUES_TO_REPLACE + nan->''
    val transformed = extracted.select(
      col("row_idx").as("s_id"),
      TextFunctions.firstName(col("info")).as("firstname"),
      TextFunctions.middleName(col("info")).as("middlename"),
      TextFunctions.lastName(col("info")).as("lastname"),
      TextFunctions.extractSuffix(col("info")).as("suffix"),
      TextFunctions.party(col("info")).as("party_raw"),
      TextFunctions.state(col("info")).as("state_id"),
      TextFunctions.district(col("info")).as("district"),
      TextFunctions.nullToEmpty(
        TextFunctions.replaceValues(col("office"),
          Map("US House" -> "U.S. House", "US Senate" -> "U.S. Senate")))
        .as("office"),
      col("sig_rating"), col("sig_rating").as("our_rating"))
      .withColumn("party", TextFunctions.replaceValues(col("party_raw"),
        Map("R" -> "Republican", "D" -> "Democratic", "I" -> "Independent")))
      .drop("party_raw")
    StageSink.save(transformed, base, "TRANSFORMED_FILES",
      "Ratings-Transformed", t0)

    val rows = transformed.orderBy("s_id").collect()
    assert(rows(0).getAs[String]("firstname") === "John")
    assert(rows(0).getAs[String]("district") === "7")
    assert(rows(0).getAs[String]("party") === "Republican")
    assert(rows(1).getAs[String]("district") === "Delegate")
    assert(rows(2).getAs[String]("office") === "U.S. Senate")

    // MATCH: against a DB-roster-shaped frame, reference config subset
    val roster = Seq(
      (100L, "John", "A.", "Smith", "Jr.", "U.S. House", "7", "Republican", "TX"),
      (101L, "Mary", "", "Jones", "", "U.S. House", "Delegate", "Democratic", "DC"),
      (102L, "Robert", "", "Lee", "", "U.S. Senate", "1", "Independent", "VT"),
      (103L, "Jane", "", "Smythe", "", "U.S. House", "7", "Republican", "TX"))
      .toDF("candidate_id", "firstname", "middlename", "lastname", "suffix",
        "office", "district", "party", "state_id")
    val wr = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("w_ratio", a, b)
    val matched = FuzzyMatch.link(
      transformed, roster, "s_id", "candidate_id", "state_id", "state_id",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname", "middlename"), wr, 85),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, 88),
        FuzzyMatch.Rule("office", Seq("office"), wr, 100),
        FuzzyMatch.Rule("district", Seq("district"), wr, 95),
        FuzzyMatch.Rule("party", Seq("party"), wr, 100)),
      requiredOverall = 75)
    StageSink.save(matched, base, "MATCHED_FILES", "Ratings-Matched", t0)

    val m = matched.orderBy("s_id").collect()
    assert(m.length >= 2)
    assert(m(0).getAs[Long]("best_id") === 100L) // Smith -> Smith
    assert(m(1).getAs[Long]("best_id") === 101L) // Jones -> Jones
    // "Bob" vs roster "Robert" only clears if WRatio is generous; don't
    // assert it — the reference would drop sub-threshold rows the same way

    // read back the latest transformed export, like the -m flow
    val reread = StageSink.loadLatest(spark, base, "TRANSFORMED_FILES",
      "Ratings-Transformed")
    assert(reread.count() === 3)
  }

  // the same stages, this time composed by the orchestrator
  private def transformStage(extracted: DataFrame): DataFrame =
    extracted.select(
      col("row_idx").as("s_id"),
      TextFunctions.firstName(col("info")).as("firstname"),
      TextFunctions.lastName(col("info")).as("lastname"),
      TextFunctions.nullToEmpty(
        TextFunctions.replaceValues(col("office"),
          Map("US House" -> "U.S. House", "US Senate" -> "U.S. Senate")))
        .as("office"),
      TextFunctions.state(col("info")).as("state_id"),
      col("sig_rating"))

  private def matchStage(transformed: DataFrame): (DataFrame, DataFrame) = {
    val roster = Seq(
      (100L, "John", "Smith", "U.S. House", "TX"),
      (101L, "Mary", "Jones", "U.S. House", "DC"),
      (102L, "Robert", "Lee", "U.S. Senate", "VT"))
      .toDF("candidate_id", "firstname", "lastname", "office", "state_id")
    val wr = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("w_ratio", a, b)
    val matched = FuzzyMatch.link(
      transformed, roster, "s_id", "candidate_id", "state_id", "state_id",
      rules = Seq(
        FuzzyMatch.Rule("firstname", Seq("firstname"), wr, 85),
        FuzzyMatch.Rule("lastname", Seq("lastname"), wr, 88),
        FuzzyMatch.Rule("office", Seq("office"), wr, 100)),
      requiredOverall = 75)
    // the reference's records_query: the matched candidate ids, shaped
    // for the DB lookup (VSDB-Candidates)
    val query = matched.select(col("best_id").as("candidate_id")).distinct()
    (matched, query)
  }

  test("Pipeline.run orchestrates extract -> transform -> match -> query exports") {
    val base = Files.createTempDirectory("graft_pipeline_run").toString
    val t0 = Instant.parse("2024-05-06T07:08:09.000001Z")
    val exports = Pipeline.run(
      spark,
      extract = () => HtmlTable.toRecords(
        Seq((1L, page)).toDF("page_id", "page"), "page", Seq("page_id"))
        .select(col("page_id"), col("row_idx"),
          col("record")("info").as("info"),
          col("record")("office").as("office"),
          col("record")("sig_rating").as("sig_rating")),
      transform = transformStage,
      matcher = matchStage,
      baseDir = base, session = "2023-2024", at = t0)

    // every stage exported, named <name>_<session>-<timestamp>
    val stamp = StageSink.stamp(t0)
    assert(exports.extract.get ===
      s"$base/EXTRACT_FILES/Ratings-Extract_2023-2024-$stamp")
    assert(exports.transformed.get ===
      s"$base/TRANSFORMED_FILES/Ratings-Transformed_2023-2024-$stamp")
    assert(exports.matched.get ===
      s"$base/MATCHED_FILES/Ratings-Matched_2023-2024-$stamp")
    assert(exports.query.get ===
      s"$base/QUERY_FILES/VSDB-Candidates_2023-2024-$stamp")
    exports.productIterator.foreach { p =>
      assert(new java.io.File(p.asInstanceOf[Option[String]].get).isDirectory)
    }
    val matched = spark.read.parquet(exports.matched.get)
    assert(matched.count() >= 2)
    assert(spark.read.parquet(exports.query.get).count() === matched
      .select("best_id").distinct().count())

    // -m resume flow: newest transformed export -> match-only rerun
    val resumed = Pipeline.runFromTransformed(
      spark,
      StageSink.loadLatest(spark, base, "TRANSFORMED_FILES",
        "Ratings-Transformed"),
      matchStage, base, "2023-2024",
      Instant.parse("2024-05-07T00:00:00.000001Z"))
    assert(resumed.extract.isEmpty && resumed.transformed.isEmpty)
    val latestMatch = StageSink.loadLatest(spark, base, "MATCHED_FILES",
      "Ratings-Matched")
    assert(latestMatch.count() === matched.count())
  }

  // an export folder whose write committed
  private def committed(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").isFile

  test("parquet read-back ≡ spark.read.parquet: nested, typed, metadata") {
    import org.apache.spark.sql.types.MetadataBuilder
    val base = Files.createTempDirectory("graft_pipeline_schema").toString
    val tag = new MetadataBuilder().putString("comment", "kept").build()
    val rich = Seq(
      (1L, "a", Seq(1, 2), Map("k" -> 1.5), BigDecimal("12.345"),
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-05-06 07:08:09.123456"),
        Array[Byte](0, 1, -1)),
      (2L, null, Seq.empty[Int], Map.empty[String, Double], null, null,
        null, null))
      .toDF("id", "name", "xs", "m", "amount", "day", "at", "blob")
      .select(col("id"),
        struct(col("name"), struct(col("xs"), col("m")).as("inner"))
          .as("nested"),
        col("amount").cast("decimal(12,3)").as("amount"), col("day"),
        col("at"), col("blob"), col("name").as("tagged", tag))
    var extractBack: DataFrame = null
    var transformBack: DataFrame = null
    val exports = Pipeline.run(spark,
      extract = () => rich,
      transform = df => { extractBack = df; df },
      matcher = df => { transformBack = df; (df, df.select("id")) },
      baseDir = base, session = "s", at = Instant.parse("2024-05-06T00:00:00Z"))
    for ((back, path) <- Seq(extractBack -> exports.extract.get,
        transformBack -> exports.transformed.get)) {
      val inferred = spark.read.parquet(path)
      assert(back.schema === inferred.schema)
      // a file source reads every column back as nullable
      assert(back.schema.fields.forall(_.nullable))
      assert(back.schema("tagged").metadata.getString("comment") === "kept")
      assert(back.orderBy("id").collect().toSeq ===
        inferred.orderBy("id").collect().toSeq)
    }
    val rows = extractBack.orderBy("id").collect()
    assert(rows(0).getAs[Array[Byte]]("blob").toSeq === Seq[Byte](0, 1, -1))
    assert(rows(0).getAs[java.math.BigDecimal]("amount") ===
      new java.math.BigDecimal("12.345"))
  }

  test("csv read-back keeps the header names and all-string columns") {
    val base = Files.createTempDirectory("graft_pipeline_csv").toString
    var extractBack: DataFrame = null
    val exports = Pipeline.run(spark,
      extract = () => Seq((1, "a", 2.5), (2, "b", 3.0)).toDF("id", "v", "x"),
      transform = df => { extractBack = df; df },
      matcher = df => (df, df.select("id")),
      baseDir = base, session = "s", at = Instant.parse("2024-05-06T00:00:00Z"),
      format = "csv")
    val inferred = spark.read.option("header", "true")
      .csv(exports.extract.get)
    assert(extractBack.columns.toSeq === Seq("id", "v", "x"))
    assert(extractBack.schema.map(_.dataType).distinct ===
      Seq(org.apache.spark.sql.types.StringType))
    assert(extractBack.schema === inferred.schema)
    assert(extractBack.orderBy("id").collect().map(_.toSeq).toSeq ===
      Seq(Seq("1", "a", "2.5"), Seq("2", "b", "3.0")))
  }

  test("Pipeline.run starts no job outside a SQL execution; both match exports") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = Files.createTempDirectory("graft_pipeline_jobs").toString
    val marker = "graft.pipelineSpec.marker"
    val stray = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(marker) != null)) markerSeen.countDown()
        else if (props.forall(_.getProperty("spark.sql.execution.id") == null))
          stray.add(js.jobId)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val exports = try {
      val ex = Pipeline.run(
        spark,
        extract = () => HtmlTable.toRecords(
          Seq((1L, page)).toDF("page_id", "page"), "page", Seq("page_id"))
          .select(col("page_id"), col("row_idx"),
            col("record")("info").as("info"),
            col("record")("office").as("office"),
            col("record")("sig_rating").as("sig_rating")),
        transform = transformStage,
        matcher = matchStage,
        baseDir = base, session = "2023-2024",
        at = Instant.parse("2024-05-06T07:08:09.000001Z"))
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job start of the run has arrived before it
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      ex
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stray.isEmpty, s"jobs outside a SQL execution: $stray")
    Seq(exports.extract, exports.transformed, exports.matched,
      exports.query).foreach(p => assert(committed(p.get), p))
  }

  test("a failing MATCHED write surfaces after the QUERY export commits") {
    val base = Files.createTempDirectory("graft_pipeline_fail").toString
    val at = Instant.parse("2024-05-06T07:08:09.000001Z")
    val boom = udf { (id: Long) =>
      if (id > 0) throw new IllegalStateException("matched write fails"); id }
    val slow = udf { (id: Long) => Thread.sleep(200); id }
    // a range, not a local relation: the projections run in the jobs
    val transformed = spark.range(1, 4).toDF("s_id")
    val ex = intercept[Exception] {
      Pipeline.runFromTransformed(spark, transformed,
        df => (df.select(col("s_id"), boom(col("s_id")).as("best_id")),
          df.select(slow(col("s_id")).as("candidate_id")).coalesce(1)),
        base, "2023-2024", at)
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => String.valueOf(e.getMessage)
      .contains("matched write fails")), ex)
    val stamp = StageSink.stamp(at)
    assert(committed(s"$base/QUERY_FILES/VSDB-Candidates_2023-2024-$stamp"))
    assert(!committed(s"$base/MATCHED_FILES/Ratings-Matched_2023-2024-$stamp"))
    assert(spark.read.parquet(
      s"$base/QUERY_FILES/VSDB-Candidates_2023-2024-$stamp").count() === 3)
  }
}
