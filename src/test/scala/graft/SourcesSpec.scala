package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.sources.{Excel, Multimodal, Records, StageSink}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("Records.csv reads an explicit schema typed, FAILFAST on garbage") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.csv"),
      "id,name,score,seen\n1,ann,9.5,2024-03-04\n2,bo,8.25,2024-03-05\n"
        .getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("seen", DateType)))
    val df = Records.csv(spark, s"$dir/a.csv", schema)
    assert(df.schema === schema)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getLong(0) === 1L && rows(0).getDouble(2) === 9.5)
    assert(rows(1).getDate(3).toString === "2024-03-05")
    // malformed row -> FAILFAST aborts instead of silent nulls
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "id,name,score,seen\nnot_a_number,x,y,z\n".getBytes)
    intercept[Exception] {
      Records.csv(spark, s"$dir/bad.csv", schema).collect()
    }
  }

  test("Records.csvQuarantine diverts malformed rows, keeps good ones typed") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csvq").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m.csv"),
      "id,score\n1,2.5\noops,not_a_double\n3,4.5\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    val (good, bad) = Records.csvQuarantine(spark, s"$dir/m.csv", schema)
    assert(good.schema === schema)
    assert(good.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 2.5), (3L, 4.5)))
    val badRows = bad.as[String].collect()
    assert(badRows.toSeq === Seq("oops,not_a_double"))
  }

  test("Records.jsonl reads json-lines with explicit schema") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"id":1,"tags":["a","b"],"meta":{"k":"v1"}}
        |{"id":2,"tags":[],"meta":{"k":"v2"}}
        |""".stripMargin.getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("meta", StructType(Seq(StructField("k", StringType))))))
    val df = Records.jsonl(spark, s"$dir/d.jsonl", schema)
    assert(df.count() === 2)
    assert(df.filter($"id" === 1).select($"meta.k").as[String].head === "v1")
  }

  test("Records.jsonlQuarantine diverts malformed lines, keeps good ones typed") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonlq").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m.jsonl"),
      """{"id":1,"score":2.5}
        |{"id":"oops","score":not even json
        |{"id":3,"score":4.5}
        |""".stripMargin.getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    val (good, bad) = Records.jsonlQuarantine(spark, s"$dir/m.jsonl", schema)
    assert(good.schema === schema)
    assert(good.orderBy("id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 2.5), (3L, 4.5)))
    val badRows = bad.as[String].collect()
    assert(badRows.toSeq === Seq("""{"id":"oops","score":not even json"""))
  }

  test("Records.writePartitioned enables partition pruning at read") {
    val dir = Files.createTempDirectory("graft_part").toString + "/t"
    val df = Seq((1L, "en", 10.0), (2L, "en", 20.0), (3L, "de", 30.0))
      .toDF("id", "lang", "v")
    Records.writePartitioned(df, dir, partitionCols = Seq("lang"),
      sortCols = Seq("id"))
    // directory layout carries the partition values
    assert(new java.io.File(s"$dir/lang=en").exists())
    assert(new java.io.File(s"$dir/lang=de").exists())
    val back = spark.read.parquet(dir).filter($"lang" === "en")
    assert(back.count() === 2)
    // the lang filter must be a partition filter, not a data filter
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"lang not pruned via partition filters:\n$scan")
  }

  test("writeZOrdered: files cover small rectangles, point queries touch fewer files") {
    import graft.functions.LayoutFunctions._
    // 40k rows over a 200x200 uniform grid; x and y are independent
    val df = spark.range(40000).toDF("id")
      .withColumn("x", pmod(xxhash64(col("id"), lit(1L)), lit(200L)))
      .withColumn("y", pmod(xxhash64(col("id"), lit(2L)), lit(200L)))
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString + "/t"
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString + "/t"
    Records.writeZOrdered(df, zDir, Seq("x", "y"), bits = 4, numFiles = 16)
    // the linear strawman: same file count, sorted by x only
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(linDir)

    def perFile(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val zFiles = perFile(zDir)
    val linFiles = perFile(linDir)
    assert(zFiles.length >= 8, s"expected >=8 z files, got ${zFiles.length}")
    // round trip preserves the data
    assert(spark.read.parquet(zDir).count() === 40000L)
    // the x-sorted layout serves only its leading column: every file
    // spans (nearly) the full y domain. Z-order bounds BOTH extents —
    // files are Morton tiles, not full-height slabs.
    def meanYExtent(fs: Array[(Long, Long, Long, Long)]) =
      fs.map { case (_, _, y0, y1) => (y1 - y0 + 1).toDouble }.sum / fs.length
    assert(meanYExtent(linFiles) > 180.0, // sanity: slabs see all of y
      s"linear mean y extent ${meanYExtent(linFiles)}")
    assert(meanYExtent(zFiles) < 0.6 * meanYExtent(linFiles),
      s"z mean y extent ${meanYExtent(zFiles)} vs linear ${meanYExtent(linFiles)}")
    // skipping simulation for a y-only predicate (y in [90,110]): count
    // files whose min/max stats cannot exclude it — what the parquet
    // reader prunes on. Linear cannot skip ANY file; z-order must.
    def eligible(fs: Array[(Long, Long, Long, Long)]) = fs.count {
      case (_, _, y0, y1) => y1 >= 90 && y0 <= 110
    }
    assert(eligible(linFiles) === linFiles.length) // slabs: all touched
    assert(eligible(zFiles) <= (zFiles.length * 3) / 4,
      s"z eligible ${eligible(zFiles)} of ${zFiles.length}")
  }

  test("writeWithBloom attaches working bloom filters to the named columns") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val df = spark.range(20000).toDF("id")
      .withColumn("v", pmod(xxhash64(col("id")), lit(1000L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    Records.writeWithBloom(df, dir, Seq("id"), ndv = 20000L)
    assert(spark.read.parquet(dir).count() === 20000L)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getPath),
      new org.apache.hadoop.conf.Configuration()))
    try {
      val chunks = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val idChunk = chunks.find(_.getPath.toDotString == "id").get
      val vChunk = chunks.find(_.getPath.toDotString == "v").get
      // bloom on id, none on v
      assert(idChunk.getBloomFilterOffset >= 0,
        "no bloom filter written for id")
      assert(vChunk.getBloomFilterOffset < 0,
        "unexpected bloom filter on v")
      // the filter answers membership: a present id always hits
      val bloom = reader.readBloomFilter(idChunk)
      assert(bloom != null)
      val presentId = spark.read.parquet(file.getPath)
        .select("id").head().getLong(0)
      assert(bloom.findHash(bloom.hash(presentId)))
    } finally reader.close()
  }

  test("upsertPartitions replaces only the partitions present in the batch") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/t"
    Records.writePartitioned(
      Seq((1L, "en", 1.0), (2L, "de", 2.0)).toDF("id", "lang", "v"),
      dir, partitionCols = Seq("lang"))
    // reload en with different rows; de must survive untouched
    Records.upsertPartitions(
      Seq((9L, "en", 9.0), (10L, "en", 10.0)).toDF("id", "lang", "v"),
      dir, partitionCols = Seq("lang"))
    val back = spark.read.parquet(dir)
    assert(back.filter($"lang" === "de").select("id").as[Long].collect()
      .toSeq == Seq(2L))
    assert(back.filter($"lang" === "en").select("id").as[Long].collect()
      .sorted.toSeq == Seq(9L, 10L))
  }

  test("StageSink writes timestamped stage-foldered exports with session tag") {
    val base = Files.createTempDirectory("graft_sink").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val at = Instant.parse("2024-03-04T05:06:07.000123Z")
    val path = StageSink.save(df, base, "TRANSFORMED_FILES", "Ratings-Transformed",
      at, additionalInfo = Seq("2023-2024"), format = "csv")
    assert(path === s"$base/TRANSFORMED_FILES/" +
      "Ratings-Transformed_2023-2024-2024-03-04-050607-000123")
    val back = spark.read.option("header", "true").csv(path)
    assert(back.count() === 2)
    assert(back.columns.toSeq === Seq("id", "v"))
  }

  test("StageSink rejects unknown stages and double-writes; loadLatest picks newest") {
    val base = Files.createTempDirectory("graft_sink2").toString
    val df = Seq((1, "a")).toDF("id", "v")
    val at = Instant.parse("2024-03-04T05:06:07.000001Z")
    intercept[IllegalArgumentException] {
      StageSink.save(df, base, "BOGUS", "x", at)
    }
    StageSink.save(df, base, "EXTRACT_FILES", "x", at)
    intercept[Exception] { // mode("error") refuses overwrite
      StageSink.save(df, base, "EXTRACT_FILES", "x", at)
    }
    val df2 = Seq((9, "z")).toDF("id", "v")
    StageSink.save(df2, base, "EXTRACT_FILES", "x",
      Instant.parse("2024-03-05T00:00:00.000001Z"))
    val latest = StageSink.loadLatest(spark, base, "EXTRACT_FILES", "x")
    assert(latest.count() === 1)
    assert(latest.head.getInt(0) === 9)
  }

  test("loadLatest orders timestamped exports by stamp, not by session tag") {
    val base = Files.createTempDirectory("graft_sink_sessions").toString
    // the older export carries the session tag that sorts LAST as a name
    StageSink.save(Seq((1, "older")).toDF("id", "v"), base, "MATCHED_FILES",
      "Ratings-Matched", Instant.parse("2024-01-01T00:00:00.000001Z"),
      additionalInfo = Seq("2025-2026"))
    StageSink.save(Seq((2, "newer")).toDF("id", "v"), base, "MATCHED_FILES",
      "Ratings-Matched", Instant.parse("2024-06-01T00:00:00.000001Z"),
      additionalInfo = Seq("2023-2024"))
    val latest = StageSink.loadLatest(spark, base, "MATCHED_FILES",
      "Ratings-Matched")
    assert(latest.select("v").as[String].collect().toSeq === Seq("newer"))
  }

  test("loadLatest skips a newer export that never committed") {
    val base = Files.createTempDirectory("graft_sink_uncommitted").toString
    StageSink.save(Seq((1, "committed")).toDF("id", "v"), base,
      "EXTRACT_FILES", "x", Instant.parse("2024-03-04T05:06:07.000001Z"))
    val at = Instant.parse("2024-03-05T00:00:00.000001Z")
    // a write whose task fails leaves its folder behind (a range, not a
    // local relation, so the failing projection runs in the job)
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("export fails"); "v" }
    def failedSave(name: String): Unit = intercept[Exception] {
      StageSink.save(spark.range(2).select(col("id"), boom(col("id")).as("v")),
        base, "EXTRACT_FILES", name, at)
    }
    failedSave("x")
    val leftover = new java.io.File(
      s"$base/EXTRACT_FILES/x_${StageSink.stamp(at)}")
    assert(leftover.isDirectory)
    assert(!new java.io.File(leftover, "_SUCCESS").exists())
    val latest = StageSink.loadLatest(spark, base, "EXTRACT_FILES", "x")
    assert(latest.select("v").as[String].collect().toSeq === Seq("committed"))
    // a name with only a leftover folder has nothing to load
    failedSave("y")
    val ex = intercept[IllegalArgumentException] {
      StageSink.loadLatest(spark, base, "EXTRACT_FILES", "y")
    }
    assert(ex.getMessage.contains("no committed y export"))
  }

  test("loadLatest reads back from a file: URI base directory") {
    val base = "file:" + Files.createTempDirectory("graft_sink_uri").toString
    val at = Instant.parse("2024-03-04T05:06:07.000001Z")
    val path = StageSink.save(Seq((7, "uri")).toDF("id", "v"), base,
      "QUERY_FILES", "q", at)
    assert(path.startsWith("file:"))
    val latest = StageSink.loadLatest(spark, base, "QUERY_FILES", "q")
    assert(latest.select("v").as[String].collect().toSeq === Seq("uri"))
  }

  test("Excel round-trips a real table through xlsx, all cells as strings") {
    // the reference's one xlsx input (national/_2155: pandas
    // read_excel(dtype=str)) — header row + string-typed cells
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val dir = Files.createTempDirectory("graft_xlsx").toString
    Excel.write(nation, s"$dir/nation.xlsx")
    val back = Excel.read(spark, s"$dir/nation.xlsx")
    assert(back.columns.toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    val expect = nation.collect().map(_.toSeq.map(String.valueOf)).toSet
    val got = back.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got === expect)
  }

  test("Excel reads shared-string cells, rich text, sparse rows, booleans") {
    val bytes = Excel.writeBytes(
      Seq("a", "b", "c"),
      Seq(Seq("x", null, "1.5"), Seq("y <&> \"q\"", "dup", null),
        Seq(null, "dup", "42")),
      useSharedStrings = true)
    val rows = Excel.parseSheet(bytes, 0)
    assert(rows.head === Seq("a", "b", "c"))
    assert(rows(1) === Seq("x", null, "1.5"))
    assert(rows(2) === Seq("y <&> \"q\"", "dup")) // trailing null not padded
    assert(rows(3) === Seq(null, "dup", "42"))
    // the full reader pads short rows to the header width
    val dir = Files.createTempDirectory("graft_xlsx_ss").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t.xlsx"), bytes)
    val df = Excel.read(spark, s"$dir/t.xlsx")
    assert(df.count() === 3)
    assert(df.filter(col("c").isNull).count() === 1)
  }

  test("Excel parallelises a multi-file drop; header mismatch fails loudly") {
    val dir = Files.createTempDirectory("graft_xlsx_many").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.xlsx"),
      Excel.writeBytes(Seq("id", "name"), Seq(Seq("1", "ann"), Seq("2", "bo"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.xlsx"),
      Excel.writeBytes(Seq("id", "name"), Seq(Seq("3", "cy")),
        useSharedStrings = true))
    val df = Excel.read(spark, dir)
    assert(df.count() === 3)
    assert(df.select("id").as[String].collect().sorted.toSeq ===
      Seq("1", "2", "3"))
    // a file whose header disagrees must fail the read, not mis-map
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.xlsx"),
      Excel.writeBytes(Seq("id", "different"), Seq(Seq("9", "zz"))))
    val e = intercept[org.apache.spark.SparkException] {
      Excel.read(spark, dir).count()
    }
    assert(String.valueOf(e.getMessage).nonEmpty)
  }

  test("Excel handles Excel-authored quirks: rels-mapped sheet part, rich-text runs, rPh") {
    // a hand-assembled workbook the way Excel itself saves one after
    // sheet deletions: the only sheet lives in sheet3.xml (reachable
    // via workbook.xml → rels, NOT by the conventional name), a
    // shared string carries a phonetic <rPh> run (excluded by
    // pandas/openpyxl — dtype=str parity requires excluding it), and
    // inline strings split into multiple rich-text <r> runs (with and
    // without an A1 ref) that must concatenate into ONE cell
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def part(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Data" sheetId="4" r:id="rId9"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet3.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">""" +
      """<si><t>city</t></si>""" +
      """<si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></si></sst>""")
    part("xl/worksheets/sheet3.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>name</t></is></c></row>""" +
      """<row r="2"><c r="A2" t="s"><v>1</v></c>""" +
      """<c r="B2" t="inlineStr"><is><r><t>John </t></r><r><t>Smith</t></r></is></c></row>""" +
      """<row r="3"><c r="A3" t="s"><v>1</v></c>""" +
      """<c t="inlineStr"><is><r><t>Jane </t></r><r><t>Doe</t></r></is></c></row>""" +
      """</sheetData></worksheet>""")
    z.close()
    val rows = Excel.parseSheet(bos.toByteArray, 0)
    assert(rows(0) === Seq("city", "name"))
    assert(rows(1) === Seq("東京", "John Smith")) // no furigana, runs joined
    assert(rows(2) === Seq("東京", "Jane Doe"))   // ref-less cell appends once
    val dir = Files.createTempDirectory("graft_xlsx_quirks").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/q.xlsx"),
      bos.toByteArray)
    val df = Excel.read(spark, s"$dir/q.xlsx")
    assert(df.columns.toSeq === Seq("city", "name"))
    assert(df.count() === 2)
  }

  test("Excel header=false names columns positionally; colIndex decodes refs") {
    assert(Excel.colIndex("A1") === 0)
    assert(Excel.colIndex("Z9") === 25)
    assert(Excel.colIndex("AA12") === 26)
    assert(Excel.colIndex("BC3") === 54)
    val dir = Files.createTempDirectory("graft_xlsx_nh").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.xlsx"),
      Excel.writeBytes(Seq("1", "2"), Seq(Seq("3", "4"))))
    val df = Excel.read(spark, s"$dir/t.xlsx", header = false)
    assert(df.columns.toSeq === Seq("c0", "c1"))
    assert(df.count() === 2)
  }

  test("Multimodal feature extraction preserves ids and emits fixed-dim features") {
    implicit val s = spark
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 30)
    assert(feats.forall(_.features.length === 8))
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(_.features.toSeq).toSeq ===
      again.map(_.features.toSeq).toSeq)
    // kinds round-robin
    assert(feats.count(_.kind == "image") === 10)
  }

  test("Multimodal PDF metadata: real parse, corrupt quarantine, feature wiring") {
    implicit val s = spark
    import spark.implicits._
    // structural parse of a genuinely valid synthesized PDF
    val pdf3 = Multimodal.syntheticPdf(3)
    val meta = Multimodal.pdfMeta(pdf3)
    assert(meta === Right(Multimodal.PdfMeta("1.4", 3, 5))) // catalog+tree+3 pages
    assert(Multimodal.isPdf(pdf3))
    // /Pages tree nodes must NOT count as pages (the (?!s) guard)
    assert(Multimodal.pdfMeta(Multimodal.syntheticPdf(1))
      .toOption.get.nPages === 1)
    // corrupt inputs quarantine with a reason, never throw
    assert(Multimodal.pdfMeta("not a pdf at all".getBytes).isLeft)
    assert(Multimodal.pdfMeta(pdf3.dropRight(8)).isLeft) // %%EOF gone
    // extractFeatures: document rows carry (nPages, nObjects,
    // bytes/page) as features; a truncated payload flows to quarantine
    val rows = Seq(
      Multimodal.MediaRow(1L, pdf3,
        Multimodal.MediaMeta("document", 0, 0, 0, 0L)),
      Multimodal.MediaRow(2L, pdf3.dropRight(8),
        Multimodal.MediaMeta("document", 0, 0, 0, 0L))).toDS()
    val feats = Multimodal.extractFeatures(rows).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).ok && feats(1L).features(0) === 3.0f &&
      feats(1L).features(1) === 5.0f)
    assert(!feats(2L).ok && feats(2L).err.contains("truncated"))
  }

  test("Multimodal PDF text: round trips, escapes, quarantine classes") {
    implicit val s = spark
    import spark.implicits._
    // exact round trip, multi-page, both stream encodings
    val pages = Seq("first page words", "second page words here")
    for (compress <- Seq(false, true)) {
      val pdf = Multimodal.syntheticTextPdf(pages, compress)
      assert(Multimodal.pdfMeta(pdf).toOption.get.nPages === 2,
        s"generator must emit a structurally valid PDF (compress=$compress)")
      assert(Multimodal.pdfText(pdf) === Right(pages.mkString),
        s"compress=$compress")
    }
    // special chars in the text survive the escape/unescape pair
    val tricky = "parens (nested) and \\backslash\\ and (more)"
    assert(Multimodal.pdfText(Multimodal.syntheticTextPdf(
      Seq(tricky), compress = true)) === Right(tricky))
    // octal + named escapes in a hand-written content stream
    assert(Multimodal.pdfUnescape("""a\) b\( c\\ d\n e\101""") ===
      "a) b( c\\ d\n e" + "A")
    // TJ arrays (kerned text) are read too
    val tj = ("%PDF-1.4\n1 0 obj << /Length 44 >> stream\n" +
      "BT [(ab) -120 (cd)] TJ ET\nendstream endobj\n%%EOF\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Multimodal.pdfText(tj) === Right("abcd"))
    // quarantine classes: truncated file, corrupt Flate, non-PDF;
    // a VALID text-less PDF is Right("") — empty, not corrupt
    val good = Multimodal.syntheticTextPdf(Seq("payload"), compress = true)
    assert(Multimodal.pdfText(good.dropRight(8)).isLeft) // no %%EOF
    val corrupt = good.clone()
    val streamAt = new String(corrupt,
      java.nio.charset.StandardCharsets.ISO_8859_1).indexOf("stream\n")
    (streamAt + 8 until streamAt + 16).foreach(i =>
      corrupt(i) = (corrupt(i) ^ 0x5a).toByte)
    val cErr = Multimodal.pdfText(corrupt)
    assert(cErr.isLeft && cErr.swap.toOption.get.toLowerCase
      .contains("flate"))
    assert(Multimodal.pdfText("plain text".getBytes).isLeft)
    assert(Multimodal.pdfText(Multimodal.syntheticPdf(2)) === Right(""))
    // dataset projection: ok rows carry text, quarantine carries err
    val rows = Seq(
      Multimodal.MediaRow(1L, good,
        Multimodal.MediaMeta("document", 0, 0, 0, 0L)),
      Multimodal.MediaRow(2L, corrupt,
        Multimodal.MediaMeta("document", 0, 0, 0, 0L))).toDS()
    val texts = Multimodal.pdfTexts(rows).collect()
      .map(t => t.media_id -> t).toMap
    assert(texts(1L).ok && texts(1L).text === "payload")
    assert(!texts(2L).ok && texts(2L).err != null)
    // adversarial: a long unbalanced paren run inside a TJ-looking
    // bracket must not catastrophically backtrack (the regexes are
    // built alternation-disjoint) — complete in well under a second
    val evil = ("%PDF-1.4\n1 0 obj << /Length 99 >> stream\n[" +
      "(" * 20000 + "] TJ\nendstream endobj\n%%EOF\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val t0 = System.nanoTime()
    val r = Multimodal.pdfText(evil)
    assert((System.nanoTime() - t0) / 1e9 < 2.0,
      "pathological parens backtracked")
    assert(r === Right("")) // no well-formed text operator matched
  }

  test("Multimodal image decode is real: pixel features + dims, parquet round-trip") {
    implicit val s = spark
    import spark.implicits._
    // parquet round-trip first: the binary column + typed meta struct
    // must survive the storage path the real pipeline uses
    val dir = java.nio.file.Files.createTempDirectory("media_png").toString
    Multimodal.syntheticMedia(spark, 30).write.mode("overwrite").parquet(dir)
    val media = spark.read.parquet(dir).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).collect()
    val images = feats.filter(_.kind == "image")
    assert(images.length === 10)
    assert(images.forall(_.ok))
    // features are an L1-normalised luminance histogram over REAL
    // pixels: non-negative, summing to ~1 — the stub's rolling-hash
    // values were signed and unnormalised, so this pins the real path
    images.foreach { f =>
      assert(f.features.forall(_ >= 0f))
      assert(math.abs(f.features.sum - 1f) < 1e-3)
    }
    // decoded dims match the declared meta
    val byId = media.collect().map(r => r.media_id -> r).toMap
    images.foreach { f =>
      val r = byId(f.media_id)
      val img = Multimodal.decodeImage(r.bytes).toOption.get
      assert(img.getWidth === r.meta.width)
      assert(img.getHeight === r.meta.height)
    }
  }

  test("Multimodal audio decode is real: WAV samples, rate from header, quarantine") {
    implicit val s = spark
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 30).map { r =>
      // id 13 is audio (13 % 3 == 1): truncate it AFTER the RIFF/WAVE
      // magic so it still claims to be a WAV — a malformed WAV
      // quarantines. id 16 becomes a non-WAV payload (an MP3-like
      // blob): no JDK codec for it, so it takes the byte-signature
      // stand-in with ok=true, NOT quarantine
      if (r.media_id == 13L) r.copy(bytes = r.bytes.take(30))
      else if (r.media_id == 16L)
        r.copy(bytes = Array.tabulate[Byte](300)(j => ((j * 7) % 251).toByte))
      else r
    }
    val feats = Multimodal.extractFeatures(media).collect()
    val audio = feats.filter(_.kind == "audio")
    assert(audio.length === 10)
    val bad = audio.filter(!_.ok)
    assert(bad.map(_.media_id).toSeq === Seq(13L))
    assert(bad.head.err != null)
    assert(audio.find(_.media_id == 16L).get.ok) // stand-in, not corrupt
    // good rows: peak-normalised RMS profile over real samples
    audio.filter(f => f.ok && f.media_id != 16L).foreach { f =>
      assert(f.features.forall(v => v >= 0f && v <= 1f))
      assert(math.abs(f.features.max - 1f) < 1e-6)
    }
    // rmsProfile bins divide by their OWN sample counts: a length
    // that isn't a multiple of 8 must not inflate the last bin (a
    // constant signal stays flat: every bin's RMS equal, all 1.0
    // after peak normalisation)
    val flat = Multimodal.rmsProfile(Array.fill[Short](15)(1000))
    assert(flat.forall(v => math.abs(v - 1f) < 1e-6), flat.toSeq.toString)
    // the decoded header matches the declared meta: 16 kHz, and the
    // sample count reproduces the declared duration
    val row = Multimodal.syntheticMedia(spark, 30).collect()
      .find(_.media_id == 1L).get
    val Right((rate, samples)) = Multimodal.decodeAudio(row.bytes)
    assert(rate === row.meta.sampleRate)
    assert(samples.length === rate * row.meta.durationMs / 1000)
    // stereo PCM16 averages channels to mono: L=+1000/R=-1000 → 0
    val n = 64
    val st = java.nio.ByteBuffer.allocate(44 + n * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    st.put("RIFF".getBytes).putInt(36 + n * 4).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(8000).putInt(32000).putShort(4).putShort(16)
      .put("data".getBytes).putInt(n * 4)
    (0 until n).foreach { _ => st.putShort(1000); st.putShort(-1000) }
    val Right((srate, smono)) = Multimodal.decodeAudio(st.array())
    assert(srate === 8000 && smono.length === n)
    assert(smono.forall(_ == 0))
  }

  test("Multimodal video decode is real: MJPEG AVI frames, timing, quarantine") {
    implicit val s = spark
    import spark.implicits._
    // direct container check first: id 2 is video with 2+(2%5)=4 frames
    val clean = Multimodal.syntheticMedia(spark, 30).collect()
      .find(_.media_id == 2L).get
    val Right((meta, frames)) = Multimodal.decodeAviFrames(clean.bytes)
    assert(meta.usPerFrame === 250000) // 4 fps
    assert(meta.totalFrames === 4 && frames.size === 4)
    assert(meta.width === 48 && meta.height === 32)
    // each frame is a real JPEG at the declared dims
    frames.foreach { f =>
      val img = Multimodal.decodeImage(f).toOption.get
      assert(img.getWidth === 48 && img.getHeight === 32)
    }
    // features: mean pixel histogram over sampled frames; a truncated
    // container quarantines (id 14 is video: 14 % 3 == 2)
    val media = Multimodal.syntheticMedia(spark, 30).map { r =>
      if (r.media_id == 14L) r.copy(bytes = r.bytes.take(30)) else r
    }
    val vids = Multimodal.extractFeatures(media).collect()
      .filter(_.kind == "video")
    assert(vids.length === 10)
    assert(vids.filter(!_.ok).map(_.media_id).toSeq === Seq(14L))
    vids.filter(_.ok).foreach { f =>
      assert(f.features.forall(v => v >= 0f && v <= 1f))
      assert(math.abs(f.features.sum - 1f) < 1e-3) // mean of L1 hists
    }
    // frameSample walks the REAL frame list with true timestamps
    val fs = Multimodal.frameSample(
      Multimodal.syntheticMedia(spark, 9), stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byId = fs.groupBy(_._1)
    assert(byId(2L).length === 4) // 2+(2%5)
    assert(byId(8L).length === 5) // 2+(8%5)
    assert(byId(2L).map(_._3).sorted.toSeq === Seq(0L, 250L, 500L, 750L))
    // a non-AVI video row emits no frames but is NOT silently fine:
    // frameSampleDropped carries it with the parse reason
    val mixed = Multimodal.syntheticMedia(spark, 9).map { r =>
      if (r.media_id == 5L)
        r.copy(bytes = Array.tabulate[Byte](200)(j => (j % 97).toByte))
      else r
    }
    val fs2 = Multimodal.frameSample(mixed, stride = 1)
      .select("media_id").as[Long].collect().toSet
    assert(!fs2.contains(5L) && fs2 === Set(2L, 8L))
    val dropped = Multimodal.frameSampleDropped(mixed)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(dropped.map(_._1).toSeq === Seq(5L))
    assert(dropped.head._2.contains("not a RIFF/AVI container"))
  }

  test("Multimodal corrupt image bytes quarantine, never fail the task") {
    implicit val s = spark
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 12).map { r =>
      // ids 0,3,6,9 are images; corrupt every second image payload
      if (r.meta.kind == "image" && r.media_id % 6 == 0)
        r.copy(bytes = Array[Byte](1, 2, 3, 4, 5))
      else r
    }
    val feats = Multimodal.extractFeatures(media)
    val all = feats.collect() // would throw here if a task failed
    assert(all.length === 12)
    val bad = Multimodal.quarantine(feats).collect()
    assert(bad.map(_.media_id).sorted.toSeq === Seq(0L, 6L))
    assert(bad.forall(f => !f.ok && f.err != null && f.features.forall(_ == 0f)))
    // undamaged images still decode fine
    assert(all.filter(f => f.kind == "image" && f.media_id % 6 != 0)
      .forall(_.ok))
  }

  test("Multimodal resize emits real thumbnails that re-decode at target dims") {
    implicit val s = spark
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 12).map { r =>
      if (r.media_id == 9L) r.copy(bytes = Array[Byte](9, 9, 9)) // corrupt
      else r
    }
    val resized = Multimodal.resize(media, 32, 32).collect()
    resized.filter(r => r.meta.kind == "image" && r.media_id != 9L)
      .foreach { r =>
        assert(r.meta.width === 32 && r.meta.height === 32)
        val img = Multimodal.decodeImage(r.bytes).toOption.get
        assert(img.getWidth === 32 && img.getHeight === 32)
      }
    // corrupt image passes through untouched for quarantine routing
    val corrupt = resized.find(_.media_id == 9L).get
    assert(corrupt.bytes.toSeq === Seq[Byte](9, 9, 9))
  }

  test("Multimodal resize updates image meta, leaves audio/video untouched") {
    implicit val s = spark
    val media = Multimodal.syntheticMedia(spark, 12)
    val resized = Multimodal.resize(media, 32, 32).collect()
    val images = resized.filter(_.meta.kind == "image")
    assert(images.nonEmpty)
    assert(images.forall(r => r.meta.width == 32 && r.meta.height == 32))
    val audio = resized.filter(_.meta.kind == "audio")
    assert(audio.forall(_.meta.sampleRate == 16000))
  }

  test("Multimodal frameSample explodes video rows by stride") {
    implicit val s = spark
    val media = Multimodal.syntheticMedia(spark, 9) // ids 2,5,8 are video
    val frames = Multimodal.frameSample(media, stride = 2)
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet === Set(2L, 5L, 8L))
    assert(byId.values.forall(_ >= 1))
  }

  test("image near-dup: dHash survives JPEG re-encode, separates distinct images") {
    // deterministic 8x8-block "random" gray patterns — distinct per
    // seed (unlike the synthetic gradients, whose monotone ramps all
    // share one dHash); JPEG re-encodes preserve block averages, so a
    // re-encoded copy is the planted near-dup
    def pattern(seed: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val bx = x / 8; val by = y / 8
        val v = (((seed * 1469598103934665603L + bx * 1099511628211L +
          by * 735263657946371L) >>> 33) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def jpg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos); bos.toByteArray
    }
    val rows = Seq(
      (1L, png(pattern(1))), (2L, jpg(pattern(1))),   // planted pair
      (3L, png(pattern(2))), (4L, jpg(pattern(2))),   // second pair
      (5L, png(pattern(3))),                          // singleton
      (6L, "corrupt bytes".getBytes.clone))           // quarantine
      .toDF("media_id", "bytes").withColumn("kind", lit("image"))
    val pairs = Multimodal.mediaNearDup(rows, "media_id", "bytes", "kind",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted pair 1-2 missing: $pairs")
    assert(pairs.contains((3L, 4L)), s"planted pair 3-4 missing: $pairs")
    // distinct patterns don't pair; the corrupt row never appears
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(5L) })
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(6L) })
    // quarantine row surfaces ok=false with a reason
    val q = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .filter(!col("ok")).select("media_id").as[Long].collect()
    assert(q.toSeq == Seq(6L))
    // hashes are deterministic
    def hashes = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .orderBy("media_id").select("dhash").as[Long].collect().toSeq
    assert(hashes == hashes)
  }

  test("media near-dup: pairs never cross kinds") {
    // a one-frame clip and a still of that very frame hash alike, so
    // only the kind keeps the image from pairing with the clip
    val clip = Multimodal.syntheticMjpegAvi(48, 32, 1, 4, 5)
    val frame = Multimodal.decodeAviFrames(clip).toOption.get._2.head
    val rows = Seq(
      (1L, "image", frame), (2L, "image", frame.clone),
      (3L, "video", clip), (4L, "video", clip.clone))
      .toDF("media_id", "kind", "bytes")
    val h = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .select("media_id", "dhash").as[(Long, Long)].collect().toMap
    assert(h(1L) == h(3L), "fixture: the still and the clip hash alike")
    val pairs = Multimodal.mediaNearDup(rows, "media_id", "bytes", "kind")
      .select("a_id", "b_id", "kind").as[(Long, Long, String)].collect()
    assert(pairs.toSet == Set((1L, 2L, "image"), (3L, 4L, "video")))
  }

  test("audio near-dup: fingerprint is gain-invariant, separates different clips") {
    // direct fingerprint properties on synthetic PCM
    def sine(freqCycles: Double, n: Int, amp: Double): Array[Short] =
      Array.tabulate(n)(i => (math.sin(2 * math.Pi * freqCycles * i / n)
        * amp * (0.5 + 0.5 * i.toDouble / n) // rising envelope
        * 30000).toShort)
    val a = Multimodal.audioFingerprint64(sine(40, 8000, 0.9))
    val gained = Multimodal.audioFingerprint64(sine(40, 8000, 0.45))
    // a pure gain change flips (almost) no bits
    assert(java.lang.Long.bitCount(a ^ gained) <= 3,
      s"gain flipped ${java.lang.Long.bitCount(a ^ gained)} bits")
    // a different pitch profile lands far away
    val other = Multimodal.audioFingerprint64(
      Array.tabulate(8000)(i => (math.sin(2 * math.Pi * (7 + 90.0 * i / 8000)
        * i / 8000) * 25000 * (1.0 - 0.5 * i / 8000)).toShort))
    assert(java.lang.Long.bitCount(a ^ other) > 8,
      s"different clip too close: ${java.lang.Long.bitCount(a ^ other)}")
    // DataFrame path: identical clips pair, different seeds don't,
    // corrupt bytes quarantine
    def wavBytes(seed: Long): Array[Byte] =
      Multimodal.syntheticWav(16000, 100, seed)
    val rows = Seq(
      (1L, wavBytes(1)), (2L, wavBytes(1)),
      (3L, wavBytes(9)), (4L, "not a wav".getBytes.clone))
      .toDF("media_id", "bytes").withColumn("kind", lit("audio"))
    val pairs = Multimodal.mediaNearDup(rows, "media_id", "bytes", "kind")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"identical clips missing: $pairs")
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(3L) })
    assert(!pairs.exists { case (x, y) => Set(x, y).contains(4L) })
    val q = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .filter(!col("ok")).select("media_id").as[Long].collect()
    assert(q.toSeq == Seq(4L))
  }

  test("video near-dup: frame-vote fingerprint pairs identical clips") {
    def avi(seed: Long, frames: Int): Array[Byte] =
      Multimodal.syntheticMjpegAvi(48, 32, frames, 4, seed)
    val rows = Seq(
      (1L, avi(5, 4)), (2L, avi(5, 4)),   // identical clip
      (3L, avi(11, 4)),                   // different content
      (4L, "bogus".getBytes.clone))       // quarantine
      .toDF("media_id", "bytes").withColumn("kind", lit("video"))
    val pairs = Multimodal.mediaNearDup(rows, "media_id", "bytes", "kind")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"identical clips missing: $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
    val q = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .filter(!col("ok")).select("media_id").as[Long].collect()
    assert(q.toSeq == Seq(4L))
    // fingerprint is a per-bit majority over sampled frames:
    // deterministic across invocations
    val h1 = Multimodal.videoFingerprint64(avi(5, 4))
    val h2 = Multimodal.videoFingerprint64(avi(5, 4))
    assert(h1 == h2 && h1.isRight)
  }

  test("incremental media index: drop vs corpus, keep fresh, quarantine flows, delta excludes losers") {
    def pattern(seed: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val bx = x / 8; val by = y / 8
        val v = (((seed * 1469598103934665603L + bx * 1099511628211L +
          by * 735263657946371L) >>> 33) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    def wav(seed: Long): Array[Byte] =
      Multimodal.syntheticWav(16000, 100, seed)
    def avi(seed: Long): Array[Byte] =
      Multimodal.syntheticMjpegAvi(48, 32, 4, 4, seed)

    val corpus = Seq(
      (1L, enc(pattern(1), "png"), "image"),
      (2L, enc(pattern(2), "png"), "image"),
      (3L, wav(1), "audio"),
      (4L, avi(5), "video")).toDF("media_id", "bytes", "kind")
    val batch = Seq(
      (11L, enc(pattern(1), "jpg"), "image"), // re-encode of corpus 1 -> drop
      (12L, enc(pattern(7), "png"), "image"), // within-batch pair, min id
      (13L, enc(pattern(7), "jpg"), "image"), //   -> loser, dropped
      (14L, wav(1), "audio"),                 // byte-dup of corpus 3 -> drop
      (15L, wav(9), "audio"),                 // fresh audio -> keep
      (16L, avi(5), "video"),                 // dup of corpus 4 -> drop
      (17L, "corrupt".getBytes.clone, "image"), // quarantine -> survives
      (18L, enc(pattern(8), "png"), "image")  // fresh image -> keep
    ).toDF("media_id", "bytes", "kind")

    val index = Multimodal
      .buildMediaHashIndex(corpus, "media_id", "bytes", "kind")
      .materialize()
    // probe alone: every planted dup is a hit, fresh/corrupt are not
    val hits = Multimodal.incrementalMediaNearDup(
      batch, index, "media_id", "bytes", "kind")
      .select("b_id").as[Long].collect().toSet
    assert(hits == Set(11L, 14L, 16L), s"hits=$hits")

    val (survivors, delta) = Multimodal.incrementalMediaDedup(
      batch, index, "media_id", "bytes", "kind")
    val kept = survivors.select("media_id").as[Long].collect().toSet
    assert(kept == Set(12L, 15L, 17L, 18L), s"survivors=$kept")
    // quarantined 17 survives but carries no fingerprint -> not indexed
    val deltaIds = delta.entries.select("id").as[Long].collect().toSet
    assert(deltaIds == Set(12L, 15L, 18L), s"delta=$deltaIds")

    // save / load / probe round trip, with the grown (union) index:
    // re-probing the batch against corpus+delta hits every ok asset
    val dir = java.nio.file.Files.createTempDirectory("media_idx").toString
    index.union(delta).save(dir)
    val loaded = Multimodal.MediaHashIndex.load(spark, dir)
    val rehits = Multimodal.incrementalMediaNearDup(
      batch, loaded, "media_id", "bytes", "kind")
      .select("b_id").as[Long].collect().toSet
    assert(rehits == Set(11L, 12L, 13L, 14L, 15L, 16L, 18L),
      s"rehits=$rehits")
  }

  test("media near-dup pairs are kind-segregated even at hash distance 0") {
    // a FLAT image dHashes to 0L (no gradient crosses any cell) and a
    // sub-33-sample WAV fingerprints to 0L — identical hashes, but an
    // image must never pair with an audio clip
    val flat = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x808080)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val tinyWav = Multimodal.syntheticWav(16000, 1, seed = 3)
    val rows = Seq(
      (1L, flat, "image"), (2L, tinyWav, "audio")
    ).toDF("media_id", "bytes", "kind")
    val hashes = Multimodal.mediaHashes(rows, "media_id", "bytes", "kind")
      .select("media_id", "dhash", "ok").as[(Long, Long, Boolean)]
      .collect().map { case (id, h, ok) => id -> ((h, ok)) }.toMap
    assert(hashes(1L) == ((0L, true)) && hashes(2L) == ((0L, true)),
      s"fixture hashes drifted: $hashes")
    // index the image; the equal-hash audio must not hit it
    val idx = Multimodal.buildMediaHashIndex(
      rows.filter(col("media_id") === 1L), "media_id", "bytes", "kind")
      .materialize()
    val cross = Multimodal.incrementalMediaNearDup(
      rows.filter(col("media_id") === 2L), idx,
      "media_id", "bytes", "kind")
    assert(cross.isEmpty, "audio paired with an image at hamming 0")
    // and within one batch both survive dedup
    val (surv, _) = Multimodal.incrementalMediaDedup(
      rows, Multimodal.MediaHashIndex(
        spark.emptyDataset[(Long, String, Long)]
          .toDF("id", "kind", "dhash")),
      "media_id", "bytes", "kind")
    assert(surv.count() == 2)
  }

  test("media probe prunes kinds only on a saved index") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val all = Multimodal.syntheticMedia(spark, 12).toDF()
      .select(col("media_id"), col("bytes"), col("meta.kind").as("kind"))
    val index = Multimodal.buildMediaHashIndex(
      all.filter(col("media_id") < 8), "media_id", "bytes", "kind")
    val batch = all.filter(col("media_id") >= 8)
    def kindIn(idx: Multimodal.MediaHashIndex): Boolean =
      Multimodal.incrementalMediaNearDup(batch, idx, "media_id", "bytes",
          "kind")
        .queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
          case i: In => i.value.references.exists(_.name == "kind")
          case i: InSet => i.child.references.exists(_.name == "kind")
          case _ => false
        }))
    // in memory: kind is a join key already, so no collect and no filter
    assert(!kindIn(index.materialize()))
    // saved: the filter prunes the other kinds' partitions at the scan
    val dir = java.nio.file.Files.createTempDirectory("media_prune").toString
    index.save(dir)
    assert(kindIn(Multimodal.MediaHashIndex.load(spark, dir)))
  }

  test("mediaRepartition sizes partitions by payload bytes — no data pass") {
    implicit val s = spark
    // explicit hint path: exact sizing, zero inspection
    val media = Multimodal.syntheticMedia(spark, 64).toDF()
    val hinted = Multimodal.mediaRepartition(media, "bytes",
      targetBytes = 4096, totalBytesHint = Some(64L * 600))
    assert(hinted.rdd.getNumPartitions >= 2)

    // file-backed path: size from filesystem metadata, and the sizing
    // itself must launch ZERO jobs (the old implementation ran a full
    // sum(length(bytes)) scan of the payload)
    val dir = java.nio.file.Files.createTempDirectory("media_rep").toString
    media.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sized = Multimodal.mediaRepartition(onDisk, "bytes", targetBytes = 8192)
      Thread.sleep(500) // let any (unexpected) job-start event arrive
      assert(jobs.get() == 0, "sizing must not run a Spark job")
      assert(sized.rdd.getNumPartitions >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
