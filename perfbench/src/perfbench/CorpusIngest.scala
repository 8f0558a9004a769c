package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Classifier, Dedup, IndexMaintenance, LangId}
import graft.sources.StageSink

/** The write path: each operation ingests one batch of generated
  * documents — language filter (LangId), near-dedup against a MinHash
  * corpus index (Dedup.incrementalDedup), survivor export
  * (StageSink.saveBatch), vector append to the OPQ index ann_serve reads
  * (Ann.appendOpqIndex), and compaction when it falls due. */
final class CorpusIngest(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import CorpusIngest._
  import spark.implicits._

  private val rng = new Random(seed)
  private val words: Map[String, IndexedSeq[String]] =
    Langs.map(l => l -> Text.vocabulary(rng, l, 600)).toMap
  private val centers = Array.fill(AnnServe.Clusters, AnnServe.Dim)(rng.nextGaussian())
  private val base: IndexedSeq[Doc] = (0 until BaseDocs).map(j =>
    Doc(j.toLong, Text.doc(rng, words("en"), "en"), vector(rng), Unique))
  private val labeled: Seq[(String, String)] = Langs.flatMap(l =>
    (0 until 150).map(_ => (Text.doc(rng, words(l), l), l)))
  private val basePath = s"$work/ingest_base"
  base.map(d => (d.id, d.text, d.vec.toSeq)).toDF("doc_id", "text", "vec")
    .repartition(4).write.parquet(basePath)
  private val labeledDf = labeled.toDF("text", "label").localCheckpoint()

  private var model: Classifier.MultiModel = _
  private var minIndex: Dedup.MinhashIndex = _
  private var indexDir: String = _
  private val saved = mutable.Map.empty[Int, String]
  private val deltaRoots = mutable.Map.empty[Int, Int]

  private def vector(r: Random): Array[Float] = {
    val c = centers(r.nextInt(centers.length))
    Array.tabulate(AnnServe.Dim)(d =>
      ((c(d) + 0.45 * r.nextGaussian()) * math.pow(0.87, d)).toFloat)
  }

  def setup(rep: Int): Unit = {
    val baseDf = spark.read.parquet(basePath)
    model = Trace.span("operators.langid_train") {
      LangId.train(labeledDf, "text", "label", Langs, dims = 1024, iters = 6)
    }
    val mdir = s"$work/ingest_minhash_$rep"
    Trace.span("operators.minhash_index_build") {
      Dedup.buildMinhashIndex(baseDf, "doc_id", "text", shingleN = ShingleN,
        numHashes = NumHashes, bands = Bands).save(mdir)
      minIndex = Dedup.MinhashIndex.load(spark, mdir)
    }
    indexDir = s"$work/ingest_ann_$rep"
    AnnServe.build(spark, baseDf.select(col("doc_id").as("vec_id"), col("vec")),
      indexDir)
  }

  /** Batch `i`: unique English documents, other languages, near-copies
    * and exact copies of corpus documents, and near-copies of documents
    * earlier in the same batch. Ids grow through the batch, so a
    * within-batch copy always has a larger id than its original.
    * Regenerated on each call rather than cached, so that no state grows
    * with the number of operations before the heap is read. */
  private def batch(i: Int): IndexedSeq[Doc] = {
    val r = new Random(seed * 1000003L + i)
    val out = mutable.ArrayBuffer.empty[Doc]
    var id = 10000000L + i.toLong * 1000
    def add(text: String, kind: Kind, partner: Long = -1L): Unit = {
      out += Doc(id, text, vector(r), kind, partner)
      id += 1
    }
    val plan = new Random(r.nextLong()).shuffle(
      Seq.fill(UniquePerBatch)(0) ++ Seq.fill(ForeignPerBatch)(1) ++
        Seq.fill(NearCorpusPerBatch)(2) ++ Seq.fill(ExactCorpusPerBatch)(3) ++
        Seq.fill(NearBatchPerBatch)(4))
    plan.foreach {
      case 0 => add(Text.doc(r, words("en"), "en"), Unique)
      case 1 =>
        val l = Langs.tail(r.nextInt(Langs.size - 1))
        add(Text.doc(r, words(l), l), Foreign)
      case 2 =>
        val b = base(r.nextInt(base.size))
        add(Text.perturb(r, b.text, words("en")), NearCorpus, b.id)
      case 3 =>
        val b = base(r.nextInt(base.size))
        add(b.text, ExactCorpus, b.id)
      case _ =>
        out.filter(_.kind == Unique).lastOption match {
          case Some(o) => add(Text.perturb(r, o.text, words("en")), NearBatch, o.id)
          case None => add(Text.doc(r, words("en"), "en"), Unique)
        }
    }
    out.toIndexedSeq
  }

  private def docsDf(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.text, d.vec.toSeq)).toDF("doc_id", "text", "vec")

  def op(i: Int): Long = {
    val batchDocs = batch(i)
    val docs = docsDf(batchDocs)
    val kept = docs.filter(
      LangId.predict(col("text"), model).getField("lang") === "en")
    val (survivors, _) = Trace.span("operators.dedup_build") {
      Dedup.incrementalDedup(kept, minIndex, "doc_id", "text",
        shingleN = ShingleN, numHashes = NumHashes, bands = Bands,
        threshold = Threshold)
    }
    val path = Trace.span("sources.save_batch") {
      StageSink.saveBatch(survivors, s"$work/ingest_out", "TRANSFORMED_FILES",
        "Corpus-Kept", i.toLong)
    }
    saved(i) = path
    Trace.span("operators.ann_append") {
      Ann.appendOpqIndex(spark, indexDir, spark.read.parquet(path)
        .select(col("doc_id").as("vec_id"), col("vec")))
    }
    deltaRoots(i) = committedDeltas()
    if (IndexMaintenance.pqCompactDue(spark, indexDir))
      Trace.span("operators.index_compact") {
        IndexMaintenance.compactPqIndex(spark, indexDir)
      }
    batchDocs.size
  }

  private def committedDeltas(): Int =
    Option(new java.io.File(s"$indexDir/index_delta").listFiles())
      .getOrElse(Array.empty)
      .count(f => new java.io.File(f, "_SUCCESS").exists())

  override def kernels(i: Int): Unit = {
    val docs = docsDf(batch(i)).localCheckpoint()
    Trace.span("functions.langid_kernel") {
      docs.select(LangId.predict(col("text"), model))
        .write.format("noop").mode("overwrite").save()
    }
    Trace.span("functions.minhash_kernel") {
      docs.select(call_function("minhash_signature",
          Dedup.shinglesCol(docs, col("text"), ShingleN), lit(NumHashes)))
        .write.format("noop").mode("overwrite").save()
    }
  }

  // ---------------------------------------------------------------
  // independent checks
  // ---------------------------------------------------------------

  private lazy val survivorIds: Map[Int, Set[Long]] = {
    val rows = spark.read.parquet(saved.values.toSeq: _*)
      .select("doc_id").as[Long].collect()
    val byOp = rows.groupBy(id => ((id - 10000000L) / 1000).toInt)
    saved.keys.map(i => i -> byOp.getOrElse(i, Array.empty).toSet).toMap
  }

  /** Ids the language filter passed, per operation (graft's output,
    * needed to tell a dedup drop from a language drop). */
  private lazy val passedLang: Map[Int, Set[Long]] = {
    val all = saved.keys.toSeq.flatMap(i => batch(i))
    val rows = all.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .filter(LangId.predict(col("text"), model).getField("lang") === "en")
      .select("doc_id").as[Long].collect()
    val byOp = rows.groupBy(id => ((id - 10000000L) / 1000).toInt)
    saved.keys.map(i => i -> byOp.getOrElse(i, Array.empty).toSet).toMap
  }

  private val baseShingles: IndexedSeq[Set[String]] = base.map(d => Text.shingles(d.text))
  private val baseByShingle: Map[String, Seq[Int]] =
    baseShingles.indices.flatMap(j => baseShingles(j).map(_ -> j))
      .groupMap(_._1)(_._2)

  /** Corpus documents sharing at least one shingle with `sh`. */
  private def corpusPartners(sh: Set[String]): Iterator[Set[String]] =
    sh.iterator.flatMap(baseByShingle.getOrElse(_, Nil)).distinct
      .map(baseShingles)

  /** Violations of one operation's survivors. */
  def checkOp(docs: IndexedSeq[Doc], passed: Set[Long],
      survivors: Set[Long]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val ids = docs.map(_.id).toSet
    survivors.filterNot(ids).foreach(id => out += s"survivor $id is not in the batch")
    val kept = docs.filter(d => survivors(d.id))
    val keptSh = kept.map(d => d.id -> Text.shingles(d.text))
    docs.filter(d => passed(d.id) && !survivors(d.id)).foreach { d =>
      val sh = Text.shingles(d.text)
      val partner = corpusPartners(sh).exists(b => Text.jaccard(sh, b) >= Threshold - 1e-4) ||
        keptSh.exists { case (kid, k) => kid != d.id && Text.jaccard(sh, k) >= Threshold - 1e-4 }
      if (!partner) out += s"document ${d.id} dropped without a kept partner at Jaccard >= $Threshold"
    }
    docs.filter(d => d.kind == ExactCorpus && survivors(d.id))
      .foreach(d => out += s"exact copy ${d.id} of ${d.partner} kept")
    out.toSeq
  }

  private def expectedRows: Long =
    BaseDocs + saved.keys.toSeq.map(survivorIds(_).size.toLong).sum

  def checkIndex(before: Long, after: Long, expected: Long): Seq[String] =
    Seq(before -> "before", after -> "after").collect {
      case (n, when) if n != expected =>
        s"index holds $n rows $when compaction, expected $expected"
    }

  private lazy val indexCounts: (Long, Long) = {
    val before = Ann.loadOpqIndex(spark, indexDir).pqIndex.count()
    IndexMaintenance.compactPqIndex(spark, indexDir)
    (before, Ann.loadOpqIndex(spark, indexDir).pqIndex.count())
  }

  def check(ops: Seq[Int]): Seq[String] =
    ops.flatMap(i => checkOp(batch(i), passedLang(i), survivorIds(i))) ++
      checkIndex(indexCounts._1, indexCounts._2, expectedRows)

  def quality(ops: Seq[Int]): Double = {
    var tp, fp, fn = 0L
    ops.foreach { i =>
      val s = survivorIds(i)
      batch(i).foreach { d =>
        val truth = d.kind == Unique
        if (truth && s(d.id)) tp += 1
        else if (s(d.id)) fp += 1
        else if (truth) fn += 1
      }
    }
    2.0 * tp / (2.0 * tp + fp + fn)
  }

  private def indexBytesPerRow: Double =
    Files.bytes(s"$indexDir/index").toDouble /
      (indexCounts._2.max(1L))

  def storedBytesPerRecord(ops: Seq[Int]): Double = {
    val exports = ops.map(i => Files.bytes(saved(i))).sum.toDouble
    val kept = ops.map(survivorIds(_).size).sum
    (exports + kept * indexBytesPerRow) / ops.map(batch(_).size).sum
  }

  override def layerCounts(ops: Seq[Int]): Map[String, Double] = Map(
    "sources.export_bytes_per_record" ->
      ops.map(i => Files.bytes(saved(i))).sum.toDouble / ops.map(batch(_).size).sum,
    "operators.dedup_dropped_per_op" ->
      ops.map(i => (passedLang(i) -- survivorIds(i)).size).sum.toDouble / ops.size,
    "operators.index_delta_roots" -> Stats.mean(ops.map(deltaRoots(_).toDouble)))

  def selfTest(ops: Seq[Int]): Seq[String] = {
    val i = ops.head
    val docs = batch(i)
    val passed = passedLang(i)
    val s = survivorIds(i)
    val unique = docs.find(d => d.kind == Unique && s(d.id)).get
    val copy = docs.find(_.kind == ExactCorpus).get
    val corruptions = Seq(
      "survivor outside the batch" -> checkOp(docs, passed, s + 42L),
      "dropped unique document" -> checkOp(docs, passed, s - unique.id),
      "exact copy kept" -> checkOp(docs, passed + copy.id, s + copy.id),
      "index count off by one" -> checkIndex(indexCounts._1 + 1,
        indexCounts._2, expectedRows))
    corruptions.collect { case (name, found) if found.isEmpty => name }
  }
}

object CorpusIngest {
  val Langs = Seq("en", "de", "ru", "el", "zh")
  val BaseDocs = 3000
  val UniquePerBatch = 70
  val ForeignPerBatch = 20
  val NearCorpusPerBatch = 15
  val ExactCorpusPerBatch = 5
  val NearBatchPerBatch = 10
  val ShingleN = 3
  val NumHashes = 32
  val Bands = 8
  val Threshold = 0.5

  sealed trait Kind
  case object Unique extends Kind
  case object Foreign extends Kind
  case object NearCorpus extends Kind
  case object ExactCorpus extends Kind
  case object NearBatch extends Kind

  final case class Doc(id: Long, text: String, vec: Array[Float], kind: Kind,
      partner: Long = -1L)
}

/** Generated text and the word-shingle Jaccard, computed apart from
  * graft. */
object Text {
  private val Syllables = Map(
    "en" -> Seq("th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha",
      "at", "en", "es", "of", "or", "nt", "ea", "ti", "to", "it", "st", "io"),
    "de" -> Seq("sch", "ei", "ung", "ch", "ie", "en", "ge", "be", "ck",
      "au", "tz", "lich", "keit", "st", "ver", "zu"),
    "ru" -> Seq("ст", "но", "ра", "ов", "ко", "ни", "ть", "ли", "ва", "ен",
      "при", "про", "ка", "ос"),
    "el" -> Seq("το", "να", "κα", "ου", "πο", "με", "τη", "αι", "ερ",
      "ση", "λο", "ικ"),
    "zh" -> Seq("的", "是", "在", "人", "有", "我", "他", "这", "中", "大",
      "来", "上", "国", "个", "到", "说"))
  private val Stopwords = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "zu", "ein"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "это", "же"),
    "el" -> Seq("και", "το", "να", "του", "με", "την", "η", "ο"),
    "zh" -> Seq("的", "是", "在", "了", "不", "我"))

  def vocabulary(r: Random, lang: String, n: Int): IndexedSeq[String] = {
    val syl = Syllables(lang)
    Iterator.continually(
      (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .distinct.take(n).toIndexedSeq
  }

  def doc(r: Random, vocab: IndexedSeq[String], lang: String): String = {
    val stops = Stopwords(lang)
    (0 until 40 + r.nextInt(40)).map(_ =>
      if (r.nextDouble() < 0.3) stops(r.nextInt(stops.size))
      else vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** Replaces two words: a near-copy at word-3-shingle Jaccard ≈ 0.8. */
  def perturb(r: Random, text: String, vocab: IndexedSeq[String]): String = {
    val w = text.split(" ")
    (0 until 2).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size)))
    w.mkString(" ")
  }

  /** Distinct word 3-shingles, split on single spaces. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Set.empty
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val union = (a | b).size
    if (union == 0) 0.0 else (a & b).size.toDouble / union
  }
}
