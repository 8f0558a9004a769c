package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Ann, Parallelism, Pca}

/** The read path: an OPQ/IVF-PQ index built once in set-up, then small
  * top-k search requests against it. */
final class AnnServe(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import AnnServe._

  private val vecs: Array[Array[Float]] = genVectors(new Random(seed), N, Dim)
  private val corpusPath = s"$work/ann_corpus"
  Vectors.write(spark, vecs, corpusPath)
  private val corpus = spark.read.parquet(corpusPath)
  private var index: Ann.PersistedPqIndex = _
  private var indexDir: String = _
  private val results = mutable.Map.empty[Int, Seq[Hit]]

  def setup(rep: Int): Unit = {
    indexDir = s"$work/ann_index_$rep"
    index = AnnServe.build(spark, corpus, indexDir)
  }

  private def queries(i: Int): Seq[Long] = {
    val r = new Random(seed * 7919L + i)
    Iterator.continually(r.nextInt(N).toLong).distinct.take(QueriesPerOp).toSeq
  }

  def op(i: Int): Long = {
    results(i) = search(queries(i), Nprobe)
    QueriesPerOp
  }

  /** One request: the query vectors arrive as data, as a client would
    * send them. */
  private def search(qs: Seq[Long], nprobe: Int, refine: Int = Refine): Seq[Hit] = {
    import spark.implicits._
    val queries = qs.map(q => (q, vecs(q.toInt).toSeq)).toDF("vec_id", "vec")
    val res = Trace.span("operators.ann_search_build") {
      Ann.searchOpqIndex(index, corpus, queries, k = K, nprobe = nprobe,
        refine = refine)
    }
    Trace.span("operators.ann_search_exec") {
      res.select("query_id", "neighbor_id", "rank", "cosine").collect()
        .map(r => Hit(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    }
  }

  private val exact = mutable.Map.empty[Long, Seq[(Long, Double)]]
  private def exactTop(q: Long): Seq[(Long, Double)] =
    exact.getOrElseUpdate(q, Vectors.exactTopK(vecs, q.toInt, K))

  /** Violations in one request's hits: count, order, self, scores, and
    * (when `full`) identity with the exact top-k. */
  def checkHits(qs: Seq[Long], hits: Seq[Hit], full: Boolean): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val byQ = hits.groupBy(_.query)
    if (byQ.keySet != qs.toSet) out += s"queries answered ${byQ.keySet} != ${qs.toSet}"
    byQ.foreach { case (q, hs0) =>
      val hs = hs0.sortBy(_.rank)
      if (hs.size != K) out += s"query $q returned ${hs.size} results, not $K"
      if (hs.map(_.rank) != (1 to hs.size)) out += s"query $q ranks ${hs.map(_.rank)}"
      if (hs.zip(hs.drop(1)).exists { case (a, b) => a.cosine < b.cosine })
        out += s"query $q results not sorted by score"
      if (hs.exists(_.neighbor == q)) out += s"query $q returned itself"
      hs.foreach { h =>
        val c = Vectors.cosine(vecs(q.toInt), vecs(h.neighbor.toInt))
        if (math.abs(c - h.cosine) > 2e-4)
          out += s"query $q neighbour ${h.neighbor} score ${h.cosine}, exact $c"
      }
      if (full) {
        // equal to the exact top-k up to ties: rank by rank, the exact
        // cosines of the returned ids match the exact top-k's
        val got = hs.map(h => Vectors.cosine(vecs(q.toInt), vecs(h.neighbor.toInt)))
          .sorted(Ordering[Double].reverse)
        val want = exactTop(q).map(_._2)
        val diff = got.zip(want).zipWithIndex.find { case ((a, b), _) =>
          math.abs(a - b) > 1e-9 }
        if (got.size != want.size || diff.isDefined)
          out += s"full-probe query $q differs from the exact top-$K" +
            diff.fold("") { case ((a, b), r) =>
              s" at rank ${r + 1}: cosine $a, exact $b" } +
            s" (returned ${hs.map(_.neighbor)}, exact ${exactTop(q).map(_._1)})"
      }
    }
    out.toSeq
  }

  private lazy val fullProbe: (Seq[Long], Seq[Hit]) = {
    val qs = queries(-1)
    (qs, search(qs, Centroids, FullRefine))
  }

  def check(ops: Seq[Int]): Seq[String] =
    ops.flatMap(i => checkHits(queries(i), results(i), full = false)) ++
      checkHits(fullProbe._1, fullProbe._2, full = true)

  def quality(ops: Seq[Int]): Double = Stats.mean(ops.flatMap { i =>
    results(i).groupBy(_.query).map { case (q, hs) =>
      val truth = exactTop(q).map(_._1).toSet
      hs.count(h => truth(h.neighbor)).toDouble / K
    }
  })

  def storedBytesPerRecord(ops: Seq[Int]): Double =
    Files.bytes(indexDir).toDouble / N

  def selfTest(ops: Seq[Int]): Seq[String] = {
    val qs = queries(ops.head)
    val hits = results(ops.head)
    val q = qs.head
    val mine = hits.filter(_.query == q).sortBy(_.rank)
    val others = hits.filterNot(_.query == q)
    val far = (0 until N).map(_.toLong)
      .find(id => id != q && !exactTop(q).exists(_._1 == id)).get
    def withMine(m: Seq[Hit]) = others ++ m
    val (fq, fh) = fullProbe
    val fq0 = fq.head
    val fMine = fh.filter(_.query == fq0).sortBy(_.rank)
    val outsider = (0 until N).map(_.toLong).find(id => id != fq0 &&
      !exactTop(fq0).exists(_._1 == id)).get
    val corruptions: Seq[(String, Boolean, Seq[Long], Seq[Hit])] = Seq(
      ("wrong neighbour", false, qs, withMine(mine.updated(0,
        mine.head.copy(neighbor = far)))),
      ("query returns itself", false, qs, withMine(mine.updated(0,
        mine.head.copy(neighbor = q, cosine = 1.0)))),
      ("k - 1 results", false, qs, withMine(mine.dropRight(1))),
      ("unsorted scores", false, qs, withMine(mine.map(h =>
        h.copy(rank = K + 1 - h.rank)))),
      ("full probe differs from exact top-k", true, fq,
        fh.filterNot(_.query == fq0) ++ fMine.updated(K - 1, fMine.last.copy(
          neighbor = outsider, cosine = Vectors.cosine(vecs(fq0.toInt),
            vecs(outsider.toInt))))))
    corruptions.collect {
      case (name, full, q2, h2) if checkHits(q2, h2, full).isEmpty => name
    }
  }
}

final case class Hit(query: Long, neighbor: Long, rank: Int, cosine: Double)

object AnnServe {
  val N = 6000
  val Dim = 32
  val Clusters = 24
  val Centroids = 32
  val M = 8
  val Ksub = 64
  val K = 10
  val Nprobe = 8
  val Refine = 20
  /** k·refine ≥ N: every vector reaches the exact rerank, the width at
    * which graft promises the exact top-k. */
  val FullRefine = N / K
  val QueriesPerOp = 8

  /** Clustered vectors with a per-dimension 0.87^d decay, the
    * anisotropic shape under which the OPQ rotation is recommended. */
  def genVectors(rng: Random, n: Int, dim: Int): Array[Array[Float]] = {
    val centers = Array.fill(Clusters, dim)(rng.nextGaussian())
    Array.tabulate(n) { _ =>
      val c = centers(rng.nextInt(Clusters))
      Array.tabulate(dim)(d =>
        ((c(d) + 0.45 * rng.nextGaussian()) * math.pow(0.87, d)).toFloat)
    }
  }

  /** PCA → OPQ rotation → IVF centroids ‖ PQ codebooks → encode → save
    * → load, each stage in its own span. */
  def build(spark: SparkSession, corpus: DataFrame, dir: String)
      : Ann.PersistedPqIndex = {
    val (rotation, e, centroids, books) = Trace.span("operators.ann_train") {
      val pca = Pca.train(corpus, "vec_id", "vec", k = Dim)
      val rotation =
        if (Pca.opqRecommended(pca)) Some(Pca.opqModel(pca, M)) else None
      val e = rotation match {
        case Some(r) => Pca.rotate(corpus, "vec_id", "vec", r).localCheckpoint()
        case None => corpus
      }
      val (centroids, books) = Parallelism.join2(
        Ann.trainCentroids(e, "vec_id", "vec", k = Centroids, iters = 3)
          .withColumnRenamed("centroid_id", "vec_id").localCheckpoint(),
        Ann.trainPq(e, "vec_id", "vec", m = M, ksub = Ksub, iters = 5,
          maxTrain = 4096))
      (rotation, e, centroids, books)
    }
    Trace.span("operators.ann_build_save") {
      Ann.saveOpqIndex(dir,
        Ann.buildPqIndex(e, centroids, books, "vec_id", "vec"),
        centroids, books, "vec_id", "vec", rotation = rotation)
    }
    Trace.span("operators.ann_load")(Ann.loadOpqIndex(spark, dir))
  }
}

/** Vector helpers computed apart from graft. */
object Vectors {
  def write(spark: SparkSession, vecs: Array[Array[Float]], path: String,
      idBase: Long = 0L): Unit = {
    import spark.implicits._
    vecs.indices.map(i => (idBase + i, vecs(i).toSeq)).toDF("vec_id", "vec")
      .repartition(4).write.parquet(path)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Exact top-k by cosine, self excluded, ties by id. */
  def exactTopK(vecs: Array[Array[Float]], q: Int, k: Int): Seq[(Long, Double)] =
    vecs.indices.iterator.filter(_ != q)
      .map(j => (j.toLong, cosine(vecs(q), vecs(j))))
      .toSeq.sortBy { case (j, c) => (-c, j) }.take(k)
}
