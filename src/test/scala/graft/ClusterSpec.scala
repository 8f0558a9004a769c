package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup, Graph}

import scala.util.Random

/** Connected-component clustering (large-star/small-star) checked
  * against a driver-side union-find reference, plus the end-to-end
  * survivor-selection dedup and repetition stats. */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: plain union-find over the same edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize every root to the component MIN id
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  /** Runs BOTH resolution paths — the adaptive default (driver
    * union-find at this size) and the forced distributed
    * large-star/small-star loop (driverMaxEdges = 0) — and asserts
    * they agree, so every fixture in this suite pins path equality. */
  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("a", "b")
    val driver = Graph.connectedComponents(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    val distributed = Graph.connectedComponents(df, "a", "b",
      driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver == distributed,
      "driver union-find diverged from the distributed loop")
    driver
  }

  test("path graph: worst case for naive propagation, O(log^2 n) here") {
    // 0-1-2-...-63 single chain: component min is 0 for every node
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = ccMap(edges)
    assert(got.size == 64)
    assert(got.values.toSet == Set(0L))
    // also as reversed/shuffled input
    val got2 = ccMap(Random.shuffle(edges.map { case (a, b) => (b, a) }))
    assert(got2 == got)
  }

  test("disjoint components, duplicate + self-loop edges") {
    val edges = Seq(
      (5L, 9L), (9L, 5L), (9L, 9L), // dup + swap + self loop
      (20L, 21L), (21L, 22L),
      (7L, 7L)) // pure self loop: no edge at all
    val got = ccMap(edges)
    assert(got == Map(5L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("random graphs match union-find") {
    val rnd = new Random(42)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n) {
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
      }.filter(e => e._1 != e._2)
      assert(ccMap(edges) == unionFind(edges), s"trial $trial")
    }
  }

  test("empty pair list yields empty components") {
    assert(ccMap(Seq.empty) == Map.empty)
  }

  test("zero edges: an empty local frame in the input id type, no Exchange") {
    // self-loops only: the pair list is non-empty, the edge set is not
    val loops = Seq((3L, 3L), (4L, 4L))
    for (max <- Seq(Graph.DriverGraphMaxEdges, 0L)) {
      val byType = Seq(
        loops.toDF("a", "b"),
        loops.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b"),
        loops.map { case (a, b) => (a.toString, b.toString) }.toDF("a", "b"))
      byType.foreach { df =>
        val cc = Graph.connectedComponents(df, "a", "b", driverMaxEdges = max)
        val idType = df.schema("a").dataType
        assert(cc.schema.map(f => (f.name, f.dataType)) ===
          Seq("id" -> idType, "component" -> idType))
        assert(cc.count() === 0L)
        val plan = cc.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"empty graph shuffles:\n$plan")
        assert(plan.contains("LocalTableScan"), plan)
      }
    }
    // the cluster drop over no pairs leaves every row
    val rows = Seq(1L, 2L, 3L).toDF("doc_id")
    val drop = Dedup.clusterDrop(loops.toDF("a_id", "b_id"))
    assert(drop(rows, "doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("driver components are a local relation, so the cluster drop broadcasts") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val rows = (1L to 9L).toDF("doc_id")
    val kept = Dedup.clusterDrop(pairs)(rows, "doc_id")
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"cluster drop is not a broadcast anti-join:\n$plan")
    assert(kept.as[Long].collect().sorted.toSeq ===
      Seq(1L, 4L, 5L, 6L, 7L, 9L))
  }

  test("dropNearDuplicates keeps min id per cluster and all singletons") {
    // three exact-ish duplicates + one unrelated doc
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (9L, "totally different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text",
      shingleN = 2, numHashes = 16, bands = 8, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept sameElements Array(1L, 9L))
  }

  test("repetitionStats: hand-computed fractions") {
    val docs = Seq(
      (1L, "a b a b a"), // words: 5, distinct 2; bigrams: "a b","b a","a b","b a" -> 4, distinct 2, top 2
      (2L, "x y z"),     // no repetition: 3 words distinct, 2 distinct bigrams
      (3L, "w"))         // single word: no bigrams
      .toDF("doc_id", "text")
    val got = Corpus.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, Double, Double, Double)].collect()
    assert(got(0) == ((1L, 5, 0.6, 0.5, 0.5)))
    assert(got(1) == ((2L, 3, 0.0, 0.0, 0.5)))
    assert(got(2) == ((3L, 1, 0.0, 0.0, 0.0)))
  }

  test("native repetition_counts matches the portable HOF formulation") {
    val texts = Seq(
      "a b a b a", "x y z", "w", "",
      "a  b", "  ", "same same same same",
      "one two one two three one two")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = df.select($"id",
      call_function("repetition_counts", $"text").as("c")).orderBy("id")
    val portable = df.select($"id",
      graft.operators.Corpus.repetitionCountsPortable($"text").as("c"))
      .orderBy("id")
    assert(native.collect().toSeq == portable.collect().toSeq)
  }

  test("repetitionStats is a pure projection (no exchange)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Corpus.repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }
}
