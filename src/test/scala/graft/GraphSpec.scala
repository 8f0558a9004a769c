package graft

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.Graph

/** PageRank semantics pinned against a scalar reference simulation:
  * same formula computed with plain Scala collections on tiny graphs,
  * so a distributed-plumbing defect (lost dangling mass, degree
  * mis-join, symmetrisation dedup) can't hide behind the formula. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def simulate(
      edges: Set[(Long, Long)], undirected: Boolean,
      iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    val e = if (undirected) edges ++ edges.map(_.swap) else edges
    val nodes = e.flatMap(t => Set(t._1, t._2))
    val n = nodes.size
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dmass = nodes.toSeq.filterNot(outDeg.contains).map(r).sum
      val recv = e.toSeq.groupBy(_._2).map { case (d, es) =>
        d -> es.map(t => r(t._1) / outDeg(t._1)).sum
      }
      r = nodes.map(v => v ->
        ((1 - damping) / n +
          damping * (recv.getOrElse(v, 0.0) + dmass / n))).toMap
    }
    r
  }

  private def run(edges: Set[(Long, Long)], undirected: Boolean,
      iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toSeq.toDF("s", "d"), "s", "d",
      iterations = iters, undirected = undirected)
      .as[(Long, Double)].collect().toMap

  test("undirected star: hub concentrates rank, leaves symmetric") {
    val star = (2L to 6L).map(1L -> _).toSet
    val got = run(star, undirected = true, iters = 10)
    val want = simulate(star, undirected = true, iters = 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"node $k") }
    assert(got(1L) > got(2L) * 2, "hub should dominate")
    assert((3L to 6L).forall(l => math.abs(got(l) - got(2L)) < 1e-12))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "total rank conserved")
  }

  test("triangle stays uniform at 1/3") {
    val tri = Set((1L, 2L), (2L, 3L), (3L, 1L))
    val got = run(tri, undirected = true, iters = 7)
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("directed chain with a dangling sink conserves total rank") {
    // a -> b -> c; c has no out-edges — its mass must redistribute
    val chain = Set((1L, 2L), (2L, 3L))
    val got = run(chain, undirected = false, iters = 12)
    val want = simulate(chain, undirected = false, iters = 12)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"node $k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "dangling mass lost")
    assert(got(3L) > got(2L) && got(2L) > got(1L))
  }

  test("duplicate and reciprocal input edges collapse before degrees") {
    // (1,2) listed twice and (2,1) present: symmetrised set is just
    // {(1,2),(2,1)} — degrees must be 1, not inflated by duplicates
    val noisy = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("s", "d")
    val got = Graph.pageRank(noisy, "s", "d", iterations = 5,
      undirected = true).as[(Long, Double)].collect().toMap
    got.values.foreach(v => assert(math.abs(v - 0.5) < 1e-12))
  }

  test("deterministic across runs and checkpoint boundaries") {
    val edges = (1L to 40L).flatMap(i => Seq(i -> (i % 7 + 1), i -> (i % 11 + 1))).toSet
    val a = run(edges, undirected = true, iters = 9)
    val b = run(edges, undirected = true, iters = 9)
    assert(a === b)
  }

  // --- triangles: pinned against brute-force triple enumeration with
  // the SAME apex rule (lowest (degree, id) vertex owns the triangle).
  private def bruteTriangles(
      edges: Set[(Long, Long)]): Map[Long, Long] = {
    val canon = edges.collect {
      case (a, b) if a != b => (math.min(a, b), math.max(a, b))
    }
    val nodes = canon.flatMap(t => Seq(t._1, t._2)).toSeq.sorted
    val deg = canon.toSeq.flatMap(t => Seq(t._1, t._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def has(x: Long, y: Long) = canon(( math.min(x, y), math.max(x, y)))
    val tris = for {
      x <- nodes; y <- nodes if y > x; z <- nodes if z > y
      if has(x, y) && has(x, z) && has(y, z)
    } yield Seq(x, y, z).minBy(v => (deg(v), v))
    tris.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  private def runTriangles(edges: Seq[(Long, Long)],
      driverMaxEdges: Long = Graph.DriverGraphMaxEdges): Map[Long, Long] =
    Graph.triangles(edges.toDF("s", "d"), "s", "d",
        driverMaxEdges = driverMaxEdges)
      .as[(Long, Long)].collect().toMap

  test("triangles: K4 has 4 triangles, all counted once") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
    val got = runTriangles(k4)
    assert(got.values.sum === 4L)
    assert(got === bruteTriangles(k4.toSet))
  }

  test("triangles: random sparse graph matches brute force per apex") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
    val got = runTriangles(edges)
    assert(got === bruteTriangles(edges.toSet))
    assert(got.values.sum > 0, "fixture should contain triangles")
  }

  test("triangles: duplicates, reversed edges and self-loops collapse") {
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    val got = runTriangles(noisy)
    assert(got.values.sum === 1L)
  }

  test("triangles: triangle-free bipartite graph yields no rows") {
    val bip = for { a <- 1L to 4L; b <- 11L to 14L } yield (a, b)
    assert(runTriangles(bip).isEmpty)
  }

  test("triangles: driver and distributed paths are bit-identical") {
    // all-integer arithmetic on both paths ⇒ exact equality, on a
    // fixture dense enough to exercise hub orientation + rank ties
    val rnd = new scala.util.Random(13)
    val edges = (1 to 900).map(_ =>
      (rnd.nextInt(45).toLong + 1, rnd.nextInt(45).toLong + 1))
    val driver = runTriangles(edges) // default bound ⇒ driver path
    val dist = runTriangles(edges, driverMaxEdges = 0L)
    assert(driver === dist)
    assert(driver === bruteTriangles(edges.toSet))
    assert(driver.values.sum > 0, "fixture should contain triangles")
  }

  test("triangles: driver path accepts node ids beyond 31 bits") {
    // the distributed plan requires ids < 2³¹ (packed keys); the
    // driver path ranks instead of packing, so wide ids still count
    val base = 1L << 40
    val edges = Seq((base + 1, base + 2), (base + 2, base + 3),
      (base + 3, base + 1), (base + 3, base + 4))
    val got = runTriangles(edges)
    assert(got.values.sum === 1L)
    assert(got === bruteTriangles(edges.toSet))
  }

  private def runLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("a", "b"), "a", "b",
        iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: bridged triangles split into two communities") {
    // hand-traced synchronous LPA with min-label tie-break: after 5
    // rounds the left triangle carries label 1, the right label 3
    // (the bridge 3-10 is outvoted by each side's internal majority)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val got = runLpa(edges, 5)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: edge weights outvote the min-label tie-break") {
    // neighbours of 100 carry labels 5 and 7 after round 0; unweighted
    // they tie (1 vote each) and the SMALLER label wins — a weight-2
    // edge flips the vote. Parallel weighted edges must sum.
    val unweighted = Seq((100L, 5L), (100L, 7L))
      .toDF("a", "b")
    val got0 = Graph.labelPropagation(unweighted, "a", "b", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(got0(100L) === 5L)
    val weighted = Seq((100L, 5L, 1L), (100L, 7L, 1L), (7L, 100L, 1L))
      .toDF("a", "b", "w")
    val got1 = Graph.labelPropagation(weighted, "a", "b", iterations = 1,
        weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got1(100L) === 7L) // 5:1 vs 7:2 (two parallel rows summed)
    // both-direction duplicates in UNWEIGHTED input still vote once
    val dup = Seq((100L, 5L), (5L, 100L), (100L, 7L))
      .toDF("a", "b")
    val got2 = Graph.labelPropagation(dup, "a", "b", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(got2(100L) === 5L)
  }

  // --- driver fast path vs distributed loop (the Dedup union-find
  // precedent): every fixture runs BOTH paths — the default (driver,
  // all these graphs sit under DriverGraphMaxEdges) and
  // driverMaxEdges = 0 (forces the distributed loop) — and must agree.
  test("pageRank: driver fast path equals the distributed loop") {
    val rnd = new scala.util.Random(23)
    val random = (1 to 200).map(_ =>
      (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))
      .filter(e => e._1 != e._2).toSet
    val fixtures = Seq(
      ((2L to 6L).map(1L -> _).toSet, true),   // star
      (Set((1L, 2L), (2L, 3L)), false),        // dangling chain
      (random, true), (random, false))
    for ((edges, und) <- fixtures) {
      val df = edges.toSeq.toDF("s", "d")
      val fast = Graph.pageRank(df, "s", "d", iterations = 9,
        undirected = und).as[(Long, Double)].collect().toMap
      val dist = Graph.pageRank(df, "s", "d", iterations = 9,
        undirected = und, driverMaxEdges = 0L)
        .as[(Long, Double)].collect().toMap
      assert(fast.keySet === dist.keySet, s"undirected=$und")
      fast.foreach { case (k, v) =>
        assert(math.abs(v - dist(k)) < 1e-12,
          s"node $k undirected=$und: driver $v vs distributed ${dist(k)}")
      }
    }
  }

  test("labelPropagation: driver fast path is bit-for-bit distributed") {
    val rnd = new scala.util.Random(29)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(35).toLong + 1, rnd.nextInt(35).toLong + 1))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("a", "b")
    for (iters <- Seq(1, 5)) {
      val fast = Graph.labelPropagation(df, "a", "b", iterations = iters)
        .as[(Long, Long)].collect().toMap
      val dist = Graph.labelPropagation(df, "a", "b", iterations = iters,
        driverMaxEdges = 0L).as[(Long, Long)].collect().toMap
      assert(fast === dist, s"iters=$iters")
    }
    // weighted votes take the same fork
    val wdf = edges.map { case (a, b) => (a, b, (a + b) % 3 + 1) }
      .toDF("a", "b", "w")
    val fastW = Graph.labelPropagation(wdf, "a", "b", iterations = 3,
      weightCol = Some("w")).as[(Long, Long)].collect().toMap
    val distW = Graph.labelPropagation(wdf, "a", "b", iterations = 3,
      weightCol = Some("w"), driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fastW === distW)
  }

  test("labelPropagation: matches a naive synchronous reference") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(25).toLong + 1, rnd.nextInt(25).toLong + 1))
      .filter(e => e._1 != e._2)
    def naive(iters: Int): Map[Long, Long] = {
      val und = edges.flatMap(e => Seq(e, e.swap)).distinct
      val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var lab = nbrs.keys.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lab = nbrs.map { case (n, ns) =>
          val hist = ns.groupBy(lab).map { case (l, g) => (l, g.size) }
          n -> hist.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lab
    }
    assert(runLpa(edges, 3) === naive(3))
    assert(runLpa(edges, 5) === naive(5))
  }

  test("empty graph: all four operators return an empty local frame in the output schema") {
    // an empty list, and self-loops only (PageRank keeps a self-loop
    // as an edge; the other three drop it)
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("s", "d")
    for (df <- Seq(none, loops); max <- Seq(Graph.DriverGraphMaxEdges, 0L)) {
      val wdf = df.withColumn("w", lit(2L))
      val ranks = if (df eq loops) Nil else Seq(
        Graph.pageRank(df, "s", "d", driverMaxEdges = max) ->
          Seq("id" -> LongType, "rank" -> DoubleType),
        Graph.pageRank(df, "s", "d", undirected = true,
          driverMaxEdges = max) -> Seq("id" -> LongType, "rank" -> DoubleType))
      val outs = ranks ++ Seq(
        Graph.connectedComponents(df, "s", "d", driverMaxEdges = max) ->
          Seq("id" -> LongType, "component" -> LongType),
        Graph.labelPropagation(df, "s", "d", driverMaxEdges = max) ->
          Seq("node_id" -> LongType, "community" -> LongType),
        Graph.labelPropagation(wdf, "s", "d", weightCol = Some("w"),
          driverMaxEdges = max) ->
          Seq("node_id" -> LongType, "community" -> LongType),
        Graph.triangles(df, "s", "d", driverMaxEdges = max) ->
          Seq("node_id" -> LongType, "tri_n" -> LongType))
      outs.foreach { case (out, schema) =>
        assert(out.schema.map(f => (f.name, f.dataType)) === schema)
        val plan = out.queryExecution.executedPlan
        assert(plan.collectLeaves().forall(_.nodeName == "LocalTableScan"),
          s"empty graph is not a local frame:\n$plan")
        assert(out.collect().isEmpty)
      }
    }
  }

  test("adaptive driver-graph bound: floor, quarter-heap middle, ceiling") {
    import graft.operators.DriverBudget
    // small heaps SHRINK below the old 256 MB constant (a 512 MB
    // driver must not gamble a 256 MB transient), the middle tracks
    // quarter-heap, huge heaps cap at 8 GiB of transient allowance
    assert(DriverBudget.adaptiveTransientBytes(256L << 20) === 64L << 20)
    assert(DriverBudget.adaptiveTransientBytes(1L << 30) === 256L << 20)
    assert(DriverBudget.adaptiveTransientBytes(24L << 30) === 6L << 30)
    assert(DriverBudget.adaptiveTransientBytes(128L << 30) === 8L << 30)
    // monotone in the heap: a bigger driver never gets a smaller bound
    val pts = Seq(1L << 28, 1L << 30, 4L << 30, 24L << 30, 200L << 30)
      .map(DriverBudget.adaptiveTransientBytes)
    assert(pts === pts.sorted)
    // the live bound is the formula over THIS JVM's heap at the
    // measured ~128 B/edge transient cost — and both sides of it are
    // result-identical (the driver ≡ distributed pins above), which
    // is what makes heap-adaptivity safe where the trainer bounds
    // (model-feeding, reproducibility-critical) stay fixed
    assert(Graph.DriverGraphMaxEdges ===
      DriverBudget.adaptiveTransientBytes(
        Runtime.getRuntime.maxMemory()) / 128)
    assert(DriverBudget.MaxTransientBytes === 256L << 20,
      "trainer allowance stays fixed — model reproducibility")
    // per-operator PERFORMANCE ceilings (measured crossovers, r16):
    // a big heap must never push an operator past the size where its
    // driver loop stops beating the distributed plan — and the
    // ceilings order by per-edge driver cost (LPA's HashMap vote >
    // pageRank's array walk > triangles' parallel wedge probes)
    assert(Graph.CcDriverCeiling === 524288L)
    assert(Graph.LpaDriverCeiling === 2000000L)
    assert(Graph.PageRankDriverCeiling === 4000000L)
    assert(Graph.TrianglesDriverCeiling === 6000000L)
    assert(Graph.CcDriverCeiling <= Graph.LpaDriverCeiling &&
      Graph.LpaDriverCeiling <= Graph.PageRankDriverCeiling &&
      Graph.PageRankDriverCeiling <= Graph.TrianglesDriverCeiling)
    // components resolve on the driver up to the same 524,288 edges on
    // every heap: the heap bound's floor (64 MB / 128 B) is the ceiling
    assert(DriverBudget.adaptiveTransientBytes(0L) / 128 ===
      Graph.CcDriverCeiling)
    assert(math.min(Graph.DriverGraphMaxEdges, Graph.CcDriverCeiling) ===
      524288L)
  }
}
