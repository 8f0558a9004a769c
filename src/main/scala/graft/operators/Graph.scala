package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph operators over edge relations — connected components,
  * PageRank, label propagation and triangle counting: the iterative,
  * shuffle-heavy workload class (link analysis over a web/citation/
  * purchase graph, near-duplicate clustering) that a corpus-curation
  * warehouse runs beside the one-pass scans. CommonCrawl-style
  * harmonic/PageRank domain scoring is a standard quality prior for
  * web training data; components turn verified near-dup pairs into
  * clusters.
  *
  * Every operator canonicalises its edge list and then takes ONE
  * driver path ([[gate]], [[local]]): the canonical frame is pinned
  * and counted once; zero edges return an empty local frame in the
  * output schema; a bounded graph is collected once, packed, into a
  * sorted id table with int-indexed edges and resolved by a driver
  * loop; anything larger runs the operator's distributed plan on the
  * pinned frame.
  *
  * Scale shape of the distributed plans: the degree join happens
  * ONCE, outside the loop — the weighted adjacency (src, dst, 1/outDeg)
  * is hash-partitioned on `src` and pinned, and every iteration reuses
  * that exchange. An undirected iteration is then ONE join + ONE
  * map-side-combined aggregate moving only (id, rank) pairs (16
  * bytes/row); directed adds a left join against the pinned node set
  * (zero-in-degree nodes) and keeps the dangling-mass scalar IN-PLAN
  * as a broadcast one-row aggregate instead of a per-iteration collect.
  * Lineage is truncated with a periodic localCheckpoint so plan depth
  * stays bounded at 1000 iterations as at 10.
  */
object Graph {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Heap bound on the edges a driver path collects. Why a driver
    * path exists: each distributed iteration is a fixed scheduling
    * cost of 2-5 shuffles, so a bounded graph pays seconds of round
    * overhead for milliseconds of arithmetic (q76's components went
    * 5.11 → 0.39 s on an 874-edge graph; q89's sf0.1 purchase graph,
    * 1.17M symmetrised edges, runs 5.8 s distributed vs ~1 s on the
    * driver). Above the bound the shared-nothing plans run untouched.
    *
    * Driver heap: each task packs its rows into one primitive array,
    * so the transient peak is a few flat copies of the edge list (the
    * serialized task results, the collected chunks, the de-interleaved
    * columns and the id-table scratch, ~16 B/edge each) — the
    * [[DriverBudget.GraphEdges]] accounting of 128 B/edge covers that
    * with margin. The bound is HEAP-ADAPTIVE
    * ([[DriverBudget.adaptiveTransientBytes]]): 524,288 edges at the
    * 64 MB floor, ~2M on a default 1 GiB driver, ~50M on a 24 GiB JVM —
    * safe because both sides of the bound produce the same result
    * (GraphSpec and ClusterSpec pin driver ≡ distributed on every
    * operator). Size `driverMaxEdges` down on drivers with less
    * headroom; 0 forces the distributed plan.
    *
    * The heap bound is the SAFETY constraint; each operator also caps
    * at its PERFORMANCE ceiling (below), because past a few million
    * edges the 32-way distributed plan beats the driver loop even when
    * the heap would admit the collect. */
  val DriverGraphMaxEdges: Long = DriverBudget.GraphEdges

  /** Per-operator driver-path PERFORMANCE ceilings — the measured
    * driver-vs-distributed crossovers from the r16 sf1 replica
    * experiment (sf1, 24 GiB JVM, local[32], same inputs both paths,
    * log-log interpolation between the 1.2M- and 12M-edge points):
    *
    *  - triangles: driver 3.1 s / dist 11.7 s at 1.2M edges but
    *    38.0 s / 29.2 s at 12M — crossover ≈8M; ceiling 6M keeps
    *    margin (the parallel wedge loop scales, the collect + sort does
    *    not).
    *  - pageRank: ~1-3 s / 5.8 s at 1.2M but 28.5 s / 22.1 s at
    *    11.7M — crossover ≈5M; ceiling 4M (the per-iteration edge
    *    walk is single-threaded on the driver).
    *  - labelPropagation: the per-node map vote is far heavier per
    *    edge — at 2.4M edges the driver loop measured 29.2 s vs the
    *    distributed plan's 8.5 s, so the crossover sits BELOW 2M;
    *    ceiling stays 2M (every committed q150 point under it is
    *    healthy).
    *  - connectedComponents: 524,288 (2^19), the bound its union-find
    *    has always run under. It equals the heap bound's floor, so the
    *    components path is the same on every heap; near-dup pair graphs
    *    sit far below it.
    *
    * The effective bound is min(driverMaxEdges, ceiling): a small
    * heap shrinks it further, a big heap never pushes an operator
    * past the size where its driver loop stops winning. A 1000-
    * executor cluster would set these near zero — the distributed
    * plans are the scale path; the ceilings size the LOCAL shortcut. */
  val TrianglesDriverCeiling: Long = 6000000L
  val PageRankDriverCeiling: Long = 4000000L
  val LpaDriverCeiling: Long = 2000000L
  val CcDriverCeiling: Long = 524288L

  /** The driver gate's verdict: the pinned canonical edge frame, its
    * edge count, the gate aggregate's row (the count first, then the
    * caller's extra columns) and whether the graph resolves on the
    * driver. */
  private final case class Gate(edges: DataFrame, count: Long, agg: Row,
      onDriver: Boolean)

  /** The one driver gate: pins the canonical edge frame with a LAZY
    * localCheckpoint (ONE aggregate job materializes the pinned blocks
    * and counts them — r19), evaluates `extra` in the same aggregate,
    * and sends the graph to the driver when its edge count is within
    * min(driverMaxEdges, ceiling). A zero-edge graph always takes the
    * driver path, which collects nothing and returns an empty local
    * frame. localCheckpoint, not persist (the q133 lesson): the pinned
    * frame feeds every iteration of the distributed plans, and under
    * storage pressure a persist silently degrades to re-deriving it
    * once per consumer. */
  private def gate(op: String, edges: DataFrame, driverMaxEdges: Long,
      ceiling: Long, extra: Column*): Gate = {
    val e = edges.localCheckpoint(false)
    val agg = e.agg(count(lit(1)), extra: _*).head
    val n = agg.getLong(0)
    val bound = math.min(driverMaxEdges, ceiling)
    if (n <= bound)
      log.info(s"$op: $n edges <= $bound — resolving on the driver")
    Gate(e, n, agg, n <= bound)
  }

  /** A bounded graph on the driver: the sorted unique node ids, each
    * edge's endpoints as indices into them (index order IS id order),
    * and the edge frame's optional third column (LPA's weight), or
    * null. */
  private final case class Local(ids: Array[Long], src: Array[Int],
      dst: Array[Int], w: Array[Long]) {
    def n: Int = ids.length
    def m: Int = src.length
  }

  /** The gated edge frame on the driver: its first two columns are the
    * endpoints. ONE packed collect of every column (none at all for
    * zero edges), then the id table. */
  private def local(g: Gate): Local = {
    val cols =
      if (g.count == 0L) Array.fill(g.edges.columns.length)(Array.emptyLongArray)
      else collectColumns(g.edges)
    val ids = sortedUniqueIds(cols(0), cols(1))
    Local(ids, indicesIn(ids, cols(0)), indicesIn(ids, cols(1)),
      if (cols.length > 2) cols(2) else null)
  }

  /** Collect every column of a frame (cast to long) as one primitive
    * array per column: each task packs its rows into one interleaved
    * `Array[Long]` straight from Spark's internal rows — no per-row
    * object on either side — so the driver only de-interleaves a few
    * long arrays (a boxed per-row decode was ~0.3 s of single-threaded
    * driver time at 1.2M edges, r19 profile). */
  private def collectColumns(df: DataFrame): Array[Array[Long]] = {
    val k = df.columns.length
    val qe = df.select(df.columns.toSeq.map(c => col(c).cast("long")): _*)
      .queryExecution
    val chunks = SQLExecution.withNewExecutionId(qe, Some("collectColumns")) {
      qe.toRdd.mapPartitions { rows =>
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        rows.foreach { r =>
          var c = 0
          while (c < k) { buf += r.getLong(c); c += 1 }
        }
        Iterator.single(buf.result())
      }.collect()
    }
    val m = chunks.iterator.map(_.length).sum / k
    val out = Array.fill(k)(new Array[Long](m))
    var w = 0
    chunks.foreach { ch =>
      var i = 0
      while (i < ch.length) {
        var c = 0
        while (c < k) { out(c)(w) = ch(i + c); c += 1 }
        i += k; w += 1
      }
    }
    out
  }

  /** Sorted-unique node id array over both endpoint arrays — the
    * driver paths' id table, built with primitive sort + in-place
    * dedup. r19: the SortedSet/zipWithIndex.toMap version of this
    * (boxed RB-tree inserts + a boxed HashMap per endpoint lookup) was
    * ~2 s of the q89 driver gap at 1.17M edges; the primitive form is
    * two arraycopies, one sort and one scan. */
  private def sortedUniqueIds(
      srcL: Array[Long], dstL: Array[Long]): Array[Long] = {
    val m = srcL.length
    val all = new Array[Long](2 * m)
    System.arraycopy(srcL, 0, all, 0, m)
    System.arraycopy(dstL, 0, all, m, m)
    java.util.Arrays.parallelSort(all)
    var w = 0
    var i = 0
    while (i < all.length) {
      if (w == 0 || all(w - 1) != all(i)) { all(w) = all(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, w)
  }

  /** Each id of `xs` as its index in the sorted table `ids`: binary
    * searches, integer-exact with disjoint writes, so parallel. */
  private def indicesIn(ids: Array[Long], xs: Array[Long]): Array[Int] = {
    val out = new Array[Int](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel()
      .forEach(j => out(j) = java.util.Arrays.binarySearch(ids, xs(j)))
    out
  }

  /** Distributed DataFrame over two parallel driver arrays — the
    * driver paths' RESULT encode. `Seq.toDF` serializes every row to
    * InternalRow EAGERLY ON THE DRIVER THREAD (~0.4 s single-threaded
    * at 1.2M nodes, r19 profile); shipping the primitive arrays once
    * via broadcast and encoding rows inside `defaultParallelism`
    * range tasks moves that work onto the executor pool. Row VALUES
    * are identical; row order is not contractual (callers
    * sort/aggregate or the oracle compare sorts). No rows give an
    * empty LOCAL frame, which the optimizer folds away. */
  private def arraysToDF(
      spark: org.apache.spark.sql.SparkSession,
      ids: Array[Long], longVals: Array[Long], dblVals: Array[Double],
      col1: String, col2: String): DataFrame = {
    import spark.implicits._
    val n = ids.length
    if (n == 0)
      return if (dblVals == null) Seq.empty[(Long, Long)].toDF(col1, col2)
        else Seq.empty[(Long, Double)].toDF(col1, col2)
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(sc.defaultParallelism, n / 8192))
    val bIds = sc.broadcast(ids)
    if (dblVals == null) {
      val bV = sc.broadcast(longVals)
      sc.range(0L, n.toLong, numSlices = slices)
        .map(i => (bIds.value(i.toInt), bV.value(i.toInt)))
        .toDF(col1, col2)
    } else {
      val bV = sc.broadcast(dblVals)
      sc.range(0L, n.toLong, numSlices = slices)
        .map(i => (bIds.value(i.toInt), bV.value(i.toInt)))
        .toDF(col1, col2)
    }
  }

  // ------------------------------------------------------------------
  // Connected components
  // ------------------------------------------------------------------

  /** Round cap of the distributed components loop: it converges in
    * O(log² n) rounds, ~40 for a 1M-long chain. */
  private val MaxCcRounds = 50

  /** Connected components over an undirected pair list. Returns one
    * row per node appearing in `pairs`: (id, component), where
    * component is the minimum node id in the node's component, both in
    * the input's id type. Singleton docs (no near-dup edge) don't
    * appear — they are their own component trivially.
    *
    * A bounded graph with integral ids resolves by a driver union-find
    * and comes back as a LOCAL relation, so a consumer's anti-join
    * against it (the near-dup cluster drop) plans as a broadcast join.
    * Otherwise the components come from alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the standard shared-nothing
    * formulation: every round is two key-grouped aggregations plus two
    * equi-joins on node ids, converging in O(log² n) rounds regardless
    * of component diameter (plain min-label propagation needs
    * O(diameter) rounds). The edge list never leaves the cluster, so
    * the operator holds at corpus scale. Each round's edge list is
    * `localCheckpoint`ed: iterative plans otherwise stack lineage until
    * planning itself dominates. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      driverMaxEdges: Long = DriverGraphMaxEdges): DataFrame = {
    // canonical directed form: (u, v) with u > v ("child" -> smaller)
    val canon = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // the union-find runs on longs; string/decimal ids take the
    // type-agnostic distributed loop (or, with no edge, the empty frame)
    val idType = canon.schema("u").dataType
    val integral = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val g = gate("connectedComponents", canon, driverMaxEdges,
      if (integral) CcDriverCeiling else 0L)
    if (g.onDriver) return driverComponents(g, idType)
    var edges = g.edges
    // each round's count CARRIES to the next: recounting the previous
    // round's checkpoint was one whole job per round of pure waste
    var edgeCount = g.count
    var iter = 0
    var converged = false
    while (!converged && iter < MaxCcRounds) {
      // LARGE-STAR: for each node u, m = min(N(u) ∪ {u}); connect every
      // strictly-larger neighbor to m. Operates on the symmetric view.
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMins = sym.groupBy("u")
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      val ls = sym.join(lsMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m, so u > v holds
        .distinct()
      // SMALL-STAR: edges already point larger -> smaller; for each u,
      // m = min of its smaller neighbors; connect u and every smaller
      // neighbor to m.
      val ssMins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val next = ls.join(ssMins, "u")
        .select(col("v").as("node"), col("m"))
        .union(ssMins.select(col("u").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(false)
      // At the fixpoint both passes leave the star forest unchanged.
      // The (shuffling) set-compare only runs once counts agree —
      // counts differ on most non-final rounds, so the common case is
      // ONE count over the new checkpointed edge list.
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxCcRounds rounds")
    log.info(s"connectedComponents converged in $iter rounds")
    // star forest: every non-root points straight at its component min
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Driver union-find over the gated (u, v) edge list, on int indices
    * into the id table — exact min-label components, identical contract
    * to the distributed loop's output. Index order is id order, so
    * union-by-min-index keeps each component's minimum id at its root;
    * path halving keeps the pass effectively linear. The rows come back
    * as a local relation (`Seq.toDF`), which keeps the size statistics
    * a broadcast join needs, cast to the input's id type. */
  private def driverComponents(g: Gate, idType: DataType): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val l = local(g)
    val parent = Array.tabulate(l.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var k = 0
    while (k < l.m) {
      val ru = find(l.src(k))
      val rv = find(l.dst(k))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      k += 1
    }
    l.ids.indices.map(i => (l.ids(i), l.ids(find(i))))
      .toDF("id", "component")
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  /** Standard damped PageRank over an edge list.
    *
    * Semantics: ranks start uniform at 1/N over the node set (sources ∪
    * destinations); each iteration every node sends rank/outDegree
    * along its out-edges, and `rank' = (1-damping)/N + damping *
    * (received + danglingMass/N)` where danglingMass is the total rank
    * parked on nodes with no out-edges (their mass redistributes
    * uniformly, the classic convention, so total rank stays 1). With
    * `undirected=true` each edge counts in both directions (the set is
    * symmetrised + deduplicated) — no node is dangling, and the
    * dangling branch (a broadcast one-row cross join) is provably zero,
    * so it is skipped and the plan stays pure hash-joins.
    *
    * Returns (id, rank) — exact doubles; round at the call site.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      undirected: Boolean = false,
      driverMaxEdges: Long = DriverGraphMaxEdges): DataFrame = {
    require(iterations >= 1, "pageRank: iterations >= 1")
    require(damping > 0 && damping < 1, "pageRank: damping in (0,1)")
    val dir = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // ONE distinct either way (r19): the undirected path used to
    // distinct `dir` first and then distinct the symmetrised union —
    // the outer distinct subsumes the inner (set semantics), so the
    // inner one was a pure extra exchange of the whole edge set.
    val und =
      if (!undirected) dir.distinct()
      else dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    val g = gate("pageRank", und, driverMaxEdges, PageRankDriverCeiling)
    if (g.onDriver)
      return driverPageRank(g, iterations, damping, undirected)
    // Weighted adjacency (src, dst, 1/outDeg) is joined ONCE, outside
    // the loop, and partitioned on src for every iteration to reuse.
    // deg/nodes/adj all derive from the same edge scan, so every
    // iteration's join is lineage-wise a self-join: all frames carry
    // DISJOINT column names and joins use string-resolved conditions
    // (a dataset-column reference like e("dst") trips
    // DetectAmbiguousSelfJoin here).
    // localCheckpoint, not persist (the q133 lesson): adj and nodes
    // are consumed by EVERY iteration's join. localCheckpoint pins the
    // blocks and cuts lineage; it also CAPTURES adj's hash
    // partitioning on `src`, so each iteration's join still reuses the
    // one exchange done here. Measured price on a single node: ~2
    // s/run of disk-backed block writes (q89 3.0 → 5.2 s, flat
    // GC/alloc — the checkpoint I/O, not compute); the persist
    // alternative's eviction mode measured 22-64 s on q133.
    val e = g.edges
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      .withColumnRenamed("src", "__degid")
    val adj = e.join(deg, col("src") === col("__degid"))
      .select(col("src"), col("dst"), (lit(1.0) / col("__deg")).as("__w"))
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false) // lazy — the count materializes it
    val n = nodes.count() // one tiny driver scalar, outside the loop
    val base = (1.0 - damping) / n

    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iterations) {
      val next =
        if (undirected)
          // Symmetrised ⇒ every node has an out-edge AND an in-edge:
          // no dangling mass, and the contribution aggregate already
          // covers the whole node set — the iteration is ONE join +
          // ONE map-side-combined aggregate, nothing else.
          ranks.join(adj, col("id") === col("src"))
            .groupBy(col("dst"))
            .agg((lit(base) + lit(damping) *
              sum(col("rank") * col("__w"))).as("rank"))
            .withColumnRenamed("dst", "id")
        else {
          val contribs = ranks.join(adj, col("id") === col("src"))
            .groupBy(col("dst"))
            .agg(sum(col("rank") * col("__w")).as("__contrib"))
            .withColumnRenamed("dst", "__nid")
          // Dangling nodes are those without an out-edge: their rank
          // redistributes uniformly. One broadcast one-row aggregate,
          // in-plan (no per-iteration collect).
          val dangling = ranks
            .join(adj.select(col("src")).distinct(),
              col("id") === col("src"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dmass"))
          nodes.join(contribs, col("id") === col("__nid"), "left")
            .crossJoin(broadcast(dangling))
            .select(col("id"),
              (lit(base) + lit(damping) *
                (coalesce(col("__contrib"), lit(0.0)) +
                  col("__dmass") / n)).as("rank"))
        }
      ranks = if (i % 8 == 0 && i < iterations) next.localCheckpoint()
        else next
    }
    ranks
  }

  /** Driver PageRank over a bounded, already-canonicalised (and, when
    * undirected, already-symmetrised) edge frame — the identical
    * formula as the distributed loop: per-edge weight 1/outDeg,
    * dangling mass redistributed uniformly (provably zero on
    * symmetrised input), ranks seeded at 1/N. Contribution sums run
    * in sorted (src, dst) edge order — a FIXED order where the
    * distributed aggregate's is arbitrary, so the two paths agree to
    * double-sum ULPs (callers round; q89 rounds at 7 decimals). */
  private def driverPageRank(
      g: Gate, iterations: Int, damping: Double,
      undirected: Boolean): DataFrame = {
    val l = local(g)
    val (m, n, ids) = (l.m, l.n, l.ids)
    // deterministic edge order — the accumulation order of the sums.
    // Index order IS id order (ids sorted), so sorting the packed
    // (srcIdx, dstIdx) longs is the sorted (src, dst) edge order;
    // indices fit 31 bits by the driver-path edge bound.
    val packed = new Array[Long](m)
    var k = 0
    while (k < m) {
      packed(k) = (l.src(k).toLong << 32) | l.dst(k).toLong; k += 1
    }
    java.util.Arrays.parallelSort(packed)
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    val outDeg = new Array[Int](n)
    k = 0
    while (k < m) {
      src(k) = (packed(k) >>> 32).toInt
      dst(k) = (packed(k) & 0xffffffffL).toInt
      outDeg(src(k)) += 1; k += 1
    }
    val w = src.map(s => 1.0 / outDeg(s))
    val base = (1.0 - damping) / n
    var ranks = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val contrib = new Array[Double](n)
      var j = 0
      while (j < m) {
        contrib(dst(j)) += ranks(src(j)) * w(j); j += 1
      }
      val next = new Array[Double](n)
      if (undirected) {
        // symmetrised ⇒ no dangling mass, every node receives
        var i = 0
        while (i < n) { next(i) = base + damping * contrib(i); i += 1 }
      } else {
        var dmass = 0.0
        var i = 0
        while (i < n) { if (outDeg(i) == 0) dmass += ranks(i); i += 1 }
        i = 0
        while (i < n) {
          next(i) = base + damping * (contrib(i) + dmass / n); i += 1
        }
      }
      ranks = next
    }
    arraysToDF(g.edges.sparkSession, ids, null, ranks, "id", "rank")
  }

  /** Community detection by synchronous LABEL PROPAGATION (Raghavan
    * et al. 2007), made fully deterministic so the result is
    * oracle-checkable: labels start as the node id; each round every
    * node adopts the most frequent label among its neighbours, ties
    * broken by the SMALLEST label; all nodes update simultaneously
    * for a FIXED number of rounds (no convergence test — synchronous
    * LPA can oscillate on bipartite structure, and a fixed round
    * count makes the output a pure function of the graph).
    *
    * Scale shape (q89's discipline): the symmetrised edge set is
    * partitioned on `src` (the join side) ONCE and persisted — every
    * round's neighbour join reuses that exchange; the label table
    * (16 bytes/row) is the only thing that moves per round. The modal
    * label is the window-free min(struct(-count, label)) trick
    * ([[Stats.modePerKey]]): two map-side-combined aggregates, the
    * second over already-reduced (node, label) counts. Lineage is cut
    * with a localCheckpoint every 4 rounds.
    *
    * With `weightCol` set the vote is WEIGHTED: each neighbour's
    * label counts its undirected edge weight (parallel edges and
    * both-direction duplicates sum; integer weights keep the vote
    * deterministic where reordered double sums would not) —
    * similarity-weighted communities over e.g. a near-dup graph.
    *
    * Returns (node_id, community) over the edge-endpoint node set.
    */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, weightCol: Option[String] = None,
      driverMaxEdges: Long = DriverGraphMaxEdges): DataFrame = {
    require(iterations >= 1, "labelPropagation: iterations >= 1")
    // weighted vote: each neighbour's label counts its edge weight
    // (integer weights — summed longs keep the vote exactly
    // deterministic where reordered double sums would not); parallel
    // edges collapse by SUMMING weights, and each edge's weight
    // applies in both directions.
    val und0 = weightCol match {
      case Some(w) =>
        val dirW = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"),
            col(w).cast("long").as("__w"))
          .filter(col("src") =!= col("dst"))
        dirW.union(dirW.select(col("dst").as("src"),
            col("src").as("dst"), col("__w")))
          .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      case None =>
        // unweighted: a neighbour votes ONCE however many times (and
        // in however many directions) its edge appears in the input
        val dir = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
        dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .withColumn("__w", lit(1L))
    }
    // pinned by the gate: every round re-joins this frame, and the
    // captured src-hash partitioning keeps the per-round join
    // exchange-free on the edge side
    val g = gate("labelPropagation", und0.repartition(col("src")),
      driverMaxEdges, LpaDriverCeiling)
    if (g.onDriver) return driverLabelPropagation(g, iterations)
    val und = g.edges
    // symmetrised ⇒ the node set is exactly the distinct src side
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (i <- 1 to iterations) {
      val next = und.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("__w")).as("__c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("__c")).as("c"), col("label").as("v")))
          .as("__m"))
        .select(col("dst").as("node"), col("__m.v").as("label"))
      labels = if (i % 4 == 0 && i < iterations) next.localCheckpoint()
        else next
    }
    labels.select(col("node").as("node_id"), col("label").as("community"))
  }

  /** Driver synchronous LPA over a bounded, already-symmetrised
    * weighted edge frame (src, dst, __w) — the identical vote as the
    * distributed loop: each round every node adopts the label with the
    * max summed weight among its neighbours, ties to the SMALLEST
    * label; all nodes update simultaneously for the fixed round count.
    * Long-integer vote sums make this bit-for-bit the distributed
    * result (GraphSpec pins both paths on every fixture). */
  private def driverLabelPropagation(
      g: Gate, iterations: Int): DataFrame = {
    val l = local(g)
    val (m, n, ids, srcI, dstI, wL) = (l.m, l.n, l.ids, l.src, l.dst, l.w)
    // CSR by RECEIVING node (symmetrised ⇒ incoming = neighbours):
    // per-node vote segments make the round loop parallel over nodes
    // (the driverTriangles discipline) where the old one-HashMap-per-
    // node array was a single-threaded boxed walk of every edge.
    val inDeg = new Array[Int](n)
    var k = 0
    while (k < m) { inDeg(dstI(k)) += 1; k += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + inDeg(i); i += 1 }
    val nbrSrc = new Array[Int](m)
    val nbrW = new Array[Long](m)
    val fill = new Array[Int](n)
    k = 0
    while (k < m) {
      val d = dstI(k)
      val p = off(d) + fill(d)
      nbrSrc(p) = srcI(k); nbrW(p) = wL(k)
      fill(d) += 1; k += 1
    }
    var labels: Array[Long] = ids.clone()
    for (_ <- 1 to iterations) {
      // per-node vote: label -> summed weight; winner = max weight,
      // ties to the smallest label — exactly the distributed
      // min(struct(-c, label)) aggregate. Long-keyed specialized map,
      // one small map per node, nodes independent ⇒ parallel.
      val next = new Array[Long](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
        val s = off(u); val t = off(u + 1)
        // symmetrised ⇒ every node has ≥1 neighbour, segment nonempty
        val votes = new scala.collection.mutable.LongMap[Long](
          math.max(8, (t - s) * 2))
        var p = s
        while (p < t) {
          val lab = labels(nbrSrc(p))
          votes(lab) = votes.getOrElse(lab, 0L) + nbrW(p)
          p += 1
        }
        var bestLab = 0L
        var bestC = Long.MinValue
        var first = true
        votes.foreachEntry { (lab, c) =>
          if (first || c > bestC || (c == bestC && lab < bestLab)) {
            bestLab = lab; bestC = c; first = false
          }
        }
        next(u) = bestLab
      }
      labels = next
    }
    arraysToDF(g.edges.sparkSession, ids, labels, null, "node_id",
      "community")
  }

  /** Exact triangle counting by DEGREE ORIENTATION — the classic trick
    * that makes the O(Σ deg²) wedge enumeration tractable on skewed
    * graphs: every undirected edge points from its lower to its higher
    * endpoint under the total order (degree, id), so a hub of degree D
    * has out-degree ≤ its number of HIGHER-degree neighbours, and
    * wedge generation is Σ outDeg² ≈ O(E^1.5) instead of hub-degree
    * squared. Each triangle {x,y,z} is counted exactly once, at its
    * lowest-ordered vertex (the apex).
    *
    * Input may carry duplicates, both directions, or self-loops — the
    * edge set is canonicalised (a<b, distinct, loops dropped) first.
    * Returns (node_id, tri_n): triangles per APEX (nodes that apex no
    * triangle are absent; sum(tri_n) is the global count). All-integer
    * arithmetic — exact cross-engine.
    *
    * Plan shape: canonical edges persist once; degrees are one
    * map-side-combined count; orientation is two broadcast-sized hash
    * joins against the degree table; the wedge join and the closing
    * join are equi-joins on a node id (the inequality on the packed
    * (deg,id) key rides the same exchange as a post-join filter).
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String,
      driverMaxEdges: Long = DriverGraphMaxEdges): DataFrame = {
    val P = 1L << 31 // id/deg packing radix: (deg, id) → deg·2³¹ + id
    // localCheckpoint, not persist: e feeds the degree count AND the
    // orientation join, oriented feeds THREE consumers — under cache
    // eviction a persist degrades to re-running the distinct/join
    // lineage once per consumer (measured 9.6 s warm → 64 s cold at
    // sf0.1), a checkpoint cannot. The gate pins e.
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // the gate aggregate carries the 31-bit id precondition (max) too
    // — r16: a SECOND full pass for the max was most of the sf1
    // query's ~40% premium over the pinned distributed plan
    val g = gate("triangles", canon, driverMaxEdges, TrianglesDriverCeiling,
      coalesce(max(col("b")), lit(0L)))
    if (g.onDriver) return driverTriangles(g)
    val e = g.edges
    require(g.agg.getLong(1) < P,
      "triangles: node ids must fit 31 bits — densify ids first " +
        "(the packed (deg,id) orientation key and the bloom-filtered " +
        "closing join key both ride a single long)")
    val deg = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val da = deg.select(col("id").as("__ida"), col("d").as("__da"))
    val db = deg.select(col("id").as("__idb"), col("d").as("__db"))
    val aFirst = (col("__da") * P + col("a")) < (col("__db") * P + col("b"))
    val oriented = e
      .join(da, col("a") === col("__ida"))
      .join(db, col("b") === col("__idb"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("__db") * P + col("b"))
          .otherwise(col("__da") * P + col("a")).as("vk"))
      .localCheckpoint(false) // lazy — the count materializes it
    val nEdges = oriented.count()
    // The wedge set is the algorithm's bulk (Σ outDeg² rows — 41M at
    // sf0.1 for 1.2M edges): bloom-prefilter it against the closing
    // edge keys BEFORE the closing shuffle, so only wedges that might
    // close (true triangles + ~1% FP) pay the exchange; the equi-join
    // after stays exact.
    val bits = math.min(1L << 27, math.max(1L << 16, nEdges * 10))
    val conf = edges.sparkSession.conf
    def raise(key: String, needed: Long): Unit =
      if (conf.getOption(key).forall(_.toLong < needed))
        conf.set(key, needed.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nEdges)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    val closeKeys = oriented.select((col("u") * P + col("v")).as("__ck"))
    val bloomBytes = closeKeys
      .agg(graft.functions.BloomFunctions
        .bloomAgg(col("__ck"), nEdges, bits).as("__bf"))
      .head.getAs[Array[Byte]](0)
    val o2 = oriented.select(col("u").as("__u2"), col("v").as("__v2"),
      col("vk").as("__vk2"))
    oriented
      .join(o2, col("u") === col("__u2") && col("vk") < col("__vk2"))
      .select(col("u"), (col("v") * P + col("__v2")).as("__wk"))
      .filter(graft.functions.BloomFunctions
        .bloomMightContain(bloomBytes, col("__wk")))
      .join(closeKeys, col("__wk") === col("__ck"))
      .groupBy(col("u").as("node_id"))
      .agg(count(lit(1)).as("tri_n"))
  }

  /** Driver triangle count over a bounded, already-canonicalised
    * (a < b, distinct, loop-free) edge frame — the identical
    * algorithm as the distributed plan: orient every edge from its
    * lower to its higher endpoint under the total order (degree, id),
    * enumerate wedges at each apex's out-neighbours in that order,
    * close against the oriented edge set. All-integer, so the result
    * is bit-for-bit the distributed one (GraphSpec pins both paths).
    * The wedge loop parallelises over apexes (disjoint counters per
    * apex) on the JDK common pool — Σ outDeg² stays O(E^1.5) here
    * exactly as it does distributed, ~41M probes for q133's sf0.1
    * graph. Unlike the distributed path this one never packs
    * (deg, id) into a long (ranks replace packing), so it accepts
    * full-range node ids. */
  private def driverTriangles(g: Gate): DataFrame = {
    val l = local(g)
    val (m, n, ids, ea, eb) = (l.m, l.n, l.ids, l.src, l.dst)
    val deg = new Array[Int](n)
    var k = 0
    while (k < m) { deg(ea(k)) += 1; deg(eb(k)) += 1; k += 1 }
    // rank = position under the (degree, id) total order; idx order
    // IS id order (ids sorted), so packing (deg << 31 | idx) and
    // sorting yields exactly the distributed deg·2³¹+id orientation
    val rank = {
      val r = new Array[Int](n)
      val keys = new Array[Long](n)
      var i = 0
      while (i < n) { keys(i) = (deg(i).toLong << 31) | i; i += 1 }
      java.util.Arrays.sort(keys)
      i = 0
      while (i < n) { r((keys(i) & 0x7fffffffL).toInt) = i; i += 1 }
      r
    }
    // CSR out-adjacency under the orientation, each segment sorted by
    // neighbour RANK (packed rank<<32|idx, unpacked after the sort)
    val outDeg = new Array[Int](n)
    k = 0
    while (k < m) {
      if (rank(ea(k)) < rank(eb(k))) outDeg(ea(k)) += 1
      else outDeg(eb(k)) += 1
      k += 1
    }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val adj = new Array[Long](m)
    val fill = new Array[Int](n)
    k = 0
    while (k < m) {
      val (u, v) =
        if (rank(ea(k)) < rank(eb(k))) (ea(k), eb(k)) else (eb(k), ea(k))
      adj(off(u) + fill(u)) = (rank(v).toLong << 32) | v.toLong
      fill(u) += 1
      k += 1
    }
    // per-segment sorts are independent — parallel over apexes
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(u => java.util.Arrays.sort(adj, off(u), off(u + 1)))
    // wedge loop: apexes are disjoint, so parallel per-u writes to
    // tri are contention-free. Closing-edge membership (v→w oriented)
    // is a binary search in v's SORTED adjacency segment for the
    // packed (rank(w), w) key — the r19 LongSet build this replaces
    // was m sequential hash inserts on the driver thread (the last
    // single-threaded m-scaled pass of this path); the segments are
    // already sorted for the wedge order, so membership rides them
    // for free.
    val tri = new Array[Long](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
      val s = off(u); val t = off(u + 1)
      var a = s
      while (a < t) {
        val v = (adj(a) & 0xffffffffL).toInt
        var b = a + 1
        while (b < t) {
          if (java.util.Arrays.binarySearch(
              adj, off(v), off(v + 1), adj(b)) >= 0) tri(u) += 1
          b += 1
        }
        a += 1
      }
    }
    var cnt = 0
    var u = 0
    while (u < n) { if (tri(u) > 0) cnt += 1; u += 1 }
    val outIds = new Array[Long](cnt)
    val outTri = new Array[Long](cnt)
    var w = 0
    u = 0
    while (u < n) {
      if (tri(u) > 0) { outIds(w) = ids(u); outTri(w) = tri(u); w += 1 }
      u += 1
    }
    arraysToDF(g.edges.sparkSession, outIds, outTri, null, "node_id",
      "tri_n")
  }
}
