package graft.operators

/** THE driver-memory budget model behind every bounded driver-side
  * collect in the library — the graph fast paths, the dedup
  * union-find, the k-means/PQ/PCA training samples, and the
  * plan-literal model shipping. One allowance, one accounting rule,
  * instead of the per-operator constants that accreted round by
  * round (r15 unification).
  *
  * The rule: a bounded collect must fit its TRANSIENT peak — not its
  * steady-state footprint — inside [[MaxTransientBytes]]. The
  * transient peak is what actually OOMs a driver: `collect()` comes
  * back as an array of boxed rows/tuples before any primitive-array
  * conversion, so the peak runs 4–8× the steady bytes (a two-long
  * edge is 16 B steady but ~128 B as a boxed `(Long, Long)` in an
  * array slot; a 768-dim float vector is 3 KB steady but ~4 KB
  * through the row). 256 MB leaves a default 1 GiB driver room for
  * the session, the plans, and a second concurrent collect.
  *
  * Per-row transient costs (estimated from JOL-style field layouts,
  * validated by the measured collects of earlier rounds):
  *
  *  - [[GraphEdges]]: a collected edge through a typed tuple encoder
  *    ≈128 B transient (two boxed longs + Tuple2 + array slot +
  *    allocator slack) → 2,097,152 edges (~256 MB peak, 32 MB as
  *    primitive arrays after conversion). Consumers: Graph.pageRank /
  *    labelPropagation / triangles.
  *  - [[CcEdges]]: the union-find additionally holds per-edge map
  *    state while resolving (boxed keys/values + hash-table slack)
  *    ≈512 B → 524,288 edges. Consumer:
  *    Dedup.connectedComponents.
  *  - [[LiteralFloats]]: the collected centroid-set ceiling, sized at
  *    ~8 B per float (what a float cost when the set shipped as a plan
  *    literal; the driver-held set every task receives is smaller, and
  *    the cap stays) → 32M floats (a 31k×768 centroid table for a
  *    10^9-vector IVF fits). Consumers: Ann.collectCentroids,
  *    Ann.trainCentroids.
  *  - [[TrainRows]]: one collected training-sample row at ≤1024
  *    float dims ≈4 KB boxed → 65,536 rows. Consumers: Pca.train,
  *    Ann.trainPq/trainPqResidual (their `maxTrain` ceilings).
  *
  * Operators keep per-call overrides (e.g. `driverMaxEdges`) for
  * drivers with less headroom — these are the DEFAULTS, and the specs
  * pin driver ≡ distributed on both sides of every bound, so the
  * numbers size the fast path, never correctness.
  */
object DriverBudget {

  /** The allowance: every bounded collect's transient peak fits here.
    * FIXED, not heap-derived, for the consumers whose bound feeds the
    * MODEL (training-sample sizes, codebook ceilings): a heap-adaptive
    * bound there would make trained artifacts — and every rows-only
    * query derived from them — a function of -Xmx, breaking
    * run-to-run reproducibility across differently-sized drivers. */
  val MaxTransientBytes: Long = 256L << 20

  /** Rows admitted under the budget at a per-row transient cost. */
  def maxRows(transientBytesPerRow: Long): Long =
    MaxTransientBytes / math.max(1L, transientBytesPerRow)

  /** Heap-derived allowance for RESULT-IDENTICAL fast paths (r16,
    * SURVEY's adaptive-bound item): the graph driver loops produce
    * bit-for-bit (integer ops) or ULP-identical (q89's rounded
    * doubles) results on both sides of the bound, so sizing the bound
    * to the actual driver is free of reproducibility cost — a 1 GiB
    * driver keeps the old 256 MB allowance, a 24 GiB bench JVM admits
    * graphs the constant used to push onto the distributed loop
    * (sf1's 12M-edge co-purchase graph pays ~22 s of wedge shuffles
    * distributed vs a bounded driver fold), and a sub-GiB driver
    * SHRINKS below the old constant instead of gambling on it.
    * Quarter-heap keeps 4x headroom for the session + plans + a
    * concurrent collect; the 64 MB floor keeps tiny test JVMs on a
    * useful fast path; the 8 GiB ceiling bounds single-allocation GC
    * pressure on very large heaps (a >8 GiB boxed-tuple array is an
    * old-gen hump no fast path should force). Pure function of the
    * heap — GraphSpec pins floor, ceiling and the quarter-heap
    * middle. */
  def adaptiveTransientBytes(heapBytes: Long): Long =
    math.max(64L << 20, math.min(heapBytes / 4, 8L << 30))

  /** Graph fast-path edge bound: ~128 B/edge collected, under the
    * heap-adaptive allowance (results are path-identical, so this
    * bound sizes PERFORMANCE only — specs pin both sides). */
  val GraphEdges: Long =
    adaptiveTransientBytes(Runtime.getRuntime.maxMemory()) / 128

  /** Union-find edge bound: ~512 B/edge incl. resolve-time map state. */
  val CcEdges: Long = maxRows(512)

  /** Plan-literal float bound: ~8 B/float through analysis. */
  val LiteralFloats: Long = maxRows(8)

  /** Training-sample row cap: ~4 KB/row at ≤1024 float dims. */
  val TrainRows: Int = maxRows(4096).toInt
}
