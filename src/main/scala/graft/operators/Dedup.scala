package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for large text corpora.
  *
  * - `exact`: content-hash groupBy — one shuffle on the hash, map-side
  *   partial agg; the canonical 100 TB exact-dedup plan.
  * - `minhash`: MinHash + LSH banding — shingle → minhash signature →
  *   band buckets → self-join per bucket. Candidate pairs stay ~linear in
  *   corpus size because the join key is (band, bucket-hash), never a
  *   cross join.
  * - `simhash`: 64-bit SimHash + disjoint bit-band blocking for
  *   hamming-near candidates; band count derives from the hamming
  *   radius so candidate recall is 100% by pigeonhole.
  * - `ngramJaccardPairs`: exact word n-gram Jaccard verification on
  *   candidate pairs (the verify pass after any LSH candidate
  *   generation).
  * - `semanticDedup`: embedding-space dedup with k-means blocking
  *   (SemDeDup) — keep each duplicate group's farthest-from-centroid
  *   member.
  * - incremental family: `exactIncremental` / `incrementalDedup` /
  *   `incrementalSimhashDedup` / `incrementalEmbeddingDedup` probe
  *   persisted, shard-partitioned corpus indexes so continuous ingest
  *   pays O(batch + candidates), never O(corpus).
  *
  * The near-dup families (MinHash, SimHash, embeddings, and media's
  * perceptual hashes in `Multimodal`) share one core: [[pairJoin]],
  * [[probeJoin]], [[clusterDrop]] and [[incrementalBody]]. A family
  * supplies its featurizer, its keys, its verify and its index
  * entries projection.
  *
  * Signature math runs in the native Catalyst kernels
  * (minhash_signature / word_shingles / simhash64 / jaccard_longs),
  * inside codegen. The public `functions._` array-expression forms
  * ([[shingles]], [[jaccard]], [[minhashSignature]], [[simhash64]])
  * compute identical values and are what MinHashExprSpec and DedupSpec
  * pin the kernels to. No UDFs, no driver-side loops; hash values are
  * reduced below 2^32 before multiply-add so the arithmetic can never
  * overflow a long even under ANSI mode.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Canonical text form for NEAR-EXACT dedup (the Dolma/CCNet
    * "fuzzy exact" recipe): lowercase, every run of non-alphanumeric
    * characters (Unicode-aware — `\p{L}\p{N}`, so non-Latin scripts
    * survive) collapsed to one space, ends trimmed. Two documents
    * differing only in case, punctuation, or whitespace layout
    * normalize identically; [[exact]] over this column removes the
    * re-crawled/re-formatted copies a byte-hash dedup misses, at zero
    * additional shuffle cost (the normalization is a pure codegen'd
    * projection feeding the same md5 group-by). */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** Exact dedup via md5 content hash. Returns one row per distinct
    * content with the kept (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies")
      )

  /** Word n-gram (shingle) set as a deterministic array column.
    * Tokenises on single spaces (matches the DuckDB oracle's
    * string_split). */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    array_distinct(
      filter(
        transform(
          sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => when(i + n <= size(words),
            concat_ws(" ", slice(words, i + 1, lit(n))))
        ),
        x => x.isNotNull
      )
    )
  }

  /** Exact Jaccard similarity between two precomputed shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, lit(0.0))
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** n-gram Jaccard over same-block candidate pairs. At scale the pairs
    * MUST come from an LSH bucket join, never a cross join; here the
    * caller supplies the blocking key that bounds the pair space.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double): DataFrame = {
    // shingles travel to the pair join as raw 64-bit hashes (8 bytes
    // each, primitive sort-merge Jaccard) — see minhashNearDup for the
    // collision bound
    val withSh = Parallelism.ensure(
      docs.select(col(idCol), col(blockCol), col(textCol)))
      .select(col(idCol), col(blockCol),
        transform(shinglesCol(docs, col(textCol), n), xxhash64(_)).as("__sh"))
    val a = withSh.select(col(idCol).as("a_id"), col(blockCol).as("__blk"),
      col("__sh").as("__sha"))
    val b = withSh.select(col(idCol).as("b_id"), col(blockCol).as("__blk2"),
      col("__sh").as("__shb"))
    a.join(b, col("__blk") === col("__blk2") && col("a_id") < col("b_id"))
      .withColumn("jaccard", round(jaccardLongs(col("__sha"), col("__shb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  private val P32 = 4294967291L // largest 32-bit prime

  /** Shingle set hashed once into [0, P32) longs — the expensive string
    * hashing happens a single time per row; every permutation then works
    * on integer arithmetic only. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, x => pmod(xxhash64(x), lit(P32)))

  /** MinHash signature from pre-hashed shingles: for permutation i,
    * h_i(x) = ((2i+1) * x + 7919(i+1)) mod P32; the signature element is
    * the min over the set. x < 2^32 and 2i+1 < 2^7, so the multiply
    * never overflows a long.
    *
    * A single aggregate with an array accumulator (not numHashes
    * separate aggregates): the generated code is one tight loop, small
    * enough for the JIT — the N-aggregate form compiled to a method too
    * large to stay hot. */
  def minhashSignatureFromHashes(hashArr: Column, numHashes: Int): Column =
    aggregate(
      hashArr,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, x) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (v, i) => least(v, pmod(x * (i.cast("long") * 2L + 1L)
          + lit(7919L) * (i.cast("long") + 1L), lit(P32)))))

  /** MinHash signature of a shingle array. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(shingleHashes(shingleArr), numHashes)

  /** The native MinHashSignature expression (codegen'd tight loop,
    * ~20x the HOF form); hash values identical to [[minhashSignature]]. */
  private def signatureCol(shingleArr: Column, numHashes: Int): Column =
    call_function("minhash_signature", shingleArr, lit(numHashes))

  /** Word n-gram set through the native `word_shingles` kernel — the
    * same array as [[shingles]], first occurrences in order (a null
    * text gives null, where [[shingles]] gives an empty array). `docs`
    * is unused; it stays so existing callers compile. */
  def shinglesCol(docs: DataFrame, text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  /** Analytic LSH banding plan: the (bands, rowsPerBand) split of
    * `numHashes` whose S-curve threshold (1/b)^(1/r) — the Jaccard
    * similarity at which a pair's candidate probability crosses 50%
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4) —
    * sits closest to the requested `threshold`. Returns the chosen
    * split, its actual crossing point, and P(candidate | s) =
    * 1 − (1 − s^r)^b at the threshold and at ±0.1 around it, so a
    * caller can read the false-negative/false-positive trade before
    * committing a corpus pass. Driver-side arithmetic only — the
    * planner exists because every minhash parameter choice in a
    * pipeline is otherwise folklore; DedupSpec pins hand-computed
    * curves, and that q31's default 16×3 split is the planner's pick
    * for a recall-leaning 0.4 target (its crossing point is 0.397 —
    * deliberately BELOW the 0.5 verify threshold, so near-threshold
    * pairs still surface as candidates for the exact verify). */
  final case class LshPlan(
      bands: Int, rowsPerBand: Int, threshold50: Double,
      pAtThreshold: Double, pBelow: Double, pAbove: Double)

  def lshPlan(threshold: Double, numHashes: Int): LshPlan = {
    require(threshold > 0 && threshold < 1,
      "lshPlan: threshold in (0,1)")
    require(numHashes >= 2, "lshPlan: numHashes >= 2")
    def pCand(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val splits = (1 to numHashes)
      .filter(b => numHashes % b == 0 && numHashes / b >= 1)
      .map(b => (b, numHashes / b))
      .filter(_._2 >= 1)
    val (b, r) = splits.minBy { case (b, r) =>
      val t50 = math.pow(1.0 / b, 1.0 / r)
      (math.abs(t50 - threshold), b) // ties: fewer bands = fewer keys
    }
    val t50 = math.pow(1.0 / b, 1.0 / r)
    LshPlan(b, r, t50,
      pCand(threshold, b, r),
      pCand(math.max(threshold - 0.1, 0.0), b, r),
      pCand(math.min(threshold + 0.1, 1.0), b, r))
  }

  /** (band, bucket) structs for a signature array — the ONE banding
    * hash, shared by the self-join path and the incremental index so
    * bucket keys computed in different runs (or persisted to parquet)
    * stay join-compatible. */
  private def bandBucketStructs(
      sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(
        b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
            v => v.cast("string")))).as("bucket")))

  /** LSH banding: split the signature into `bands` bands and emit
    * (band_id, band_hash) bucket keys. Docs sharing any bucket become
    * candidate pairs via an equi-join on the bucket key — a plain shuffle
    * hash join on a well-distributed key, never a cross join
    * ([[pairJoin]]).
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    pairJoin(minhashFeatures(docs, idCol, textCol, shingleN, numHashes),
      minhashKeys(numHashes, bands))
  }

  /** The band keys of a MinHash feature frame's `__sig`. */
  private def minhashKeys(numHashes: Int, bands: Int): Column =
    bandBucketStructs(col("__sig"), bands, numHashes / bands)

  /** Full MinHash near-dup: LSH candidates verified by exact n-gram
    * Jaccard ≥ threshold. */
  def minhashNearDup(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // The candidate-pair set is consumed twice below (candidate ids +
    // the verify join). Without a materialization barrier each consumer
    // re-runs the ENTIRE shingle→signature→band-join pipeline (plan
    // audit showed 3 evaluations, zero exchange reuse across them) —
    // so checkpoint the pairs once: they are tiny relative to the
    // corpus (~candidates/doc rows of two ids), and every consumer then
    // reads the materialized pairs instead of recomputing signatures.
    val cands = minhashCandidates(docs, idCol, textCol, shingleN, numHashes, bands)
      .localCheckpoint(false)
    // verify-stage shingles only for docs that appear in a candidate
    // pair (semi-join first): at corpus scale the candidate set is a
    // tiny fraction, so this avoids re-shingling the whole corpus.
    // Single explode pass, not a two-branch union (a union would
    // evaluate `cands` once per branch).
    val candIds = cands
      .select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
    // Shingles travel to the pair join as RAW 64-bit hashes, not
    // strings: set Jaccard is preserved exactly unless two distinct
    // shingles in one pair's union collide in 64-bit space (~1e-16 per
    // pair — negligible and deterministic), while the shuffle payload
    // shrinks to 8 bytes per shingle and the per-pair kernel becomes a
    // primitive sort-merge instead of string hash sets.
    val sh = Parallelism.ensure(
      docs.select(col(idCol).as("id"), col(textCol).as("__t"))
        .join(candIds, Seq("id"), "left_semi"))
      .select(col("id"),
        transform(shinglesCol(docs, col("__t"), shingleN), xxhash64(_))
          .as("shingles"))
    jaccardVerify(cands, sh, sh, threshold)
  }

  /** The MinHash verify: (a_id, b_id) pairs joined to the (id,
    * shingles) rows of `a` and `b`, kept at rounded exact Jaccard ≥
    * `threshold`. */
  private def jaccardVerify(pairs: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(a.select(col("id").as("a_id"), col("shingles").as("__sha")), "a_id")
      .join(b.select(col("id").as("b_id"), col("shingles").as("__shb")), "b_id")
      .withColumn("jaccard", round(jaccardLongs(col("__sha"), col("__shb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Long-array Jaccard through the native sort-merge `jaccard_longs`
    * kernel — the same value as [[jaccard]] on the arrays. */
  private def jaccardLongs(a: Column, b: Column): Column =
    call_function("jaccard_longs", a, b)

  // ------------------------------------------------------------------
  // Incremental dedup: a new batch against a persisted corpus index
  // ------------------------------------------------------------------

  /** Persisted MinHash state of an already-deduped corpus: ONE table
    * of (id, shard, shingles array<long>,
    * bands array<struct<band,bucket>>) — the band keys for candidate
    * generation and the hashed shingles for exact-Jaccard verify.
    *
    * This is THE 100 TB shape for a training pipeline that ingests
    * continuously: the corpus is shingled and signed ONCE when it
    * enters, and every later batch dedups against the stored index —
    * never re-reading, re-shingling, or re-signing the corpus. Daily
    * cost is O(batch) + a band equi-join against the index, not
    * O(corpus).
    *
    * `shard` = xxhash64(id) mod [[Dedup.IndexShards]]. [[save]]
    * PARTITIONS the parquet by it, and the probe's verify fetch
    * filters to the candidate ids' shards first — so a small batch
    * reads only the candidate-bearing fraction of the (corpus-text-
    * sized) shingles column instead of scanning it whole. The shard
    * count is a fixed constant on purpose: it is baked into every
    * saved index, and a configurable value that disagreed between
    * build and probe would silently drop true candidates.
    *
    * One combined table deliberately: [[save]] is a single corpus pass
    * (two tables from one lineage would each recompute the features),
    * and a loaded index serves the probe's two consumers as two
    * column-pruned scans of the same parquet. A freshly BUILT index
    * probed without saving would still evaluate its lineage per
    * consumer — call [[materialize]] first (or save + load, which at
    * scale is the point of an index).
    */
  final case class MinhashIndex(entries: DataFrame) {
    /** (id, band, bucket) view for candidate generation. */
    def bands: DataFrame =
      entries.select(col("id"), explode(col("bands")).as("__bk"))
        .select(col("id"), col("__bk.band"), col("__bk.bucket"))

    /** (id, shard, shingles) view for exact-Jaccard verify. */
    def shingles: DataFrame = entries.select("id", "shard", "shingles")

    /** Persist to `<dir>/entries` parquet, partitioned by `shard` so
      * probes prune the verify fetch — one corpus pass
      * ([[IndexMaintenance.saveEntries]]). `mode = "overwrite"` is for
      * deterministic replays (streaming delta folders keyed on batch
      * id); the default refuses to clobber an existing index. */
    def save(dir: String, mode: String = "error"): Unit =
      IndexMaintenance.saveEntries(entries, dir, "shard", mode)

    /** Pin the entries so repeated probes don't recompute the feature
      * lineage (for in-memory use; persisted indexes don't need it). */
    def materialize(): MinhashIndex =
      MinhashIndex(entries.localCheckpoint(false))

    /** Index for the grown corpus: existing entries plus a delta
      * (typically [[Dedup.incrementalDedup]]'s survivor index). */
    def union(delta: MinhashIndex): MinhashIndex =
      MinhashIndex(entries.unionByName(delta.entries))
  }

  object MinhashIndex {
    /** Indexes saved before the shard column existed load with the
      * shard backfilled from the id — same values [[save]] would have
      * written, so probes work unchanged (without partition pruning,
      * which those files never had). */
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): MinhashIndex =
      MinhashIndex(IndexMaintenance.loadEntries(spark, dir,
        prepare = withShard(_, shardOf(col("id")))))
  }

  /** Batch feature frame shared by index build and probe:
    * (id, shingles array<long>, __sig). One pass computes both the
    * verify-shingles (raw xxhash64 longs — see minhashNearDup for the
    * collision bound) and the MinHash signature. */
  private def minhashFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    Parallelism.ensure(
      docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), shinglesCol(docs, col("__t"), shingleN).as("__shstr"))
      .select(col("id"),
        transform(col("__shstr"), xxhash64(_)).as("shingles"),
        signatureCol(col("__shstr"), numHashes).as("__sig"))

  /** Verify-fetch pruning granularity baked into every MinhashIndex —
    * fixed, never a parameter (a build/probe mismatch would silently
    * drop candidates). 64 shards bound the per-batch verify read at
    * ~1/64 of the corpus per candidate shard touched. */
  val IndexShards: Int = 64

  private[operators] def shardOf(id: Column): Column =
    pmod(xxhash64(id), lit(IndexShards.toLong)).cast("int")

  /** Whether an index's entries ARE a file scan (a save()d index, or
    * a union of saved roots, modulo projections/filters) — only then
    * does a shard filter prune I/O via partition pruning. A freshly
    * BUILT index has aggregates/generators in its lineage even when
    * the underlying corpus is parquet, and an in-memory
    * (materialize()d) one is a LogicalRDD; in both the filter would
    * buy nothing and its driver-collected shard list would cost an
    * extra synchronous job per probe. */
  private[graft] def isFileBacked(entries: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def scanOnly(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case u: Union => u.children.forall(scanOnly)
      case pj: Project => scanOnly(pj.child)
      case f: Filter => scanOnly(f.child)
      // a tombstone anti-join (IndexMaintenance.dropTombstoned): the
      // probe's shard filter pushes through the join's LEFT side to
      // the scan, so the pruning fast path still applies
      case j: Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        scanOnly(j.left)
      case _ => false
    }
    scanOnly(entries.queryExecution.optimizedPlan)
  }

  /** `entries` filtered to the `partition` values in the one-column
    * `values` — the partition filter of every index probe. Only a
    * file-backed index ([[isFileBacked]]) gets it: the values cost a
    * driver collect, and an in-memory index has nothing to prune. */
  private[graft] def prunePartitions(entries: DataFrame, partition: String,
      values: DataFrame): DataFrame =
    if (!isFileBacked(entries)) entries
    else entries.filter(col(partition).isin(
      values.distinct().collect().map(_.get(0)).toSeq: _*))

  /** Build the MinHash index for a (deduped) corpus. The same
    * (shingleN, numHashes, bands) MUST be used for every later probe —
    * bucket hashes from different parameters never match. */
  def buildMinhashIndex(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8): MinhashIndex = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    MinhashIndex(minhashEntries(
      minhashFeatures(docs, idCol, textCol, shingleN, numHashes),
      numHashes, bands))
  }

  /** MinhashIndex entries of a feature frame. */
  private def minhashEntries(feat: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    feat.select(col("id"), shardOf(col("id")).as("shard"), col("shingles"),
      minhashKeys(numHashes, bands).as("bands"))

  /** Near-dup pairs between a new batch and the indexed corpus:
    * (corpus_id, batch_id, jaccard) with jaccard ≥ threshold.
    *
    * Plan shape: the batch (the small side by construction — a daily
    * delta vs the whole corpus) is shingled/signed once and
    * localCheckpointed, then BROADCAST against the index's band table —
    * the corpus never shuffles. Verify fetches corpus shingles for
    * candidate ids only (semi-join), so the per-batch cost is
    * O(batch + candidates), independent of corpus size. */
  def incrementalNearDup(
      batch: DataFrame, index: MinhashIndex, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // tiny relative to the corpus; consumed by the band join AND the
    // verify join — materialise once
    val feat = minhashFeatures(batch, idCol, textCol, shingleN, numHashes)
      .localCheckpoint(false)
    incrementalNearDupFeat(feat, index, numHashes, bands, threshold)
  }

  /** [[incrementalNearDup]] over an already-materialized batch feature
    * frame (id, shingles, __sig) — split out so [[incrementalDedup]]
    * featurizes the batch ONCE for the corpus probe, the within-batch
    * dedup and the delta index instead of three times. */
  private def incrementalNearDupFeat(
      feat: DataFrame, index: MinhashIndex,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val cands = probeJoin(index.bands, feat, Seq(col("id").as("b_id")),
        minhashKeys(numHashes, bands), bands)
      .select(col("id").as("a_id"), col("b_id"))
      .distinct()
      .localCheckpoint(false)
    // corpus shingles for candidate corpus docs ONLY. On a SAVED index
    // a shard filter comes first (`shard` is the parquet partition
    // column), so a small batch READS only the candidate-bearing
    // fraction of the corpus-text-sized shingles column instead of
    // scanning it whole (1-doc probe floor 3.7 → 1.4 s vs a 150k-doc
    // index); the semi-join then picks exact rows within those shards.
    val corpusSh = prunePartitions(index.shingles, "shard",
        cands.select(shardOf(col("a_id"))))
      .join(cands.select(col("a_id").as("id")).distinct(), Seq("id"), "left_semi")
    jaccardVerify(cands, corpusSh, broadcast(feat), threshold)
  }

  /** Incremental near-dedup of a batch against an indexed corpus
    * ([[incrementalBody]]). Returns (survivors, delta-index):
    * - a batch doc near-duplicating ANY corpus doc is dropped (the
    *   corpus copy is already in the training set);
    * - among the rest, within-batch near-dup clusters keep their
    *   minimum id (same policy as [[dropNearDuplicates]]);
    * - the delta is the survivors' index, ready to
    *   [[MinhashIndex.union]] into the corpus index for the next batch.
    *
    * Near-duplication is not transitive, so a batch doc whose only link
    * to the corpus runs THROUGH a dropped batch sibling survives — by
    * design: it cleared the similarity bar against everything retained.
    *
    * Save or materialize the delta within this session: its lineage
    * ends at a `localCheckpoint` of the batch features, whose blocks
    * live only in this session's executors. If they are evicted or
    * lost before [[MinhashIndex.save]] / [[MinhashIndex.materialize]]
    * (or a union that is then saved), the delta cannot be recomputed.
    */
  def incrementalDedup(
      batch: DataFrame, index: MinhashIndex, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): (DataFrame, MinhashIndex) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val (survivors, entries) = incrementalBody(batch, idCol,
      minhashFeatures(batch, idCol, textCol, shingleN, numHashes),
      incrementalNearDupFeat(_, index, numHashes, bands, threshold),
      f => jaccardVerify(pairJoin(f, minhashKeys(numHashes, bands)), f, f,
        threshold),
      minhashEntries(_, numHashes, bands))
    (survivors, MinhashIndex(entries))
  }

  /** Exact incremental dedup: drop batch rows whose content already
    * appears in the corpus (hash anti-join), then keep the minimum id
    * per remaining distinct content. The corpus side reduces to its
    * distinct content hashes — at scale, persist those once and
    * anti-join each batch against the (small) hash set, not the corpus.
    */
  def exactIncremental(
      batch: DataFrame, corpusHashes: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    val fresh = batch
      .withColumn("__h", md5(col(contentCol)))
      .join(corpusHashes.select(col("content_hash").as("__h")),
        Seq("__h"), "left_anti")
    fresh
      .groupBy(col("__h").as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb recipe):
    * drop every line that appears in at least `minDocs` DISTINCT
    * documents — navigation chrome, cookie banners, license headers —
    * and reassemble each document from its surviving lines in order.
    * This is the practical form of cross-document substring dedup used
    * by web-scale corpus pipelines.
    *
    * Scale shape: lines explode once; the repeat count groups on the
    * line's xxhash64 (8-byte shuffle payload, map-side combined — the
    * same raw-64-bit-hash trade as minhashNearDup's shingle verify: a
    * colliding innocent line is dropped with probability ~lines²/2⁶⁴,
    * negligible below ~10⁹ distinct lines and bounded-loss above);
    * the boilerplate hash set anti-joins the exploded lines; the
    * reassembly groups by doc id. Documents whose every line is
    * boilerplate come back with empty text (gate downstream).
    */
  def dropRepeatedLines(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, "dropRepeatedLines: minDocs >= 2")
    val others = docs.columns.filterNot(c => c == idCol || c == textCol)
    val lines = Parallelism.ensure(
      docs.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"),
        posexplode(split(col("__t"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
    val boilerplate = lines
      .groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val cleaned = lines
      .join(boilerplate, Seq("__h"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          e => e.getField("__line")),
        sep).as("__clean"))
    docs.select(col(idCol).as("__id") +: others.map(col): _*)
      .join(cleaned, Seq("__id"), "left")
      .select(col("__id").as(idCol) +:
        coalesce(col("__clean"), lit("")).as(textCol) +:
        others.map(col): _*)
  }

  /** Chunk-level boilerplate removal — [[dropRepeatedLines]] for
    * CONTINUOUS text: lines presuppose newlines, but navigation
    * chrome/templated passages recur inside flowing prose too. Chunk
    * boundaries come from the content itself (Corpus.cdcChunks'
    * rolling hash via the native `cdc_cuts` kernel), so the same
    * boilerplate passage chunks identically in every document
    * regardless of what surrounds it — the property that makes
    * cross-document matching work without any separator convention.
    * Every chunk appearing in ≥ `minDocs` distinct docs is dropped
    * and documents reassemble from their surviving chunks in order.
    *
    * Scale shape mirrors [[dropRepeatedLines]]: the repeat count
    * groups on the chunk's xxhash64 (8-byte payload, map-side
    * combined; column pruning keeps chunk text out of this
    * exchange), the boilerplate set anti-joins the chunk stream, and
    * reassembly groups by doc id — text crosses the wire twice,
    * once chunked and once reassembled. All-boilerplate documents
    * come back with empty text (gate downstream). */
  def dropBoilerplateChunks(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, window: Int = 4, modulus: Int = 64): DataFrame = {
    require(minDocs >= 2, "dropBoilerplateChunks: minDocs >= 2")
    val others = docs.columns.filterNot(c => c == idCol || c == textCol)
    val cuts = call_function("cdc_cuts", col("__t"),
      lit(window), lit(modulus))
    val chunks = Parallelism.ensure(
      docs.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .filter(length(col("__t")) > 0)
      .select(col("__id"), col("__t"), cuts.as("__cuts"))
      .select(col("__id"), col("__t"), col("__cuts"),
        posexplode(slice(col("__cuts"), lit(1), size(col("__cuts")) - 1))
          .as(Seq("__pos", "__s0")))
      .select(col("__id"), col("__pos"),
        col("__t").substr(col("__s0") + 1,
          element_at(col("__cuts"), col("__pos") + 2) - col("__s0"))
          .as("__piece"))
      .withColumn("__h", xxhash64(col("__piece")))
    val boilerplate = chunks
      .groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val cleaned = chunks
      .join(boilerplate, Seq("__h"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__piece")))),
          e => e.getField("__piece")),
        "").as("__clean"))
    docs.select(col(idCol).as("__id") +: others.map(col): _*)
      .join(cleaned, Seq("__id"), "left")
      .select(col("__id").as(idCol) +:
        coalesce(col("__clean"), lit("")).as(textCol) +:
        others.map(col): _*)
  }

  /** Serialized Bloom filter over `xxhash64(content)` of every corpus
    * row — the constant-size stand-in for the corpus hash set. One
    * corpus pass, map-side combined, a single binary to the driver.
    * Sized by [[graft.functions.BloomFunctions.optimalNumBits]]; the
    * session's runtime-bloom clamp confs are raised to fit (they cap,
    * never fail — an under-sized sketch only raises the false-positive
    * rate, never produces a false negative).
    */
  def buildContentBloom(
      corpus: DataFrame, contentCol: String,
      expectedItems: Long, fpp: Double = 0.03): Array[Byte] = {
    import graft.functions.BloomFunctions._
    val bits = optimalNumBits(expectedItems, fpp)
    val conf = corpus.sparkSession.conf
    def raise(key: String, needed: Long): Unit =
      if (conf.getOption(key).forall(_.toLong < needed))
        conf.set(key, needed.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedItems)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    corpus
      .select(bloomAgg(xxhash64(col(contentCol)), expectedItems, bits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[exactIncremental]] with a Bloom pre-filter: batch rows whose
    * content hash is bloom-NEGATIVE are definitively new (no false
    * negatives) and bypass the anti-join entirely; only bloom-positives
    * — true duplicates plus an fpp-sized sliver — shuffle against the
    * corpus hash set. Output is row-identical to [[exactIncremental]];
    * the sketch only routes rows.
    *
    * The 100 TB shape: the corpus participates as one broadcast binary
    * (built once per ingest epoch by [[buildContentBloom]]) plus an
    * anti-join whose probe side is ~fpp × batch instead of the whole
    * batch. */
  def exactIncrementalBloom(
      batch: DataFrame, bloom: Array[Byte], corpusHashes: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    import graft.functions.BloomFunctions.bloomMightContain
    val probed = batch
      .withColumn("__h", md5(col(contentCol)))
      .withColumn("__maybe",
        bloomMightContain(bloom, xxhash64(col(contentCol))))
    val definitelyNew = probed.filter(!col("__maybe"))
    val checked = probed.filter(col("__maybe"))
      .join(corpusHashes.select(col("content_hash").as("__h")),
        Seq("__h"), "left_anti")
    definitelyNew.unionByName(checked)
      .groupBy(col("__h").as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  // ------------------------------------------------------------------
  // Embedding near-dup (hyperplane LSH)
  // ------------------------------------------------------------------

  /** Embedding-cosine near-dup via random-hyperplane LSH: vectors
    * sharing a sign-bucket become candidates (equi-join on the packed
    * bucket long — similar vectors agree on most hyperplane signs), then
    * exact cosine verifies. `numPlanes` trades recall (fewer planes =
    * bigger buckets) against candidate volume. Scale: one narrow
    * projection + one equi-join; the corpus never cross-joins.
    *
    * MULTI-PROBE (Lv et al., "Multi-Probe LSH", VLDB 2007):
    * `probeFlips` > 0 additionally probes every bucket within that
    * Hamming distance of a vector's own bucket — for sign LSH the
    * near-miss buckets are exactly the bit-flips, so flipping ≤ f of
    * the `numPlanes` bits recovers pairs that disagree on up to f
    * plane signs. One table then buys the recall of many: a pair at
    * per-plane agreement p = 1−θ/π is recalled at P(Hamming ≤ f)
    * instead of p^planes (f = 1 at 4 planes: p⁴ + 4p³(1−p) — e.g.
    * 0.86 → 0.99 at θ = 25°), where the classic alternative pays L
    * independent tables (L× memory and L full scans). Cost: ONLY the
    * probe side of the join replicates (1 + planes [+ C(planes,2)]
    * rows of 8-byte keys + the vector); the indexed side and the
    * verify stay unchanged, and each true pair still arrives at the
    * verify exactly once (probe buckets are distinct, so a given
    * (a, b) meets on exactly one probe) — no dedup pass needed.
    * `probeFlips = 0` is the original single-bucket behavior.
    *
    * The pair join is embedding's own, not [[pairJoin]]: a bucket is
    * one key per vector and each pair meets on exactly one probe, so
    * the shared join's distinct would add an aggregate for nothing. */
  def embeddingNearDup(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int = 8, threshold: Double = 0.8,
      probeFlips: Int = 0): DataFrame = {
    require(probeFlips >= 0 && probeFlips <= 2,
      "embeddingNearDup: probeFlips in 0..2 (3+ flips probes most of " +
        "the hypercube — lower numPlanes instead)")
    embeddingPairs(embeddingFeatures(vecs, idCol, vecCol, dim, numPlanes),
      numPlanes, threshold, probeFlips)
  }

  /** (id, vec, bucket, nrm) feature frame shared by the pair join, the
    * index build and the incremental probe. */
  private def embeddingFeatures(vecs: DataFrame, idCol: String,
      vecCol: String, dim: Int, numPlanes: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    Parallelism.ensure(vecs.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        hyperplaneBucket(col("vec"), dim, numPlanes).as("bucket"),
        norm(col("vec")).as("nrm"))
  }

  /** The multi-probe bucket set of `bucket`: itself and every bucket
    * within `probeFlips` sign flips of it — distinct XOR masks, so
    * distinct buckets. */
  private def flipProbes(bucket: Column, numPlanes: Int,
      probeFlips: Int): Seq[Column] = {
    val singles = if (probeFlips >= 1) (0 until numPlanes).map(1L << _) else Nil
    val doubles =
      if (probeFlips >= 2)
        for { p <- 0 until numPlanes; q <- (p + 1) until numPlanes }
          yield (1L << p) | (1L << q)
      else Nil
    bucket +: (singles ++ doubles).map(m => bucket.bitwiseXOR(lit(m)))
  }

  /** Rounded exact cosine, the embedding verify. */
  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column = {
    import graft.functions.VectorFunctions._
    round(cosinePrenormed(dot(va, vb), na, nb), 4)
  }

  /** [[embeddingNearDup]]'s pairs over a feature frame. */
  private def embeddingPairs(feat: DataFrame, numPlanes: Int,
      threshold: Double, probeFlips: Int): DataFrame = {
    val keyed = feat.repartition(col("bucket"))
    val a =
      if (probeFlips == 0)
        keyed.select(col("id").as("a_id"), col("vec").as("__va"),
          col("bucket").as("__pb"), col("nrm").as("__na"))
      else
        feat
          .select(col("id").as("a_id"), col("vec").as("__va"),
            explode(array(flipProbes(col("bucket"), numPlanes,
              probeFlips): _*)).as("__pb"),
            col("nrm").as("__na"))
          .repartition(col("__pb"))
    val b = keyed.select(col("id").as("b_id"), col("vec").as("__vb"),
      col("bucket").as("__bkt2"), col("nrm").as("__nb"))
    a.join(b, col("__pb") === col("__bkt2") && col("a_id") < col("b_id"))
      .withColumn("cosine",
        cosine(col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Embedding near-dedup with the same survivor policy as
    * [[dropNearDuplicates]]: sign-bucket candidate pairs, exact-cosine
    * verify, transitive clusters, keep the minimum-id vector per
    * cluster. */
  def dropEmbeddingNearDuplicates(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int = 8, threshold: Double = 0.8,
      probeFlips: Int = 0): DataFrame =
    clusterDrop(embeddingNearDup(vecs, idCol, vecCol, dim, numPlanes,
      threshold, probeFlips))(vecs, idCol)

  /** Semantic dedup over an embedding corpus — the SemDeDup recipe
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): k-means
    * partitions the embedding space, only WITHIN-cluster pairs are
    * compared (learned blocking — the step that makes web-scale
    * semantic dedup tractable), pairs with cosine ≥ `threshold` form
    * duplicate groups, and each group keeps the member with the LOWEST
    * cosine to its cluster centroid — the paper's policy: retain the
    * cluster's outliers, drop its redundant core. Ties → lowest id.
    * Unlike [[embeddingNearDup]]'s hyperplane LSH (recall decided by
    * plane count), blocking recall here is decided by the clustering:
    * a duplicate pair split across clusters is not compared — the
    * paper accepts this, and larger `k` trades block size against
    * split risk.
    *
    * Plan shape: centroid training + assignment are Ann's
    * zero-exchange projections (the trained centroids are a
    * `CentroidSet` the assignment kernel holds by reference); the pair
    * join is an equi-join on centroid_id over repartitioned bounded
    * blocks — quadratic WITHIN a cluster, so pick k ≈ n/(target
    * cluster size) exactly as with any blocked pairing; groups resolve
    * via the O(log² n) connected components; survivor selection is one
    * min-struct aggregate per group + an anti-join. */
  def semanticDedup(
      vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double = 0.95, iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(k > 0, "semanticDedup: k > 0")
    semanticDedupWith(vecs,
      Ann.trainCentroids(
        vecs.select(col(idCol), col(vecCol)), idCol, vecCol, k, iters,
        seed),
      idCol, vecCol, threshold)
  }

  /** [[semanticDedup]] against PRETRAINED centroids ((centroid_id,
    * vecCol) as [[Ann.trainCentroids]] emits) — the production shape:
    * the clustering is trained once (or shared with the IVF index,
    * which uses the same model) and every dedup pass pays only
    * assignment + within-cluster pairing. */
  def semanticDedupWith(
      vecs: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double = 0.95): DataFrame = {
    import graft.functions.VectorFunctions._
    require(threshold > 0 && threshold <= 1,
      "semanticDedup: threshold in (0, 1]")
    val assigned = Ann.assignBuckets(
      Parallelism.ensure(vecs.select(col(idCol), col(vecCol))),
      centroids.select(col("centroid_id").as(idCol), col(vecCol)),
      idCol, vecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__n"), col("centroid_id"))
      .repartition(col("centroid_id"))
      .localCheckpoint(false)
    val a = assigned.select(col("centroid_id"), col("__id").as("a_id"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("centroid_id").as("__c2"),
      col("__id").as("b_id"), col("__v").as("__vb"), col("__n").as("__nb"))
    val edges = a
      .join(b, col("centroid_id") === col("__c2") &&
        col("a_id") < col("b_id"))
      .filter(cosinePrenormed(dot(col("__va"), col("__vb")),
        col("__na"), col("__nb")) >= threshold)
      .select("a_id", "b_id")
    val cc = Graph.connectedComponents(edges, "a_id", "b_id")
    val cent = centroids.select(col("centroid_id"),
      col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"))
    val simToCent = assigned.join(broadcast(cent), "centroid_id")
      .select(col("__id").as("id"),
        cosinePrenormed(dot(col("__v"), col("__cv")),
          col("__n"), col("__cn")).as("__sc"))
    val keepers = cc.join(simToCent, "id")
      .groupBy(col("component"))
      .agg(min(struct(col("__sc"), col("id"))).as("__k"))
      .select(col("__k.id").as("id"))
    val losers = cc.join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    vecs.join(losers, Seq(idCol), "left_anti")
  }

  /** Persisted sign-bucket state of an embedding corpus: ONE table of
    * (id, vec, shard, bucket, norm) — the same single-table/
    * continuous-ingest rationale as [[MinhashIndex]], for the embedding
    * modality. The bucket function is deterministic in (dim,
    * numPlanes), so buckets computed in different runs (or loaded from
    * parquet) stay join-compatible.
    *
    * `shard` = bucket mod [[Dedup.IndexShards]] (deterministic in the
    * bucket, so build/probe always agree). [[save]] partitions by it:
    * a probing batch touches only its own sign-buckets, so the scan of
    * the (vector-sized) corpus prunes to the batch's shards — the
    * embedding twin of MinhashIndex's candidate-shard pruning, and
    * even tighter because the join key itself determines the shard. */
  final case class EmbeddingIndex(entries: DataFrame) {
    /** [[MinhashIndex.save]]'s layout ([[IndexMaintenance.saveEntries]]). */
    def save(dir: String, mode: String = "error"): Unit =
      IndexMaintenance.saveEntries(entries, dir, "shard", mode)

    def materialize(): EmbeddingIndex =
      EmbeddingIndex(entries.localCheckpoint(false))

    def union(delta: EmbeddingIndex): EmbeddingIndex =
      EmbeddingIndex(entries.unionByName(delta.entries))
  }

  object EmbeddingIndex {
    /** Pre-shard saves load with the shard backfilled from the bucket
      * (same values save() would have written). */
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): EmbeddingIndex =
      EmbeddingIndex(IndexMaintenance.loadEntries(spark, dir,
        prepare = withShard(_, embeddingShardOf(col("bucket")))))
  }

  /** `entries` as saved, or with `shard` backfilled when it predates
    * the shard column. */
  private def withShard(entries: DataFrame, shard: Column): DataFrame =
    if (entries.columns.contains("shard")) entries
    else entries.withColumn("shard", shard)

  private def embeddingShardOf(bucket: Column): Column =
    pmod(bucket, lit(IndexShards.toLong)).cast("int")

  /** Build the sign-bucket index for an embedding corpus. The same
    * (dim, numPlanes) MUST be used for every later probe. */
  def buildEmbeddingIndex(
      vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int = 8): EmbeddingIndex =
    EmbeddingIndex(embeddingEntries(
      embeddingFeatures(vecs, idCol, vecCol, dim, numPlanes)))

  /** EmbeddingIndex entries of a feature frame. */
  private def embeddingEntries(feat: DataFrame): DataFrame =
    feat.select(col("id"), col("vec"),
      embeddingShardOf(col("bucket")).as("shard"), col("bucket"), col("nrm"))

  /** Near-dup pairs between a new embedding batch and the indexed
    * corpus: (corpus a_id, batch b_id, cosine ≥ threshold). Batch side
    * bucketed once and broadcast; the corpus index never moves beyond
    * the bucket equi-join.
    *
    * `probeFlips` > 0 is [[embeddingNearDup]]'s MULTI-PROBE on the
    * incremental path: the BATCH (the small side — exactly where
    * replication is cheap) also probes every index bucket within that
    * Hamming distance, recovering corpus near-dups that disagree on
    * up to `probeFlips` plane signs without touching the index or its
    * shard layout. Shard pruning widens to the probe set's shards;
    * each (corpus, batch) pair still meets on exactly one probe
    * bucket, so no dedup pass is needed. */
  def incrementalEmbeddingNearDup(
      batch: DataFrame, index: EmbeddingIndex, idCol: String,
      vecCol: String, dim: Int, numPlanes: Int = 8,
      threshold: Double = 0.8, probeFlips: Int = 0): DataFrame =
    embeddingProbe(
      embeddingFeatures(batch, idCol, vecCol, dim, numPlanes)
        .localCheckpoint(false),
      index, numPlanes, threshold, probeFlips)

  /** [[incrementalEmbeddingNearDup]] over a pinned feature frame. */
  private def embeddingProbe(feat: DataFrame, index: EmbeddingIndex,
      numPlanes: Int, threshold: Double, probeFlips: Int): DataFrame = {
    require(probeFlips >= 0 && probeFlips <= 2,
      "incrementalEmbeddingNearDup: probeFlips in 0..2")
    val probes = flipProbes(col("bucket"), numPlanes, probeFlips)
    // on a SAVED index, the batch's probe buckets determine the shards
    // it can possibly match
    val entries = prunePartitions(index.entries, "shard",
      feat.select(explode(array(probes.map(embeddingShardOf): _*))))
    probeJoin(entries, feat,
        Seq(col("id").as("b_id"), col("vec").as("__vb"), col("nrm").as("__nb")),
        array(probes.map(p => struct(p.as("bucket"))): _*), probes.size)
      .withColumn("cosine",
        cosine(col("vec"), col("__vb"), col("nrm"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("a_id"), col("b_id"), col("cosine"))
  }

  /** Incremental embedding near-dedup: drop batch vectors
    * near-duplicating the indexed corpus, dedup the remainder within
    * the batch, return (survivors, delta-index) — the embedding twin of
    * [[incrementalDedup]] ([[incrementalBody]]). */
  def incrementalEmbeddingDedup(
      batch: DataFrame, index: EmbeddingIndex, idCol: String,
      vecCol: String, dim: Int, numPlanes: Int = 8,
      threshold: Double = 0.8, probeFlips: Int = 0): (DataFrame, EmbeddingIndex) = {
    val (survivors, entries) = incrementalBody(batch, idCol,
      embeddingFeatures(batch, idCol, vecCol, dim, numPlanes),
      embeddingProbe(_, index, numPlanes, threshold, probeFlips),
      embeddingPairs(_, numPlanes, threshold, probeFlips),
      embeddingEntries)
    (survivors, EmbeddingIndex(entries))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over shingles: per bit, vote +1/-1 by whether the
    * shingle's xxhash64 has that bit set; the final bit is set iff the
    * vote sum is positive. Array-expression only (shift amounts are
    * columns, so the SQL shiftright/shiftleft are invoked via
    * call_function).
    */
  def simhash64(shingleArr: Column): Column = {
    val votes = aggregate(
      transform(shingleArr, x => xxhash64(x)), // hash each shingle once
      array_repeat(lit(0), 64),
      (acc, h) =>
        transform(acc, (v, i) =>
          v + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L,
            1).otherwise(-1))
    )
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b)
    )
  }

  /** Band boundaries for a 64-bit SimHash at a given hamming radius.
    *
    * Pigeonhole recall guarantee: splitting 64 bits into `maxHamming + 1`
    * disjoint bands means any pair at hamming ≤ maxHamming has at least
    * one band with ZERO differing bits — so banding on `h + 1` bands
    * gives 100% candidate recall at radius h (the post-filter then
    * removes false positives exactly). Returns (shift, width) per band,
    * widths as even as possible (e.g. h=8 → 9 bands: 8×7 bits + 1×8).
    */
  private[graft] def simhashBands(maxHamming: Int): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val bands = maxHamming + 1
    val base = 64 / bands
    val extra = 64 % bands // first `extra` bands get one more bit
    val widths = Seq.tabulate(bands)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).map { case (shift, w) => (shift, w) }
  }

  /** SimHash near-dup candidates: block on `maxHamming + 1` disjoint
    * bit-bands of the 64-bit hash. Band count DERIVES from the radius so
    * the pigeonhole recall contract holds at any maxHamming (a fixed
    * 4x16 banding is only complete to hamming ≤ 3); SimhashRecallSpec
    * pins 100% candidate recall on planted pairs at exactly maxHamming.
    *
    * Selectivity is the price of radius: band width is 64/(h+1) bits,
    * so random-pair collision probability per band is 2^-width —
    * h = 3 gives 16-bit bands (2^16 buckets, the classic Manku
    * configuration, corpus-scale selective), while h = 8 gives 7-bit
    * bands (128 buckets per band, ~7% of ALL pairs become candidates).
    * Keep h ≤ 3 for whole-corpus dedup; radii beyond that are for
    * small or pre-blocked inputs where the exact hamming post-filter
    * can afford the candidate volume.
    */
  def simhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, maxHamming: Int = 3): DataFrame =
    simhashPairs(simhashFeatures(docs, idCol, textCol, shingleN), maxHamming)

  /** (id, sim) SimHash frame shared by candidate generation, the index
    * build (it IS the index's entries) and the incremental probe. */
  private def simhashFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    Parallelism.ensure(
      docs.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        call_function("simhash64", shinglesCol(docs, col("__t"), shingleN))
          .as("sim"))

  /** SimHash near-dedup with the survivor policy of
    * [[dropNearDuplicates]]: banded candidates, exact-hamming verify,
    * transitive clusters, keep the minimum-id doc per cluster. */
  def dropSimhashDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, maxHamming: Int = 3): DataFrame =
    clusterDrop(simhashCandidates(docs, idCol, textCol, shingleN,
      maxHamming))(docs, idCol)

  /** Persisted SimHash state of a corpus: ONE table of (id, sim) — at
    * 8 bytes of state per document this is the LIGHTEST of the three
    * incremental indexes (MinHash stores shingles + band buckets,
    * embeddings store the vectors). Bands are pure bit math recomputed
    * at probe time from the radius, so one index serves ANY maxHamming
    * — unlike [[MinhashIndex]], whose band buckets bake in the banding
    * parameters. Saved unpartitioned: a probe reads every row's 8
    * bytes anyway, so there is no fetch to prune. */
  final case class SimhashIndex(entries: DataFrame) {
    def save(dir: String, mode: String = "error"): Unit =
      entries.write.mode(mode).parquet(s"$dir/entries")

    def materialize(): SimhashIndex =
      SimhashIndex(entries.localCheckpoint(false))

    def union(delta: SimhashIndex): SimhashIndex =
      SimhashIndex(entries.unionByName(delta.entries))
  }

  object SimhashIndex {
    /** [[IndexMaintenance.loadEntries]]: tombstoned ids are dropped. */
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): SimhashIndex =
      SimhashIndex(IndexMaintenance.loadEntries(spark, dir))
  }

  /** Build the SimHash index for a (deduped) corpus. The same
    * `shingleN` MUST be used for every later probe; `maxHamming` is a
    * probe-time choice. */
  def buildSimhashIndex(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2): SimhashIndex =
    SimhashIndex(simhashFeatures(docs, idCol, textCol, shingleN))

  /** Near-dup pairs between a new batch and the SimHash-indexed corpus:
    * (corpus a_id, batch b_id, hamming ≤ maxHamming). Batch is signed
    * once and broadcast against the index's banded view; the corpus
    * never shuffles beyond the band equi-join. */
  def incrementalSimhashNearDup(
      batch: DataFrame, index: SimhashIndex, idCol: String,
      textCol: String, shingleN: Int = 2,
      maxHamming: Int = 3): DataFrame =
    simhashProbe(
      simhashFeatures(batch, idCol, textCol, shingleN).localCheckpoint(false),
      index, maxHamming)

  private def simhashProbe(feat: DataFrame, index: SimhashIndex,
      maxHamming: Int): DataFrame =
    hammingProbe(index.entries, feat, "sim",
      simhashBandStructs(col("sim"), maxHamming), maxHamming)

  /** Incremental SimHash near-dedup: drop batch docs within `maxHamming`
    * of the indexed corpus, dedup the remainder within the batch,
    * return (survivors, delta-index) — completing the incremental
    * family (exact/Bloom = q63/q67, MinHash = q64, embedding = q65)
    * through the shared [[incrementalBody]]. */
  def incrementalSimhashDedup(
      batch: DataFrame, index: SimhashIndex, idCol: String,
      textCol: String, shingleN: Int = 2,
      maxHamming: Int = 3): (DataFrame, SimhashIndex) = {
    val (survivors, entries) = incrementalBody(batch, idCol,
      simhashFeatures(batch, idCol, textCol, shingleN),
      simhashProbe(_, index, maxHamming),
      simhashPairs(_, maxHamming),
      identity)
    (survivors, SimhashIndex(entries))
  }

  /** Array of (band, bucket) structs for a sim column at a given
    * radius — shared by whole-corpus banding and the incremental probe
    * (both sides MUST band identically or buckets never match). `band`
    * labels band `i`; media folds its kind into the label. */
  private[graft] def simhashBandStructs(sim: Column, maxHamming: Int,
      band: Int => Column = lit(_)): Column =
    array(simhashBands(maxHamming).zipWithIndex.map {
      case ((shift, width), i) =>
        val mask = if (width == 64) -1L else (1L << width) - 1L
        struct(band(i).as("band"),
          call_function("shiftright", sim, lit(shift))
            .bitwiseAND(lit(mask)).as("bucket"))
    }: _*)

  /** SimHash pairs within an (id, sim) frame, hamming ≤ maxHamming:
    * (a_id, b_id, hamming). */
  private[graft] def simhashPairs(feat: DataFrame, maxHamming: Int): DataFrame =
    hammingPairs(feat, "sim", simhashBandStructs(col("sim"), maxHamming),
      maxHamming)

  /** Hamming distance of two 64-bit hashes. */
  private def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Banded 64-bit-hash pairs within `feat` (id, `hash`, `carry`...):
    * (a_id, b_id, carry..., hamming ≤ maxHamming). The carried columns
    * come from the a side; they must be equal on both sides, as keys
    * that embed them make them. */
  private[graft] def hammingPairs(feat: DataFrame, hash: String,
      keys: Column, maxHamming: Int, carry: Seq[String] = Nil): DataFrame =
    pairJoin(feat, keys, hash +: carry,
      carry.map(c => col(s"a_$c").as(c)) :+
        hamming(col(s"a_$hash"), col(s"b_$hash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Banded 64-bit-hash probe of a batch frame (id, `hash`,
    * `carry`...) against an index frame of the same shape: (corpus
    * a_id, batch b_id, carry..., hamming ≤ maxHamming). */
  private[graft] def hammingProbe(index: DataFrame, batch: DataFrame,
      hash: String, keys: Column, maxHamming: Int,
      carry: Seq[String] = Nil): DataFrame =
    probeJoin(keyed(index, Seq(col("id").as("a_id"), col(hash).as("__ha")), keys),
        batch, Seq(col("id").as("b_id"), col(hash).as("__hb")) ++ carry.map(col),
        keys, maxHamming + 1)
      .select(col("a_id") +: col("b_id") +: carry.map(col) :+
        hamming(col("__ha"), col("__hb")).as("hamming"): _*)
      .distinct()
      .filter(col("hamming") <= maxHamming)

  // ------------------------------------------------------------------
  // Survivor selection
  // ------------------------------------------------------------------

  /** End-to-end corpus near-dedup: MinHash-LSH candidate pairs, exact
    * Jaccard verify, connected-component clustering, then keep the
    * minimum-id document of every near-dup cluster (docs with no
    * near-dup survive untouched). This is the shape a training-data
    * pipeline actually runs — pairs alone aren't a dedup until a
    * survivor policy collapses each cluster, and clustering must be
    * transitive (A~B, B~C puts A,C in one cluster even when A~C scores
    * below threshold). The loser set is tiny relative to the corpus, so
    * the final filter is a broadcast-able left-anti join keyed on id.
    */
  def dropNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    clusterDrop(minhashNearDup(docs, idCol, textCol, shingleN, numHashes,
      bands, threshold))(docs, idCol)

  // ------------------------------------------------------------------
  // The near-dup core, shared by every signature family
  // ------------------------------------------------------------------

  /** `frame` once per element of `keys` (an array of key structs): the
    * `carry` columns, then the key struct's fields as columns. */
  private def keyed(frame: DataFrame, carry: Seq[Column],
      keys: Column): DataFrame = {
    val exploded = frame.select(carry :+ explode(keys).as("__bk"): _*)
    exploded.select(
      exploded.columns.filterNot(_ == "__bk").map(col) :+ col("__bk.*"): _*)
  }

  /** (1) Pair join within a feature frame (id, `payload`...) whose rows
    * share a (band, bucket) key of `keys`. The keys repartition BEFORE
    * the self-join, so both sides share one exchange (ReuseExchange
    * computes the features once) and the join is co-partitioned. Each
    * side carries its payload as `a_<p>` / `b_<p>` to the `verify`
    * columns; output is distinct (a_id, b_id, verify...) with a_id <
    * b_id, since a pair can share several keys. */
  private[graft] def pairJoin(feat: DataFrame, keys: Column,
      payload: Seq[String] = Nil, verify: Seq[Column] = Nil): DataFrame = {
    val k = keyed(feat, col("id").as("__id") +: payload.map(col), keys)
      .repartition(col("band"), col("bucket"))
    val l = k.select(col("__id").as("a_id") +:
      payload.map(p => col(p).as(s"a_$p")) :+ col("band") :+ col("bucket"): _*)
    val r = k.select(col("__id").as("b_id") +:
      payload.map(p => col(p).as(s"b_$p")) :+ col("band").as("band2") :+
      col("bucket").as("bucket2"): _*)
    l.join(r, col("band") === col("band2") && col("bucket") === col("bucket2") &&
        col("a_id") < col("b_id"))
      .select(col("a_id") +: col("b_id") +: verify: _*)
      .distinct()
  }

  /** Keys per batch row above which the probe's exploded batch is too
    * big to broadcast: embedding multi-probe replicates a vector 1 +
    * planes [+ C(planes, 2)] times — ~37x at 8 planes, ~2000x at 62
    * planes with two flips. No registered query crosses it. */
  private val MaxBroadcastReplication = 128

  /** (2) Batch-vs-index probe: `batch` explodes on `keys` (key structs,
    * `keysPerRow` per row) with the `carry` columns and joins the
    * index's key view on the key fields. The batch, the small side, is
    * broadcast so the corpus never shuffles — a shuffle join above
    * [[MaxBroadcastReplication]] keys per row. */
  private[graft] def probeJoin(index: DataFrame, batch: DataFrame,
      carry: Seq[Column], keys: Column, keysPerRow: Int): DataFrame = {
    val b = keyed(batch, carry, keys)
    val side =
      if (keysPerRow <= MaxBroadcastReplication) broadcast(b)
      else {
        log.warn(s"probe replication $keysPerRow > " +
          s"$MaxBroadcastReplication - falling back to a shuffle join " +
          "for the probe side")
        b
      }
    index.join(side, b.columns.drop(carry.size).toSeq)
  }

  /** (3) Cluster drop: connected components over verified (a_id, b_id)
    * `pairs`; every member but its component's minimum id loses.
    * Returns the left-anti join removing the losers from a frame keyed
    * on a given id column, so the components resolve once however many
    * frames the caller drops them from. */
  private[graft] def clusterDrop(pairs: DataFrame): (DataFrame, String) => DataFrame = {
    val losers = Graph.connectedComponents(pairs, "a_id", "b_id")
      .filter(col("component") =!= col("id"))
      .select(col("id"))
    (rows, idCol) =>
      rows.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** (4) Incremental body: the batch `features` (with `id`) are pinned
    * ONCE and feed the probe, the within-batch dedup and the delta.
    * Batch rows `corpusHits` matches are dropped; the hit ids are
    * pinned too (lazily: the components' gate count materializes
    * them), so the probe runs once for both anti-joins. The verified
    * `batchPairs` among the rest cluster and keep their minimum id;
    * `entries` projects the survivors' features into the delta.
    * Returns (survivor `batch` rows, delta entries). A row linked to
    * the corpus only through a dropped sibling survives:
    * near-duplication is not transitive. */
  private[graft] def incrementalBody(
      batch: DataFrame, idCol: String, features: DataFrame,
      corpusHits: DataFrame => DataFrame,
      batchPairs: DataFrame => DataFrame,
      entries: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val feat = features.localCheckpoint(false)
    val vsCorpus = corpusHits(feat).select(col("b_id").as(idCol))
      .localCheckpoint(false)
    val inBatch = batch.join(vsCorpus, Seq(idCol), "left_anti")
    val bfeat = feat.join(vsCorpus.select(col(idCol).as("id")),
      Seq("id"), "left_anti")
    val drop = clusterDrop(batchPairs(bfeat))
    (drop(inBatch, idCol), entries(drop(bfeat, "id")))
  }

  /** Cross-document duplicated-SPAN removal — the substring-level dedup
    * between [[dropRepeatedLines]] (needs shared line breaks) and whole-
    * document dedup (needs full equality): any word `gramN`-gram that
    * appears in at least `minDocs` DISTINCT documents marks its token
    * span [pos, pos+gramN-1] as duplicated; overlapping and adjacent
    * spans merge into maximal islands; each document comes back with
    * the covered tokens removed plus the island/token counts. This is
    * the token-level form of the suffix-array substring dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): a shared passage of length n is covered wall-to-wall by
    * its n-gramN+1 duplicated grams, so contiguous shared prose is
    * removed exactly as the suffix-array method would, at gramN-1-token
    * edge resolution — and the whole computation is three keyed
    * shuffles instead of a distributed suffix array.
    *
    * Scale shape: grams shuffle as (xxhash64, id, pos) — 8-byte gram
    * payload like dropRepeatedLines, same collision bound (~grams²/2⁶⁴,
    * a colliding innocent span is dropped; negligible below ~10⁹
    * distinct grams); the dup-gram set is found by a map-side-combined
    * distinct-doc count and semi-joins back on the hash; span merge is
    * two window passes over ONE (doc, pos) sort; reconstruction joins
    * the bounded per-doc span list back to the docs relation — document
    * text itself never shuffles. Islands per doc are bounded by
    * len/gramN, so the in-row position filter is cheap.
    */
  def dropDuplicateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 8, minDocs: Int = 2): DataFrame = {
    require(gramN >= 2, "dropDuplicateSpans: gramN >= 2")
    require(minDocs >= 2, "dropDuplicateSpans: minDocs >= 2")
    val others = docs.columns.filterNot(c => c == idCol || c == textCol)
    val toks = split(col(textCol), " ")
    // (doc, pos, gramHash) for every gramN-gram; docs shorter than
    // gramN emit nothing (sequence() descends when stop < start, so
    // the short side must be guarded, not clamped).
    val grams = Parallelism.ensure(
      docs.select(col(idCol).as("__id"), toks.as("__w")))
      .select(col("__id"),
        posexplode(
          when(size(col("__w")) >= gramN,
            transform(sequence(lit(1), size(col("__w")) - (gramN - 1)),
              i => xxhash64(concat_ws(" ", slice(col("__w"), i, lit(gramN))))))
          .otherwise(array().cast("array<bigint>")))
          .as(Seq("__off", "__h")))
      .select(col("__id"), (col("__off") + 1).as("__pos"), col("__h"))
    val dupGrams = grams
      .groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    // Duplicated occurrences → maximal covered islands per doc. Both
    // window passes share one (partition, order) spec = one sort.
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val prevMaxEnd = max(col("__pos") + (gramN - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val occ = grams
      .join(dupGrams, Seq("__h"), "left_semi")
      .withColumn("__start",
        when(prevMaxEnd.isNull || col("__pos") > prevMaxEnd + 1, 1L)
          .otherwise(0L))
      .withColumn("__island",
        sum(col("__start")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = occ
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("__pos")).as("__s"),
        (max(col("__pos")) + (gramN - 1)).as("__e"))
      .groupBy(col("__id"))
      .agg(
        sort_array(collect_list(struct(col("__s"), col("__e")))).as("__spans"),
        count(lit(1)).as("__nspans"),
        sum(col("__e") - col("__s") + 1).as("__ntok"))
    val covered = (p: Column, sp: Column) =>
      exists(sp, s => p >= s.getField("__s") && p <= s.getField("__e"))
    docs.select(col(idCol).as("__id") +: (col(textCol) +: others.map(col)): _*)
      .join(spans, Seq("__id"), "left")
      .select(
        col("__id").as(idCol) +:
          (array_join(
            when(col("__spans").isNull, toks)
              .otherwise(filter(toks,
                (t: Column, i0: Column) => !covered(i0 + 1, col("__spans")))),
            " ").as(textCol) +:
            coalesce(col("__ntok"), lit(0L)).as("dup_tokens") +:
            coalesce(col("__nspans"), lit(0L)).as("dup_spans") +:
            others.map(col)): _*)
  }
}
