package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT all-pairs set-similarity join via prefix filtering — the
  * recall-guaranteed alternative to MinHash-LSH (q31) for near-dup
  * detection: every pair with Jaccard ≥ τ is found, none missed, with
  * candidate volume bounded by the prefix-filter principle instead of
  * banding probability (Chaudhuri et al. 2006 SSJoin; Bayardo et al.
  * 2007 "Scaling Up All Pairs"; Vernica et al. 2010 for the
  * map-reduce formulation this plan mirrors).
  *
  * The idea: impose ONE global total order on tokens — rarest first
  * (ascending document frequency, ties by token) — and sort every
  * set by it. If Jaccard(A,B) ≥ τ then |A∩B| ≥ τ·max(|A|,|B|), and a
  * pair sharing that much cannot avoid sharing a token inside both
  * sorted sets' first |S| − ⌈τ·|S|⌉ + 1 tokens (miss A's whole
  * prefix and at most ⌈τ·|A|⌉ − 1 shared tokens remain — too few).
  * So an equi-join on PREFIX tokens only, plus the τ·|A| ≤ |B| ≤
  * |A|/τ length filter, yields a complete candidate set; exact
  * verification keeps the true pairs. Rare-first ordering makes
  * prefixes hold the rarest tokens, so the join's per-token fan-out
  * is small by construction — the frequent tokens that would explode
  * a naive token join are exactly the ones prefixes exclude.
  *
  * τ is passed as an integer ratio (tauNum/tauDen) and both the
  * prefix length and the final Jaccard cut are pure integer
  * arithmetic — bit-exact across engines, no float at any threshold.
  */
object SetSimilarity {

  /** |distinct(a) ∩ distinct(b)| for the verify joins — the native
    * `inter_longs` merge-count kernel (no boxed hash set, no
    * result-array allocation per pair; sorted inputs skip the sort).
    * MinHashExprSpec pins it to `size(array_intersect)`. */
  private def interCount(a: Column, b: Column): Column =
    call_function("inter_longs", a, b)

  /** All pairs (a_id < b_id) whose distinct-token Jaccard is ≥
    * tauNum/tauDen. Output: (a_id, b_id, inter, uni) — integer
    * intersection/union sizes (callers derive the float ratio).
    *
    * Tokens are hashed to 64-bit longs at the door (xxhash64) and
    * every downstream stage — frequency count, rare-first sort,
    * prefix join, intersection verify — runs on 8-byte primitives
    * instead of strings: the q53/q87 discipline (text never shuffles)
    * applied to the similarity join, measured 5× at the bench corpus.
    * A 64-bit collision merging two distinct tokens would perturb a
    * count with probability ~n²/2⁶⁵ (vanishing at any real vocabulary;
    * the brute-force spec + DuckDB string-side oracle would both
    * catch one) — the same documented trade q53's verify stage makes.
    *
    * Plan shape: the hashed token-set frame is checkpointed once
    * (four consumers). Document frequencies are ONE map-side-combined
    * count; the per-set rare-first reorder is an explode + frequency
    * join + one id-keyed struct-sort regroup; candidates come from an
    * equi-join on exploded PREFIX tokens (never all pairs, never a
    * cartesian) pruned by the PPJoin POSITIONAL bound — at the first
    * common token (positions ia, ib in the rarity order) the overlap
    * can't exceed 1 + min(na−ia−1, nb−ib−1), so rows that can't reach
    * the required ⌈τ/(1+τ)·(na+nb)⌉ drop before the distinct (safe:
    * the first-common-token row has the loosest bound, so a true pair
    * always survives through it) — then deduped and verified with
    * array_intersect on the two fetched hash arrays. Skew guard: the
    * rare-first prefix order bounds per-token join fan-out; a corpus
    * where every set is near-identical degrades to the true result
    * size (output-bound, like any exact join).
    */
  def jaccardJoin(df: DataFrame, idCol: String, tokensCol: Column,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"jaccardJoin: need 0 < tau <= 1, got $tauNum/$tauDen")
    // distinct hashed tokens + size; empty sets match nothing at τ>0.
    // Sorted ONCE per row so the verify kernel's merge skips its sort
    // on every pair the row participates in (order never affects any
    // output: downstream reads are explodes, counts and the df-ordered
    // re-sort).
    val sets = df
      .select(col(idCol).as("__id"),
        array_sort(
          array_distinct(transform(tokensCol, t => xxhash64(t)))).as("__ts"))
      .withColumn("__n", size(col("__ts")))
      .filter(col("__n") > 0)
      .localCheckpoint(false) // 4 consumers; token arrays derive from
                              // text — never recompute them per branch
    val tok = sets.select(col("__id"), explode(col("__ts")).as("__t"))
    val dfreq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // rare-first total order: sort each set by (df, token) — no global
    // integer rank table needed, the (df, token) pair IS the order
    val ordered = tok.join(dfreq, "__t")
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__df"), col("__t"))))
        .as("__st"))
      .select(col("__id"),
        transform(col("__st"), s => s.getField("__t")).as("__ord"))
      .withColumn("__n", size(col("__ord")))
    // prefix length p = n − ⌈τ·n⌉ + 1 (integer ceiling; n is an int,
    // so the double division is exact well past any real set size)
    val ceilTauN =
      floor((col("__n") * tauNum + lit(tauDen - 1)) / lit(tauDen))
    val pre = ordered
      .withColumn("__p", (col("__n") - ceilTauN + 1).cast("int"))
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), col("__p"))))
      .withColumnsRenamed(Map("pos" -> "__i", "col" -> "__t"))
    val a = pre.select(col("__id").as("a_id"), col("__n").as("__na"),
      col("__i").as("__ia"), col("__t"))
    val b = pre.select(col("__id").as("b_id"), col("__n").as("__nb"),
      col("__i").as("__ib"), col("__t"))
    // positional overlap bound, integer form: need overlap ≥
    // ⌈τ(na+nb)/(τ+1)⌉ ⟺ bound·(tauNum+tauDen) ≥ tauNum·(na+nb)
    val posBound =
      (lit(1) + least(col("__na") - col("__ia") - 1,
        col("__nb") - col("__ib") - 1)) * (tauNum + tauDen) >=
        (col("__na") + col("__nb")) * tauNum
    val cand = a.join(b, "__t")
      .filter(col("a_id") < col("b_id") &&
        col("__nb") * tauDen >= col("__na") * tauNum &&
        col("__na") * tauDen >= col("__nb") * tauNum &&
        posBound)
      .select(col("a_id"), col("b_id")).distinct()
    // exact verify on the two full (distinct) hash arrays
    val fa = sets.select(col("__id").as("a_id"), col("__ts").as("__ta"))
    val fb = sets.select(col("__id").as("b_id"), col("__ts").as("__tb"))
    cand.join(fa, "a_id").join(fb, "b_id")
      .withColumn("inter", interCount(col("__ta"), col("__tb")))
      .withColumn("uni",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("inter"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }

  /** EXACT all-pairs CONTAINMENT join: every ORDERED pair (a → b,
    * a ≠ b) with |A∩B| ≥ τ·|A| — the asymmetric complement to
    * [[jaccardJoin]]: a short document quoted verbatim inside a long
    * one has low Jaccard (the union is dominated by B) but
    * containment ≈ 1, which is exactly the subset-duplicate /
    * quote-inclusion case a dedup pass built on symmetric similarity
    * misses. Output: (a_id, b_id, inter, n_a, n_b).
    *
    * Prefix filtering adapts (SSJoin's containment variant): only the
    * PROBE side (A) can be prefix-reduced — if |A∩B| ≥ τ|A| then A's
    * rare-first prefix of |A| − ⌈τ|A|⌉ + 1 tokens must hit B, but B
    * admits no symmetric bound (containment places no upper limit on
    * |B|) — so A-prefix tokens join against ALL of B's tokens, with
    * the |B| ≥ τ|A| length filter and the A-side positional bound
    * (a first match at A-position i caps the achievable overlap at
    * |A| − i). Rare-first ordering keeps the A-prefix fan-out small;
    * the B side rides the same 8-byte hashed-token discipline.
    * Thresholds are integer ratios — bit-exact cross-engine.
    */
  def containmentJoin(df: DataFrame, idCol: String, tokensCol: Column,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"containmentJoin: need 0 < tau <= 1, got $tauNum/$tauDen")
    // sorted once per row — see jaccardJoin's set build
    val sets = df
      .select(col(idCol).as("__id"),
        array_sort(
          array_distinct(transform(tokensCol, t => xxhash64(t)))).as("__ts"))
      .withColumn("__n", size(col("__ts")))
      .filter(col("__n") > 0)
      .localCheckpoint(false)
    val tok = sets.select(col("__id"), explode(col("__ts")).as("__t"))
    val dfreq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val ordered = tok.join(dfreq, "__t")
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__df"), col("__t"))))
        .as("__st"))
      .select(col("__id"),
        transform(col("__st"), s => s.getField("__t")).as("__ord"))
      .withColumn("__n", size(col("__ord")))
    val ceilTauN =
      floor((col("__n") * tauNum + lit(tauDen - 1)) / lit(tauDen))
    val a = ordered
      .withColumn("__p", (col("__n") - ceilTauN + 1).cast("int"))
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), col("__p"))))
      .withColumnsRenamed(Map("pos" -> "__ia", "col" -> "__t"))
      .select(col("__id").as("a_id"), col("__n").as("__na"),
        col("__ia"), col("__t"))
    // B's size rides the token explode directly — the previous
    // re-join of `tok` against `sets` to fetch __nb was a second
    // exchange of every corpus token for a column the exploding row
    // already had
    val b = sets.select(col("__id").as("b_id"), col("__n").as("__nb"),
      explode(col("__ts")).as("__t"))
    val cand = a.join(b, "__t")
      .filter(col("a_id") =!= col("b_id") &&
        col("__nb") * tauDen >= col("__na") * tauNum &&
        // first shared token at A-position ia caps overlap at na - ia
        (col("__na") - col("__ia")) * tauDen >= col("__na") * tauNum)
      .select(col("a_id"), col("b_id")).distinct()
    val fa = sets.select(col("__id").as("a_id"), col("__ts").as("__ta"),
      col("__n").as("n_a"))
    val fb = sets.select(col("__id").as("b_id"), col("__ts").as("__tb"),
      col("__n").as("n_b"))
    cand.join(fa, "a_id").join(fb, "b_id")
      .withColumn("inter", interCount(col("__ta"), col("__tb")))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("n_a"))
      .select(col("a_id"), col("b_id"), col("inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  // ------------------------------------------------------------------
  // Incremental index: probe new batches against a frozen corpus index
  // ------------------------------------------------------------------

  /** Persisted set-similarity index — the [[jaccardJoin]] machinery
    * frozen so continuous ingest probes WITHOUT re-shingling,
    * re-counting or re-sorting the corpus (the q64/q65/q70 incremental
    * discipline applied to the exact join):
    *
    *  - `entries`: (id, shard, n, ord) — each set's hashed tokens in
    *    the corpus's rare-first order, shard-partitioned on save so a
    *    probe's verify fetch prunes to candidate shards;
    *  - `dfreq`: (t, df) — the FROZEN document frequencies that define
    *    the total token order.
    *
    * A probing batch sorts its own tokens by the SAME frozen order
    * (unseen tokens take df = 0 — rarest — deterministically by
    * token), so the prefix-filter completeness proof carries over
    * unchanged and cross-side recall stays exactly 1.0 at the frozen
    * order. Corpus growth drifts true dfs away from the frozen ones;
    * drift never costs RECALL (any consistent total order is valid) —
    * only prefix selectivity — so the index earns a rebuild on the
    * usual cadence, like every inverted index.
    */
  final case class SetSimIndex(entries: DataFrame, dfreq: DataFrame,
      postings: Option[DataFrame] = None) {
    /** Persist under `dir` — entries shard-partitioned
      * ([[IndexMaintenance.saveEntries]]). Also writes the TOKEN-KEYED posting
      * projection (a_id, n, t) partitioned by `tshard` =
      * pmod(t, 64): [[probeContainment]]'s corpus side prunes to the
      * batch's prefix-token shards via partition pruning instead of
      * scanning every posting — the sublinear probe path. */
    def save(dir: String, mode: String = "error"): Unit = {
      val empty = IndexMaintenance.saveEntries(entries, dir, "shard", mode)
      dfreq.write.mode(mode).parquet(s"$dir/dfreq")
      val posts = entries
        .select(col("id").as("a_id"), col("n"), explode(col("ord")).as("t"))
        .withColumn("tshard",
          pmod(col("t"), lit(Dedup.IndexShards.toLong)).cast("int"))
      IndexMaintenance.saveTable(posts, s"$dir/postings", "tshard",
        mode, empty)
    }

    /** Pin the join-side frames for repeated in-memory probes.
      * Postings pass through untouched — checkpointing would strip
      * the file backing that makes their shard filter prune I/O. */
    def materialize(): SetSimIndex =
      SetSimIndex(entries.localCheckpoint(false),
        dfreq.localCheckpoint(false), postings)
  }

  object SetSimIndex {
    def load(spark: org.apache.spark.sql.SparkSession,
        dir: String): SetSimIndex = {
      // dfreq/postings heal too — on a pre-postings index the check
      // is a no-op (recover only acts on _compact/_trash leftovers).
      // Tombstones: entries filtering alone is the correctness path —
      // candidate generation from stale postings is discarded by the
      // verify join's inner join back to entries; compaction rewrites
      // the postings too
      val entries = IndexMaintenance.loadEntries(spark, dir,
        subs = Seq("entries", "dfreq", "postings"))
      // postings appeared after the first saved indexes — ABSENT is
      // legal (probes fall back to exploding entries). But only true
      // absence may degrade: an existence check, not a blanket
      // exception catch, so a permission error or a corrupt folder
      // fails loudly instead of silently costing every future probe
      // the sublinear path.
      val pPath = new org.apache.hadoop.fs.Path(s"$dir/postings")
      val fs = pPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val posts =
        if (fs.exists(pPath)) Some(spark.read.parquet(pPath.toString))
        else None
      SetSimIndex(entries, spark.read.parquet(s"$dir/dfreq"), posts)
    }
  }

  /** Build the index in one corpus pass (plus the vocabulary-sized
    * frequency aggregate). */
  def buildIndex(df: DataFrame, idCol: String,
      tokensCol: Column): SetSimIndex = {
    val sets = df
      .select(col(idCol).as("id"),
        array_distinct(transform(tokensCol, t => xxhash64(t))).as("__ts"))
      .filter(size(col("__ts")) > 0)
      .localCheckpoint(false) // consumed by dfreq AND the reorder
    val tok = sets.select(col("id"), explode(col("__ts")).as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val entries = tok.join(dfreq, "t")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("t"))))
        .as("__st"))
      .select(col("id"),
        transform(col("__st"), s => s.getField("t")).as("ord"))
      .withColumn("n", size(col("ord")))
      .withColumn("shard", Dedup.shardOf(col("id")))
    SetSimIndex(entries, dfreq)
  }

  /** All (corpus id, batch id) pairs with Jaccard ≥ tauNum/tauDen —
    * the cross-side incremental probe (within-batch pairs are
    * [[jaccardJoin]]'s job). Per-batch cost: the batch's own
    * shingle/sort work, one join against the vocabulary-sized frozen
    * df table, a prefix equi-join against the index's prefix view,
    * and a verify fetch that prunes to the candidate ids' shards on a
    * saved index (the q64 partition-pruning trick) — the corpus is
    * never re-featurized. Same positional + length filters and the
    * same integer verify as [[jaccardJoin]].
    */
  def probeIndex(index: SetSimIndex, batch: DataFrame, idCol: String,
      tokensCol: Column, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"probeIndex: need 0 < tau <= 1, got $tauNum/$tauDen")
    val bsets = batch
      .select(col(idCol).as("b_id"),
        array_sort(array_distinct(
          transform(tokensCol, t => xxhash64(t)))).as("__bts"))
      .filter(size(col("__bts")) > 0)
      .localCheckpoint(false) // reorder + verify both consume
    // batch tokens in the FROZEN order; unseen tokens: df 0, by token
    val bord = bsets.select(col("b_id"), explode(col("__bts")).as("t"))
      .join(index.dfreq, Seq("t"), "left")
      .select(col("b_id"), col("t"), coalesce(col("df"), lit(0L)).as("__df"))
      .groupBy(col("b_id"))
      .agg(array_sort(collect_list(struct(col("__df").as("df"), col("t"))))
        .as("__st"))
      .select(col("b_id"),
        transform(col("__st"), s => s.getField("t")).as("__bord"))
      .withColumn("__bn", size(col("__bord")))
    def prefixLen(n: Column): Column =
      (n - floor((n * tauNum + lit(tauDen - 1)) / lit(tauDen)) + 1)
        .cast("int")
    val bpre = bord
      .select(col("b_id"), col("__bn"),
        posexplode(slice(col("__bord"), lit(1), prefixLen(col("__bn")))))
      .withColumnsRenamed(Map("pos" -> "__ib", "col" -> "t"))
    val apre = index.entries
      .select(col("id").as("a_id"), col("n").as("__na"),
        posexplode(slice(col("ord"), lit(1), prefixLen(col("n")))))
      .withColumnsRenamed(Map("pos" -> "__ia", "col" -> "t"))
    val posBound =
      (lit(1) + least(col("__na") - col("__ia") - 1,
        col("__bn") - col("__ib") - 1)) * (tauNum + tauDen) >=
        (col("__na") + col("__bn")) * tauNum
    val cand = apre.join(broadcast(bpre), "t")
      .filter(col("__bn") * tauDen >= col("__na") * tauNum &&
        col("__na") * tauDen >= col("__bn") * tauNum && posBound)
      .select(col("a_id"), col("b_id")).distinct()
      .localCheckpoint(false) // shard collect + verify join both consume
    val pruned = Dedup.prunePartitions(index.entries, "shard",
      cand.select(Dedup.shardOf(col("a_id"))))
    // ord (df-ordered, the index format) sorts ONCE per A row below
    // the join, so the verify kernel's merge sees sorted operands on
    // every pair the row participates in
    val fa = pruned.select(col("id").as("a_id"),
      array_sort(col("ord")).as("__ta"), col("n").as("__na"))
    cand.join(fa, "a_id")
      .join(broadcast(bsets.select(col("b_id"), col("__bts").as("__tb"))),
        "b_id")
      .withColumn("inter", interCount(col("__ta"), col("__tb")))
      .withColumn("uni",
        (col("__na") + size(col("__tb"))).cast("long") - col("inter"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }

  /** Reference implementation for the spec: brute-force all pairs.
    * Quadratic — test fixtures only. */
  private[graft] def jaccardJoinBrute(df: DataFrame, idCol: String,
      tokensCol: Column, tauNum: Int, tauDen: Int): DataFrame = {
    val sets = df
      .select(col(idCol).as("__id"), array_distinct(tokensCol).as("__ts"))
      .filter(size(col("__ts")) > 0)
    val a = sets.select(col("__id").as("a_id"), col("__ts").as("__ta"))
    val b = sets.select(col("__id").as("b_id"), col("__ts").as("__tb"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb")))
        .cast("long"))
      .withColumn("uni",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("inter"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }

  /** Incremental CONTAINMENT probe: every batch doc B whose distinct
    * tokens are ≥ τ contained in some frozen-corpus doc A
    * (|B∩A| ≥ τ·|B|) — the ingest-time question "is this new doc
    * already (mostly) inside the corpus?", which [[probeIndex]]'s
    * symmetric Jaccard misses exactly when the corpus doc is much
    * longer than the batch doc. Only the BATCH side prefix-reduces
    * (τ bounds |B|, nothing bounds |A|), so batch prefixes join
    * against the corpus's FULL token postings from the frozen
    * `entries`; the |A| ≥ τ|B| length filter and the B-side
    * positional cap prune candidates; verification is exact on the
    * stored arrays with the same shard pruning as [[probeIndex]].
    * Recall is exactly 1.0 under any token order, frozen or not.
    *
    * Cost shape: a save()d index carries a token-sharded POSTING
    * projection (`postings`, partitioned by pmod(t, 64)) and the
    * probe prunes it to the batch's prefix-token shards — partition
    * pruning makes small-batch probes SUBLINEAR in the corpus. A
    * built-in-memory index has no file backing to prune, so the
    * corpus postings explode streams through the broadcast hash join
    * instead (no shuffle, one corpus-token pass — the honest floor).
    * Output: (b_id, a_id, inter, n_b, n_a). */
  def probeContainment(index: SetSimIndex, batch: DataFrame, idCol: String,
      tokensCol: Column, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"probeContainment: need 0 < tau <= 1, got $tauNum/$tauDen")
    val bsets = batch
      .select(col(idCol).as("b_id"),
        array_sort(array_distinct(
          transform(tokensCol, t => xxhash64(t)))).as("__bts"))
      .filter(size(col("__bts")) > 0)
      .localCheckpoint(false)
    val bord = bsets.select(col("b_id"), explode(col("__bts")).as("t"))
      .join(index.dfreq, Seq("t"), "left")
      .select(col("b_id"), col("t"), coalesce(col("df"), lit(0L)).as("__df"))
      .groupBy(col("b_id"))
      .agg(array_sort(collect_list(struct(col("__df").as("df"), col("t"))))
        .as("__st"))
      .select(col("b_id"),
        transform(col("__st"), s => s.getField("t")).as("__bord"))
      .withColumn("__bn", size(col("__bord")))
    val bpre = bord
      .select(col("b_id"), col("__bn"),
        posexplode(slice(col("__bord"), lit(1),
          (col("__bn") - floor((col("__bn") * tauNum + lit(tauDen - 1))
            / lit(tauDen)) + 1).cast("int"))))
      .withColumnsRenamed(Map("pos" -> "__ib", "col" -> "t"))
      .localCheckpoint(false) // shard collect + candidate join
    // corpus side: FULL postings — containment admits no A-side
    // prefix. A save()d index carries the token-sharded posting
    // projection: prune it to the batch's prefix-token shards
    // (partition pruning — the sublinear path); otherwise explode
    // the entries and stream them through the broadcast join.
    val atok = index.postings match {
      case Some(p) =>
        Dedup.prunePartitions(p, "tshard",
            bpre.select(pmod(col("t"), lit(Dedup.IndexShards.toLong))
              .cast("int")))
          .select(col("a_id"), col("n").as("__na"), col("t"))
      case None => index.entries
        .select(col("id").as("a_id"), col("n").as("__na"),
          explode(col("ord")).as("t"))
    }
    val cand = atok.join(broadcast(bpre), "t")
      .filter(col("__na") * tauDen >= col("__bn") * tauNum &&
        (col("__bn") - col("__ib")) * tauDen >= col("__bn") * tauNum)
      .select(col("a_id"), col("b_id")).distinct()
      .localCheckpoint(false)
    val pruned = Dedup.prunePartitions(index.entries, "shard",
      cand.select(Dedup.shardOf(col("a_id"))))
    // see probeIndex: ord sorts once per A row for the merge kernel
    val fa = pruned.select(col("id").as("a_id"),
      array_sort(col("ord")).as("__ta"), col("n").as("__na"))
    cand.join(fa, "a_id")
      .join(broadcast(bsets.select(col("b_id"), col("__bts").as("__tb"))),
        "b_id")
      .withColumn("inter", interCount(col("__ta"), col("__tb")))
      .withColumn("n_b", size(col("__tb")).cast("long"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("n_b"))
      .select(col("b_id"), col("a_id"), col("inter"), col("n_b"),
        col("__na").cast("long").as("n_a"))
  }

  /** Spec reference for [[containmentJoin]]: brute-force ordered
    * pairs on the RAW token arrays. */
  private[graft] def containmentBrute(df: DataFrame, idCol: String,
      tokensCol: Column, tauNum: Int, tauDen: Int): DataFrame = {
    val sets = df
      .select(col(idCol).as("__id"), array_distinct(tokensCol).as("__ts"))
      .filter(size(col("__ts")) > 0)
    val a = sets.select(col("__id").as("a_id"), col("__ts").as("__ta"))
    val b = sets.select(col("__id").as("b_id"), col("__ts").as("__tb"))
    a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb")))
        .cast("long"))
      .filter(col("inter") * tauDen >=
        lit(tauNum.toLong) * size(col("__ta")))
      .select(col("a_id"), col("b_id"), col("inter"),
        size(col("__ta")).cast("long").as("n_a"),
        size(col("__tb")).cast("long").as("n_b"))
  }

  /** Spec reference for [[probeContainment]]: brute-force cross-side
    * containment of each batch doc in each corpus doc. */
  private[graft] def probeContainmentBrute(corpus: DataFrame,
      corpusId: String, corpusToks: Column, batch: DataFrame,
      batchId: String, batchToks: Column,
      tauNum: Int, tauDen: Int): DataFrame = {
    val a = corpus.select(col(corpusId).as("a_id"),
      array_distinct(corpusToks).as("__ta"))
      .filter(size(col("__ta")) > 0)
    val b = batch.select(col(batchId).as("b_id"),
      array_distinct(batchToks).as("__tb"))
      .filter(size(col("__tb")) > 0)
    a.crossJoin(b)
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb")))
        .cast("long"))
      .withColumn("n_b", size(col("__tb")).cast("long"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("n_b"))
      .select(col("b_id"), col("a_id"), col("inter"), col("n_b"),
        size(col("__ta")).cast("long").as("n_a"))
  }

  /** Spec reference for [[probeIndex]]: brute-force CROSS-side pairs
    * (corpus × batch). Quadratic — test fixtures only. */
  private[graft] def probeBrute(corpus: DataFrame, corpusId: String,
      corpusToks: Column, batch: DataFrame, batchId: String,
      batchToks: Column, tauNum: Int, tauDen: Int): DataFrame = {
    val a = corpus.select(col(corpusId).as("a_id"),
      array_distinct(corpusToks).as("__ta"))
      .filter(size(col("__ta")) > 0)
    val b = batch.select(col(batchId).as("b_id"),
      array_distinct(batchToks).as("__tb"))
      .filter(size(col("__tb")) > 0)
    a.crossJoin(b)
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb")))
        .cast("long"))
      .withColumn("uni",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("inter"))
      .filter(col("inter") * tauDen >= lit(tauNum.toLong) * col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }
}
