package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Ann

/** Streaming ANN: each micro-batch of query vectors searches a FROZEN
  * persisted PQ/OPQ index — the retrieval face of the frozen-model
  * streaming contract (StreamDsir's scoring model, StreamLangId's
  * weights, StreamUnimax's rates): the index directory is loaded ONCE
  * when the stream starts (its codebooks/centroids/rotation are
  * bounded driver artifacts; the encoded corpus stays a lazy parquet
  * scan), and every batch's search is then a pure batch-engine job —
  * probe + ADC + optional exact rerank — with NO streaming state.
  * foreachBatch because the search is a multi-join aggregate no
  * state-store operator expresses; at-least-once replays are
  * harmless-by-construction (the search writes nothing, and `sink`
  * receives the batch id to key its own output like StageSink does).
  *
  * Tombstones added to the index dir mid-stream apply from the NEXT
  * stream start (the load is the freeze point) — same re-freeze
  * cadence as every other frozen model.
  *
  * INGEST ([[ingestWriter]], [[sq8IngestWriter]]) commits each
  * micro-batch as its own batch-id-keyed delta root through
  * [[graft.operators.Ann.writeDelta]], the writer `appendOpqIndex`
  * uses, instead of `mode("append")` (which is NOT idempotent under
  * foreachBatch's at-least-once replay). The models stay frozen for
  * the stream's lifetime — FAISS add() semantics: new vectors
  * quantize against the ORIGINAL training distribution; retrain +
  * rebuild when the corpus moves.
  */
object StreamAnn {

  /** foreachBatch ingest: encode each micro-batch of raw vectors
    * under `idx`'s frozen models into the batch's delta root
    * ([[deltaIngest]]). Callers pick the trigger and start; searches
    * pick the grown corpus up at their next [[Ann.loadOpqIndex]].
    * Run [[graft.operators.IndexMaintenance.compactPqIndex]] only
    * while the stream is STOPPED (between restarts) — the fold is
    * not atomic against a concurrent ingest. */
  def ingestWriter(stream: DataFrame, idx: Ann.PersistedPqIndex,
      indexDir: String): DataStreamWriter[Row] =
    deltaIngest(stream, indexDir)(Ann.encodeForIndex(idx, _))

  /** The one batch-keyed delta writer behind both ingest faces: each
    * micro-batch's `encode`d rows become `index_delta/b<batchId>`
    * through [[Ann.writeDelta]]. Empty batches write nothing, and a
    * replay of an ALREADY-COMMITTED batch is a true no-op (see
    * `writeDelta`). */
  private def deltaIngest(stream: DataFrame, indexDir: String)(
      encode: DataFrame => DataFrame): DataStreamWriter[Row] = {
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      Ann.writeDelta(batch.sparkSession, indexDir, f"b$batchId%010d")(
        if (batch.take(1).isEmpty) None else Some(encode(batch)))
    }
    stream.writeStream.outputMode("append").foreachBatch(exportBatch)
  }

  /** foreachBatch writer: top-`k` neighbours of each micro-batch's
    * query vectors against the frozen `idx`. `corpus` supplies raw
    * vectors for the exact rerank (untouched when `refine` = 0 —
    * pure-ADC streaming search needs no corpus reads at all).
    * `excludeSelf` defaults OFF here: live query ids and corpus ids
    * are distinct namespaces in the streaming shape. Callers pick
    * the trigger and start. */
  def searchWriter(
      stream: DataFrame, idx: Ann.PersistedPqIndex, corpus: DataFrame,
      k: Int, nprobe: Int, refine: Int = 0,
      excludeSelf: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      sink(Ann.searchOpqIndex(idx, corpus, batch, k, nprobe, refine,
        excludeSelf), batchId)
    }
    stream.writeStream.outputMode("append").foreachBatch(exportBatch)
  }

  /** [[ingestWriter]] for a persisted SQ8 directory ([[Ann
    * .saveSq8Index]]): each micro-batch encodes under the FROZEN
    * scales + centroids the load built. Same compaction rule:
    * [[graft.operators.IndexMaintenance.compactSq8Index]] only while
    * the stream is stopped. */
  def sq8IngestWriter(stream: DataFrame, idx: Ann.PersistedSq8Index,
      indexDir: String): DataStreamWriter[Row] =
    deltaIngest(stream, indexDir)(Ann.encodeForIndex(idx, _))

  /** [[searchWriter]] against a frozen persisted SQ8 index. `refine`
    * defaults to 4 (not 0): SQ8 scoring is candidate SELECTION by
    * contract — the exact rerank is what makes the output exact
    * cosine, so a pure-ADC mode does not exist on this path. */
  def sq8SearchWriter(
      stream: DataFrame, idx: Ann.PersistedSq8Index, corpus: DataFrame,
      k: Int, nprobe: Int, refine: Int = 4,
      excludeSelf: Boolean = false)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      sink(Ann.searchSq8Index(idx, corpus, batch, k, nprobe, refine,
        excludeSelf), batchId)
    }
    stream.writeStream.outputMode("append").foreachBatch(exportBatch)
  }

  /** HYBRID streaming retrieval — q193's fusion as a stream face:
    * each micro-batch of query DOCUMENTS (id, text, vector) runs the
    * lexical arm against a frozen document corpus and the dense arm
    * against a frozen persisted SQ8 index, then fuses by reciprocal
    * rank ([[graft.operators.Retrieval.rrfFuse]]). Both corpora are
    * frozen for the stream's lifetime (the load is the freeze point —
    * the same contract as every other frozen-model stream here); NO
    * streaming state, so at-least-once replays are harmless and the
    * sink keys its output by batch id. `excludeSelf` is off: live
    * query ids and corpus ids are distinct namespaces. */
  def hybridSearchWriter(
      stream: DataFrame, corpusDocs: DataFrame,
      idx: Ann.PersistedSq8Index, corpusVecs: DataFrame,
      idCol: String, textCol: String, vecCol: String,
      kPerArm: Int, k: Int, nprobe: Int, refine: Int = 4)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Retrieval
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val lex = Retrieval.lexicalJaccardTopK(
        corpusDocs, batch.select(col(idCol), col(textCol)),
        idCol, textCol, kPerArm, excludeSelf = false)
      // the index speaks its own column names (idx.idCol/idx.vecCol,
      // e.g. vec_id/embedding); the stream's query schema maps onto
      // them here so one writer serves any (id, text, vector) stream
      val dense = Ann.searchSq8Index(idx, corpusVecs,
        batch.select(col(idCol).as(idx.idCol), col(vecCol).as(idx.vecCol)),
        kPerArm, nprobe, refine, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      sink(Retrieval.rrfFuse(Seq(lex, dense), k), batchId)
    }
    stream.writeStream.outputMode("append").foreachBatch(exportBatch)
  }
}
