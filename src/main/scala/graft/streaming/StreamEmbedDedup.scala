package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Dedup

/** Streaming incremental EMBEDDING near-dedup — the third face of the
  * [[StreamDedup]] contract, probing the persisted sign-bucket index
  * ([[Dedup.EmbeddingIndex]]): each micro-batch of (id, vector) rows
  * bucket-hashes once, dedups against the corpus accumulated by every
  * batch before it (hyperplane-LSH candidates + exact-cosine verify),
  * keeps the minimum id per within-batch near-dup cluster, and emits
  * the survivors' delta index for the next batch. Completes the
  * streaming incremental family: text MinHash ([[StreamDedup]]),
  * media perceptual hashes ([[StreamMediaDedup]]), embeddings (this).
  *
  * Index layout, replay discipline and maintenance are StreamDedup's
  * shared helpers ([[StreamDedup.microBatchWriter]],
  * [[StreamDedup.compactRoots]]) over shard-partitioned roots (a
  * probing batch prunes to its own sign-buckets' shards); an optional
  * pre-seeded corpus goes at `<indexDir>/seed/entries`. The same
  * (dim, numPlanes) MUST be
  * used for every batch of one index — bucket hashes from different
  * parameters never match (the [[Dedup.buildEmbeddingIndex]]
  * contract).
  */
object StreamEmbedDedup {

  /** Fold every accumulated root into one fresh `seed_<epoch>` root
    * ([[StreamDedup.compactRoots]]) over the embedding index's (id,
    * vec, shard, bucket, norm) schema. Run while the stream is
    * stopped. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[String] =
    StreamDedup.compactRoots(spark, indexDir, embedSaver)

  /** [[compact]] behind StreamDedup's shared root-count/tombstone-
    * bytes cadence policy. */
  def compactIfDue(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, maxRoots: Int = 8,
      maxTombstoneBytes: Long =
        graft.operators.IndexMaintenance.DefaultMaxTombstoneBytes)
      : Option[String] =
    StreamDedup.compactRootsIfDue(spark, indexDir, maxRoots,
      maxTombstoneBytes, embedSaver)

  private val embedSaver:
      (org.apache.spark.sql.DataFrame, String) => Unit =
    (union, path) =>
      Dedup.EmbeddingIndex(union).save(path, mode = "overwrite")

  /** foreachBatch writer ([[StreamDedup.microBatchWriter]]):
    * near-dedup each micro-batch of embedding rows against the
    * accumulated sign-bucket index with
    * [[Dedup.incrementalEmbeddingDedup]]. */
  def incrementalWriter(
      stream: DataFrame, idCol: String, vecCol: String, dim: Int,
      baseDir: String, stage: String, name: String, indexDir: String,
      numPlanes: Int = 8, threshold: Double = 0.8): DataStreamWriter[Row] =
    StreamDedup.microBatchWriter(stream, baseDir, stage, name, indexDir,
      _.read.parquet(_)) { (batch, prior) =>
      val index = Dedup.EmbeddingIndex(prior.getOrElse(
        Dedup.buildEmbeddingIndex(
          batch.limit(0), idCol, vecCol, dim, numPlanes).entries))
      val (survivors, delta) = Dedup.incrementalEmbeddingDedup(
        batch, index, idCol, vecCol, dim, numPlanes, threshold)
      (survivors, delta.save(_, mode = "overwrite"))
    }
}
