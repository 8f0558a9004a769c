package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.Multimodal

/** Streaming incremental MEDIA near-dedup — [[StreamDedup]]'s
  * continuous-ingest contract for binary media columns, probing the
  * persisted perceptual-hash index ([[Multimodal.MediaHashIndex]])
  * instead of the MinHash text index: each micro-batch's assets
  * decode ONCE, fingerprint to 8 bytes, dedup against the corpus
  * accumulated by every batch before it (kind-segregated banded
  * Hamming + exact bit_count verify), within-batch clusters keep
  * their minimum id, quarantined (undecodable) rows flow through as
  * survivors without ever entering the index.
  *
  * Index layout, replay discipline and maintenance are StreamDedup's
  * shared helpers ([[StreamDedup.microBatchWriter]],
  * [[StreamDedup.compactRoots]]) over kind-partitioned roots; an
  * optional pre-seeded corpus goes at `<indexDir>/seed/entries`.
  * State per corpus asset is 8 bytes + id + kind — the
  * lightest of the incremental indexes, and the reason this CAN run
  * forever: the media bytes themselves are never re-read.
  */
object StreamMediaDedup {

  /** Fold every accumulated root into one fresh `seed_<epoch>` root
    * ([[StreamDedup.compactRoots]]) over the media index's (id, kind,
    * dhash) schema. Run while the stream is stopped. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[String] =
    StreamDedup.compactRoots(spark, indexDir, mediaSaver)

  /** [[compact]] behind StreamDedup's shared root-count/tombstone-
    * bytes cadence policy. */
  def compactIfDue(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, maxRoots: Int = 8,
      maxTombstoneBytes: Long =
        graft.operators.IndexMaintenance.DefaultMaxTombstoneBytes)
      : Option[String] =
    StreamDedup.compactRootsIfDue(spark, indexDir, maxRoots,
      maxTombstoneBytes, mediaSaver)

  private val mediaSaver:
      (org.apache.spark.sql.DataFrame, String) => Unit =
    (union, path) => Multimodal.MediaHashIndex(
      union.select("id", "kind", "dhash")).save(path, mode = "overwrite")

  /** foreachBatch writer ([[StreamDedup.microBatchWriter]]):
    * near-dedup each micro-batch of media rows against the accumulated
    * perceptual-hash index with [[Multimodal.incrementalMediaDedup]],
    * which pins the decoded hash frame internally. */
  def incrementalWriter(
      stream: DataFrame, idCol: String, bytesCol: String,
      kindCol: String, baseDir: String, stage: String, name: String,
      indexDir: String, maxHamming: Int = 3): DataStreamWriter[Row] =
    StreamDedup.microBatchWriter(stream, baseDir, stage, name, indexDir,
      _.read.parquet(_).select("id", "kind", "dhash")) { (batch, prior) =>
      val index = Multimodal.MediaHashIndex(prior.getOrElse(
        Multimodal.buildMediaHashIndex(
          batch.limit(0), idCol, bytesCol, kindCol).entries))
      val (survivors, delta) = Multimodal.incrementalMediaDedup(
        batch, index, idCol, bytesCol, kindCol, maxHamming)
      (survivors, delta.save(_, mode = "overwrite"))
    }
}
