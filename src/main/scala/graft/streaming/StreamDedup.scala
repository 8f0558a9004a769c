package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, IndexMaintenance}
import graft.sources.StageSink

/** Streaming incremental near-dedup: each micro-batch dedups against
  * the corpus accumulated by every batch before it, via the on-disk
  * [[Dedup.MinhashIndex]] — the streaming face of the same
  * index-probe machinery batch ingest uses.
  *
  * `dropDuplicatesWithinWatermark` (StreamSessionize.streamingDedup)
  * covers EXACT dedup with bounded state; near-dedup state (shingle
  * sets + band keys for every retained doc) cannot live in a streaming
  * state store at corpus scale, so it lives where the batch path keeps
  * it: parquet. foreachBatch gives each micro-batch full batch-engine
  * semantics for the probe joins.
  *
  * This object also holds the multi-root index protocol the media and
  * embedding twins ([[StreamMediaDedup]], [[StreamEmbedDedup]]) share:
  * [[microBatchWriter]] is the one micro-batch body, [[indexRoots]]
  * the one root listing, [[compactRoots]] / [[compactRootsIfDue]] the
  * one fold, [[addTombstones]] / [[dropTombstoned]] the one deletion
  * table. Every file operation goes through the index directory's
  * Hadoop `FileSystem`, so `indexDir` may be any Hadoop path or URI.
  * README "Persisted indexes" describes the layout.
  */
object StreamDedup {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Index roots under `indexDir` (any folder holding an `entries`
    * table), minus `exclude`, listed through the active session's
    * Hadoop `FileSystem`. Underscore-prefixed folders are skipped —
    * that namespace is reserved for in-flight [[compact]] temp dirs,
    * so a crashed compaction never gets probed as a (partial) root. */
  private[graft] def indexRoots(
      indexDir: String, exclude: String = ""): Seq[Path] = {
    val dir = new Path(indexDir)
    val fs = fsOf(SparkSession.active, indexDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName != exclude &&
        !s.getPath.getName.startsWith("_") &&
        fs.exists(new Path(s.getPath, "entries")))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Mark ids as deleted across the WHOLE multi-root index: appended
    * to `<indexDir>/_tombstones` (the underscore namespace
    * [[indexRoots]] already skips), anti-joined by every probe union
    * from the next micro-batch on, and rewritten away by the next
    * [[compact]]. The per-root `<root>/tombstones` convention does
    * not fit here — a deleted id may live in any root, and probes
    * union the roots anyway, so one shared table filters them all. */
  def addTombstones(ids: DataFrame, indexDir: String): Unit =
    IndexMaintenance.addTombstonesAt(ids, s"$indexDir/_tombstones")

  /** The union's tombstone filter ([[addTombstones]]'s reader). */
  private[graft] def dropTombstoned(
      entries: DataFrame, spark: SparkSession,
      indexDir: String): DataFrame =
    IndexMaintenance.dropTombstonedAt(entries, spark,
      s"$indexDir/_tombstones")

  /** Fold every accumulated root (seed + deltas) into one fresh
    * `seed_<epoch>` root and delete the originals ([[compactRoots]]):
    * N roots means N parquet scans per probe, so long streams compact
    * to keep N small. Run while the stream is STOPPED (between
    * restarts). Returns the new root's name, or None when there was
    * nothing to fold. */
  def compact(spark: SparkSession, indexDir: String): Option[String] =
    compactRoots(spark, indexDir, minhashSaver)

  /** [[compact]] only when due ([[compactRootsIfDue]]). Call between
    * restarts like [[compact]] itself; returns the folded root's name
    * when it fired. */
  def compactIfDue(spark: SparkSession,
      indexDir: String, maxRoots: Int = 8,
      maxTombstoneBytes: Long = IndexMaintenance.DefaultMaxTombstoneBytes)
      : Option[String] =
    compactRootsIfDue(spark, indexDir, maxRoots, maxTombstoneBytes,
      minhashSaver)

  private val minhashSaver: (DataFrame, String) => Unit =
    (union, path) => Dedup.MinhashIndex(union).save(path, mode = "overwrite")

  /** The saver-agnostic due-check + fold behind every `compactIfDue`
    * — the hands-off cadence policy: more than `maxRoots` roots
    * (every probe pays one parquet scan per root) or pending
    * tombstones past `maxTombstoneBytes` (every probe pays their
    * anti-join). The tombstone trigger arms only when a root exists
    * to fold — with ZERO roots there is nothing a compact could
    * reclaim (pre-seeded tombstones stay live by the
    * never-surface-again contract), so firing would loop futilely. */
  private[streaming] def compactRootsIfDue(
      spark: SparkSession,
      indexDir: String, maxRoots: Int, maxTombstoneBytes: Long,
      save: (DataFrame, String) => Unit): Option[String] = {
    val roots = indexRoots(indexDir)
    if (roots.size > maxRoots ||
        (roots.nonEmpty && IndexMaintenance.tableBytes(
          spark, s"$indexDir/_tombstones") > maxTombstoneBytes))
      compactRoots(spark, indexDir, save)
    else None
  }

  /** The one fold behind every `compact`: fold every root's entries
    * (deduped on id — a crashed earlier compact leaves the same
    * entries in two roots, and folding them through would bake the
    * duplicates into every future seed), minus the tombstones, into
    * one fresh `seed_<epoch>` root via `save`, picking a NEW epoch
    * name each time (the old seed is among the roots being folded).
    *
    * Not atomic against a concurrent batch: run while the stream is
    * stopped. Crash discipline: the compacted root is written and
    * renamed into place BEFORE the originals are deleted, so a crash
    * can leave duplicate index entries (both the compacted root and
    * undeleted originals) but never lose any — duplicates cost probe
    * work, not correctness, and the next compact folds them away. */
  private[streaming] def compactRoots(
      spark: SparkSession,
      indexDir: String,
      save: (DataFrame, String) => Unit): Option[String] = {
    val roots = indexRoots(indexDir)
    // snapshot the tombstone FILES before the fold reads them: a
    // takedown appended while the fold runs lands as a new file the
    // cleanup below must keep (it was never anti-joined)
    val folded = IndexMaintenance.tombstoneFilesAt(
      spark, s"$indexDir/_tombstones")
    // a single root still compacts when tombstones are pending —
    // that rewrite is what reclaims their entries' bytes
    if (roots.isEmpty || (roots.length == 1 && folded.isEmpty))
      return None
    val seedEpochs = roots.map(_.getName)
      .filter(_.startsWith("seed_"))
      .flatMap(n => n.stripPrefix("seed_").toLongOption)
    val target = s"seed_${seedEpochs.maxOption.getOrElse(-1L) + 1L}"
    val union = dropTombstoned(
      roots
        .map(d => spark.read.parquet(s"$d/entries"))
        .reduce(_ unionByName _)
        .dropDuplicates("id"),
      spark, indexDir)
    val fs = fsOf(spark, indexDir)
    val tmp = new Path(indexDir, s"_compact_$target")
    save(union, tmp.toString)
    val dest = new Path(indexDir, target)
    require(fs.rename(tmp, dest), s"compact: rename $tmp -> $dest failed")
    roots.filter(_.getName != target).foreach(fs.delete(_, true))
    // only the tombstone files the fold actually applied rewrite away
    // (same ordering as the roots: after the new root is in place);
    // files appended since the snapshot stay live
    IndexMaintenance.reclaimTombstoneFiles(
      spark, s"$indexDir/_tombstones", folded)
    Some(target)
  }

  /** The one micro-batch body of the three streaming dedup writers.
    * Per non-empty micro-batch:
    *
    * - list the prior roots, EXCLUDING the batch's own
    *   `delta_b<batchId>` folder, so a replayed batch never dedups
    *   against its own partial state;
    * - pin the batch once on disk (it feeds the probe, the within-batch
    *   dedup and the survivor export; a batch can be arbitrarily large);
    * - read each root's `entries` with `readRoot` — one read per root,
    *   because partitioned roots reject a single multi-path read; the
    *   probe's partition filter pushes into every scan of the union —
    *   and drop the `_tombstones` ids from their union;
    * - `dedup` the pinned batch against that union (None when no root
    *   exists yet), returning the survivors and a saver for their
    *   delta index;
    * - export the survivors through [[StageSink.saveBatch]] under
    *   `<baseDir>/<stage>/<name>_b<batchId>`, then save the delta as
    *   `<indexDir>/delta_b<batchId>`.
    *
    * foreachBatch is at-least-once: both outputs are keyed on the batch
    * id and overwritten on retry. Callers pick the trigger and start. */
  private[streaming] def microBatchWriter(
      stream: DataFrame, baseDir: String, stage: String, name: String,
      indexDir: String, readRoot: (SparkSession, String) => DataFrame)(
      dedup: (DataFrame, Option[DataFrame]) => (DataFrame, String => Unit))
      : DataStreamWriter[Row] = {
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (batch.take(1).nonEmpty) {
        val spark = batch.sparkSession
        val own = f"delta_b$batchId%010d"
        val prior = indexRoots(indexDir, exclude = own)
          .map(d => readRoot(spark, s"$d/entries"))
        val pinned = batch.persist(StorageLevel.DISK_ONLY)
        try {
          val (survivors, saveDelta) = dedup(pinned,
            if (prior.isEmpty) None
            else Some(dropTombstoned(prior.reduce(_ unionByName _),
              spark, indexDir)))
          val kept = survivors.persist(StorageLevel.DISK_ONLY)
          try {
            StageSink.saveBatch(kept, baseDir, stage, name, batchId)
            saveDelta(s"$indexDir/$own")
          } finally kept.unpersist()
        } finally pinned.unpersist()
      }
    }
    stream.writeStream
      .outputMode("append")
      .foreachBatch(exportBatch)
  }

  /** foreachBatch writer ([[microBatchWriter]]): near-dedup each
    * micro-batch against the accumulated MinHash index with
    * [[Dedup.incrementalDedup]], which featurizes the batch once for
    * the probe, the within-batch dedup and the delta. A pre-seeded
    * corpus index can be placed at `<indexDir>/seed/entries`
    * ([[Dedup.MinhashIndex.save]] into `<indexDir>/seed`). */
  def incrementalWriter(
      stream: DataFrame, idCol: String, textCol: String,
      baseDir: String, stage: String, name: String, indexDir: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataStreamWriter[Row] =
    microBatchWriter(stream, baseDir, stage, name, indexDir,
      _.read.parquet(_)) { (batch, prior) =>
      val index = Dedup.MinhashIndex(prior.getOrElse(
        Dedup.buildMinhashIndex(batch.limit(0), idCol, textCol,
          shingleN, numHashes, bands).entries))
      val (survivors, delta) = Dedup.incrementalDedup(batch, index,
        idCol, textCol, shingleN, numHashes, bands, threshold)
      (survivors, delta.save(_, mode = "overwrite"))
    }
}
