package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle maintenance for the persisted corpus indexes
  * ([[Dedup.MinhashIndex]], [[Dedup.EmbeddingIndex]],
  * [[graft.operators.SetSimilarity.SetSimIndex]],
  * [[graft.sources.Multimodal.MediaHashIndex]], and the
  * [[Ann.saveOpqIndex]] / [[Ann.saveSq8Index]] encoded directories):
  * the shared save and load of single-root `entries` tables
  * ([[saveEntries]], [[loadEntries]]), DELETION and COMPACTION.
  * README "Persisted indexes" describes every layout.
  *
  * Deletion is by TOMBSTONE, the standard LSM/inverted-index recipe:
  * removing a document from a 100 TB corpus index must not rewrite
  * the index (that is a full-corpus job), so [[addTombstones]] appends
  * the ids to a side table (`<dir>/tombstones`, one tiny parquet per
  * call) and every `load` anti-joins it ([[dropTombstoned]]) — a
  * takedown is visible to the NEXT probe at the cost of one
  * broadcast-sized join, with the shard-pruned scan underneath
  * untouched (the probe's shard filter pushes through the anti-join to
  * the file scan; `Dedup.isFileBacked` recognises the shape). Their
  * bytes are reclaimed by the next compaction.
  *
  * Compaction ([[compactMinhashIndex]] and siblings) rewrites the
  * index without the tombstoned rows through the index's own `save`
  * ([[compactRoot]]), and swaps it in crash-safely ([[swapIn]],
  * [[recover]]); loads heal an unreadable interrupted swap
  * ([[healUnreadable]]) and appends [[recover]] one before writing.
  * Run compaction while the index has no
  * concurrent writer, like every compacting store.
  *
  * The streaming multi-root layout keeps its tombstones at
  * `<indexDir>/_tombstones` and folds its roots with
  * [[graft.streaming.StreamDedup.compactRoots]].
  */
object IndexMaintenance {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one `entries` save of the single-root indexes
    * ([[Dedup.MinhashIndex]], [[Dedup.EmbeddingIndex]],
    * [[graft.sources.Multimodal.MediaHashIndex]],
    * [[SetSimilarity.SetSimIndex]]): `<dir>/entries` parquet,
    * partitioned by `partCol` so probes prune their fetch. An EMPTY
    * table (a streaming delta whose batch had no survivors) writes
    * unpartitioned: partitionBy on empty input emits no files at all,
    * leaving a folder whose schema cannot be inferred back; the empty
    * parquet file keeps `partCol` as a data column, which unions
    * cleanly with partitioned reads. Returns whether the table was
    * empty, so a table derived from the same rows (SetSimIndex's
    * postings) takes the same layout without a second emptiness job. */
  private[graft] def saveEntries(entries: DataFrame, dir: String,
      partCol: String, mode: String): Boolean = {
    val empty = entries.isEmpty
    saveTable(entries, s"$dir/entries", partCol, mode, empty)
    empty
  }

  /** [[saveEntries]]' layout rule for any table path. */
  private[graft] def saveTable(df: DataFrame, path: String,
      partCol: String, mode: String, empty: Boolean): Unit = {
    val w = df.write.mode(mode)
    if (empty) w.parquet(path) else w.partitionBy(partCol).parquet(path)
  }

  /** The one `entries` load of the single-root indexes: heal an
    * interrupted compaction of `subs` ([[healUnreadable]]), read
    * `<dir>/entries`, let `prepare` project or backfill columns (an
    * index saved before its partition column existed gets it
    * recomputed), and drop the tombstoned ids ([[dropTombstoned]]). */
  private[graft] def loadEntries(spark: SparkSession, dir: String,
      subs: Seq[String] = Seq("entries"),
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    healUnreadable(spark, dir, subs)
    dropTombstoned(prepare(spark.read.parquet(s"$dir/entries")), spark, dir)
  }

  /** Mark ids as deleted: append them to `<dir>/tombstones`. `ids`
    * must be a single column of the SAME TYPE as the index's id (a
    * mismatched type would silently anti-join nothing). Idempotent —
    * duplicate tombstones cost nothing beyond their bytes.
    *
    * A tombstone means "this id must never surface again": it is
    * ID-ONLY (the indexes carry no per-row sequence numbers), so a
    * row RE-APPENDED under a tombstoned id is also filtered, and a
    * compaction running after the re-append drops the new row
    * physically while clearing the tombstone. Re-ingesting corrected
    * content takes a NEW id (the content-addressed ids the dedup
    * stack already favors make this natural) — never a tombstoned
    * one. */
  def addTombstones(ids: DataFrame, dir: String): Unit =
    addTombstonesAt(ids, s"$dir/tombstones")

  /** Tombstone-table primitive at an explicit path — the streaming
    * multi-root layout keeps its table at `<indexDir>/_tombstones`
    * instead of inside any one root. */
  private[graft] def addTombstonesAt(ids: DataFrame, path: String): Unit = {
    require(ids.columns.length == 1,
      s"addTombstones: one id column expected, got ${ids.columns.mkString(", ")}")
    ids.toDF("id").write.mode("append").parquet(path)
  }

  /** The live tombstone set, if any. */
  private[graft] def readTombstones(
      spark: SparkSession, dir: String): Option[DataFrame] =
    readTombstonesAt(spark, s"$dir/tombstones")

  private[graft] def readTombstonesAt(
      spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(p.toString))
    else None
  }

  /** `entries` minus the tombstoned ids — what every index `load`
    * applies. The anti-join's right side is the (tiny) tombstone
    * table; probes' shard filters still push through to the scan. */
  private[graft] def dropTombstoned(
      entries: DataFrame, spark: SparkSession, dir: String,
      idCol: String = "id"): DataFrame =
    dropTombstonedAt(entries, spark, s"$dir/tombstones", idCol)

  private[graft] def dropTombstonedAt(
      entries: DataFrame, spark: SparkSession, path: String,
      idCol: String = "id"): DataFrame =
    readTombstonesAt(spark, path) match {
      case Some(t) =>
        entries.join(t.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      case None => entries
    }

  // ------------------------------------------------------------------
  // In-place single-root compaction
  // ------------------------------------------------------------------

  /** Compact a [[Dedup.MinhashIndex]] directory: rewrite `entries`
    * without tombstoned ids, swap it in, drop the tombstones. */
  def compactMinhashIndex(spark: SparkSession, dir: String): Unit =
    compactRoot(spark, dir, Seq("entries")) { tmp =>
      Dedup.MinhashIndex.load(spark, dir).save(tmp, mode = "overwrite")
    }

  /** Compact a [[Dedup.EmbeddingIndex]] directory. */
  def compactEmbeddingIndex(spark: SparkSession, dir: String): Unit =
    compactRoot(spark, dir, Seq("entries")) { tmp =>
      Dedup.EmbeddingIndex.load(spark, dir).save(tmp, mode = "overwrite")
    }

  /** Compact a [[SetSimilarity.SetSimIndex]] directory: entries and
    * the token-keyed postings are rebuilt without tombstoned ids;
    * `dfreq` is carried over UNCHANGED — the frozen token order is
    * the index's correctness contract (any consistent order is valid,
    * so deletions never force a re-count; see SetSimIndex's scaladoc
    * on drift). */
  def compactSetSimIndex(spark: SparkSession, dir: String): Unit =
    compactRoot(spark, dir, Seq("entries", "dfreq", "postings")) { tmp =>
      SetSimilarity.SetSimIndex.load(spark, dir).save(tmp, mode = "overwrite")
    }

  /** Compact a [[graft.sources.Multimodal.MediaHashIndex]] directory. */
  def compactMediaHashIndex(spark: SparkSession, dir: String): Unit =
    compactRoot(spark, dir, Seq("entries")) { tmp =>
      graft.sources.Multimodal.MediaHashIndex.load(spark, dir)
        .save(tmp, mode = "overwrite")
    }

  /** Compact an [[Ann.saveOpqIndex]] directory: the encoded corpus
    * (`index`) rewrites with the streaming-ingest delta roots folded
    * in and the tombstoned ids dropped — centroids, codebooks,
    * rotation and meta are frozen model artifacts deletion never
    * touches. Folded deltas delete only AFTER the swap (a crash
    * between leaves duplicates, which load's id-dedup heals and the
    * next compact removes — never loses rows). */
  def compactPqIndex(spark: SparkSession, dir: String): Unit =
    compactEncodedIndex(spark, dir) {
      // loadOpqIndex's pqIndex IS the fold: base ∪ deltas, id-deduped,
      // tombstones dropped
      Ann.loadOpqIndex(spark, dir).pqIndex
    }

  /** [[compactPqIndex]] for an [[Ann.saveSq8Index]] directory — same
    * layout (`index` + content-keyed delta roots + tombstones + frozen
    * model artifacts), same fold-swap-reclaim cycle; only the loader
    * differs. */
  def compactSq8Index(spark: SparkSession, dir: String): Unit =
    compactEncodedIndex(spark, dir) {
      Ann.loadSq8Index(spark, dir).codes
    }

  /** Shared compact cycle for encoded-corpus index directories (PQ and
    * SQ8): rewrite `index` from the loader's folded view, swap in,
    * then reclaim the folded delta roots. */
  private def compactEncodedIndex(spark: SparkSession, dir: String)(
      fold: => org.apache.spark.sql.DataFrame): Unit = {
    val foldedDeltas = Ann.deltaRoots(spark, dir) // snapshot pre-rewrite
    compactRoot(spark, dir, Seq("index")) { tmp =>
      fold.write.mode("overwrite").parquet(s"$tmp/index")
    }
    val fs = fsOf(spark, dir)
    // only reclaim folders STILL committed: a folder whose _SUCCESS is
    // gone was being rewritten underneath us — the fold may not have
    // read it, so deleting it could lose rows (compaction should run
    // with ingest stopped, but this keeps a violation non-destructive)
    foldedDeltas
      .filter(d => fs.exists(new Path(s"$d/_SUCCESS")))
      .foreach(d => fs.delete(new Path(d), true))
    val deltaDir = Ann.deltaDir(dir)
    if (fs.exists(deltaDir) && fs.listStatus(deltaDir).isEmpty)
      fs.delete(deltaDir, true)
  }

  /** Shared compact core: recover any interrupted swap, write the
    * rewrite (tombstones applied by the index's own `load`) under
    * `<dir>/_compact`, swap each sub-table in, delete the old data
    * and the tombstone table. `write` receives the tmp root and must
    * produce every name in `subs` (a missing OPTIONAL sub — e.g. a
    * pre-postings SetSimIndex — is skipped by the swap). It reuses
    * the index's own `save`, so partition layout, the empty-input
    * guard, and derived tables like SetSimIndex's postings are rebuilt
    * by the same code that built them. Crash discipline: every
    * `_compact` sub-table carries parquet's `_SUCCESS` marker, the
    * swap runs only when every expected sub-table is complete, and
    * [[recover]] (called on entry) finishes or discards an interrupted
    * swap — a crash can leave the old and new data side by side but
    * never lose the index. */
  private def compactRoot(spark: SparkSession, dir: String,
      subs: Seq[String])(write: String => Unit): Unit = {
    val fs = fsOf(spark, dir)
    recover(spark, dir, subs)
    val tmp = s"$dir/_compact"
    if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
    // snapshot the tombstone FILES before the rewrite: a takedown
    // appended while the rewrite runs lands as a NEW file, which the
    // swap must NOT delete (it was never anti-joined) — only the
    // files the rewrite actually folded in are reclaimed
    val folded = tombstoneFiles(spark, dir)
    write(tmp)
    swapIn(spark, dir, subs, dropTombstoneFiles = folded)
  }

  /** The tombstone table's current part files (empty when absent). */
  private[graft] def tombstoneFiles(
      spark: SparkSession, dir: String): Seq[Path] =
    tombstoneFilesAt(spark, s"$dir/tombstones")

  private[graft] def tombstoneFilesAt(
      spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath)
  }

  /** Delete exactly `files` from a tombstone table, and the table
    * directory itself only when nothing newer remains. */
  private[graft] def reclaimTombstoneFiles(
      spark: SparkSession, tablePath: String, files: Seq[Path]): Unit = {
    if (files.isEmpty) return
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(f => fs.delete(f, false))
    if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, true)
  }

  /** `_compact/<sub>` is complete iff parquet committed it. */
  private def complete(spark: SparkSession, dir: String, sub: String): Boolean =
    fsOf(spark, dir).exists(new Path(s"$dir/_compact/$sub/_SUCCESS"))

  /** Move every completed `_compact` sub-table into place, then drop
    * the trash and the `_compact` root. `dropTombstoneFiles` is the
    * pre-rewrite snapshot of the tombstone table — ONLY those files
    * are reclaimed (tombstones appended after the snapshot were never
    * anti-joined; deleting them would resurrect deleted ids). The
    * recovery path passes the empty snapshot for the same reason: a
    * recovered rewrite may predate any of the live tombstones, and
    * keeping already-folded tombstones is a harmless no-op anti-join.
    * Only called when every live sub present in `_compact` is
    * complete. */
  private def swapIn(spark: SparkSession, dir: String,
      subs: Seq[String], dropTombstoneFiles: Seq[Path]): Unit = {
    val fs = fsOf(spark, dir)
    val present = subs.filter(s => fs.exists(new Path(s"$dir/_compact/$s")))
    require(present.forall(complete(spark, dir, _)),
      s"compact: incomplete rewrite under $dir/_compact")
    present.foreach { s =>
      val live = new Path(s"$dir/$s")
      val trash = new Path(s"$dir/_trash_$s")
      if (fs.exists(live)) require(fs.rename(live, trash),
        s"compact: rename $live -> $trash failed")
      require(fs.rename(new Path(s"$dir/_compact/$s"), live),
        s"compact: rename _compact/$s -> $live failed")
    }
    subs.foreach(s => fs.delete(new Path(s"$dir/_trash_$s"), true))
    fs.delete(new Path(s"$dir/_compact"), true)
    reclaimTombstoneFiles(spark, s"$dir/tombstones", dropTombstoneFiles)
  }

  /** The one tombstone-bytes policy default, shared by every trigger
    * ([[compactDue]], [[pqCompactDue]], StreamDedup.compactIfDue) so
    * a retune cannot drift the three apart. */
  val DefaultMaxTombstoneBytes: Long = 64L << 20

  /** Hands-off compaction trigger for a single-root index: true when
    * the pending tombstone table exceeds `maxTombstoneBytes` — the
    * deletion state every probe pays an anti-join for. Pair with the
    * matching compact: `if (compactDue(spark, dir))
    * compactMinhashIndex(spark, dir)`. The PQ directory adds a
    * delta-root trigger — see [[pqCompactDue]]. */
  def compactDue(spark: SparkSession, dir: String,
      maxTombstoneBytes: Long = DefaultMaxTombstoneBytes): Boolean =
    tableBytes(spark, s"$dir/tombstones") > maxTombstoneBytes

  /** [[compactDue]] for an [[Ann.saveOpqIndex]] directory: also fires
    * when streaming-ingest delta roots accrete past `maxDeltas`
    * (every load unions one scan per root, plus the id-dedup
    * exchange deltas force). */
  def pqCompactDue(spark: SparkSession, dir: String,
      maxDeltas: Int = 8,
      maxTombstoneBytes: Long = DefaultMaxTombstoneBytes): Boolean =
    Ann.deltaRoots(spark, dir).size > maxDeltas ||
      compactDue(spark, dir, maxTombstoneBytes)

  /** Total bytes under a table path; 0 when absent — including a
    * deletion racing between the existence check and the summary (a
    * due-check is exactly the read-side poll that runs beside a
    * compaction's reclaim). */
  private[graft] def tableBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) 0L
    else try fs.getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Reader-side healing: if a crash between [[swapIn]]'s two renames
    * left a live sub-table MISSING (the only state that makes a load
    * fail), finish or discard the interrupted swap so the index is
    * readable again. Deliberately narrower than [[recover]]-on-entry:
    * loads are concurrent, and mutating renames from a read path must
    * only happen when the alternative is an unreadable index. The
    * fast path (everything present) is one exists() per sub. */
  private[graft] def healUnreadable(spark: SparkSession, dir: String,
      subs: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    val missing = subs.filter(s => !fs.exists(new Path(s"$dir/$s")))
    if (missing.nonEmpty &&
        (fs.exists(new Path(s"$dir/_compact")) ||
          missing.exists(s => fs.exists(new Path(s"$dir/_trash_$s")))))
      recover(spark, dir, subs)
  }

  /** Finish or discard an interrupted compaction. If every sub-table
    * the interrupted run wrote is complete, the swap is REDONE in
    * full (the rewrite already has the tombstones folded in, so
    * finishing it is always safe); otherwise the partial rewrite is
    * discarded, any sub-table caught mid-rename is restored from its
    * trash copy, and the tombstones are kept (they were never
    * applied). Idempotent; called by every compact entry and by
    * every append before it writes. */
  private[graft] def recover(spark: SparkSession, dir: String,
      subs: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/_compact")
    val written = subs.filter(s => fs.exists(new Path(s"$dir/_compact/$s")))
    if (fs.exists(tmp) && written.nonEmpty &&
        written.forall(complete(spark, dir, _))) {
      swapIn(spark, dir, subs, dropTombstoneFiles = Seq.empty)
    } else {
      fs.delete(tmp, true)
      subs.foreach { s =>
        val live = new Path(s"$dir/$s")
        val trash = new Path(s"$dir/_trash_$s")
        if (!fs.exists(live) && fs.exists(trash))
          require(fs.rename(trash, live),
            s"compact recover: rename $trash -> $live failed")
        fs.delete(trash, true)
      }
    }
  }
}
