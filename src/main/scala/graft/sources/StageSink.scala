package graft.sources

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Timestamped, stage-foldered export sink + source (ref: votervoice/
  * __main__.py:12-30 save_records — EXTRACT_FILES/TRANSFORMED_FILES/
  * MATCHED_FILES/QUERY_FILES folders, exports named
  * `<name>_<session->?<timestamp>` with timestamp
  * %Y-%m-%d-%H%M%S-%f).
  *
  * Spark-first: the export is a distributed write (parquet by default —
  * columnar, splittable; CSV kept for reference-compatible handoff).
  * The timestamp is injectable so tests and replays are deterministic.
  * `loadLatest` picks the newest export for a (stage, name) the way
  * the reference's -t/-m flows re-read a prior stage's file.
  */
object StageSink {

  val Stages = Seq("EXTRACT_FILES", "TRANSFORMED_FILES", "MATCHED_FILES",
    "QUERY_FILES")

  // reference: datetime.strftime(..., "%Y-%m-%d-%H%M%S-%f"); every
  // field is fixed-width, so each stamp is exactly StampWidth chars
  private val StampPattern = "yyyy-MM-dd-HHmmss-SSSSSS"
  private val StampWidth = StampPattern.length
  private val fmt = DateTimeFormatter.ofPattern(StampPattern)
    .withZone(ZoneOffset.UTC)

  def stamp(at: Instant): String = fmt.format(at)

  /** Writes `df` to
    * `<baseDir>/<stage>/<name>_[<info->]<timestamp>` and returns the
    * path. The export keeps the frame's own partitioning: one file per
    * partition, the right call at scale.
    */
  def save(
      df: DataFrame, baseDir: String, stage: String, name: String,
      at: Instant, additionalInfo: Seq[String] = Nil,
      format: String = "parquet"): String = {
    val infix =
      if (additionalInfo.isEmpty) "" else additionalInfo.mkString("-") + "-"
    writeTo(df, baseDir, stage, s"${name}_$infix${stamp(at)}", format)
  }

  /** Batch-id-keyed snapshot: `<baseDir>/<stage>/<name>_b<batchId>`.
    * The folder name is DETERMINISTIC for a given batch id — a retried
    * micro-batch (foreachBatch is at-least-once: write done, checkpoint
    * commit lost) recomputes the same path, and `mode("overwrite")`
    * makes the replay idempotent: the retry rewrites the same folder
    * with the same deterministic bytes. (A wall-clock stamp in the name
    * would fork a fresh folder on every retry = silent duplicates;
    * `mode("error")` would throw on every restart once a partial folder
    * exists = a wedged stream.) The zero-padded id keeps batch order
    * equal to name order. */
  def saveBatch(
      df: DataFrame, baseDir: String, stage: String, name: String,
      batchId: Long, format: String = "parquet"): String =
    writeTo(df, baseDir, stage, f"${name}_b$batchId%010d", format,
      mode = "overwrite")

  private def writeTo(
      df: DataFrame, baseDir: String, stage: String, folder: String,
      format: String, mode: String = "error"): String = {
    require(Stages.contains(stage), s"unknown stage $stage (want $Stages)")
    val path = s"$baseDir/$stage/$folder"
    val writer = df.write.mode(mode)
    (format match {
      case "csv" => writer.option("header", "true")
      case _ => writer
    }).format(format).save(path)
    path
  }

  // `name_b0000000042` -> Some(42); anything else -> None. Accepts any
  // run of >= 10 digits after the 'b': %010d pads to 10 but emits MORE
  // digits past batch 10^10, and classifying those as "timestamped"
  // would trip the mixed-kind guard below forever. Numeric comparison
  // handles the variable widths.
  private def batchIdOf(name: String, folder: String): Option[Long] = {
    val suffix = folder.stripPrefix(s"${name}_")
    if (suffix.length >= 11 && suffix.head == 'b' &&
      suffix.tail.forall(_.isDigit)) Some(suffix.tail.toLong) else None
  }

  /** Loads the newest committed export matching `<name>_*` under the
    * stage folder. Only a folder holding `_SUCCESS` is loaded: a write
    * that failed or is still running leaves its folder without the
    * marker, and reading it would fail or see partial data.
    * Batch-keyed exports (`name_b<10-digit id>`) compare by NUMERIC
    * batch id; timestamped exports compare by their fixed-width
    * trailing stamp (the reference's `%Y-%m-%d-%H%M%S-%f` format sorts
    * correctly as a string), so the session infix does not decide
    * which is newest. The two kinds carry incomparable keys (a batch
    * counter vs a wall clock), so a (stage, name) must hold only one
    * kind — mixing them fails loudly here rather than silently
    * returning whichever sorts last. The folder is listed through the
    * Hadoop `FileSystem` of its path, so any base directory `save`
    * writes to (`file:`, HDFS, …) reads back.
    *
    * Concurrency caveat: a batch-keyed replay rewrites its folder with
    * `mode("overwrite")`, which deletes before rewriting. A reader that
    * lists during the retry window skips that folder (no `_SUCCESS`
    * yet) and loads the previous committed export; one that listed it
    * just before the delete can still fail or see partial data.
    * Acceptable for the stage-handoff cadence (reader and writer are
    * phases of one pipeline, not concurrent services); for stronger
    * guarantees write to a temp folder and atomically rename over the
    * target. */
  def loadLatest(
      spark: SparkSession, baseDir: String, stage: String, name: String,
      format: String = "parquet"): DataFrame = {
    val dir = new Path(s"$baseDir/$stage")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil
    val candidates = listed.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(s"${name}_"))
    val (batchKeyed, stamped) =
      candidates.partition(p => batchIdOf(name, p.getName).isDefined)
    require(batchKeyed.isEmpty || stamped.isEmpty,
      s"(stage=$stage, name=$name) mixes batch-keyed and timestamped " +
        s"exports — their orderings are incomparable; use distinct names. " +
        s"Found: ${candidates.map(_.getName).sorted}")
    val newestFirst =
      if (batchKeyed.nonEmpty)
        batchKeyed.sortBy(p => batchIdOf(name, p.getName).get)(
          Ordering[Long].reverse)
      else stamped.sortBy(p => (p.getName.takeRight(StampWidth), p.getName))(
        Ordering[(String, String)].reverse)
    // newest first, so the usual case checks a single marker
    val latest = newestFirst.find(p => fs.exists(new Path(p, "_SUCCESS")))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed $name export under $dir"))
    reader(spark, format).load(latest.toString)
  }

  /** Reader for an export written in `format`: a CSV export carries a
    * header row. */
  private[sources] def reader(
      spark: SparkSession, format: String): DataFrameReader =
    (format match {
      case "csv" => spark.read.option("header", "true")
      case _ => spark.read
    }).format(format)
}
