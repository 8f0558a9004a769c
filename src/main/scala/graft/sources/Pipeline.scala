package graft.sources

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Parallelism

/** Stage orchestration: the reference's driver loop as one callable
  * pipeline (ref: votervoice/__main__.py:33-214 — the no-flag flow runs
  * EXTRACT → TRANSFORM → MATCH saving each stage; `-e`/`-t`/`-m` run a
  * single stage, the latter two re-reading a prior stage's export).
  *
  * Stages are plain DataFrame functions, so any operator composition
  * plugs in (HtmlTable extraction, TextFunctions transforms,
  * FuzzyMatch linkage — PipelineSpec wires exactly that). The match
  * stage returns TWO frames, saved to MATCHED_FILES and QUERY_FILES
  * (the reference's records_matched / records_query pair).
  *
  * Scale posture: after each stage is exported, the NEXT stage reads
  * the files back instead of chaining the in-memory plan. That makes
  * the stage boundary a real checkpoint — downstream failures resume
  * from the durable artifact rather than recomputing the whole lineage
  * (exactly the reference's file handoff, and the reason its `-t`/`-m`
  * flows exist), and no stage's plan grows past its own operators. The
  * hand-off itself adds no job: a parquet export is read back under
  * the schema of the frame just written, which is the schema its
  * footers hold, so Spark runs no footer-inference job; a CSV export is
  * read back by its header, every column a string.
  *
  * The match stage's two exports are independent writes to disjoint
  * folders, so they run concurrently through
  * [[graft.operators.Parallelism.join2]]: MATCHED on the caller's
  * thread, QUERY on a second one. Both writes always finish before the
  * call returns. If either fails, its error propagates only after the
  * other export has finished; if both fail, MATCHED's error wins.
  */
object Pipeline {

  /** Export names per stage (reference defaults from __main__.py). */
  final case class Names(
      extract: String = "Ratings-Extract",
      transformed: String = "Ratings-Transformed",
      matched: String = "Ratings-Matched",
      query: String = "VSDB-Candidates")

  /** Paths written by a run; stages not executed are None. */
  final case class Exports(
      extract: Option[String] = None,
      transformed: Option[String] = None,
      matched: Option[String] = None,
      query: Option[String] = None)

  /** Full EXTRACT → TRANSFORM → MATCH run with per-stage exports
    * (the reference's no-flag flow, __main__.py:86-134).
    *
    * @param extract   produces the raw records (e.g. HtmlTable over
    *                  fetched pages)
    * @param transform transforms READ-BACK extract records
    * @param matcher   (transformed) => (matched, query) — the linkage
    *                  stage plus the DB-query frame it derives
    * @param session   additional-info tag carried in every export name
    */
  def run(
      spark: SparkSession,
      extract: () => DataFrame,
      transform: DataFrame => DataFrame,
      matcher: DataFrame => (DataFrame, DataFrame),
      baseDir: String, session: String, at: Instant,
      names: Names = Names(), format: String = "parquet"): Exports = {
    val extracted = extract()
    val ePath = StageSink.save(extracted, baseDir, "EXTRACT_FILES",
      names.extract, at, Seq(session), format)
    val rest = runFromExtracted(spark, read(spark, extracted, ePath, format),
      transform, matcher, baseDir, session, at, names, format)
    rest.copy(extract = Some(ePath))
  }

  /** TRANSFORM → MATCH from an already-extracted frame (the `-t` flow
    * continued; also the tail of [[run]]). */
  def runFromExtracted(
      spark: SparkSession,
      extracted: DataFrame,
      transform: DataFrame => DataFrame,
      matcher: DataFrame => (DataFrame, DataFrame),
      baseDir: String, session: String, at: Instant,
      names: Names = Names(), format: String = "parquet"): Exports = {
    val transformed = transform(extracted)
    val tPath = StageSink.save(transformed, baseDir, "TRANSFORMED_FILES",
      names.transformed, at, Seq(session), format)
    val rest = runFromTransformed(spark,
      read(spark, transformed, tPath, format),
      matcher, baseDir, session, at, names, format)
    rest.copy(transformed = Some(tPath))
  }

  /** MATCH only, from a transformed frame (the `-m` flow,
    * __main__.py:187-214: two exports, matched + query). To resume from
    * the newest prior export, pass
    * `StageSink.loadLatest(spark, base, "TRANSFORMED_FILES", names.transformed)`. */
  def runFromTransformed(
      spark: SparkSession,
      transformed: DataFrame,
      matcher: DataFrame => (DataFrame, DataFrame),
      baseDir: String, session: String, at: Instant,
      names: Names = Names(), format: String = "parquet"): Exports = {
    val (matched, query) = matcher(transformed)
    val (mPath, qPath) = Parallelism.join2(
      StageSink.save(matched, baseDir, "MATCHED_FILES", names.matched, at,
        Seq(session), format),
      StageSink.save(query, baseDir, "QUERY_FILES", names.query, at,
        Seq(session), format))
    Exports(matched = Some(mPath), query = Some(qPath))
  }

  /** Reads back the export of `written` at `path`. Parquet takes the
    * written schema instead of inferring it from the footers, which
    * would cost a job per hand-off. */
  private def read(spark: SparkSession, written: DataFrame, path: String,
      format: String): DataFrame = {
    val reader = StageSink.reader(spark, format)
    (if (format == "parquet") reader.schema(written.schema) else reader)
      .load(path)
  }
}
