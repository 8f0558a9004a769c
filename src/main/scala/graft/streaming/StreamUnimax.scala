package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.storage.StorageLevel

import graft.functions.Md5Uniform
import graft.operators.Corpus

/** Streaming UniMax sampling: the FROZEN per-source epoch rates from a
  * batch waterfilling run ([[graft.operators.Corpus.unimaxRates]] —
  * a #sources-sized artifact) applied to a live intake. Rates ride
  * into the plan as a map literal, the per-doc uniform is the same
  * md5-seeded construction as batch [[graft.operators.Corpus
  * .unimaxMix]], so sampling is a STATELESS projection + explode —
  * no state store, no broadcast rebuild per micro-batch, append-safe,
  * and decision-for-decision identical to the batch mix on the same
  * rows (StreamingSpec pins the equality). Sources the allocation
  * never saw sample at rate 0 — an unplanned source contributes
  * NOTHING rather than unbudgeted tokens (surface it via
  * [[intakeMeter]]'s n_in vs n_sampled gap).
  *
  * The allocation itself stays a BATCH planning step by design:
  * waterfilling needs global per-source totals, which a stream only
  * ever has a prefix of — recompute it on a cadence and restart the
  * sampler with fresh rates (the same freeze-and-refresh contract as
  * the ANN index and the DSIR model). [[RatesRefresher]] +
  * [[refreshingWriter]] automate that contract: the intake totals
  * accumulate as a #sources-sized driver map and the waterfilling
  * re-runs when the realized mix drifts past a threshold.
  */
object StreamUnimax {

  /** (everything in `stream`, copy) — each doc emitted
    * floor(rate_s) times plus one more with probability frac(rate_s),
    * exactly the batch arithmetic. Unknown sources drop (rate 0). */
  def sampled(stream: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], seed: String = ""): DataFrame = {
    val rate = coalesce(
      element_at(typedlit(rates), col(sourceCol)), lit(0.0))
    val u = Md5Uniform.uniform(col(idCol), seed)
    val copies = (floor(rate).cast("int") +
      when(u < rate - floor(rate), 1).otherwise(0))
    val idx = when(copies > 0, sequence(lit(0), copies - lit(1)))
      .otherwise(array().cast("array<int>"))
    stream.withColumn("copy", explode(idx))
  }

  /** The freeze-and-refresh contract made AUTOMATIC: driver-held rate
    * state for [[refreshingWriter]]. Holds the frozen rates, the
    * cumulative per-source token totals (a #sources-sized map — the
    * only state), and the totals the current rates were planned on;
    * when the live mix's drift from the planned mix clears
    * `driftThreshold`, the batch waterfilling re-runs over the
    * cumulative totals ([[Corpus.unimaxRatesFromTotals]] — the SAME
    * in-plan arithmetic as the batch planner, so a refresh is
    * bit-for-bit the rates a batch run over that corpus would
    * freeze).
    *
    * Drift is L∞ over per-source token SHARES between the cumulative
    * intake and the planning totals (an unplanned source's planned
    * share is 0, so a new source drifts the meter up immediately —
    * exactly the case where re-planning matters, since unplanned
    * sources sample at rate 0 until a refresh budgets them).
    *
    * Lives on the DRIVER inside foreachBatch (never shipped to
    * executors); all methods synchronized. State is IN-MEMORY: the
    * replay guarantee below holds within one driver session. Across a
    * QUERY RESTART a fresh refresher re-plans from its initialTotals
    * — deterministic going forward, but the boundary batch Spark
    * replays may sample at different rates than its pre-crash
    * delivery, and pre-restart intake leaves the drift meter. Streams
    * that need restart-exact replay persist [[state]] alongside their
    * sink's batch-keyed output and resume via [[RatesRefresher
    * .restore]] — the same keep-your-own-state contract as every
    * foreachBatch writer here (StageSink's batch folders, the index
    * delta roots). */
  final class RatesRefresher private (
      spark: SparkSession, initialTotals: Map[String, Long],
      maxEpochs: Double, budgetFraction: Double,
      driftThreshold: Double, replayMemory: Int,
      restoreFrom: Option[RefresherState]) {

    def this(spark: SparkSession, initialTotals: Map[String, Long],
        maxEpochs: Double, budgetFraction: Double,
        driftThreshold: Double = 0.05, replayMemory: Int = 64) =
      this(spark, initialTotals, maxEpochs, budgetFraction,
        driftThreshold, replayMemory, None)
    require(initialTotals.nonEmpty,
      "RatesRefresher: initialTotals nonempty (the planning corpus)")
    require(driftThreshold > 0, "RatesRefresher: driftThreshold > 0")
    require(replayMemory >= 1, "RatesRefresher: replayMemory >= 1")

    private var totals: Map[String, Long] =
      restoreFrom.map(_.totals).getOrElse(initialTotals)
    private var planned: Map[String, Long] =
      restoreFrom.map(_.planned).getOrElse(initialTotals)
    private var rates: Map[String, Double] = restoreFrom.map(_.rates)
      .getOrElse(Corpus.unimaxRatesFromTotals(
        spark, initialTotals, maxEpochs, budgetFraction))
    private var nRefreshes: Long =
      restoreFrom.map(_.refreshes).getOrElse(0L)
    private val frozen =
      scala.collection.mutable.LongMap.empty[Map[String, Double]]
    restoreFrom.foreach(_.frozen.foreach { case (b, r) => frozen(b) = r })
    // highest batchId ever frozen: a replay of a batch EVICTED from
    // the bounded memory must fail loud, not silently re-accumulate
    private var maxSeen: Long =
      if (frozen.isEmpty) Long.MinValue else frozen.keys.max

    /** Snapshot for restart-exact resumption — persist beside the
      * sink's batch-keyed output and hand to [[RatesRefresher
      * .restore]] on the next start. */
    def state: RefresherState = synchronized(
      RefresherState(totals, planned, rates, nRefreshes, frozen.toMap))

    def currentRates: Map[String, Double] = synchronized(rates)
    def refreshCount: Long = synchronized(nRefreshes)
    def cumulativeTotals: Map[String, Long] = synchronized(totals)

    private def shares(m: Map[String, Long]): Map[String, Double] = {
      val t = m.values.foldLeft(0.0)(_ + _.toDouble)
      if (t <= 0) Map.empty else m.map { case (s, n) => s -> (n / t) }
    }

    /** Live-vs-planned mix gap: max per-source |token-share delta|. */
    def drift: Double = synchronized {
      val now = shares(totals)
      val plan = shares(planned)
      (now.keySet ++ plan.keySet).iterator
        .map(s => math.abs(now.getOrElse(s, 0.0) - plan.getOrElse(s, 0.0)))
        .foldLeft(0.0)(math.max)
    }

    /** Rates for `batchId`, replay-safe: first sight freezes the
      * current rates for the batch, folds its totals in, and
      * refreshes AFTERWARDS if drift clears the threshold — the batch
      * that reveals drift is still sampled at the rates frozen before
      * it arrived, so every batch's decisions are a pure function of
      * the batches before it. A replay (foreachBatch is
      * at-least-once) returns the batch's frozen rates without
      * re-accumulating. Replay memory is bounded to the newest
      * `replayMemory` batch ids — retries only ever target the most
      * recent batch. */
    def ratesFor(batchId: Long,
        batchTotals: Map[String, Long]): Map[String, Double] =
      synchronized {
        frozen.get(batchId) match {
          case Some(r) => r
          case None =>
            // a batchId at or below the high-water mark that MISSES
            // the frozen map is a replay of an evicted batch: treating
            // it as first-sight would double-count its totals and
            // could return different rates — a silent break of the
            // determinism guarantee. Structured Streaming only ever
            // retries the most recent batch, so hitting this means
            // replayMemory is sized below the checkpoint's replay
            // horizon — fail loud with the fix in hand.
            if (batchId <= maxSeen)
              throw new IllegalStateException(
                s"RatesRefresher: batch $batchId replayed after " +
                  s"eviction (high-water mark $maxSeen, replayMemory " +
                  s"$replayMemory) — raise replayMemory above the " +
                  "sink's replay horizon")
            val r = rates
            frozen(batchId) = r
            maxSeen = batchId
            if (frozen.size > replayMemory)
              frozen.keys.toSeq.sorted.dropRight(replayMemory)
                .foreach(frozen.remove)
            totals = (totals.keySet ++ batchTotals.keySet).iterator
              .map(s => s -> (totals.getOrElse(s, 0L) +
                batchTotals.getOrElse(s, 0L)))
              .toMap
            if (drift > driftThreshold) {
              rates = Corpus.unimaxRatesFromTotals(
                spark, totals, maxEpochs, budgetFraction)
              planned = totals
              nRefreshes += 1
            }
            r
        }
      }
  }

  /** A [[RatesRefresher]]'s full resumable state (a few #sources-sized
    * maps) — plain Scala data so callers persist it however their sink
    * persists (JSON, parquet, an object store blob). */
  final case class RefresherState(
      totals: Map[String, Long], planned: Map[String, Long],
      rates: Map[String, Double], refreshes: Long,
      frozen: Map[Long, Map[String, Double]])

  object RatesRefresher {
    /** Resume from a [[RatesRefresher#state]] snapshot: cumulative
      * totals, the planned baseline, the live rates and the frozen
      * per-batch replay memory all carry over, so the boundary batch
      * a restart replays samples at exactly its pre-crash rates. */
    def restore(spark: SparkSession, state: RefresherState,
        maxEpochs: Double, budgetFraction: Double,
        driftThreshold: Double = 0.05,
        replayMemory: Int = 64): RatesRefresher =
      new RatesRefresher(spark, state.totals, maxEpochs, budgetFraction,
        driftThreshold, replayMemory, Some(state))

    /** Persist a [[RefresherState]] snapshot as one tiny parquet
      * directory — rates and totals at FULL double/long precision, so
      * a restore replays bit-for-bit (the UnigramLm.saveModel
      * discipline). Two-phase: the new snapshot writes BESIDE the
      * live one (`<dir>__tmp`) and swaps in only when complete, so a
      * crash mid-save never destroys the previous good snapshot —
      * the failure this helper exists to recover from. Write it AFTER
      * the sink commits each batch's output; on restart, [[loadState]]
      * (which finishes an interrupted swap) + [[restore]] before
      * starting the query. */
    def saveState(spark: SparkSession, state: RefresherState,
        dir: String): Unit = {
      import spark.implicits._
      val p = new org.apache.hadoop.fs.Path(dir)
      val tmp = new org.apache.hadoop.fs.Path(dir + "__tmp")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(state).toDS().coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      fs.delete(p, true)
      require(fs.rename(tmp, p), s"saveState: rename $tmp -> $p failed")
    }

    /** Read a [[saveState]] snapshot, finishing an interrupted swap
      * (crash between the delete and the rename) from the complete
      * `__tmp` copy when the live directory is missing. */
    def loadState(spark: SparkSession, dir: String): RefresherState = {
      import spark.implicits._
      val p = new org.apache.hadoop.fs.Path(dir)
      val tmp = new org.apache.hadoop.fs.Path(dir + "__tmp")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p) &&
          fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
        require(fs.rename(tmp, p), s"loadState: rename $tmp -> $p failed")
      spark.read.parquet(dir).as[RefresherState].head()
    }
  }

  /** foreachBatch sampler with automatic rate refresh: each
    * micro-batch is sampled at the refresher's frozen rates (≡
    * [[sampled]] with those rates, decision-for-decision) and handed
    * to `sink` with its batch id; the batch's per-source token totals
    * (ONE #sources-row aggregate — the only extra cost per batch)
    * accumulate in the refresher, which re-plans when the intake mix
    * drifts. Replays re-sample at the batch's originally frozen
    * rates, so output stays deterministic under at-least-once
    * delivery. Callers pick the trigger and start. */
  def refreshingWriter(
      stream: DataFrame, idCol: String, sourceCol: String,
      tokenCol: Column, refresher: RatesRefresher,
      sink: (DataFrame, Long) => Unit,
      seed: String = ""): DataStreamWriter[Row] = {
    val exportBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val pinned = batch.persist(StorageLevel.DISK_ONLY)
      try {
        val batchTotals = pinned
          .filter(col(sourceCol).isNotNull)
          .groupBy(col(sourceCol))
          .agg(coalesce(sum(tokenCol.cast("long")), lit(0L)).as("__nt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val rates = refresher.ratesFor(batchId, batchTotals)
        sink(sampled(pinned, idCol, sourceCol, rates, seed), batchId)
      } finally pinned.unpersist()
    }
    stream.writeStream.outputMode("append").foreachBatch(exportBatch)
  }

  /** Windowed intake meter per (window, source): docs seen, docs
    * emitted after sampling, and the realized rate — the live check
    * that the intake mix still matches the plan (a drifting source
    * shows up as realized ≠ planned). One bounded state row per open
    * (window, source). */
  def intakeMeter(stream: DataFrame, tsCol: String, idCol: String,
      sourceCol: String, rates: Map[String, Double],
      windowLen: String, watermark: String,
      seed: String = ""): DataFrame = {
    val rate = coalesce(
      element_at(typedlit(rates), col(sourceCol)), lit(0.0))
    val u = Md5Uniform.uniform(col(idCol), seed)
    val copies = (floor(rate).cast("int") +
      when(u < rate - floor(rate), 1).otherwise(0))
    stream
      .withColumn("__copies", copies)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(sourceCol))
      .agg(count(lit(1)).as("n_in"),
        sum(col("__copies").cast("long")).as("n_sampled"),
        round(avg(col("__copies").cast("double")), 4)
          .as("realized_rate"))
  }
}
