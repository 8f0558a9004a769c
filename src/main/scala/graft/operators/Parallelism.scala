package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame

/** Guards CPU-bound narrow stages against under-partitioned inputs.
  *
  * A single-file / single-row-group parquet scan yields one partition,
  * which serialises per-row-expensive operators (signature hashing,
  * pairwise scoring) onto one core no matter how many executors exist.
  * On a real cluster the scan usually has plenty of splits and this is
  * a no-op; when it doesn't, one cheap shuffle of the (pre-projection)
  * input buys full parallelism for the expensive stage.
  */
object Parallelism {

  /** Estimated scan split count from LOGICAL plan statistics — no
    * physical planning, no job. FileSourceScan packs splittable files
    * into ~maxPartitionBytes partitions, so bytes / maxPartitionBytes
    * approximates the split count; column-pruned projections shrink
    * sizeInBytes, which only biases toward repartitioning (the safe
    * direction for a CPU-bound stage). The previous implementation
    * forced `df.rdd.getNumPartitions`, physical-planning a throwaway
    * copy of the query on every operator entry. */
  private def estimatedSplits(df: DataFrame): Long = {
    val maxPartBytes = JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / math.max(1L, maxPartBytes)).toLong + 1
  }

  /** Repartition up to the cluster's default parallelism iff the scan
    * would yield fewer splits. */
  def ensure(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedSplits(df) < target) df.repartition(target) else df
  }

  /** Evaluate two INDEPENDENT action-bearing thunks concurrently —
    * the optimization guide's "overlap independent jobs" (§2.6):
    * Spark's scheduler happily runs several jobs at once inside one
    * application; lifecycle operators (train model A + train model B
    * over the same input, or the N artifact writes of an index save)
    * were only sequential because the driver called their actions
    * sequentially, each paying its own scheduling/stage-tail latency.
    * [[runAll]] over the two: `a` on the caller's thread, `b` on a
    * fresh daemon thread; both always complete, and if either fails
    * the earliest-listed failure propagates (`a`'s when both fail).
    * Use ONLY for truly independent work — no shared mutable state, no
    * result-order dependence. */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    var ra: Option[A] = None
    var rb: Option[B] = None
    runAll(Seq(() => ra = Some(a), () => rb = Some(b)))
    (ra.get, rb.get)
  }

  /** Run every thunk concurrently (first on the caller's thread, the
    * rest on fresh daemon threads), wait for all, then rethrow the
    * failure of the EARLIEST-LISTED failing thunk — whichever finished
    * first, the same error wins. For independent side-effecting
    * actions (e.g. the per-artifact writes of an index save, which
    * target disjoint directories). Joining a thread orders its writes
    * before the caller's reads, so results need no further fence. */
  def runAll(tasks: Seq[() => Unit]): Unit = {
    val errs = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.drop(1).map { case (task, i) =>
      val th = new Thread(() => {
        try task() catch { case e: Throwable => errs(i) = e }
      }, "graft-runAll")
      th.setDaemon(true)
      th.start()
      th
    }
    tasks.headOption.foreach { task =>
      try task() catch { case e: Throwable => errs(0) = e }
    }
    threads.foreach(_.join())
    errs.find(_ != null).foreach(e => throw e)
  }
}
