package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. Inputs are generated from the seed
  * when the workload is constructed; graft only ever sees them. */
trait Workload {
  /** One-off state (tables, indexes, models) built before the loop. It
    * runs `reps` times, each under its own directory; the last build
    * serves the loop. */
  def setup(rep: Int): Unit
  /** Operation `i`; returns the records it completed. */
  def op(i: Int): Long
  /** Kernel-only projections over operation `i`'s input (traced run). */
  def kernels(i: Int): Unit = ()
  /** Independent checks of the timed operations' outputs; each string
    * names one violation. */
  def check(ops: Seq[Int]): Seq[String]
  def quality(ops: Seq[Int]): Double
  def storedBytesPerRecord(ops: Seq[Int]): Double
  /** Feeds every checker one corrupted output; names each corruption a
    * checker failed to reject. */
  def selfTest(ops: Seq[Int]): Seq[String]
  /** Per-layer counts the benchmark computes itself, per operation. */
  def layerCounts(ops: Seq[Int]): Map[String, Double] = Map.empty
}

object Main {
  /** Warm-up operations per workload, excluded from every metric. A
    * count, not a time: a faster graft then gets the same JIT warm-up as a
    * slower one, and its timed window opens at the same point of the
    * warm-up curve. Latency is still falling there (the JIT keeps warming
    * Spark's driver code; see the README's warm-up curves); a longer
    * warm-up would not fit the run-time budget of a gated round. */
  val WarmupOps = Map("sig_etl" -> 4, "ann_serve" -> 10, "corpus_ingest" -> 2)
  /** op_tail_ms is this percentile of the timed operations' latencies. */
  val TailPercentile = 0.75
  /** Set-up builds per run; setup_s takes their median, and the run
    * record keeps the first (cold) build's time next to it. */
  val SetupReps = 3
  /** Failed operations whose stack trace goes to the log. */
  val LoggedFailures = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val warmup = WarmupOps(workload)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (traced) {
      Trace.attach(spark)
      Trace.enabled = true
    }

    val wl: Workload = workload match {
      case "sig_etl" => new SigEtl(spark, seed, work)
      case "ann_serve" => new AnnServe(spark, seed, work)
      case "corpus_ingest" => new CorpusIngest(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val readyMs = System.currentTimeMillis()
    val setupRepS = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = (readyMs - jvmStartMs) / 1e3 + Stats.median(setupRepS)

    // An operation that throws is counted as failed and left out of every
    // metric and check; the loop goes on with the next one.
    var attempted, failed = 0
    def attempt(i: Int): Option[Long] = {
      attempted += 1
      try Some(Trace.span("op")(wl.op(i)))
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          if (failed <= LoggedFailures) {
            System.err.println(s"operation $i failed:")
            e.printStackTrace()
          }
          None
      }
    }

    // warm-up: same operations, excluded from every metric
    val warmLat = ArrayBuffer.empty[Double]
    var i = 0
    while (i < warmup) {
      val t = System.nanoTime()
      Trace.op = i
      if (attempt(i).isDefined) warmLat += (System.nanoTime() - t) / 1e6
      i += 1
    }

    // timed closed loop: one client, each operation after the last.
    // Process CPU, GC time and codegen compilations are summed over the
    // operations' own intervals, so the traced run's kernel projections
    // between operations do not count.
    var cpuNs, gcDelta, compileDelta = 0L
    val lat = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val timedOps = ArrayBuffer.empty[Int]
    var records = 0L
    var loopNs = 0L
    val loopEnd = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < loopEnd) {
      Trace.op = i
      val (cpu0, gc0, cc0) = (processCpuNs(), gcMs(), compiles())
      val ms0 = System.currentTimeMillis()
      val t = System.nanoTime()
      val done = attempt(i)
      val dt = System.nanoTime() - t
      done.foreach { recs =>
        records += recs
        windows += ((ms0, System.currentTimeMillis()))
        cpuNs += processCpuNs() - cpu0
        gcDelta += gcMs() - gc0
        compileDelta += compiles() - cc0
        loopNs += dt
        lat += dt / 1e6
        timedOps += i
      }
      if (traced && done.isDefined) {
        Trace.op = -2
        wl.kernels(i)
      }
      i += 1
    }
    val n = lat.size
    if (n == 0) {
      System.err.println(s"no timed operation succeeded ($failed of $attempted failed)")
      spark.stop()
      sys.exit(1)
    }
    val heapMb = liveHeapMb()

    val problems = wl.check(timedOps.toSeq)
    val missed = wl.selfTest(timedOps.toSeq)
    val quality = wl.quality(timedOps.toSeq)
    val stored = wl.storedBytesPerRecord(timedOps.toSeq)

    val sorted = lat.sorted
    val tailPct = TailPercentile
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.median(lat.toSeq), "ms"),
        ("op_tail_ms", Stats.percentile(sorted.toSeq, tailPct), "ms"),
        ("throughput_rps", records / (loopNs / 1e9), "records/s"),
        ("op_cpu_ms", cpuNs / 1e6 / n, "ms"),
        ("quality", quality, "ratio"),
        ("heap_live_mb", heapMb, "MB"),
        ("stored_bytes_per_record", stored, "B/record"))
      else {
        org.apache.spark.BusDrain(spark.sparkContext)
        Layers.metrics(workload, windows.toSeq, timedOps.toSeq, cores, cpuNs, gcDelta, compileDelta,
          lat.toSeq, wl.layerCounts(timedOps.toSeq))
      }

    val correct = problems.isEmpty && missed.isEmpty
    val half = n / 2
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "warmup_ops" -> warmup,
      "session_s" -> sessionS,
      "inputs_s" -> (readyMs - jvmStartMs) / 1e3,
      "setup_rep_s" -> setupRepS,
      "setup_first_s" -> ((readyMs - jvmStartMs) / 1e3 + setupRepS.head),
      "warmup_ms" -> warmLat.toSeq,
      "op_ms" -> lat.toSeq,
      "ops" -> n,
      "attempted" -> attempted,
      "failed" -> failed,
      "records" -> records,
      "tail_percentile" -> tailPct,
      "samples_beyond_tail" -> lat.count(_ > Stats.percentile(sorted.toSeq, tailPct)),
      "drift" -> Json.obj(
        "first_half_p50_ms" -> Stats.median(lat.take(half).toSeq),
        "second_half_p50_ms" -> Stats.median(lat.drop(half).toSeq)),
      "problems" -> problems.take(50),
      "problem_count" -> problems.size,
      "selftest_missed" -> missed,
      "spans" -> (if (traced) Layers.spanSummary() else Json.obj()),
      "metrics" -> Json.obj(metrics.map { case (k, v, _) => k -> v }: _*))
    val w = new java.io.PrintWriter(opts("record"), "UTF-8")
    try w.println(record) finally w.close()
    if (problems.nonEmpty)
      System.err.println(s"check failed: ${problems.take(10).mkString("; ")}")
    if (missed.nonEmpty)
      System.err.println(s"self-test not rejected: ${missed.mkString("; ")}")

    println(Json.obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    spark.stop()
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Generated-code compilations so far (Spark's codegen metrics). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap in use after full collections. Spark's context cleaner drops
    * blocks of unreachable checkpointed RDDs only after a collection has
    * enqueued them, on its own thread, so each collection is followed by
    * a pause for it; without the pauses the reading depends on how far
    * the cleaner got. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ =>
      System.gc()
      Thread.sleep(300)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.sorted, 0.5)

  /** Linear interpolation between closest ranks over sorted `xs`. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    if (sorted.isEmpty) return 0.0
    val pos = p * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }
}
