package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GraftExtensions

/** Dev tools for one or more registered queries, one mode per run:
  *
  * - `profile <q>[,<q>...] [sfDir]` (default sf0.1): one warm pass,
  *   then one instrumented pass per query; prints every job's duration,
  *   the gap before it, its stage count and its callsite, so lifecycle
  *   queries (train → save → load → search) show where their seconds
  *   go.
  * - `explain [q] [sfDir]` (default sf0.01): the formatted physical
  *   plan of one query, or of every query in name order, so pushdown,
  *   broadcast and shuffle structure can be reviewed.
  * - `exchanges <q> [sfDir]` (default sf0.001): the exchange and
  *   reused-exchange counts of the executed plan, then its exchange and
  *   scan lines.
  * - `time <q> [<q>...]` (sf0.1): wall time of one pass after one warm
  *   pass — plan iteration without the full Bench sweep.
  *
  * Usage: `runMain graft.Dev <mode> <args...>`. Every pass writes to
  * the noop sink, as Bench does.
  */
object Dev {
  private val Usage =
    "usage: graft.Dev profile <q>[,<q>...] [sfDir] | explain [q] [sfDir] | " +
      "exchanges <q> [sfDir] | time <q> [<q>...]"

  def main(args: Array[String]): Unit = {
    val (mode, rest) = (args.headOption.getOrElse(""), args.drop(1).toSeq)
    def sfDir(i: Int, default: String) =
      rest.lift(i).getOrElse(s"/root/testdata/$default")
    mode match {
      case "profile" if rest.nonEmpty =>
        withSpark("WARN")(profile(_, rest.head.split(',').toSeq,
          sfDir(1, "sf0.1")))
      case "explain" =>
        withSpark("ERROR")(explain(_, rest.headOption, sfDir(1, "sf0.01")))
      case "exchanges" if rest.nonEmpty =>
        withSpark("ERROR")(exchanges(_, rest.head, sfDir(1, "sf0.001")))
      case "time" if rest.nonEmpty =>
        withSpark("WARN")(time(_, rest, "/root/testdata/sf0.1"))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def withSpark(logLevel: String)(body: SparkSession => Unit): Unit = {
    val spark = GraftExtensions
      .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    try body(spark) finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  private def profile(spark: SparkSession, names: Seq[String],
      dir: String): Unit = names.foreach { name =>
    // warm pass (JIT + codegen + any per-JVM fixture builds)
    run(spark, name, dir)
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val jobs = recordJobs(spark)(run(spark, name, dir))
    val total = (System.nanoTime() - t0) / 1e9
    println(f"PROFILE $name total $total%.3f s, ${jobs.size} jobs")
    var prevEnd = 0L
    jobs.foreach { j =>
      val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
      val dur = j.end.fold("  no end")(e => f"${(e - j.start) / 1e3}%7.3f s")
      j.end.foreach(e => prevEnd = math.max(prevEnd, e))
      println(f"  job ${j.id}%3d $dur  (gap before ${gap}%6.3f s)  ${j.stages}%2d stages  ${j.site}")
    }
    val sumJobs = jobs.flatMap(j => j.end.map(e => (e - j.start) / 1e3)).sum
    println(f"  sum of job durations ${sumJobs}%.3f s " +
      f"(driver/plan gaps ${total - sumJobs}%.3f s)")
  }

  /** One Spark job seen by [[recordJobs]]: listener-bus times in epoch
    * ms; `end` is None when the job's end was not delivered. */
  private[graft] final case class Job(id: Int, start: Long, end: Option[Long],
      site: String, stages: Int)

  private val MarkerProperty = "graft.dev.recordJobs.marker"

  /** The jobs `body` starts, in id order. After the body, a one-task
    * MARKER job runs, and the listener stays attached until the
    * marker's end arrives: the listener bus delivers in posting order,
    * so every job end posted before the marker's is delivered by then.
    * A job still running at that point is reported with no end. */
  private[graft] def recordJobs(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val starts = scala.collection.concurrent.TrieMap.empty[Int, Job]
    val ends = scala.collection.concurrent.TrieMap.empty[Int, Long]
    var markerId = -1 // the listener bus thread alone reads and writes it
    val markerEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(MarkerProperty) != null))
          markerId = e.jobId
        else starts.put(e.jobId, Job(e.jobId, e.time, None,
          props.flatMap(p => Option(p.getProperty("callSite.short"))
            .orElse(Option(p.getProperty("spark.job.description"))))
            .getOrElse(""),
          e.stageIds.size))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId) markerEnded.countDown()
        else ends.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(MarkerProperty, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProperty, null)
      if (!markerEnded.await(60, java.util.concurrent.TimeUnit.SECONDS))
        System.err.println("recordJobs: listener bus did not drain in 60 s")
    } finally sc.removeSparkListener(listener)
    starts.values.toSeq.sortBy(_.id).map(j => j.copy(end = ends.get(j.id)))
  }

  private def explain(spark: SparkSession, name: Option[String],
      dir: String): Unit = {
    val targets = name match {
      case Some(n) => Seq(n -> SparkEntry.queries(n))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, dir).explain("formatted")
    }
  }

  private def exchanges(spark: SparkSession, name: String,
      dir: String): Unit = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    println("EXCHANGES=" + "Exchange".r.findAllIn(plan).length)
    println("REUSED=" + "ReusedExchange".r.findAllIn(plan).length)
    println(plan.linesIterator.filter(l => l.contains("Exchange") ||
      l.contains("Scan parquet")).mkString("\n"))
  }

  private def time(spark: SparkSession, names: Seq[String],
      dir: String): Unit = names.foreach { name =>
    run(spark, name, dir) // warm
    val t0 = System.nanoTime()
    run(spark, name, dir)
    println(f"TIMED $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
