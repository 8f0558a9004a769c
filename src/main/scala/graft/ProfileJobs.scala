package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.plans.GraftExtensions

/** Dev scratch: per-JOB wall-clock breakdown of one registered query —
  * `runMain graft.ProfileJobs <query> [sfDir]`. Runs one warm pass,
  * then one instrumented pass with a listener recording every job's
  * duration and callsite, so lifecycle queries (train → save → load →
  * search) show where their seconds actually go. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    // args: <query>[,<query>...] [sfDir] — comma-list profiles several
    // queries in one JVM (one warm + one instrumented pass each)
    val names = args(0).split(',').toSeq
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftExtensions
      .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass (JIT + codegen + any per-JVM fixture builds)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()

      final case class Job(id: Int, var start: Long = 0L, var end: Long = 0L,
          var site: String = "", var stages: Int = 0)
      val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val j = jobs.getOrElseUpdate(e.jobId, Job(e.jobId))
          j.start = e.time
          j.site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))
              .orElse(Option(p.getProperty("spark.job.description"))))
            .getOrElse("")
          j.stages = e.stageIds.size
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          jobs.get(e.jobId).foreach(_.end = e.time)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ()
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500) // let the listener bus drain
      println(f"PROFILE $name total $total%.3f s, ${jobs.size} jobs")
      val ordered = jobs.values.toSeq.sortBy(_.id)
      var prevEnd = 0L
      ordered.foreach { j =>
        val dur = (j.end - j.start) / 1e3
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.end)
        println(f"  job ${j.id}%3d ${dur}%7.3f s  (gap before ${gap}%6.3f s)  ${j.stages}%2d stages  ${j.site}")
      }
      val sumJobs = ordered.map(j => (j.end - j.start) / 1e3).sum
      println(f"  sum of job durations ${sumJobs}%.3f s " +
        f"(driver/plan gaps ${total - sumJobs}%.3f s)")
    }
    spark.stop()
  }
}
