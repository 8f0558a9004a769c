package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into graft. `id` numbers spans in
  * the order they opened, `op` is the operation index (-1 during set-up,
  * -2 for kernel runs), `parent` the id of the enclosing span (-1 at top
  * level). Wall-clock milliseconds place listener events;
  * nanoseconds give the duration. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Listener events, kept raw and attributed to spans after the run. */
final case class JobEv(atMs: Long)
final case class StageEv(atMs: Long, tasks: Int)
final case class TaskEv(atMs: Long, runMs: Long, cpuNs: Long,
    shuffleBytes: Long)
final case class QeEv(atMs: Long, planningMs: Long)

/** Spans are recorded only when tracing is on; with it off `span` is a
  * plain call. Spans open and close on the driver thread that runs the
  * benchmark, so one stack suffices. Everything stays in memory until
  * the run ends. */
object Trace {
  @volatile var enabled = false
  @volatile var op: Int = -1

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0

  val jobs = ArrayBuffer.empty[JobEv]
  val stages = ArrayBuffer.empty[StageEv]
  val tasks = ArrayBuffer.empty[TaskEv]
  val qes = ArrayBuffer.empty[QeEv]

  def spans: Seq[Span] = synchronized(done.toList)

  def open(name: String): Int = synchronized {
    if (!enabled) return -1
    val id = nextId
    nextId += 1
    stack = (id, name, System.currentTimeMillis(), System.nanoTime()) :: stack
    id
  }

  def close(id: Int): Unit = synchronized {
    if (id < 0) return
    val (sid, name, ms, ns) = stack.head
    require(sid == id, s"span $name closed out of order")
    stack = stack.tail
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val s = Span(sid, name, op, parent, ms, System.currentTimeMillis(), ns,
      System.nanoTime())
    done += s
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = open(name)
      val out = try body catch {
        case e: Throwable => abandon(id); throw e
      }
      close(id)
      out
    }

  /** Drops span `id`, and every span an exception left open inside it,
    * without recording them. */
  private def abandon(id: Int): Unit = synchronized {
    stack = stack.dropWhile(_._1 != id).drop(1)
  }

  /** Attaches a SparkListener and a QueryExecutionListener that record
    * every job, completed stage, task and query execution. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Trace.synchronized(jobs += JobEv(e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Trace.synchronized(stages += StageEv(
          e.stageInfo.submissionTime.getOrElse(0L), e.stageInfo.numTasks))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Trace.synchronized(tasks += TaskEv(
          e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten))
      }
    })
    def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      Trace.synchronized(qes += QeEv(start, planning))
    }
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
  }

  /** Innermost span whose interval holds `atMs`, or -1. */
  def ownerOf(atMs: Long, candidates: Seq[(Int, Span)]): Int = {
    var best = -1
    var bestLen = Long.MaxValue
    candidates.foreach { case (i, s) =>
      if (s.startMs <= atMs && atMs <= s.endMs && s.endMs - s.startMs < bestLen) {
        best = i
        bestLen = s.endMs - s.startMs
      }
    }
    best
  }
}
