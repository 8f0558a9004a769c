package perfbench

/** Per-layer figures of a traced run: listener counts over the timed
  * operations' windows, and span durations per operation. */
object Layers {

  /** The per-layer metrics of the gated workloads (sig_etl, ann_serve),
    * with their units; every traced run of those reports all of them,
    * and a metric that does not apply to the workload reads 0. */
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.query_executions_per_op" -> "count",
    "spark.planning_ms_per_op" -> "ms",
    "spark.task_run_ms_per_op" -> "ms",
    "spark.task_cpu_ms_per_op" -> "ms",
    "spark.driver_cpu_ms_per_op" -> "ms",
    "spark.core_use" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "B",
    "spark.gc_ms_per_op" -> "ms",
    "spark.codegen_compiles_per_op" -> "count",
    "sources.extract_ms" -> "ms",
    "sources.export_bytes_per_record" -> "B/record",
    "functions.transform_ms" -> "ms",
    "functions.text_parse_kernel_ms" -> "ms",
    "functions.fuzzy_score_kernel_ms" -> "ms",
    "operators.roster_query_ms" -> "ms",
    "operators.link_ms" -> "ms",
    "operators.link_pairs_per_op" -> "count",
    "operators.ann_train_ms" -> "ms",
    "operators.ann_build_save_ms" -> "ms",
    "operators.ann_load_ms" -> "ms",
    "operators.ann_search_build_ms" -> "ms",
    "operators.ann_search_exec_ms" -> "ms",
    "trace.op_p50_ms" -> "ms")

  /** Metrics only corpus_ingest produces; its traced run reports these
    * after [[Names]]. */
  val IngestNames: Seq[(String, String)] = Seq(
    "sources.save_batch_ms" -> "ms",
    "functions.minhash_kernel_ms" -> "ms",
    "functions.langid_kernel_ms" -> "ms",
    "operators.langid_train_ms" -> "ms",
    "operators.dedup_build_ms" -> "ms",
    "operators.dedup_dropped_per_op" -> "count",
    "operators.ann_append_ms" -> "ms",
    "operators.index_compact_ms" -> "ms",
    "operators.index_delta_roots" -> "count")

  def names(workload: String): Seq[(String, String)] =
    if (workload == "corpus_ingest") Names ++ IngestNames else Names

  private def inWindows(windows: Seq[(Long, Long)])(atMs: Long): Boolean =
    windows.exists { case (a, b) => a <= atMs && atMs <= b }

  /** Median over operations (or over set-up builds and kernel runs,
    * op < 0) of the time spent in spans named `name`. */
  def spanMs(name: String, ops: Set[Int]): Option[Double] = {
    val ss = Trace.spans.filter(s => s.name == name &&
      (s.op < 0 || ops.contains(s.op)))
    if (ss.isEmpty) None
    else {
      val (timed, other) = ss.partition(_.op >= 0)
      val perOp = timed.groupBy(_.op).values.map(_.map(_.ms).sum).toSeq
      Some(Stats.median(perOp ++ other.map(_.ms)))
    }
  }

  def metrics(workload: String, windows: Seq[(Long, Long)], ops: Seq[Int], cores: Int,
      processCpuNs: Long, gcMs: Long, compiles: Long, lat: Seq[Double],
      counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    val in = inWindows(windows) _
    val (jobs, stages, tasks, qes) = Trace.synchronized((
      Trace.jobs.filter(e => in(e.atMs)).toList,
      Trace.stages.filter(e => in(e.atMs)).toList,
      Trace.tasks.filter(e => in(e.atMs)).toList,
      Trace.qes.filter(e => in(e.atMs)).toList))
    val runMs = tasks.map(_.runMs).sum.toDouble
    val taskCpuNs = tasks.map(_.cpuNs).sum.toDouble
    val wallMs = lat.sum
    val spark = Map(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> stages.size / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.query_executions_per_op" -> qes.size / n,
      "spark.planning_ms_per_op" -> qes.map(_.planningMs).sum / n,
      "spark.task_run_ms_per_op" -> runMs / n,
      "spark.task_cpu_ms_per_op" -> taskCpuNs / 1e6 / n,
      "spark.driver_cpu_ms_per_op" -> (processCpuNs - taskCpuNs) / 1e6 / n,
      "spark.core_use" -> runMs / (wallMs * cores),
      "spark.shuffle_bytes_per_op" -> tasks.map(_.shuffleBytes).sum / n,
      "spark.gc_ms_per_op" -> gcMs / n,
      "spark.codegen_compiles_per_op" -> compiles / n,
      "trace.op_p50_ms" -> Stats.median(lat))
    val opSet = ops.toSet
    names(workload).map { case (name, unit) =>
      val v = spark.get(name).orElse(counts.get(name)).orElse(
        if (name.endsWith("_ms")) spanMs(name.stripSuffix("_ms"), opSet)
        else None)
      (name, v.getOrElse(0.0), unit)
    }
  }

  /** Every span, and per span name its count and total, with the
    * listener counts attributed to the innermost span open when each
    * event happened. */
  def spanSummary(): Json.Raw = {
    val spans = Trace.spans.toIndexedSeq
    val indexed = spans.indices.map(i => (i, spans(i)))
    val jobs = new Array[Int](spans.size)
    val tasks = new Array[Int](spans.size)
    val runMs = new Array[Long](spans.size)
    Trace.synchronized {
      Trace.jobs.foreach { e =>
        val o = Trace.ownerOf(e.atMs, indexed)
        if (o >= 0) jobs(o) += 1
      }
      Trace.tasks.foreach { e =>
        val o = Trace.ownerOf(e.atMs, indexed)
        if (o >= 0) { tasks(o) += 1; runMs(o) += e.runMs }
      }
    }
    val byName = spans.indices.groupBy(i => spans(i).name).toSeq.sortBy(_._1)
    Json.obj(
      "by_name" -> Json.obj(byName.map { case (name, is) =>
        name -> Json.obj(
          "count" -> is.size,
          "total_ms" -> is.map(spans(_).ms).sum,
          "jobs" -> is.map(jobs(_)).sum,
          "tasks" -> is.map(tasks(_)).sum,
          "task_run_ms" -> is.map(runMs(_)).sum)
      }: _*),
      "spans" -> spans.indices.map { i =>
        val s = spans(i)
        Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op,
          "parent" -> s.parent, "start_ms" -> s.startMs, "ms" -> s.ms,
          "jobs" -> jobs(i), "tasks" -> tasks(i), "task_run_ms" -> runMs(i))
      })
  }
}

/** Minimal JSON writer for the run record and the result line. */
object Json {
  final case class Raw(s: String) {
    override def toString: String = s
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
