package graft.perfbench

import org.apache.spark.SparkContext

/** Per-layer metrics derived from the spans of the traced ops and the jobs
  * and tasks the listener attributed to them. Times are seconds and counts
  * are per op unless the name says otherwise. */
object Layers {

  type Metric = (String, (Double, String))

  /** Length of the union of `[start, end]` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** The traced ops selected by `opName`, their spans, jobs and tasks. */
  final class View(sc: SparkContext, t: Tracer, l: JobListener,
      opName: String => Boolean) {
    org.apache.spark.PerfbenchBridge.waitForListeners(sc)
    val ops: Seq[Span] = t.spans.filter(s => s.parent < 0 && opName(s.name)).toSeq
    private val opIds = ops.map(_.id).toSet
    val spans: Seq[Span] = t.spans.filter(s => opIds(s.op)).toSeq
    private val byId = spans.map(s => s.id -> s).toMap
    private val children = spans.groupBy(_.parent)
    val jobs: Seq[JobRec] = l.synchronized(l.jobs.toList).filter(j => byId.contains(j.span))
    private val allTasks = l.synchronized(l.tasks.toList)
    private val stageJob: Map[Int, Int] = l.synchronized(l.jobs.toList)
      .sortBy(-_.id).flatMap(j => j.stages.map(_ -> j.id)).toMap
    private val jobIds = jobs.map(_.id).toSet
    val tasksByJob: Map[Int, Seq[TaskRec]] =
      allTasks.filter(tk => stageJob.get(tk.stage).exists(jobIds)).groupBy(tk => stageJob(tk.stage))
    val n: Int = math.max(ops.size, 1)

    def spanOf(j: JobRec): Span = byId(j.span)
    def opOf(s: Span): Span = byId(s.op)
    def secs(p: Span => Boolean): Double = spans.filter(p).map(_.dur).sum / 1000.0
    def jobsOf(p: Span => Boolean): Seq[JobRec] = jobs.filter(j => p(spanOf(j)))
    def tasksOf(p: Span => Boolean): Seq[TaskRec] =
      jobsOf(p).flatMap(j => tasksByJob.getOrElse(j.id, Nil))
    def selfSecs(p: Span => Boolean): Double = spans.filter(p).map { s =>
      s.dur - children.getOrElse(s.id, Nil).map(_.dur).sum
    }.sum / 1000.0

    /** Job wall not covered by any of the job's running tasks. */
    def jobOverheadSecs: Double = jobs.map { j =>
      val tasks = tasksByJob.getOrElse(j.id, Nil)
        .map(tk => (tk.launch.max(j.start), tk.finish.min(j.end)))
      (j.end - j.start) - unionLength(tasks)
    }.sum / 1000.0

    /** Jobs that started inside a selected op but carry no span of it. */
    def unattributedJobs: Int = {
      val all = l.synchronized(l.jobs.toList)
      ops.map { o =>
        all.count(j => j.start >= o.start && j.start <= o.end &&
          !byId.get(j.span).exists(_.op == o.id))
      }.sum
    }

    /** Op wall covered neither by a Spark job nor by a sources, state or
      * sink call. */
    def uncoveredSecs: Double = ops.map { o =>
      val io = spans.filter(s => s.op == o.id &&
        Set("sources", "state", "sink")(s.layer)).map(s => (s.start, s.end))
      val js = jobs.filter(j => spanOf(j).op == o.id).map(j =>
        (j.start.max(o.start), j.end.min(o.end)))
      o.dur - unionLength(io ++ js)
    }.sum / 1000.0

    /** Op wall inside at least one Spark job. */
    def jobSecs: Double = ops.map { o =>
      unionLength(jobs.filter(j => spanOf(j).op == o.id).map(j =>
        (j.start.max(o.start), j.end.min(o.end))))
    }.sum / 1000.0

    def spark(gcS: Double): Seq[Metric] = {
      val tasks = jobs.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      Seq(
        "spark.jobs" -> (jobs.size.toDouble / n, "count"),
        "spark.tasks" -> (tasks.size.toDouble / n, "count"),
        "spark.job_overhead_s" -> (jobOverheadSecs / n, "s"),
        "spark.shuffle_write_bytes" -> (tasks.map(_.shuffleWrite).sum.toDouble / n, "bytes"),
        "spark.spill_bytes" -> (tasks.map(_.spill).sum.toDouble / n, "bytes"),
        "spark.gc_s" -> (gcS / n, "s"))
    }
  }

  private def named(n: String): Span => Boolean = _.name == n

  /** Every per-layer metric over the traced ops that `opName` selects
    * (sync passes or queries); a layer those ops never enter reads 0.
    * `deltaRows` and `docBytes` come from the sync generator and server,
    * `gcS` from the JVM's collectors over the same ops. */
  def metrics(sc: SparkContext, t: Tracer, l: JobListener,
      opName: String => Boolean, deltaRows: Long, docBytes: Double,
      gcS: Double): Seq[Metric] = {
    val v = new View(sc, t, l, opName)
    val memo = new View(sc, t, l, _.startsWith("memo:"))
    val n = v.n
    def secs(name: String) = (v.secs(named(name)) / n, "s")
    def jobs(p: Span => Boolean) = (v.jobsOf(p).size.toDouble / n, "count")
    def tasks(p: Span => Boolean) = (v.tasksOf(p).size.toDouble / n, "count")
    def bytes(p: Span => Boolean) = (v.tasksOf(p).map(_.outBytes).sum.toDouble / n, "bytes")
    val inPass: Span => Boolean = s => v.opOf(s).name == "pass"
    val inQuery: Span => Boolean = s => v.opOf(s).name.startsWith("query:")
    val sink: Span => Boolean = _.layer == "sink"
    val sinkRows = v.tasksOf(sink).map(_.outRecords).sum.toDouble
    Seq(
      "sources.fetch_s" -> secs("sources.fetch"),
      "sources.doc_bytes" -> (docBytes, "bytes"),
      "reconcile.diff_s" -> secs("reconcile.diff"),
      "reconcile.diff_jobs" -> jobs(named("reconcile.diff")),
      "reconcile.verify_s" -> secs("reconcile.verify"),
      "reconcile.verify_jobs" -> jobs(named("reconcile.verify")),
      "pipeline.jobs_per_pass" -> jobs(inPass),
      "pipeline.tasks_per_pass" -> tasks(inPass),
      "sink.node_apply_s" -> secs("sink.node_apply"),
      "sink.edge_apply_s" -> secs("sink.edge_apply"),
      "sink.detach_s" -> secs("sink.detach"),
      "sink.resolve_s" -> secs("sink.resolve"),
      "sink.bytes_written" -> bytes(sink),
      "sink.write_amplification" ->
        (if (deltaRows == 0) 0.0 else sinkRows / deltaRows, "ratio"),
      "state.read_s" -> secs("state.read"),
      "state.commit_s" -> secs("state.commit"),
      "state.bytes_written" -> bytes(named("state.commit")),
      "analytics.plan_s" -> secs("analytics.plan"),
      "analytics.exec_s" -> secs("analytics.exec"),
      "analytics.jobs_per_query" -> jobs(inQuery),
      "analytics.tasks_per_query" -> tasks(inQuery),
      "analytics.memo_build_s" -> (memo.secs(_.parent < 0), "s")) ++
      Seq("sources", "reconcile", "pipeline", "sink", "state", "analytics").map(l =>
        s"$l.self_s" -> (v.selfSecs(_.layer == l) / n, "s")) ++ Seq(
      "trace.jobs_s" -> (v.jobSecs / n, "s"),
      "trace.uncovered_s" -> (v.uncoveredSecs / n, "s"),
      "trace.unattributed_jobs" -> (v.unattributedJobs.toDouble, "count")) ++
      v.spark(gcS)
  }

  /** Tracing overhead. `trace.op_s_p50` is the median traced op wall: set
    * against `op_s_p50` of the untraced runs it gives the overhead.
    * `trace.overhead_ratio` estimates it within the traced run, which
    * alternates traced and plain ops in a seeded order: median traced op
    * over median plain op, minus one. With one or two ops of each kind it
    * also carries their warm-up, so it is approximate. */
  def overhead(ops: Seq[Op]): Seq[Metric] = {
    val (tr, plain) = ops.partition(_.traced)
    def p50(o: Seq[Op]) = if (o.isEmpty) Double.NaN else Main.quantile(o.map(_.wall), 0.5)
    Seq("trace.op_s_p50" -> (p50(tr), "s"),
      "trace.overhead_ratio" -> (p50(tr) / p50(plain) - 1, "ratio"))
  }
}
