package steadybench

/** Everything the traced ops left behind: client spans, the listener's
  * jobs, stages and SQL executions, and each op's epoch-ms window. */
final case class Traced(spans: Seq[Span], jobs: Seq[JobRec],
                        stages: Map[Int, StageRec], queries: Seq[QueryRec],
                        windows: Seq[(Int, Long, Long)], ops: Seq[OpResult],
                        epochOffsetNs: Long) {
  import Traced.JobSpanBase
  private val opSet = ops.map(_.op).toSet
  val nOps: Int = ops.length

  private def opAtMs(ms: Long): Option[Int] =
    windows.collectFirst { case (i, a, b) if a <= ms && ms <= b => i }

  /** Job → op: the op's job group, or for jobs a streaming query ran on
    * its own thread, the op whose window holds the job's start. */
  private def opOf(j: JobRec): Option[Int] =
    if (j.group.startsWith(Tracer.GroupPrefix))
      Some(j.group.stripPrefix(Tracer.GroupPrefix).toInt)
    else opAtMs(j.startMs)

  private def toNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Job → enclosing client span: the span the submitting thread had
    * open, or for stream-thread jobs the innermost span open at start. */
  private def spanOf(j: JobRec, op: Int): Option[Span] =
    if (j.group.startsWith(Tracer.GroupPrefix) && j.span >= 0)
      spanById.get(j.span)
    else {
      val t = toNs(j.startMs)
      spans.filter(s => s.op == op && s.t0 <= t && t <= s.t1)
        .sortBy(-_.t0).headOption
    }

  private lazy val spanById: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** Traced jobs with their op and enclosing span. */
  lazy val opJobs: Seq[(JobRec, Int, Option[Span])] = jobs.flatMap { j =>
    opOf(j).filter(opSet).map(o => (j, o, spanOf(j, o)))
  }

  lazy val opSpans: Seq[Span] = spans.filter(s => opSet(s.op))

  /** The traced jobs as child spans of the client span they ran under. */
  def jobSpans: Seq[Span] = opJobs.map { case (j, op, s) =>
    Span(JobSpanBase + j.jobId, s.map(_.id).getOrElse(-1), "job", j.callSite,
      op, toNs(j.startMs), toNs(j.endMs))
  }

  def opQueries: Seq[QueryRec] = queries.filter(q => opAtMs(q.endMs).exists(opSet))

  /** A job is a table-resolution job when the engine's `Tables` ran it
    * (schema inference) or it ran inside a `tables` span. */
  def isTablesJob(j: JobRec, s: Option[Span]): Boolean =
    j.callSite.contains("Tables.scala") || s.exists(_.layer == "tables")

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)

  def perOp(x: Double): Double = if (nOps == 0) 0.0 else x / nOps
}

object Traced {
  /** Job spans get ids above any client span's. */
  val JobSpanBase = 1000000
}

/** The per-layer metrics, computed from one traced loop. Every metric
  * is a mean per op unless its name says otherwise; a layer a workload
  * never enters reports 0. */
object Layers {

  val names: Seq[String] = Seq(
    "tables.read_ms", "tables.jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "ops.build_ms", "ops.build_jobs",
    "exec.action_ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.cpu_util",
    "exec.scan_bytes", "exec.scan_files", "exec.shuffle_bytes",
    "exec.spill_bytes",
    "functions.exec_ms", "functions.task_cpu_ms",
    "streaming.add_batch_ms", "streaming.plan_ms", "streaming.wal_ms",
    "streaming.state_rows", "streaming.state_mb", "streaming.jobs_per_batch",
    "io.compact_batch_ms", "io.plain_batch_ms",
    "io.b_dirs", "io.v_dirs", "io.files", "io.bytes_per_det",
    "io.read_snapshot_ms", "io.read_pattern_ms",
    "trace.overhead_pct")

  val units: Map[String, String] = names.map { n =>
    n -> (
      if (n.endsWith("_ms")) "ms"
      else if (n.endsWith("_mb")) "MB"
      else if (n.endsWith("_bytes") || n == "io.bytes_per_det") "bytes"
      else if (n.endsWith("_pct")) "%"
      else if (n == "exec.cpu_util") "ratio"
      else "count")
  }.toMap

  def generic(t: Traced): Map[String, Double] = {
    val ms = 1e6
    val jobs = t.opJobs
    val tablesJobs = jobs.filter { case (j, _, s) => t.isTablesJob(j, s) }
    val outerTables = t.opSpans.filter(s => s.layer == "tables" &&
      !t.opSpans.exists(p => p.id == s.parent && p.layer == "tables"))
    // schema inference the engine ran inside a builder has no span of
    // its own: its job wall time is the table-resolution time
    val innerTablesJobs = tablesJobs.filter { case (_, _, s) =>
      !s.exists(_.layer == "tables") }
    def jobNs(j: JobRec) = (j.endMs - j.startMs) * ms
    val tablesNs = outerTables.map(_.dur).sum +
      innerTablesJobs.map(x => jobNs(x._1)).sum
    val opsSpans = t.opSpans.filter(_.layer == "ops")
    val opsIds = opsSpans.map(_.id).toSet
    val tablesInOpsNs =
      t.opSpans.filter(s => s.layer == "tables" && opsIds(s.parent)).map(_.dur).sum +
        innerTablesJobs.filter(_._3.exists(s => opsIds(s.id))).map(x => jobNs(x._1)).sum
    val buildJobs = jobs.filter { case (j, _, s) =>
      s.exists(_.layer == "ops") && !t.isTablesJob(j, s) }
    val execSpans = t.opSpans.filter(_.layer == "exec")
    val actionStages = t.stagesOf(jobs.filter(_._3.exists(_.layer == "exec")).map(_._1))
    // execution is every job that neither resolves a table nor runs in
    // a builder: the final action's, and on ingest the sinks' and the
    // reads', so tables.jobs + ops.build_jobs + exec.jobs is every job
    val execJobs = jobs.filter { case (j, _, s) =>
      !t.isTablesJob(j, s) && !s.exists(_.layer == "ops") }.map(_._1)
    val execStages = t.stagesOf(execJobs)
    // bytes read, shuffled and spilled are the io layouts' cost wherever
    // it falls, so they cover all of an op's jobs, as scan_files covers
    // all of its SQL executions
    val allStages = t.stagesOf(jobs.map(_._1))
    val execNs = execSpans.map(_.dur).sum
    val qs = t.opQueries
    Map(
      "tables.read_ms" -> t.perOp(tablesNs / ms),
      "tables.jobs" -> t.perOp(tablesJobs.length),
      "catalyst.analysis_ms" -> t.perOp(qs.map(_.analysisMs).sum),
      "catalyst.optimizer_ms" -> t.perOp(qs.map(_.optimizerMs).sum),
      "catalyst.planning_ms" -> t.perOp(qs.map(_.planningMs).sum),
      "ops.build_ms" -> t.perOp((opsSpans.map(_.dur).sum - tablesInOpsNs) / ms),
      "ops.build_jobs" -> t.perOp(buildJobs.length),
      "exec.action_ms" -> t.perOp(execNs / ms),
      "exec.jobs" -> t.perOp(execJobs.length),
      "exec.stages" -> t.perOp(execStages.length),
      "exec.tasks" -> t.perOp(execStages.map(_.tasks).sum),
      "exec.task_cpu_ms" -> t.perOp(execStages.map(_.cpuNs).sum / ms),
      "exec.gc_ms" -> t.perOp(execStages.map(_.gcMs).sum),
      "exec.cpu_util" -> (if (execNs == 0) 0.0
        else actionStages.map(_.cpuNs).sum.toDouble / (execNs.toDouble * Main.Cores)),
      "exec.scan_bytes" -> t.perOp(allStages.map(_.inputBytes).sum),
      "exec.scan_files" -> t.perOp(qs.map(_.scanFiles).sum),
      "exec.shuffle_bytes" -> t.perOp(allStages.map(_.shuffleBytes).sum),
      "exec.spill_bytes" -> t.perOp(allStages.map(_.spillBytes).sum))
  }

  /** Mean span time of the named spans, per span (0 when none ran). */
  def meanSpanMs(t: Traced, layer: String, name: String): Double = {
    val ss = t.opSpans.filter(s => s.layer == layer && s.name == name)
    if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e6 / ss.length
  }
}
