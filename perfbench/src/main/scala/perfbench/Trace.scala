package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import perfbench.Main.{OpRun, median}

/** Per-layer accounting of traced passes: spans, self times and the
  * per-layer metric table.
  *
  * Layers are the program's modules: `pipelines` (plan construction in
  * graft.pipelines and the catalog's query bodies), `core` (graft.core:
  * barriers, data checks, pools, snapshots), `plan` (Catalyst analysis,
  * optimization and physical planning), `exec` (Spark jobs, stages and tasks,
  * including graft.ops and graft.operators code) and `entry` (the op as the
  * caller sees it). graft.sources and graft.streaming are not measured.
  */
object Trace {

  final case class Span(id: Int, parent: Int, layer: String, name: String, start: Double, end: Double)

  final case class PassTrace(pass: Int, runs: Seq[OpRun], jobs: Seq[Probe.JobRec],
      stages: Seq[Probe.StageRec], tasks: Map[Int, Probe.TaskAgg], queries: Seq[Probe.QueryRec],
      spans: Seq[Span])

  val PipelineFiles = Seq("ScenarioData", "CapacityFactors", "Prices", "CarbonPrice", "Geographies",
    "Workflow", "Abcd", "Financial", "RunWorkflow")

  /** Innermost program frame of a job's call site: (class, file). */
  private def programFrame(site: String): Option[(String, String)] =
    Probe.frames(site).find(_._1.startsWith("graft."))

  /** The file of graft.pipelines that caused a job, if any. */
  def pipelineFile(site: String): Option[String] =
    Probe.frames(site).find(_._1.startsWith("graft.pipelines.")).map(_._2)

  def coreKind(site: String): Option[String] = programFrame(site).map(_._1).collect {
    case c if c.startsWith("graft.core.Barriers") => "barrier"
    case c if c.startsWith("graft.core.DataChecks") => "check"
    case c if Seq("Snapshot", "StagedSwap", "ChangeFeed", "GraftTable")
      .exists(p => c.startsWith("graft.core." + p)) => "snapshots"
  }

  /** Layer of a job span: construction jobs belong to the module that
    * issued them; jobs of the terminal action are execution.
    */
  private def jobLayer(j: Probe.JobRec): String =
    if (j.phase != "build") "exec"
    else programFrame(j.site).map(_._1) match {
      case Some(c) if c.startsWith("graft.core.") => "core"
      case Some(c) if c.startsWith("graft.pipelines.") || c.startsWith("graft.queries.") => "pipelines"
      case _ => "exec"
    }

  /** Collect what the probe saw during one traced pass and reset it. */
  def harvest(probe: Probe, pass: Int, runs: Seq[OpRun]): PassTrace = {
    val jobs = probe.jobs.values.asScala.filter(j => j.pass == pass && j.op != Probe.SyncOp)
      .toSeq.sortBy(_.id)
    val jobIds = jobs.map(_.id).toSet
    val stages = probe.stages.asScala.filter(s => jobIds(s.job)).toSeq
    val tasks = probe.tasks.asScala.filter { case (j, _) => jobIds(j) }.toMap
    val queries = probe.queries.asScala.toSeq
    probe.jobs.clear(); probe.stages.clear(); probe.tasks.clear(); probe.queries.clear()

    var next = 0
    def id(): Int = { next += 1; next }
    val spans = Seq.newBuilder[Span]
    val phaseSpans = runs.flatMap { r =>
      val op = id()
      val b = Span(id(), op, "pipelines", s"${r.op}/build", r.buildWin._1, r.buildWin._2)
      val a = Span(id(), op, "entry", s"${r.op}/action", r.actionWin._1, r.actionWin._2)
      spans += Span(op, 0, "entry", r.op, r.buildWin._1, r.actionWin._2)
      spans += b
      spans += a
      Seq((r.op, "build") -> b, (r.op, "action") -> a)
    }.toMap
    def containing(t: Double): Int =
      phaseSpans.values.find(s => s.start <= t && t <= s.end).map(_.id).getOrElse(0)
    val jobSpan = jobs.map { j =>
      val parent = phaseSpans.get((j.op, j.phase)).map(_.id).getOrElse(0)
      val end = if (j.end >= 0) j.end.toDouble else j.start.toDouble
      val s = Span(id(), parent, jobLayer(j), s"job ${j.id}", j.start.toDouble, end)
      spans += s
      j.id -> s.id
    }.toMap
    stages.foreach(s => spans += Span(id(), jobSpan(s.job), "exec", s"stage ${s.id}",
      s.start.toDouble, s.end.toDouble))
    for (q <- queries if q.first; (k, w) <- Seq("analysis" -> q.analysis,
        "optimization" -> q.optimization, "planning" -> q.planning) if w._2 > 0)
      spans += Span(id(), containing(w._1.toDouble), "plan", k, w._1.toDouble, w._2.toDouble)
    PassTrace(pass, runs, jobs, stages, tasks, queries, spans.result())
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((a, b) <- c) {
      if (curS.isNaN || a > curE) { if (!curS.isNaN) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per layer in seconds: each span's duration minus the part of
    * it its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.layer -> ((s.end - s.start) - covered(ch, s.start, s.end)) / 1e3
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeSpans(traces: Seq[PassTrace], path: String): Unit = {
    val lines = for (t <- traces; s <- t.spans) yield Json.obj("pass" -> t.pass.toString,
      "id" -> s.id.toString, "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
      "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))
    Files.write(Paths.get(path), lines.asJava)
  }

  val allEntryOps: Seq[String] = Seq("run_workflow", "abcd_assets") ++
    Workloads.lakehouseOps ++ Workloads.operatorOps

  /** The per-layer metric table, averaged per traced pass. Every workload
    * reports every metric; metrics of layers a workload does not reach read 0.
    */
  def layerMetrics(traces: Seq[PassTrace], measured: Seq[OpRun], failed: Int, attempted: Int,
      cpus: Int, warmUntracedPassS: Seq[Double]): Seq[(String, Double, String)] = {
    val n = math.max(1, traces.size).toDouble
    val runs = traces.flatMap(_.runs)
    val jobs = traces.flatMap(_.jobs)
    val tasks = traces.flatMap(_.tasks.values)
    val queries = traces.flatMap(_.queries)
    val firstQ = queries.filter(_.first)
    def per(x: Double) = x / n
    val buildS = runs.map(_.buildS).sum
    val wallS = runs.map(_.wallS).sum
    val buildJobs = jobs.filter(_.phase == "build")
    def dur(j: Probe.JobRec) = if (j.end >= 0) (j.end - j.start) / 1e3 else 0.0
    val buildOverlap = runs.map { r =>
      buildJobs.filter(_.op == r.op).map { j =>
        val e = if (j.end >= 0) j.end.toDouble else r.buildWin._2
        math.max(0.0, math.min(e, r.buildWin._2) - math.max(j.start.toDouble, r.buildWin._1))
      }.sum / 1e3
    }.sum
    val stageMetrics = PipelineFiles.flatMap { f =>
      val js = jobs.filter(j => pipelineFile(j.site).contains(f))
      Seq((s"pipelines.stage.$f.jobs", per(js.size), "count"), (s"pipelines.stage.$f.busy_s", per(js.map(dur).sum), "s"))
    }
    def kind(k: String) = per(buildJobs.count(j => coreKind(j.site).contains(k)))
    def phase(w: (Long, Long)) = (w._2 - w._1) / 1e3
    val returnMs = runs.map(r => (r.op, r.pass) -> r.actionWin._2).toMap
    // a job's end event is stamped just after the action that waited on it
    // wakes up, so allow 100 ms before calling it an orphan
    val orphans = jobs.count(j => returnMs.get((j.op, j.pass)).exists(t => j.end < 0 || j.end > t + 100))
    val taskRunS = tasks.map(_.runMs).sum / 1e3
    val self = traces.map(t => selfTimes(t.spans)).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
    val tracedPass = median(traces.map(_.runs.map(_.wallS).sum))
    val byOp = measured.groupBy(_.op).map { case (k, rs) => k -> median(rs.map(_.wallS)) }
    val mb = 1e6
    Seq(
      ("pipelines.build_s", per(buildS), "s"),
      ("pipelines.build_jobs", per(buildJobs.size), "count"),
      ("pipelines.build_share", if (wallS > 0) buildS / wallS else 0.0, "ratio")) ++ stageMetrics ++ Seq(
      ("core.barrier_jobs", kind("barrier"), "count"),
      ("core.check_jobs", kind("check"), "count"),
      ("core.pool_concurrency", if (buildS > 0) buildOverlap / buildS else 0.0, "jobs"),
      ("core.pinned_mb", if (runs.isEmpty) 0.0 else runs.map(_.pinnedBuildMb).max, "MB"),
      ("core.snapshots.jobs", kind("snapshots"), "count"),
      ("storage.bytes_written", per(runs.map(_.fs(1)).sum.toDouble), "bytes"),
      ("storage.bytes_read", per(runs.map(_.fs(0)).sum.toDouble), "bytes"),
      ("storage.files_written", per(queries.map(_.filesWritten).sum.toDouble), "count"),
      ("storage.fs_read_ops", per(runs.map(_.fs(2)).sum.toDouble), "count"),
      ("storage.fs_write_ops", per(runs.map(_.fs(3)).sum.toDouble), "count"),
      ("plan.analysis_s", per(firstQ.map(q => phase(q.analysis)).sum), "s"),
      ("plan.optimization_s", per(firstQ.map(q => phase(q.optimization)).sum), "s"),
      ("plan.planning_s", per(firstQ.map(q => phase(q.planning)).sum), "s"),
      ("plan.queries", per(queries.size), "count"),
      ("plan.analyzed_nodes", per(firstQ.map(_.analyzedNodes).sum), "count"),
      ("plan.exchanges", per(firstQ.map(_.exchanges).sum), "count"),
      ("plan.smj", per(firstQ.map(_.smj).sum), "count"),
      ("plan.bhj", per(firstQ.map(_.bhj).sum), "count"),
      ("plan.codegen_stages", per(firstQ.map(_.codegen).sum), "count"),
      ("exec.jobs", per(jobs.size), "count"),
      ("exec.stages", per(traces.map(_.stages.size).sum), "count"),
      ("exec.tasks", per(tasks.map(_.tasks).sum), "count"),
      ("exec.task_run_s", per(taskRunS), "s"),
      ("exec.task_cpu_s", per(tasks.map(_.cpuNs).sum / 1e9), "s"),
      ("exec.task_gc_s", per(tasks.map(_.gcMs).sum / 1e3), "s"),
      ("exec.task_overhead_s", per(tasks.map(t => t.durationMs - t.runMs).sum / 1e3), "s"),
      ("exec.core_busy", if (wallS > 0) taskRunS / (wallS * cpus) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", per(tasks.map(_.shuffleWriteBytes).sum / mb), "MB"),
      ("exec.shuffle_read_mb", per(tasks.map(_.shuffleReadBytes).sum / mb), "MB"),
      ("exec.shuffle_fetch_wait_s", per(tasks.map(_.fetchWaitMs).sum / 1e3), "s"),
      ("exec.spill_mb", per(tasks.map(_.spillBytes).sum / mb), "MB"),
      ("exec.peak_exec_mem_mb", if (tasks.isEmpty) 0.0 else tasks.map(_.peakExecBytes).max / mb, "MB"),
      ("exec.failed_tasks", per(tasks.map(_.failed).sum), "count"),
      ("ops.sort_s", per(queries.map(_.sortMs).sum / 1e3), "s"),
      ("ops.agg_build_s", per(queries.map(_.aggMs).sum / 1e3), "s"),
      ("orphan_jobs", per(orphans), "count"),
      ("pinned_mb_after", if (runs.isEmpty) 0.0 else runs.map(_.pinnedAfterMb).max, "MB"),
      ("error_rate", if (attempted > 0) failed.toDouble / attempted else 0.0, "ratio"),
      ("trace.pass_s.p50", tracedPass, "s"),
      // 0 when the run had no time for an untraced pass after the traced one
      ("trace.overhead_share",
        if (warmUntracedPassS.nonEmpty) tracedPass / median(warmUntracedPassS) - 1 else 0.0, "ratio")) ++
      Seq("entry", "pipelines", "core", "plan", "exec").map(l => (s"self.$l.s", per(self.getOrElse(l, 0.0)), "s")) ++
      allEntryOps.map(o => (s"entry.$o.s", byOp.getOrElse(o, 0.0), "s"))
  }
}
