package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the program did while a traced pass ran, using only Spark's
  * public listener interfaces. Jobs are tied to the op that caused them by
  * the local properties the harness sets before each op (threads of the
  * program's own pools inherit them); query executions, which carry no
  * properties, are tied to the op whose window contains their planning.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentHashMap[Int, TaskAgg]() // by job id
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  @volatile var syncQe: QueryExecution = null
  @volatile var syncSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, prop(OpKey), prop(PhaseKey),
      prop(PassKey).toIntOption.getOrElse(-1), e.time, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { j =>
      stages.add(StageRec(i.stageId, j, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val a = tasks.computeIfAbsent(j, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        a.durationMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakExecBytes = math.max(a.peakExecBytes, m.peakExecutionMemory)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    if (qe eq syncQe) { syncSeen = true; return }
    val first = seenQe.synchronized(seenQe.add(qe))
    val ph = qe.tracker.phases
    def span(k: String): (Long, Long) =
      ph.get(k).map(s => (s.startTimeMs, s.endTimeMs)).getOrElse((0L, 0L))
    val r = QueryRec(span("analysis"), span("optimization"), span("planning"), first)
    if (first) r.analyzedNodes = count(qe.analyzed)
    walk(qe.executedPlan) { p =>
      val cls = p.getClass.getSimpleName
      if (first) cls match {
        case "ShuffleExchangeExec"    => r.exchanges += 1
        case "SortMergeJoinExec"      => r.smj += 1
        case "BroadcastHashJoinExec"  => r.bhj += 1
        case "WholeStageCodegenExec"  => r.codegen += 1
        case _ =>
      }
      p match {
        case w: DataWritingCommandExec => r.filesWritten += metric(w, "numFiles")
        case _ =>
      }
      if (cls == "SortExec") r.sortMs += metric(p, "sortTime")
      if (cls.endsWith("HashAggregateExec")) r.aggMs += metric(p, "aggTime")
    }
    queries.add(r)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def count(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    var n = 0
    p.foreach(_ => n += 1)
    n
  }

  /** Visit every physical node, descending into adaptive stages and
    * subqueries but not into reused exchanges (counted where they are made).
    */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec        => walk(s.plan)(f)
      case _: ReusedExchangeExec    =>
      case _ => (p.children ++ p.subqueries).foreach(walk(_)(f))
    }
  }

  /** Wait until every event posted before this call has been delivered:
    * run a marker query and wait for both of its listener callbacks.
    */
  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val saved = Seq(OpKey, PhaseKey, PassKey).map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(OpKey, SyncOp)
    syncSeen = false
    val df = spark.range(1).toDF()
    syncQe = df.queryExecution
    df.collect()
    saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val deadline = System.nanoTime() + 30_000_000_000L
    def jobSeen = jobs.values.asScala.exists(j => j.op == SyncOp && j.end >= 0)
    while ((!syncSeen || !jobSeen) && System.nanoTime() < deadline) Thread.sleep(2)
    jobs.values.removeIf(_.op == SyncOp)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    sync(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val PassKey = "perfbench.pass"
  val SyncOp = "__sync__"

  final case class JobRec(id: Int, op: String, phase: String, pass: Int, start: Long,
      site: String) {
    @volatile var end: Long = -1L
  }

  final case class StageRec(id: Int, job: Int, start: Long, end: Long)

  final class TaskAgg {
    var tasks = 0L; var failed = 0L; var durationMs = 0L; var runMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
    var fetchWaitMs = 0L; var spillBytes = 0L; var peakExecBytes = 0L
  }

  final case class QueryRec(analysis: (Long, Long), optimization: (Long, Long),
      planning: (Long, Long), first: Boolean) {
    var analyzedNodes = 0; var exchanges = 0; var smj = 0; var bhj = 0; var codegen = 0
    var sortMs = 0L; var aggMs = 0L; var filesWritten = 0L
  }

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\((\w+)\.scala:\d+\)""".r

  /** (class, file) of every frame of a long call site, top first. */
  def frames(site: String): Seq[(String, String)] =
    site.linesIterator.flatMap(l => Frame.findFirstMatchIn(l).map(m => (m.group(1), m.group(2)))).toSeq
}
