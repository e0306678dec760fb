package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, from a single client thread: set-up
  * (repeated, median reported), then closed-loop passes over the workload's
  * ops until the measuring time is used, then the result file. With tracing
  * on, odd passes run with the listeners attached and record spans; even
  * passes stay untraced, and the untraced pass after the first traced one
  * gives the tracing overhead. A pass starts only if it can end before
  * `stopByMs` (epoch milliseconds).
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>
  *                  <size full|tiny> <setupReps> <stopByMs> <outFile>
  */
object Main {

  final case class OpRun(op: String, pass: Int, traced: Boolean, buildS: Double, actionS: Double,
      cpuS: Double, checkS: Double, error: Option[String], buildWin: (Double, Double), actionWin: (Double, Double),
      pinnedBuildMb: Double, pinnedAfterMb: Double, fs: Seq[Long]) {
    def wallS: Double = buildS + actionS
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  private val nanoAnchor = System.nanoTime()
  private val msAnchor = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds, comparable with Spark's event times. */
  private def nowMs(): Double = msAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  /** Local file-system counters summed over schemes: bytes read, bytes
    * written, read ops, write ops.
    */
  private def fsCounters(): Seq[Long] = {
    val st = FileSystem.getAllStatistics.asScala
    Seq(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum, st.map(_.getWriteOps.toLong).sum)
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(argv: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, workDir, dataDir, size, repsS, stopByS, outFile) = argv
    val wl = Workloads(wlName)
    val seed = seedS.toLong
    val ctx = Ctx(workDir, dataDir, variant = Math.floorMod(seed, Ctx.Variants.toLong).toInt, seed, tiny = size == "tiny")
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors

    // ---- set-up, several times; the last session is the one measured ----
    var spark: SparkSession = null
    var inputRows = Map.empty[String, Long]
    val setupS = (1 to repsS.toInt).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.core.Sessions.local(cpus, "perfbench")
      inputRows = wl.prepare(spark, ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val ops = wl.ops(ctx)
    val probe = new Probe
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val traces = mutable.ArrayBuffer.empty[Trace.PassTrace]

    def runOp(op: OpDef, pass: Int, traced: Boolean): OpRun = {
      sc.setLocalProperty(Probe.OpKey, op.name)
      sc.setLocalProperty(Probe.PassKey, pass.toString)
      sc.setLocalProperty(Probe.PhaseKey, "build")
      val fs0 = fsCounters()
      val cpu0 = cpuS()
      val b0 = nowMs()
      var built: Built = null
      var error: Option[String] = None
      try built = op.build(spark)
      catch { case e: Exception => error = Some(s"build: ${e.toString.take(300)}") }
      val b1 = nowMs()
      val pinnedBuild = if (traced) storageMb(spark) else 0.0
      sc.setLocalProperty(Probe.PhaseKey, "action")
      val a0 = nowMs()
      if (built != null)
        try { built.action(); built.release() }
        catch { case e: Exception => error = Some(s"action: ${e.toString.take(300)}") }
      val a1 = nowMs()
      val cpu1 = cpuS()
      val pinnedAfter = if (traced) storageMb(spark) else 0.0
      val fs1 = fsCounters()
      Seq(Probe.OpKey, Probe.PhaseKey, Probe.PassKey).foreach(sc.setLocalProperty(_, null))
      // hygiene: let stray jobs finish and drop every cache before the next op
      val deadline = System.nanoTime() + 60_000_000_000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(5)
      spark.catalog.clearCache()
      val c0 = System.nanoTime()
      if (built != null && error.isEmpty)
        try error = built.check(pass).map(m => s"check: $m")
        catch { case e: Exception => error = Some(s"check: ${e.toString.take(300)}") }
      error.foreach(m => System.err.println(s"[perfbench] ${op.name} pass $pass FAILED $m"))
      OpRun(op.name, pass, traced, (b1 - b0) / 1e3, (a1 - a0) / 1e3, cpu1 - cpu0,
        (System.nanoTime() - c0) / 1e9, error,
        (b0, b1), (a0, a1), pinnedBuild, pinnedAfter, fs1.zip(fs0).map { case (x, y) => x - y })
    }

    // ---- measured passes ----
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var pass = 0
    var lastPassS = 0.0
    def wanted = System.nanoTime() < deadline || (trace && pass < 3)
    def fits = nowMs() + lastPassS * 1.25e3 < stopByS.toDouble
    while (pass == 0 || (wanted && fits)) {
      val p0 = nowMs()
      val traced = trace && pass % 2 == 1
      if (traced) probe.attach(spark)
      val passRuns = ops.map(runOp(_, pass, traced))
      runs ++= passRuns
      if (traced) {
        probe.detach(spark)
        traces += Trace.harvest(probe, pass, passRuns)
      }
      // twice: the first collection lets Spark's cleaner release what the
      // pass left unreachable, the second reclaims it
      System.gc()
      Thread.sleep(200)
      System.gc()
      heapMb += (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1e6
      lastPassS = (nowMs() - p0) / 1e3
      pass += 1
    }

    // ---- results ----
    val measured = runs.toSeq
    val untraced = measured.filterNot(_.traced)
    val passWall = untraced.groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
    val passCpu = untraced.groupBy(_.pass).values.map(_.map(_.cpuS).sum).toSeq
    val opWalls = untraced.map(_.wallS)
    val failed = runs.count(_.error.nonEmpty)
    val e2e = Seq(
      ("setup_s", median(setupS), "s"),
      ("pass_s.p50", median(passWall), "s"),
      ("op_s.p50", median(opWalls), "s"),
      ("op_s.p90", quantile(opWalls, 0.9), "s"),
      ("cpu_s", median(passCpu), "s"),
      ("live_heap_mb", heapMb.max, "MB"))
    // the first pass also pays the JVM's first-use costs; the tracing
    // overhead compares traced passes with later untraced ones
    val warmPassWall = untraced.filter(_.pass > 0).groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
    val layer = Trace.layerMetrics(traces.toSeq, measured, failed, runs.size, cpus, warmPassWall)
    val errors = runs.flatMap(r => r.error.map(m => s"${r.op} pass ${r.pass}: $m"))
    val json = Json.obj(
      "workload" -> Json.str(wlName), "seed" -> seed.toString, "variant" -> ctx.variant.toString,
      "size" -> Json.str(size), "cpus" -> cpus.toString,
      "attempted" -> runs.size.toString, "failed" -> failed.toString,
      "passes" -> pass.toString, "untraced_passes" -> passWall.size.toString,
      "op_samples" -> opWalls.size.toString,
      "setup_reps_s" -> Json.arr(setupS.map(Json.num)),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) => k -> Json.metric(v, u) }: _*),
      "per_layer" -> Json.obj(layer.map { case (k, v, u) => k -> Json.metric(v, u) }: _*),
      "input_rows" -> Json.obj(inputRows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
      "fingerprints" -> Json.obj(ctx.fingerprints.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "oracle_sql" -> Json.obj(ops.flatMap(o => graft.SparkEntry.oracleSql.get(o.name)
        .map(o.name -> Json.str(_))): _*),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "ops" -> Json.arr(measured.map(r => Json.obj("op" -> Json.str(r.op), "pass" -> r.pass.toString,
        "traced" -> r.traced.toString, "build_s" -> Json.num(r.buildS),
        "action_s" -> Json.num(r.actionS), "cpu_s" -> Json.num(r.cpuS),
        "check_s" -> Json.num(r.checkS)))))
    Files.writeString(Paths.get(outFile), json + "\n")
    if (trace) Trace.writeSpans(traces.toSeq, s"$outFile.spans.jsonl")
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def metric(v: Double, unit: String): String = obj("value" -> num(v), "unit" -> str(unit))
}
