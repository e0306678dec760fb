package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.pipelines.{Abcd, RunWorkflow, Workflow}

/** What one op hands back after its build: the terminal action, the release
  * the program documents for its outputs, and the correctness check that
  * runs after the op, outside its timing. `check(pass)` returns an error
  * message when the outputs are wrong.
  */
final class Built(val action: () => Unit, val release: () => Unit, val check: Int => Option[String])

final case class OpDef(name: String, build: SparkSession => Built)

/** Run-wide settings every workload reads. */
final case class Ctx(workDir: String, dataDir: String, variant: Int, seed: Long, tiny: Boolean) {
  require(variant >= 0 && variant < Ctx.Variants)
  /** Pass-0 fingerprints of generated-input ops, compared by run.py against
    * the recorded table.
    */
  val fingerprints = new java.util.concurrent.ConcurrentHashMap[String, String]()
}

object Ctx {
  /** Generated inputs come in this many seeded variants (seed mod Variants),
    * each with recorded output fingerprints.
    */
  val Variants = 8
}

trait Workload {
  def name: String
  /** Generate or load the inputs; returns rows per input. Timed as set-up. */
  def prepare(spark: SparkSession, ctx: Ctx): Map[String, Long]
  /** The ops of one pass, in pass order. */
  def ops(ctx: Ctx): Seq[OpDef]
}

object Workloads {

  val lakehouseOps = Seq("u12_snapshot_publish", "u16_merge", "u17_optimize", "u18_expect_publish",
    "u19_incr_view", "u21_zorder", "u22_table_constraints", "u24_deletion_vectors",
    "u26_change_feed", "u27_dml_where", "s20_bloom_point")
  val operatorOps = Seq("g1_pagerank", "g5_kcore", "g7_cc_converged", "g8_bfs_dist",
    "tx_bpe_train", "dd_minhash_lsh", "dd_edit_distance", "ann_ivf_compact", "ml_auc", "ml_ndcg")

  def apply(name: String): Workload = name match {
    case "workflow_dyadic"  => WorkflowDyadic
    case "pipelines_scaled" => PipelinesScaled
    case "lakehouse_sf0.1"  => new Catalog(name, lakehouseOps)
    case "operators_sf0.1"  => new Catalog(name, operatorOps)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Per-row hash of a frame for its fingerprint. Floating-point values are
    * hashed at 6 significant digits so that summation order inside the
    * program cannot flip them.
    */
  private def rowHash(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType =>
        val d = c.cast("double") + lit(0.0)
        when(isnan(d), lit("NaN")).otherwise(format_string("%.6g", d))
      case _ => c
    }
  }: _*)

  /** An op's output frames, each wrapped so that the op's own terminal write
    * also yields the frame's order-insensitive fingerprint (row count and
    * the wrapping sum of the row hashes) without a job of its own. The check
    * runs after the op: pass 0 records the fingerprints for run.py,
    * which compares them with the recorded table; every later pass
    * must reproduce them.
    */
  final class Fingerprinted(ctx: Ctx, op: String, frames: Seq[(String, DataFrame)]) {
    private val observed = frames.map { case (name, df) =>
      val o = Observation(s"fp_$name")
      (name, o, df.observe(o, count(lit(1)).as("n"), sum(rowHash(df)).as("h")))
    }
    def write(): Unit = observed.foreach { case (_, _, df) => noop(df) }
    def check(pass: Int): Option[String] = {
      val got = observed.map { case (name, o, _) =>
        val m = o.get
        s"$name=${m("n")}:${Option(m("h")).getOrElse(0L)}"
      }.mkString(";")
      if (pass == 0) { ctx.fingerprints.put(op, got); None }
      else if (got != ctx.fingerprints.get(op)) Some(s"pass $pass fingerprints differ from pass 0")
      else None
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One `RunWorkflow.run` with every optional stage, then a write of every
    * output frame and the documented release of its caches.
    */
  object WorkflowDyadic extends Workload {
    val name = "workflow_dyadic"
    @volatile private var inputs: RunWorkflow.Inputs = _

    def prepare(spark: SparkSession, ctx: Ctx): Map[String, Long] = {
      val (in, rows) = Dyadic.inputs(spark, ctx.variant, if (ctx.tiny) 8 else 40)
      inputs = in
      rows
    }

    def ops(ctx: Ctx): Seq[OpDef] = Seq(OpDef("run_workflow", spark => {
      val out = RunWorkflow.run(spark, inputs)
      val fp = new Fingerprinted(ctx, "run_workflow", Dyadic.outputs(out))
      new Built(() => fp.write(), () => out.unpersistAll(), fp.check)
    }))
  }

  /** The abcd pipeline through its TRISK-v2 assets reshape over a
    * data-scaled company universe. The inputs are seeded `spark.range`
    * plans, so generating them is part of the op's first stage.
    */
  object PipelinesScaled extends Workload {
    val name = "pipelines_scaled"
    @volatile private var inputs: (DataFrame, DataFrame) = _

    def prepare(spark: SparkSession, ctx: Ctx): Map[String, Long] = {
      val n = if (ctx.tiny) 1000L else 5000L
      inputs = (Scaled.activities(spark, n, ctx.variant), Scaled.emissions(spark, n, ctx.variant))
      // every fourth company is a Power producer with an extra MWh row
      Map("company_activities" -> (n + (n + 3) / 4), "company_emissions" -> n)
    }

    def ops(ctx: Ctx): Seq[OpDef] = Seq(OpDef("abcd_assets", spark => {
      val abcd = Abcd.prepareAbcdData(inputs._1, inputs._2, startYear = 2021, timeHorizon = 4,
        sectorList = Seq("Automotive", "Power", "Oil&Gas", "Coal"))
      val fp = new Fingerprinted(ctx, "abcd_assets", Seq("assets" -> Workflow.triskV2Assets(abcd)))
      new Built(() => fp.write(), () => (), fp.check)
    }))
  }

  /** Catalog entries over the seeded star-schema tables, in a seed-shuffled
    * order. Each op collects its (small, totally ordered) result; the first
    * pass's rows are written out for the DuckDB oracle and every later pass
    * must return the same rows.
    */
  final class Catalog(val name: String, names: Seq[String]) extends Workload {
    def prepare(spark: SparkSession, ctx: Ctx): Map[String, Long] =
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings").map(t => t -> graft.core.Tables.t(spark, ctx.dataDir, t).count()).toMap

    def ops(ctx: Ctx): Seq[OpDef] = {
      val firstRows = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
      new Random(ctx.seed).shuffle(names).map { q =>
        val fn = graft.SparkEntry.queries.getOrElse(q,
          throw new IllegalArgumentException(s"catalog has no entry '$q'"))
        OpDef(q, spark => {
          val df = fn(spark, ctx.dataDir)
          var rows: Array[Row] = Array.empty
          new Built(() => rows = df.collect(), () => (), pass => {
            val got = rows.toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
            if (pass == 0) {
              firstRows.put(q, got)
              spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
                .write.mode("overwrite").parquet(s"${ctx.workDir}/out/$q")
              None
            } else if (got != firstRows.get(q)) Some(s"pass $pass rows differ from pass 0")
            else None
          })
        })
      }
    }
  }
}
