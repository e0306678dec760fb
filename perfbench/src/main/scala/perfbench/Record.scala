package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Records the output fingerprints of every seed variant of a
  * generated-input workload, all variants in one JVM:
  *
  *   perfbench.Record <workload> <size full|tiny> <workDir> <outFile>
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(wlName, size, workDir, outFile) = argv
    val wl = Workloads(wlName)
    val spark = graft.core.Sessions.local(Runtime.getRuntime.availableProcessors, "perfbench")
    val byVariant = (0 until Ctx.Variants).map { v =>
      val ctx = Ctx(workDir, workDir, v, v.toLong, tiny = size == "tiny")
      wl.prepare(spark, ctx)
      for (op <- wl.ops(ctx)) {
        val b = op.build(spark)
        b.action()
        b.release()
        spark.catalog.clearCache()
        b.check(0).foreach(m => throw new IllegalStateException(s"${op.name} variant $v: $m"))
      }
      System.err.println(s"[perfbench] recorded $wlName $size variant $v")
      v.toString -> Json.obj(ctx.fingerprints.asScala.toSeq.sortBy(_._1)
        .map { case (k, f) => k -> Json.str(f) }: _*)
    }
    Files.writeString(Paths.get(outFile), Json.obj(byVariant: _*) + "\n")
    spark.stop()
  }
}
