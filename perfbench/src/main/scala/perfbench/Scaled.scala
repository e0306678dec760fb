package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, data-scaled inputs for the abcd pipeline, built with distributed
  * `spark.range` generators in the shape of the pipeline's scale probe: a
  * company universe with wide equity-ownership columns for production and
  * emissions. The seed variant shifts every value formula, so each variant
  * is a different data set with the same structure.
  */
object Scaled {

  private val sectors = typedLit(Seq("Power", "Oil&Gas", "Coal", "Automotive"))
  private val bus = typedLit(Seq("CoalCap", "Oil", "Coal", "Electric"))
  private val units = typedLit(Seq("MW", "GJ", "t", "#"))
  private val locs = typedLit(Seq("DE", "US"))

  private def pick(arr: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column, n: Int) =
    element_at(arr, pmod(id, lit(n)).cast("int") + 1)

  private def dims(spark: SparkSession, n: Long): DataFrame = spark.range(n).select(
    col("id").as("company_id"),
    concat(lit("c-"), col("id")).as("company_name"),
    pick(sectors, col("id"), 4).as("ald_sector"),
    pick(bus, col("id"), 4).as("ald_business_unit"),
    pick(units, col("id"), 4).as("activity_unit"),
    pick(locs, col("id"), 2).as("ald_location"))

  private def eo(df: DataFrame, v: Int, scale: Double, gapped: Boolean): DataFrame =
    (0 until 5).foldLeft(df) { (acc, i) =>
      val value = (pmod(col("company_id") * 7 + lit(v * 3 + i), lit(11)) + 1) * (i + 1) * lit(scale)
      acc.withColumn(s"Equity Ownership ${2021 + i}",
        if (gapped && i >= 1 && i <= 3)
          when(pmod(col("company_id") + i + v, lit(5)) === 0, lit(null).cast("double")).otherwise(value)
        else value)
    }

  def activities(spark: SparkSession, n: Long, v: Int): DataFrame = {
    val base = eo(dims(spark, n), v, 0.25, gapped = true)
    // Power producers also carry MWh rows (the MW/MWh fold)
    val mwh = eo(dims(spark, n).filter(col("ald_sector") === "Power")
      .withColumn("activity_unit", lit("MWh")), v, 0.5, gapped = false)
    base.unionByName(mwh)
  }

  def emissions(spark: SparkSession, n: Long, v: Int): DataFrame =
    eo(dims(spark, n).withColumn("activity_unit", lit("tCO2")), v, 0.125, gapped = false)
}
