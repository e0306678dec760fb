package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipelines.{RunWorkflow, ScenarioData}

/** Seeded inputs for one `RunWorkflow.run` with every optional stage
  * supplied. The scenario and vintage frames have the shapes of the
  * workflow's multi-vintage test fixtures; the company universe follows the
  * reference's synthetic-company generators (sector sampling with MW/MWh
  * duplication, per-row country lists, geometric production with injected
  * NA and full-NA rows, oversampled ISINs with unmatched extras). Only the
  * company universe depends on the seed.
  */
object Dyadic {

  private val productionTypes = Seq(
    ("Power", "CoalCap", "MW"), ("Power", "GasCap", "MW"), ("Power", "RenewablesCap", "MW"),
    ("Automotive", "Electric", "# vehicles"), ("Automotive", "ICE", "# vehicles"),
    ("Oil&Gas", "Oil", "GJ"), ("Oil&Gas", "Gas", "GJ"), ("Coal", "Coal", "tonnes"))

  private val countries = Seq("DE", "FR", "US", "CN", "BR", "IN")

  private def geometric(rng: Random, mean: Double): Double =
    math.floor(math.log(rng.nextDouble()) / math.log(1.0 - 1.0 / mean))

  final case class WideRow(
      company_id: Long, company_name: String, ald_sector: String,
      ald_business_unit: String, ald_location: String, activity_unit: String,
      y0: Option[Double], y1: Option[Double], y2: Option[Double],
      y3: Option[Double], y4: Option[Double], y5: Option[Double])

  private def wideFrame(spark: SparkSession, rows: Seq[WideRow]): DataFrame = {
    import spark.implicits._
    (0 to 5).foldLeft(rows.toDF())((d, i) =>
      d.withColumnRenamed(s"y$i", s"Equity Ownership ${2022 + i}"))
  }

  private def companyRows(rng: Random, nCompanies: Int, propNa: Double, nRowFullNa: Int,
      meanValue: Double, unitOverride: Option[String]): Seq[WideRow] = {
    val base = (1 to nCompanies).flatMap { cid =>
      val sectors = rng.shuffle(productionTypes).take(3)
      val withDuals = (sectors ++
        sectors.filter(_._3 == "MW").map(s => (s._1, s._2, "MWh"))).distinct
      withDuals.flatMap { case (sec, bu, unit) =>
        rng.shuffle(countries).take(1 + rng.nextInt(3))
          .map(loc => (cid.toLong, s"company-$cid", sec, bu, loc, unit))
      }
    }
    base.zipWithIndex.map { case ((cid, name, sec, bu, loc, unit), i) =>
      val v = (0 to 5).map(_ =>
        if (i < nRowFullNa || rng.nextDouble() < propNa) None else Some(geometric(rng, meanValue)))
      WideRow(cid, name, sec, bu, loc, unitOverride.getOrElse(unit), v(0), v(1), v(2), v(3), v(4), v(5))
    }
  }

  /** Per-ISIN financials: about half the companies carry 1-3 ISINs each, a
    * tenth of the ISINs have no id mapping; ald_location is the ISIN prefix.
    */
  private def eikonAndIds(spark: SparkSession, rng: Random, nCompanies: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rows = (1 to nCompanies).filter(_ => rng.nextDouble() < 0.5).flatMap { cid =>
      (0 until 1 + rng.nextInt(3)).map { k =>
        val loc = countries(rng.nextInt(countries.size))
        (f"$loc$cid%08d$k%02d", cid.toLong, loc,
          rng.nextDouble(), rng.nextDouble(), rng.nextDouble(), rng.nextDouble())
      }
    }
    val eikon = rows.map(r => (r._1, r._3, r._4, r._5, r._6, r._7))
      .toDF("isin", "ald_location", "pd", "net_profit_margin", "debt_equity_ratio", "volatility")
    val ids = rows.filter(_ => rng.nextDouble() < 0.9).map(r => (r._1, r._2))
      .toDF("isin", "company_id")
    (eikon, ids)
  }

  private def ownershipTree(spark: SparkSession, rng: Random, nCompanies: Int): DataFrame = {
    import spark.implicits._
    (2 to nCompanies by 2).map(cid => (cid.toLong - 1, cid.toLong, 0.5 + rng.nextDouble() / 2, 1))
      .toDF("parent_company_id", "subsidiary_company_id", "linking_stake", "ownership_level")
  }

  // ---- scenario and vintage fixtures (fixed shapes) ----

  private final class Fixtures(spark: SparkSession) {
    import spark.implicits._
    val ngfsWide: DataFrame = {
      val base = Seq(("NGFS", "NZ2050", "World", "Price|Carbon", "US$2010/t CO2"))
        .toDF("Model", "Scenario", "Region", "Variable", "Unit")
      (2015 to 2100 by 5).zipWithIndex.foldLeft(base) { case (d, (y, i)) =>
        d.withColumn(y.toString, lit(5.0 * i))
      }
    }
    val weoWide: DataFrame = Seq(
      ("WEO2020", "Capacity", "Power", "GW", "SDS", "World", "Coal", null: String, 100.0, 100.0),
      ("WEO2020", "Generation", "Power", "TWh", "SDS", "World", "Coal", null: String, 438.0, 613.2))
      .toDF("Source", "Indicator", "Sector", "Units", "Scenario", "ScenarioGeography",
        "Technology", "Sub_Technology", "2021", "2040")
    def fossilWide(src: String): DataFrame = Seq(
      (src, "Crude oil", "usd/barrel", "Global", "SDS", 100.0, 50.0),
      (src, "Crude oil", "usd/barrel", "Global", "STEPS", 110.0, 90.0))
      .toDF("source", "sector", "unit", "scenario_geography", "scenario", "2020", "2030")
    def powerWide(src: String): DataFrame = Seq(
      (src, "SDS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 70.0, 50.0),
      (src, "STEPS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 80.0, 75.0))
      .toDF("source", "scenario", "region", "technology", "indicator", "unit", "2020", "2030")
    val gecoAutomotive: DataFrame = Seq(
      ("GECO2023", "CurPol", "World", "Automotive", "Electric", "# vehicles", "Sales", 2022, 1.0),
      ("GECO2023", "CurPol", "World", "Automotive", "Electric", "# vehicles", "Sales", 2024, 3.0),
      ("GECO2023", "CurPol", "World", "Automotive", "ICE", "# vehicles", "Sales", 2022, 9.0),
      ("GECO2023", "CurPol", "World", "Automotive", "ICE", "# vehicles", "Sales", 2024, 7.0))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology",
        "units", "indicator", "year", "value")
    val weo2023Cf: DataFrame = Seq("CoalCap", "GasCap", "HydroCap", "NuclearCap", "OilCap",
      "RenewablesCap").flatMap { t =>
      Seq(
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Capacity", 100.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Capacity", 200.0),
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Electricity generation", 438.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Electricity generation", 876.0))
    }.toDF("source", "scenario", "scenario_geography", "sector", "technology",
      "year", "units", "indicator", "value")
    def ngfsCf(model: String): DataFrame = Seq(
      (model, "Net Zero 2050", "World", "V", "Capacity", "Electricity", "Coal", "GW", 2030, 10.0),
      (model, "Net Zero 2050", "World", "V", "Capacity", "Electricity", "Coal", "GW", 2032, 10.0),
      (model, "Net Zero 2050", "World", "V", "Secondary Energy", "Electricity", "Coal", "GW", 2030, 0.1577),
      (model, "Net Zero 2050", "World", "V", "Secondary Energy", "Electricity", "Coal", "GW", 2032, 0.1577))
      .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
    val ipr2023Cf: DataFrame = Seq(
      ("FPS", "WORLD", "GW", "Power", "Capacity", "x", "Coal", 2030, 10.0),
      ("FPS", "WORLD", "GW", "Power", "Electricity generation", "Coal", "ignored", 2030, 43.83))
      .toDF("Scenario", "Region", "Units", "Sector", "Variable_class",
        "Sub_variable_class_1", "Sub_variable_class_2", "year", "value")
    val gemSteelCf: DataFrame = Seq(("BOF Steel", 2027, 0.7), ("EAF Steel", 2027, 0.6),
      ("DRI", 2027, 0.5), ("OHF Steel", 2027, 0.4)).toDF("technology", "year", "value")
    val ngfsPrices: DataFrame = Seq(
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Price", "Primary Energy", "Oil", "US$2010/GJ", 2030, 10.0),
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Price", "Primary Energy", "Oil", "US$2010/GJ", 2032, 14.0))
      .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
    val oxfordLcoe: DataFrame = (2021 to 2069).flatMap { y =>
      Seq(("Power", "Oxford - fast_transition", "World", "Natural gas", null: String, y, 60.0),
        ("Power", "Oxford - no_transition", "World", "Natural gas", null: String, y, 60.0))
    }.toDF("Sector", "Scenario", "Region", "Technology", "Sub_Technology", "Year", "LCOE")
    val oxf2021Prices: DataFrame = (2021 to 2069).map { y =>
      ("Oil", "Fossil Fuels", "Oxford - fast_transition", "World", y, 36.0 + 0.36 * (y - 2021))
    }.toDF("Technology", "Sector", "Scenario", "Region", "Year", "LCOE")
    val steelLc: DataFrame = Seq(
      ("baseline", "Europe", "Avg BF-BOF", 2022, 500.0), ("baseline", "Europe", "Avg BF-BOF", 2030, 550.0),
      ("carbon_cost", "Europe", "Avg BF-BOF", 2022, 800.0), ("carbon_cost", "Europe", "Avg BF-BOF", 2030, 900.0))
      .toDF("scenario", "region", "technology", "year", "levelized_cost")
    val ipr2023Prices: DataFrame = Seq(
      ("FPS", "WORLD", "USD", "price", "Coal", 2030, 80.0),
      ("FPS", "WORLD", "USD", "high price", "Oil", 2030, 100.0),
      ("FPS", "WORLD", "USD", "low price", "Oil", 2030, 60.0))
      .toDF("Scenario", "Region", "Units", "Variable_class", "Sub_variable_class_1", "year", "value")
    val benchRegions: DataFrame = Seq(("Global", "DE"), ("Global", "FR"), ("Global", "US"),
      ("World", "CN"), ("Europe", "IT"), ("EU", "GB")).toDF("scenario_geography", "country_iso")
  }

  /** The run's inputs and the row count of every input frame. */
  def inputs(spark: SparkSession, variant: Int, nCompanies: Int): (RunWorkflow.Inputs, Map[String, Long]) = {
    val f = new Fixtures(spark)
    val rng = new Random(1000L + variant)
    val activities = wideFrame(spark, companyRows(rng, nCompanies, 0.3, 10, 1e4, None))
    val emissions = wideFrame(spark, companyRows(rng, nCompanies, 0.2, 5, 1e3, Some("tCO2")))
    val (eikon, ids) = eikonAndIds(spark, rng, nCompanies)
    val tree = ownershipTree(spark, rng, nCompanies)
    val frames = Seq(
      "ngfs_carbon_price_wide" -> f.ngfsWide, "weo_capacity_factors_wide" -> f.weoWide,
      "fossil_fuel_prices_wide" -> f.fossilWide("WEO2021"), "power_lcoe_wide" -> f.powerWide("WEO2021"),
      "company_activities" -> activities, "company_emissions" -> emissions,
      "eikon_financials" -> eikon, "company_ids" -> ids, "ownership_tree" -> tree,
      "geco2023" -> f.gecoAutomotive, "weo2023_capacity_factors" -> f.weo2023Cf,
      "ngfs2023_capacity_factors" -> f.ngfsCf("GCAM 6.0 NGFS"),
      "ngfs2024_capacity_factors" -> f.ngfsCf("REMIND-MAgPIE 3.3-4.8"),
      "ipr2023_capacity_factors" -> f.ipr2023Cf, "gem_steel_capacity_factors" -> f.gemSteelCf,
      "weo2023_fossil_fuel_prices" -> f.fossilWide("WEO2023"),
      "weo2023_power_lcoe" -> f.powerWide("WEO2023"), "ngfs_fossil_prices" -> f.ngfsPrices,
      "oxford_lcoe" -> f.oxfordLcoe, "ipr2023_fossil_prices" -> f.ipr2023Prices,
      "oxf2021_fossil_prices" -> f.oxf2021Prices, "steel_levelized_cost" -> f.steelLc,
      "bench_regions" -> f.benchRegions)
    // the inputs are local relations: read their sizes without running jobs
    val rows = frames.map { case (k, df) =>
      k -> (df.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.size.toLong
        case _ => df.count()
      })
    }.toMap
    val in = RunWorkflow.Inputs(
      ngfsCarbonPriceWide = f.ngfsWide,
      weoCapacityFactorsWide = f.weoWide,
      fossilFuelPricesWide = f.fossilWide("WEO2021"),
      powerLcoeWide = f.powerWide("WEO2021"),
      companyActivities = activities,
      companyEmissions = emissions,
      eikonFinancials = eikon,
      companyIds = Some(ids),
      ownershipTree = Some(tree),
      scenarios = Some(ScenarioData.ScenarioInputs(geco2023 = Some(f.gecoAutomotive))),
      vintages = Some(RunWorkflow.VintageInputs(
        weo2023CapacityFactors = Some(f.weo2023Cf),
        ngfs2023CapacityFactors = Some(f.ngfsCf("GCAM 6.0 NGFS")),
        ngfs2024CapacityFactors = Some(f.ngfsCf("REMIND-MAgPIE 3.3-4.8")),
        ipr2023CapacityFactors = Some(f.ipr2023Cf),
        gemSteelCapacityFactors = Some(f.gemSteelCf),
        weo2023FossilFuelPrices = Some(f.fossilWide("WEO2023")),
        weo2023PowerLcoe = Some(f.powerWide("WEO2023")),
        ngfs2023FossilPrices = Some(f.ngfsPrices),
        ngfs2024FossilPrices = Some(f.ngfsPrices),
        oxfordLcoe = Some(f.oxfordLcoe),
        ipr2023FossilPrices = Some(f.ipr2023Prices),
        oxf2021FossilPrices = Some(f.oxf2021Prices),
        steelLevelizedCost = Some(f.steelLc))),
      benchRegions = Some(f.benchRegions),
      startYear = 2022, timeHorizon = 5)
    (in, rows)
  }

  /** Every frame of the run's outputs, by name, for the writes and the check. */
  def outputs(o: RunWorkflow.Outputs): Seq[(String, DataFrame)] =
    Seq("carbon_price" -> o.carbonPrice, "capacity_factors" -> o.capacityFactors,
      "prices" -> o.prices, "abcd" -> o.abcd, "financial" -> o.financial) ++
      o.scenariosAnalysisInput.map("scenarios_analysis_input" -> _) ++
      o.scenariosGeographies.map("scenarios_geographies" -> _) ++
      o.triskV2.toSeq.flatMap(v => Seq("v2_assets" -> v.assets, "v2_scenarios" -> v.scenarios,
        "v2_financial_features" -> v.financialFeatures, "v2_ngfs_carbon_price" -> v.ngfsCarbonPrice))
}
