package graft.analytics

import graft.SparkSpecBase
import graft.etl.Pipeline
import org.apache.spark.sql.functions._

class DashboardSpec extends SparkSpecBase {

  // the ETL gate's reference-shaped CSV trio, generated from sf0.001
  lazy val result: Pipeline.Result = {
    val fx = graft.queries.EtlCsvFixture.ensure(spark, Sf0001)
    Pipeline.run(spark, Pipeline.Config(
      evPath = s"$fx/ev",
      electricityPath = s"$fx/electricity",
      pollutionPath = s"$fx/pollution.csv"))
  }

  lazy val dash: Dashboard =
    Dashboard(result.dims.suburb, result.evImpactFact, result.energyPollutionFact)

  test("KPI sums equal direct fact sums and BEV percentage is consistent") {
    val r = dash.kpis.collect()(0)
    val total = r.getAs[Long]("total_evs")
    val bev = r.getAs[Long]("bev_count")
    assert(total > 0 && bev > 0 && bev <= total)
    assert(approx(r.getAs[Double]("bev_percentage"), bev.toDouble / total * 100))
  }

  test("evBySuburb is sorted descending by TOTAL_EVS") {
    val totals = dash.evBySuburb.select("TOTAL_EVS").collect().map(_.getDouble(0))
    assert(totals.sameElements(totals.sorted(Ordering[Double].reverse)))
  }

  test("combined normalization lands in [0,100]") {
    val vals = dash.combined.select("EV_ADOPTION_NORMALIZED")
      .collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v <= 100.0))
    assert(vals.exists(_ == 0.0) && vals.exists(_ == 100.0)) // min-max touches bounds
  }

  test("radar inverts lower-is-better metrics") {
    val suburbs = dash.combined.select("SUBURB_NAME").limit(3)
      .collect().map(_.getString(0)).toSeq
    val r = dash.radar(suburbs)
    assert(r.count() == suburbs.size)
    val cols = r.columns.toSet
    assert(Set("TOTAL_EVS", "AVG_RANGE_KM", "AVG_PRICE",
               "ENERGY_CONSUMPTION", "NO2_LEVEL").subsetOf(cols))
    val mx = r.agg(max("NO2_LEVEL")).collect()(0).getDouble(0)
    assert(mx <= 100.0)
  }

  test("suburb drilldown returns both years for a pollution-covered suburb") {
    val covered = dash.energyPollutionWithSuburb
      .filter(col("NO2_LEVEL").isNotNull)
      .agg(min("SUBURB_NAME")).collect()(0).getString(0)
    val rows = dash.suburbDrilldown(covered).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2022, 2023))
  }

  test("SQL surface rewrites T-SQL TOP and runs through Catalyst") {
    Dashboard.registerViews(result.tables)
    val df = Dashboard.sql(spark, "SELECT TOP 10 * FROM fact_ev_impact")
    assert(df.count() == 10)
    // the dashboard SQL box is multi-line — the rewrite must span newlines
    val multi = Dashboard.sql(spark, "SELECT TOP 5 *\nFROM fact_ev_impact\nWHERE YEAR = 2023")
    assert(multi.count() == 5)
    val agg = Dashboard.sql(spark,
      "SELECT COUNT(*) AS n FROM fact_energy_pollution WHERE YEAR = 2023")
    assert(agg.collect()(0).getLong(0) > 0)
  }
}
