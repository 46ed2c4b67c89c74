package graft.etl

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The six-table star schema `Pipeline.run` builds, checked two ways.
  *
  * Input-independent invariants (fixed-literal dims, dense surrogate keys,
  * the published layout, `toJsonRecords`) run on the ETL gate's generated
  * reference-shaped CSV trio, and again on the reference's own input CSVs
  * wherever a reference checkout is present (`hasReference`).
  *
  * End-to-end parity against the reference's checked-in outputs (the csv
  * goldens under `RefGolden`) needs that checkout and is cancelled without
  * it. The goldens come from an older code revision (SUBURB_KEY vs
  * id_suburb, unrounded floats — SURVEY.md §5), so the comparison is
  * value-level, keyed on business keys (suburb name, year) with a small
  * relative tolerance, never on surrogate ids or column layout.
  */
class EtlPipelineSpec extends SparkSpecBase {

  /** the reference's own inputs; read only when `hasReference` */
  lazy val result: Pipeline.Result = Pipeline.run(spark, Pipeline.Config(
    evPath = s"$RefData/Ev_Population.csv",
    electricityPath = s"$RefData/Electricity_Consumption.csv",
    pollutionPath = s"$RefData/Pollution_Index.csv"))

  // the ETL gate's reference-shaped CSV trio, generated from sf0.001
  lazy val fixtureResult: Pipeline.Result = {
    val fx = graft.queries.EtlCsvFixture.ensure(spark, Sf0001)
    Pipeline.run(spark, Pipeline.Config(
      evPath = s"$fx/ev",
      electricityPath = s"$fx/electricity",
      pollutionPath = s"$fx/pollution.csv"))
  }

  /** Runs an input-independent check on the generated inputs, and on the
    * reference inputs too wherever the checkout is present.
    */
  private def onEveryInput(check: Pipeline.Result => Unit): Unit = {
    val inputs = ("generated" -> fixtureResult) +:
      (if (hasReference) Seq("reference" -> result) else Nil)
    inputs.foreach { case (name, r) => withClue(s"[$name inputs] ")(check(r)) }
  }

  private def golden(name: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$RefGolden/$name.csv")

  /** golden fact rows keyed by (suburb name, year) via the golden dim.
    * Values parse from raw strings: the goldens predate the reference's
    * inf/NaN scrub (main.py:266,283,334), so literal `inf` and empty cells
    * there correspond to 0 under current-code semantics.
    */
  private def goldenByName(fact: String, key: String, cols: Seq[String]): Map[(String, Int), Map[String, Double]] = {
    val dim = golden("suburb_dim").select(col("id_suburb"), col("SUBURB_NAME")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val raw = spark.read.option("header", "true").csv(s"$RefGolden/$fact.csv")
    raw.collect().map { r =>
      val name = dim(r.getAs[String](key).trim.toInt)
      val year = r.getAs[String]("YEAR").trim.toInt
      def num(s: String): Double =
        if (s == null || s.isEmpty) 0.0
        else s.trim.toDoubleOption match {
          case Some(v) if v.isInfinite || v.isNaN => 0.0
          case Some(v) => v
          case None => 0.0
        }
      (name, year) -> cols.map(c => c -> num(r.getAs[String](c))).toMap
    }.toMap
  }

  private def oursByName(fact: DataFrame): Map[(String, Int), Map[String, Double]] =
    fact.join(result.dims.suburb, Seq("id_suburb")).collect().map { r =>
      val vals = r.schema.fields.collect {
        case f if f.dataType.typeName == "double" => f.name -> r.getAs[Double](f.name)
      }.toMap
      (r.getAs[String]("SUBURB_NAME"), r.getAs[Int]("YEAR")) -> vals
    }.toMap

  test("suburb dimension covers exactly the golden suburb set") {
    assume(hasReference, s"needs the reference checkout at $RefData and $RefGolden")
    val goldenNames = golden("suburb_dim").select("SUBURB_NAME")
      .collect().map(_.getString(0)).toSet
    val ourNames = result.dims.suburb.select("SUBURB_NAME")
      .collect().map(_.getString(0)).toSet
    assert(ourNames == goldenNames)
  }

  test("vehicle type dimension matches golden sorted distinct") {
    assume(hasReference, s"needs the reference checkout at $RefData and $RefGolden")
    val goldenV = golden("vehicle_dim").select("id_vehicle_type", "VEHICLE_TYPE")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    val ours = result.dims.vehicleType
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(ours.toSeq == goldenV.toSeq)
  }

  test("time and fuel dims are the fixed literals") {
    onEveryInput { result =>
      assert(result.dims.time.collect().map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2)))
        .toSet == Set((2022, 2022, false), (2023, 2023, true)))
      assert(result.dims.fuelType.count() == 2)
    }
  }

  test("fact_ev_impact values match golden by suburb") {
    assume(hasReference, s"needs the reference checkout at $RefData and $RefGolden")
    val cols = Seq("TOTAL_EVS", "BEV_COUNT", "PHEV_COUNT", "AVG_RANGE_KM",
                   "AVG_PRICE", "EV_ADOPTION_SCORE")
    val g = goldenByName("ev_fact", "SUBURB_KEY", cols)
    val o = oursByName(result.evImpactFact)
    assert(o.keySet == g.keySet, s"key sets differ: ${o.keySet.diff(g.keySet)} vs ${g.keySet.diff(o.keySet)}")
    for (k <- g.keySet; c <- cols) {
      val (gv, ov) = (g(k)(c), o(k)(c))
      assert(approx(gv, ov), s"$k.$c golden=$gv ours=$ov")
    }
  }

  test("fact_energy_pollution values match golden by suburb and year") {
    assume(hasReference, s"needs the reference checkout at $RefData and $RefGolden")
    val cols = Seq("ENERGY_CONSUMPTION", "ENERGY_CHANGE_PCT", "NO2_LEVEL",
                   "NO2_CHANGE", "NO2_CHANGE_PCT", "EV_PER_ENERGY_UNIT", "NO2_PER_EV")
    val g = goldenByName("energy_fact", "SUBURB_KEY", cols)
    val o = oursByName(result.energyPollutionFact)
    assert(o.keySet == g.keySet)
    // The goldens predate safe_no2_per_ev (main.py:317-331): current code
    // zeroes 2022 NO2_PER_EV when a suburb has no EVs; the old revision
    // emitted NO2/1. Patch the expectation to current-reference semantics.
    val evTotals = goldenByName("ev_fact", "SUBURB_KEY", Seq("TOTAL_EVS"))
      .map { case ((name, _), v) => name -> v("TOTAL_EVS") }
    for (k <- g.keySet; c <- cols) {
      val gv =
        if (c == "NO2_PER_EV" && k._2 == 2022 && evTotals(k._1) <= 0) 0.0
        else g(k)(c)
      val ov = o(k)(c)
      assert(approx(gv, ov), s"$k.$c golden=$gv ours=$ov")
    }
  }

  test("all six output tables conform to the published star schema") {
    onEveryInput { result =>
      import graft.model.Schemas
      result.tables.foreach { case (name, df) =>
        assert(Schemas.conforms(df, Schemas.StarSchema(name)),
          s"$name schema drift: ${df.schema.simpleString}")
      }
    }
  }

  test("toJsonRecords emits one parseable record per row (S9)") {
    onEveryInput { result =>
      val recs = graft.analytics.Dashboard.toJsonRecords(result.dims.fuelType)
      assert(recs.size == 2)
      assert(recs.forall(r => r.startsWith("{") && r.contains("\"FUEL_TYPE\"")))
    }
  }

  test("toJsonRecords fences driver materialization at maxRows") {
    onEveryInput { result =>
      val e = intercept[IllegalArgumentException] {
        graft.analytics.Dashboard.toJsonRecords(result.dims.fuelType, maxRows = 1)
      }
      assert(e.getMessage.contains("presentation-sized"))
      // exactly-at-fence passes (the probe reads maxRows + 1, not the table)
      assert(graft.analytics.Dashboard
        .toJsonRecords(result.dims.fuelType, maxRows = 2).size == 2)
    }
  }

  test("surrogate keys are dense 1..N") {
    onEveryInput { result =>
      val ids = result.dims.suburb.select("id_suburb").collect().map(_.getInt(0)).sorted
      assert(ids.toSeq == (1 to ids.length))
      val factIds = result.energyPollutionFact.select("fact_energy_pollution_id")
        .collect().map(_.getInt(0)).sorted
      assert(factIds.toSeq == (1 to factIds.length))
      // 2023 rows occupy 1..N, 2022 rows N+1..2N (main.py:288-291)
      val n = factIds.length / 2
      val years = result.energyPollutionFact
        .select("fact_energy_pollution_id", "YEAR").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert((1 to n).forall(years(_) == 2023))
      assert((n + 1 to 2 * n).forall(years(_) == 2022))
    }
  }
}
