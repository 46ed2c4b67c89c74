package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Pipeline

/** The composed EcoWatt ETL pipeline (reference main()
  * /root/reference/main.py:371-437) under the driver's DuckDB hash gate.
  *
  * Until round 9 the E1 entry-point family was proven only by ScalaTest
  * goldens over the reference CSVs (etl/EtlPipelineSpec) — the one SURVEY
  * family without a chained oracle the way q99 gates curation and q133
  * CDC. These queries close that gap: a deterministic CSV fixture trio
  * (EV population / electricity / pollution, reference-shaped quirks and
  * all: `;` delimiters, spaced+unit headers, BOM, junk title lines above
  * the header, day-first dates, `*`-polluted prices, dot-grouped numeric
  * junk, composite `A + B` suburbs, empty cells) is DERIVED from the
  * gate's parquet tables (part / nation) plus a literal pollution grid,
  * written as real CSV files, and pushed through the REAL
  * `etl.Pipeline.run` — CsvSource header normalization, the three
  * transforms, the full-outer merge, and the star schema. The oracle
  * replays the identical chain in DuckDB SQL from the same parquet
  * tables and literals.
  *
  * Engine-parity notes the oracle relies on (all probed, not assumed):
  * DuckDB `x/0.0 -> NULL` matches Spark's non-ANSI Divide; DuckDB
  * `ROUND(double, 6)` rounds half away from zero like Spark's HALF_UP
  * (`0.0078125 -> 0.007813` on both); `TRY_CAST(... AS DOUBLE)` matches
  * the non-ANSI string->double coerce; the pandas ±inf pct-change
  * semantics (Cleaning.pctChange) are spelled out as explicit CASEs.
  */
object EtlGate {

  private def pipelineResult(s: SparkSession, dir: String): Pipeline.Result = {
    val fx = EtlCsvFixture.ensure(s, dir)
    Pipeline.run(s, Pipeline.Config(
      evPath = s"$fx/ev",
      electricityPath = s"$fx/electricity",
      pollutionPath = s"$fx/pollution.csv"))
  }

  /** q139: fact_energy_pollution off the full pipeline — the hardest
    * output (2022 history synthesis, safe-division guards, inf scrub,
    * round6, dense surrogate ids continuing across the year union).
    */
  def q139EnergyFact(s: SparkSession, dir: String): DataFrame =
    pipelineResult(s, dir).energyPollutionFact

  /** q140: fact_ev_impact off the full pipeline. */
  def q140EvFact(s: SparkSession, dir: String): DataFrame =
    pipelineResult(s, dir).evImpactFact

  /** q141: all four dimensions as one tall (dim, id, name) frame —
    * literal time/fuel dims plus the derived suburb/vehicle dims with
    * their dense row_number surrogate keys.
    */
  def q141Dims(s: SparkSession, dir: String): DataFrame = {
    val r = pipelineResult(s, dir)
    val time = r.dims.time.select(lit("time").as("dim"),
      col("id_time").as("id"),
      concat(col("YEAR").cast("string"), lit(":"),
        col("IS_CURRENT_YEAR").cast("string")).as("name"))
    val suburb = r.dims.suburb.select(lit("suburb").as("dim"),
      col("id_suburb").as("id"), col("SUBURB_NAME").as("name"))
    val vehicle = r.dims.vehicleType.select(lit("vehicle_type").as("dim"),
      col("id_vehicle_type").as("id"), col("VEHICLE_TYPE").as("name"))
    val fuel = r.dims.fuelType.select(lit("fuel_type").as("dim"),
      col("id_fuel_type").as("id"),
      concat(col("FUEL_TYPE"), lit(":"), col("FUEL_DESCRIPTION")).as("name"))
    time.unionByName(suburb).unionByName(vehicle).unionByName(fuel)
  }

  /** q200: the E1→E2 COMPOSED chain — app.py's hardest dashboard
    * computation (`combined`, app.py:335-359: fact⋈fact join + global
    * min-max adoption normalization with the constant→50 fallback) run
    * over the FULL pipeline output, exactly the "streamlit reads what
    * main.py wrote" path a reference user exercises daily. The oracle
    * extends the q139/q140 chain with the dashboard algebra, so one hash
    * match certifies ingestion → transforms → merge → star schema →
    * dashboard in a single statement.
    */
  def q200EtlDashboard(s: SparkSession, dir: String): DataFrame = {
    val r = pipelineResult(s, dir)
    graft.analytics.Dashboard(r.dims.suburb, r.evImpactFact, r.energyPollutionFact)
      .combined
      .select(col("SUBURB_NAME"), col("TOTAL_EVS"), col("EV_ADOPTION_SCORE"),
        col("ENERGY_CONSUMPTION"), col("NO2_LEVEL"),
        col("EV_ADOPTION_NORMALIZED"))
      .orderBy("SUBURB_NAME")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_etl_energy_fact" -> (q139EnergyFact _),
    "q140_etl_ev_fact"     -> (q140EvFact _),
    "q141_etl_dims"        -> (q141Dims _),
    "q200_etl_dashboard"   -> (q200EtlDashboard _))

  // ---------------------------------------------------------------- oracle

  /** scrub (inf/NaN -> 0, NULL -> 0) then round6 — Cleaning.scrubDoubles +
    * Cleaning.round6 at the fact boundary (main.py:266,283,334,338-340).
    */
  private def sr6(c: String): String =
    s"ROUND(COALESCE(CASE WHEN isnan($c) OR isinf($c) THEN 0.0 ELSE $c END, 0.0), 6)"

  /** Cleaning.pctChange: pandas float division semantics spelled out. */
  private def pct(prev: String, cur: String): String =
    s"CASE WHEN $prev = 0 AND $cur > 0 THEN 'infinity'::DOUBLE " +
      s"WHEN $prev = 0 AND $cur < 0 THEN '-infinity'::DOUBLE " +
      s"WHEN $prev = 0 THEN NULL " +
      s"ELSE ($cur - $prev) / $prev * 100.0 END"

  /** Cleaning.safeRatio: precondition gate + NULL/NaN/inf/magnitude clamp. */
  private def safeRatio(num: String, den: String, cond: String): String =
    s"CASE WHEN NOT ($cond) THEN 0.0 " +
      s"WHEN ($num) / ($den) IS NULL OR isnan(($num) / ($den)) " +
      s"OR isinf(($num) / ($den)) OR ($num) / ($den) > 1e15 THEN 0.0 " +
      s"ELSE ($num) / ($den) END"

  /** The shared chain: fixture derivation (identical arithmetic to
    * [[EtlCsvFixture]]) + the three transforms + merge + star schema.
    */
  private def chain: String =
    s"""WITH ev_raw AS (
       |  SELECT
       |    CASE CAST(p_partkey % 4 AS INTEGER) WHEN 0 THEN 'SUV' WHEN 1 THEN 'Sedan'
       |      WHEN 2 THEN 'Hatch' ELSE 'Ute' END AS VEHICLE_TYPE,
       |    CASE CAST(p_partkey % 5 AS INTEGER) WHEN 0 THEN 'BEV' WHEN 1 THEN 'PHEV'
       |      WHEN 2 THEN 'BEV' WHEN 3 THEN 'ICE' ELSE 'Hybrid' END AS FUEL_TYPE,
       |    CASE WHEN p_partkey % 13 = 0 THEN NULL
       |      WHEN p_partkey % 11 = 0 THEN CAST((p_partkey * 7919) % 80000 + 20000 AS VARCHAR) || '*'
       |      ELSE CAST((p_partkey * 7919) % 80000 + 20000 AS VARCHAR) END AS LISTED_PRICE,
       |    CASE WHEN p_partkey % 17 = 0 THEN 'n/a'
       |      ELSE CAST((p_partkey * 31) % 500 + 100 AS VARCHAR) END AS "RANGE",
       |    CASE CAST(p_partkey % 8 AS INTEGER) WHEN 0 THEN 'NATION_1' WHEN 1 THEN 'NATION_2'
       |      WHEN 2 THEN 'NATION_3' WHEN 3 THEN 'Alexandria ' WHEN 4 THEN ' Rozelle'
       |      WHEN 5 THEN 'Sydney' WHEN 6 THEN 'Newtown' ELSE 'Glebe' END AS SUBURB
       |  FROM part),
       |ev_clean AS (
       |  SELECT FUEL_TYPE,
       |    TRY_CAST(TRIM(REPLACE(LISTED_PRICE, '*', '')) AS DOUBLE) AS PRICE,
       |    TRY_CAST(TRIM("RANGE") AS DOUBLE) AS RANGE_KM,
       |    TRIM(SUBURB) AS SUBURB
       |  FROM ev_raw WHERE FUEL_TYPE IN ('BEV', 'PHEV')),
       |ev_sum AS (
       |  SELECT SUBURB,
       |    COUNT(*) AS TOTAL_EVs,
       |    COUNT(CASE WHEN FUEL_TYPE = 'BEV' THEN 1 END) AS BEV_COUNT,
       |    COUNT(CASE WHEN FUEL_TYPE = 'PHEV' THEN 1 END) AS PHEV_COUNT,
       |    COALESCE(AVG(RANGE_KM), 0.0) AS AVG_RANGE_KM,
       |    COALESCE(AVG(PRICE), 0.0) AS AVG_PRICE
       |  FROM ev_clean GROUP BY SUBURB),
       |elec_raw AS (
       |  SELECT
       |    CASE WHEN n_nationkey % 6 = 2 THEN n_name || ' + EastSide' ELSE n_name END AS nm,
       |    CASE WHEN n_nationkey = 7 THEN '0' WHEN n_nationkey = 9 THEN '8.379.343.471'
       |      ELSE CAST(n_nationkey * 155554 + 1000001 AS VARCHAR) END AS F2021_22,
       |    CAST(n_nationkey * 177778 + 1000003 AS VARCHAR) AS F2022_23
       |  FROM nation),
       |elec AS (
       |  SELECT TRIM(SPLIT_PART(nm, '+', 1)) AS SUBURB,
       |    TRY_CAST(TRIM(F2021_22) AS DOUBLE) AS CONSUMPTION_2022,
       |    TRY_CAST(TRIM(F2022_23) AS DOUBLE) AS CONSUMPTION_2023,
       |    ${pct("TRY_CAST(TRIM(F2021_22) AS DOUBLE)", "TRY_CAST(TRIM(F2022_23) AS DOUBLE)")} AS CONSUMPTION_CHANGE_PCT
       |  FROM elec_raw),
       |poll_cells (SITE, d, no2) AS (VALUES
       |  ('Alexandria', '31/12/2021', '9'), ('Alexandria', '31/12/2022', '21'),
       |  ('Alexandria', '30/06/2023', '24'), ('Alexandria', '31/12/2023', '26'),
       |  ('Rozelle', '31/12/2021', '9'), ('Rozelle', '31/12/2022', '17'),
       |  ('Rozelle', '30/06/2023', '13'), ('Rozelle', '31/12/2023', '15'),
       |  ('Earlwood', '31/12/2021', '9'), ('Earlwood', '31/12/2022', '23'),
       |  ('Earlwood', '30/06/2023', NULL), ('Earlwood', '31/12/2023', NULL),
       |  ('Cook And Phillip', '31/12/2021', '9'), ('Cook And Phillip', '31/12/2022', '19'),
       |  ('Cook And Phillip', '30/06/2023', '18'), ('Cook And Phillip', '31/12/2023', '21'),
       |  ('Randwick', '31/12/2021', '9'), ('Randwick', '31/12/2022', NULL),
       |  ('Randwick', '30/06/2023', '22'), ('Randwick', '31/12/2023', '24'),
       |  ('Macquarie Park', '31/12/2021', '9'), ('Macquarie Park', '31/12/2022', '27'),
       |  ('Macquarie Park', '30/06/2023', NULL), ('Macquarie Park', '31/12/2023', NULL),
       |  ('Parramatta North', '31/12/2021', '9'), ('Parramatta North', '31/12/2022', '15'),
       |  ('Parramatta North', '30/06/2023', '19'), ('Parramatta North', '31/12/2023', '17'),
       |  ('Liverpool', '31/12/2021', '9'), ('Liverpool', '31/12/2022', '11'),
       |  ('Liverpool', '30/06/2023', '12'), ('Liverpool', '31/12/2023', '10')),
       |poll_map (SITE, SUBURB) AS (VALUES
       |  ('Alexandria', 'Alexandria'), ('Rozelle', 'Rozelle'), ('Earlwood', 'Earlwood'),
       |  ('Cook And Phillip', 'Sydney'), ('Randwick', 'Randwick'),
       |  ('Macquarie Park', 'Macquarie Park'), ('Parramatta North', 'Parramatta')),
       |poll_long AS (
       |  SELECT m.SUBURB,
       |    CAST(EXTRACT(year FROM STRPTIME(c.d, '%d/%m/%Y')) AS INTEGER) AS yr,
       |    TRY_CAST(c.no2 AS DOUBLE) AS NO2_LEVEL
       |  FROM poll_cells c JOIN poll_map m USING (SITE)),
       |poll AS (
       |  SELECT SUBURB, NO2_2022, NO2_2023,
       |    NO2_2023 - NO2_2022 AS NO2_CHANGE,
       |    ${pct("NO2_2022", "NO2_2023")} AS NO2_CHANGE_PCT
       |  FROM (
       |    SELECT SUBURB,
       |      AVG(CASE WHEN yr = 2022 THEN NO2_LEVEL END) AS NO2_2022,
       |      AVG(CASE WHEN yr = 2023 THEN NO2_LEVEL END) AS NO2_2023
       |    FROM poll_long WHERE yr IN (2022, 2023) GROUP BY SUBURB)),
       |m1 AS (
       |  SELECT COALESCE(e.SUBURB, el.SUBURB) AS SUBURB,
       |    e.TOTAL_EVs, e.BEV_COUNT, e.PHEV_COUNT, e.AVG_RANGE_KM, e.AVG_PRICE,
       |    el.CONSUMPTION_2022, el.CONSUMPTION_2023, el.CONSUMPTION_CHANGE_PCT
       |  FROM ev_sum e FULL JOIN elec el ON e.SUBURB = el.SUBURB),
       |m2 AS (
       |  SELECT COALESCE(m1.SUBURB, p.SUBURB) AS SUBURB,
       |    m1.TOTAL_EVs, m1.BEV_COUNT, m1.PHEV_COUNT, m1.AVG_RANGE_KM, m1.AVG_PRICE,
       |    m1.CONSUMPTION_2022, m1.CONSUMPTION_2023, m1.CONSUMPTION_CHANGE_PCT,
       |    p.NO2_2022, p.NO2_2023, p.NO2_CHANGE, p.NO2_CHANGE_PCT
       |  FROM m1 FULL JOIN poll p ON m1.SUBURB = p.SUBURB),
       |merged AS (
       |  SELECT SUBURB,
       |    COALESCE(TOTAL_EVs, 0) AS TOTAL_EVs, COALESCE(BEV_COUNT, 0) AS BEV_COUNT,
       |    COALESCE(PHEV_COUNT, 0) AS PHEV_COUNT,
       |    COALESCE(AVG_RANGE_KM, 0.0) AS AVG_RANGE_KM,
       |    COALESCE(AVG_PRICE, 0.0) AS AVG_PRICE,
       |    COALESCE(CONSUMPTION_2022, 0.0) AS CONSUMPTION_2022,
       |    COALESCE(CONSUMPTION_2023, 0.0) AS CONSUMPTION_2023,
       |    COALESCE(CONSUMPTION_CHANGE_PCT, 0.0) AS CONSUMPTION_CHANGE_PCT,
       |    COALESCE(NO2_2022, 0.0) AS NO2_2022, COALESCE(NO2_2023, 0.0) AS NO2_2023,
       |    COALESCE(NO2_CHANGE, 0.0) AS NO2_CHANGE,
       |    COALESCE(NO2_CHANGE_PCT, 0.0) AS NO2_CHANGE_PCT
       |  FROM m2),
       |final AS (
       |  SELECT *,
       |    TOTAL_EVs / (CONSUMPTION_2023 / 1000000.0) AS EV_PER_ENERGY_UNIT,
       |    NO2_2023 / (CASE WHEN TOTAL_EVs = 0 THEN 1.0 ELSE CAST(TOTAL_EVs AS DOUBLE) END) AS NO2_PER_EV,
       |    TOTAL_EVs * (1.0 - NO2_CHANGE_PCT / 100.0) AS EV_ADOPTION_SCORE
       |  FROM merged),
       |dim_suburb AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY SUBURB) AS INTEGER) AS id_suburb,
       |    SUBURB AS SUBURB_NAME
       |  FROM merged),
       |wk AS (
       |  SELECT f.*, d.id_suburb FROM final f JOIN dim_suburb d ON f.SUBURB = d.SUBURB_NAME),
       |ey AS (
       |  SELECT id_suburb, CAST(2023 AS INTEGER) AS yr,
       |    CONSUMPTION_2023 AS ENERGY_CONSUMPTION,
       |    CONSUMPTION_CHANGE_PCT AS ENERGY_CHANGE_PCT,
       |    NO2_2023 AS NO2_LEVEL, NO2_CHANGE, NO2_CHANGE_PCT,
       |    EV_PER_ENERGY_UNIT, NO2_PER_EV
       |  FROM wk
       |  UNION ALL
       |  SELECT id_suburb, CAST(2022 AS INTEGER) AS yr,
       |    CONSUMPTION_2022, 0.0, NO2_2022, 0.0, 0.0,
       |    ${safeRatio("TOTAL_EVs", "CONSUMPTION_2022 / 1000000.0", "CONSUMPTION_2022 > 0")},
       |    ${safeRatio("NO2_2022", "CAST(TOTAL_EVs AS DOUBLE)", "TOTAL_EVs > 0")}
       |  FROM wk)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q139_etl_energy_fact" ->
      s"""$chain
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY yr DESC, id_suburb) AS INTEGER) AS fact_energy_pollution_id,
         |  id_suburb, yr AS "YEAR",
         |  ${sr6("ENERGY_CONSUMPTION")} AS ENERGY_CONSUMPTION,
         |  ${sr6("ENERGY_CHANGE_PCT")} AS ENERGY_CHANGE_PCT,
         |  ${sr6("NO2_LEVEL")} AS NO2_LEVEL,
         |  ${sr6("NO2_CHANGE")} AS NO2_CHANGE,
         |  ${sr6("NO2_CHANGE_PCT")} AS NO2_CHANGE_PCT,
         |  ${sr6("EV_PER_ENERGY_UNIT")} AS EV_PER_ENERGY_UNIT,
         |  ${sr6("NO2_PER_EV")} AS NO2_PER_EV
         |FROM ey""".stripMargin,
    "q140_etl_ev_fact" ->
      s"""$chain
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY id_suburb) AS INTEGER) AS fact_ev_impact_id,
         |  id_suburb, CAST(2023 AS INTEGER) AS "YEAR",
         |  ${sr6("CAST(TOTAL_EVs AS DOUBLE)")} AS TOTAL_EVS,
         |  ${sr6("CAST(BEV_COUNT AS DOUBLE)")} AS BEV_COUNT,
         |  ${sr6("CAST(PHEV_COUNT AS DOUBLE)")} AS PHEV_COUNT,
         |  ${sr6("AVG_RANGE_KM")} AS AVG_RANGE_KM,
         |  ${sr6("AVG_PRICE")} AS AVG_PRICE,
         |  ${sr6("EV_ADOPTION_SCORE")} AS EV_ADOPTION_SCORE
         |FROM wk""".stripMargin,
    // the q139/q140 chain extended with app.py's `combined` algebra:
    // fact columns at their round6 values, dim join, 2023 energy slice,
    // then the q08 min-max formula with the constant->50 fallback
    "q200_etl_dashboard" ->
      s"""$chain,
         |evf AS (
         |  SELECT id_suburb, ${sr6("CAST(TOTAL_EVs AS DOUBLE)")} AS TOTAL_EVS,
         |    ${sr6("EV_ADOPTION_SCORE")} AS EV_ADOPTION_SCORE
         |  FROM wk),
         |e23 AS (
         |  SELECT id_suburb, ${sr6("CONSUMPTION_2023")} AS ENERGY_CONSUMPTION,
         |    ${sr6("NO2_2023")} AS NO2_LEVEL
         |  FROM wk),
         |c AS (
         |  SELECT d.SUBURB_NAME, evf.TOTAL_EVS, evf.EV_ADOPTION_SCORE,
         |    e23.ENERGY_CONSUMPTION, e23.NO2_LEVEL
         |  FROM evf JOIN dim_suburb d USING (id_suburb)
         |  LEFT JOIN e23 USING (id_suburb)),
         |st AS (SELECT MIN(EV_ADOPTION_SCORE) AS mn,
         |              MAX(EV_ADOPTION_SCORE) AS mx FROM c)
         |SELECT SUBURB_NAME, TOTAL_EVS, EV_ADOPTION_SCORE,
         |  ENERGY_CONSUMPTION, NO2_LEVEL,
         |  CASE WHEN st.mx = st.mn THEN 50.0
         |       ELSE (EV_ADOPTION_SCORE - st.mn) / (st.mx - st.mn) * 100.0 END
         |    AS EV_ADOPTION_NORMALIZED
         |FROM c, st ORDER BY SUBURB_NAME""".stripMargin,
    "q141_etl_dims" ->
      s"""$chain
         |SELECT 'time' AS dim, CAST(id_time AS INTEGER) AS id,
         |  CAST(yr AS VARCHAR) || ':' || CAST(cur AS VARCHAR) AS name
         |FROM (VALUES (2022, 2022, false), (2023, 2023, true)) t(id_time, yr, cur)
         |UNION ALL
         |SELECT 'suburb', id_suburb, SUBURB_NAME FROM dim_suburb
         |UNION ALL
         |SELECT 'vehicle_type',
         |  CAST(ROW_NUMBER() OVER (ORDER BY VEHICLE_TYPE) AS INTEGER), VEHICLE_TYPE
         |FROM (SELECT DISTINCT VEHICLE_TYPE FROM ev_raw)
         |UNION ALL
         |SELECT 'fuel_type', id, ft || ':' || fd
         |FROM (VALUES (1, 'BEV', 'Battery Electric Vehicle'),
         |             (2, 'PHEV', 'Plug-in Hybrid Electric Vehicle')) f(id, ft, fd)""".stripMargin)
}

/** Deterministic reference-shaped CSV fixture trio, derived from the gate
  * parquet tables (part -> EV population, nation -> electricity) plus a
  * literal pollution grid, written once per (warehouse, sf-dir) — the same
  * dir-hash naming and completeness-marker convention as the other layout
  * twins (JsonDocuments etc).
  *
  * Every reference input quirk is planted so the composed chain exercises
  * the same machinery the real files need (FIXTURES.md §A):
  *  - EV: `;` delimiter, spaced+unit headers (`LISTED PRICE ($AUD)`,
  *    `RANGE (km)`), `*`-polluted prices, `n/a` ranges, NULL cells,
  *    leading/trailing whitespace in SUBURB values;
  *  - electricity: `;` delimiter, UTF-8 BOM on the first header cell,
  *    composite `A + EastSide` suburb names, a zero and a dot-grouped
  *    junk consumption cell (the pandas-coerce + ±inf pct-change paths);
  *  - pollution: `,` delimiter, TWO junk title lines above the header
  *    (CsvSource headerLine=2), day-first dates, a 2021 row the year
  *    filter must drop, an unmapped site (Liverpool), a CO column the
  *    NO2 name-pattern projection must drop, empty cells.
  *
  * The whitespace-preserving writer options matter: Spark's CSV writer
  * trims by default, which would silently unplant the trim fixtures.
  */
private[graft] object EtlCsvFixture {

  def ensure(s: SparkSession, dir: String): String = synchronized {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val base = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), s"graft_etl_csv_$tag")
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val complete =
      fs.exists(new org.apache.hadoop.fs.Path(base, "ev/_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(base, "electricity/_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(base, "pollution.csv"))
    if (!complete) {
      writeEv(s, dir, s"$base/ev")
      writeElectricity(s, dir, s"$base/electricity")
      // written LAST: its existence is the trio's completeness marker
      writePollution(fs, new org.apache.hadoop.fs.Path(base, "pollution.csv"))
    }
    base.toString
  }

  private def csvWriter(df: DataFrame, sep: String) =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("sep", sep)
      // preserve the planted leading/trailing whitespace (writer trims
      // both by default)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")

  /** EV population CSV from `part`: one synthetic vehicle listing per part
    * row, all values pure int64 arithmetic on p_partkey (bit-identical in
    * DuckDB). Scales with the fixture SF; written with Spark's natural
    * partitioning (CsvSource reads the directory).
    */
  private def writeEv(s: SparkSession, dir: String, out: String): Unit = {
    val pk = col("p_partkey")
    val price = ((pk * 7919) % 80000 + 20000).cast("string")
    val df = Tables.part(s, dir).select(
      when(pk % 4 === 0, "SUV").when(pk % 4 === 1, "Sedan")
        .when(pk % 4 === 2, "Hatch").otherwise("Ute").as("VEHICLE TYPE"),
      when(pk % 5 === 0, "BEV").when(pk % 5 === 1, "PHEV")
        .when(pk % 5 === 2, "BEV").when(pk % 5 === 3, "ICE")
        .otherwise("Hybrid").as("FUEL TYPE"),
      when(pk % 7 === 0, lit("Classic"))
        .otherwise(concat(lit("Model "), (pk % 9 + 2015).cast("string"))).as("MODEL"),
      when(pk % 13 === 0, lit(null).cast("string"))
        .when(pk % 11 === 0, concat(price, lit("*")))
        .otherwise(price).as("LISTED PRICE ($AUD)"),
      when(pk % 17 === 0, lit("n/a"))
        .otherwise(((pk * 31) % 500 + 100).cast("string")).as("RANGE (km)"),
      when(pk % 8 === 0, "NATION_1").when(pk % 8 === 1, "NATION_2")
        .when(pk % 8 === 2, "NATION_3").when(pk % 8 === 3, "Alexandria ")
        .when(pk % 8 === 4, " Rozelle").when(pk % 8 === 5, "Sydney")
        .when(pk % 8 === 6, "Newtown").otherwise("Glebe").as("SUBURB"))
    csvWriter(df, ";").csv(out)
  }

  /** Electricity CSV from `nation` (25 rows at every SF): BOM on the first
    * header cell, an unused FID/Shape__Area the projection must drop.
    */
  private def writeElectricity(s: SparkSession, dir: String, out: String): Unit = {
    val k = col("n_nationkey")
    val df = Tables.nation(s, dir).select(
      k.cast("string").as("﻿FID"),
      when(k % 6 === 2, concat(col("n_name"), lit(" + EastSide")))
        .otherwise(col("n_name")).as("Name"),
      when(k === 7, lit("0")).when(k === 9, lit("8.379.343.471"))
        .otherwise((k * 155554 + 1000001).cast("string")).as("F2021_22"),
      (k * 177778 + 1000003).cast("string").as("F2022_23"),
      (k * 3).cast("string").as("Shape__Area"))
    csvWriter(df.coalesce(1), ";").csv(out)
  }

  /** Pollution CSV: a literal wide grid (4 dates x 8 NO2 sites + 1 CO
    * column), single physical file because CsvSource(headerLine=2)
    * requires one. Values mirror EtlGate's poll_cells VALUES exactly.
    */
  private def writePollution(fs: org.apache.hadoop.fs.FileSystem,
                             path: org.apache.hadoop.fs.Path): Unit = {
    val text =
      """Synthetic Air Quality Monitoring - Annual Averages
        |Source: graft ETL gate fixture (deterministic)
        |Date,Alexandria NO2 annual average [pphm],Rozelle NO2 annual average [pphm],Earlwood NO2 annual average [pphm],Cook and Phillip NO2 annual average [pphm],Randwick NO2 annual average [pphm],Macquarie Park NO2 annual average [pphm],Parramatta North NO2 annual average [pphm],Liverpool NO2 annual average [pphm],Alexandria CO annual average [ppm]
        |31/12/2021,9,9,9,9,9,9,9,9,9
        |31/12/2022,21,17,23,19,,27,15,11,3
        |30/06/2023,24,13,,18,22,,19,12,4
        |31/12/2023,26,15,,21,24,,17,10,5
        |""".stripMargin
    val outStream = fs.create(path, true)
    try outStream.write(text.getBytes("UTF-8"))
    finally outStream.close()
  }
}
