package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{CsvSource, HeaderMode}

/** End-to-end ETL orchestration — reference `main()`
  * (/root/reference/main.py:371-437): extract the three CSVs, run the three
  * transforms, merge, build the star schema, and write the six tables.
  *
  * The merged frame (one wide row per suburb) is materialized once, with an
  * eager `Checkpoints.local`: `run` itself runs that one job, and the six
  * parquet writes are the other actions. The suburb dim, its key join and
  * both facts then read a suburb-sized frame instead of each replaying the
  * CSV scans, the three transforms and both full-outer joins (perfbench
  * `etl_star` on 4 cores: CSV bytes read per round 6.10× → 2.04× their
  * size, Spark jobs 76 → 55). The blocks are freed by the ContextCleaner
  * once the Result's frames are dropped.
  *
  * `dim_vehicle_type` keeps its own `evRaw` scan, so the EV file is read
  * twice. Checkpointing a narrow typed projection of all EV rows for it as
  * well was measured on 4 cores and was not faster (`etl_star` step1 3.54
  * and 3.02 s against 3.38 and 2.69 s); since reads of cached blocks count
  * as task input, it also read 6.38× the CSV bytes against 2.03×.
  *
  * Parquet (zstd) is the system of record replacing Azure SQL
  * (SURVEY.md §1.1); CSV goldens are optional for diffing.
  */
object Pipeline {

  final case class Config(
      evPath: String,
      electricityPath: String,
      pollutionPath: String,
      outDir: Option[String] = None)

  final case class Result(
      evSummary: DataFrame, electricity: DataFrame, pollution: DataFrame,
      finalDf: DataFrame, dims: StarSchema.Dims,
      evImpactFact: DataFrame, energyPollutionFact: DataFrame) {
    def tables: Map[String, DataFrame] = Map(
      "dim_time" -> dims.time,
      "dim_suburb" -> dims.suburb,
      "dim_vehicle_type" -> dims.vehicleType,
      "dim_fuel_type" -> dims.fuelType,
      "fact_ev_impact" -> evImpactFact,
      "fact_energy_pollution" -> energyPollutionFact)
  }

  def extract(spark: SparkSession, conf: Config): (DataFrame, DataFrame, DataFrame) = (
    CsvSource(conf.evPath, sep = ";", headerMode = HeaderMode.SnakeUpper).read(spark),
    CsvSource(conf.electricityPath, sep = ";", headerMode = HeaderMode.Trim).read(spark),
    CsvSource(conf.pollutionPath, sep = ",", headerLine = 2,
      headerMode = HeaderMode.Trim).read(spark))

  def run(spark: SparkSession, conf: Config): Result = {
    val (evRaw, elecRaw, pollRaw) = extract(spark, conf)

    val evClean = EvTransform.clean(evRaw)
    val evSummary = EvTransform.summary(evClean)
    val electricity = ElectricityTransform(elecRaw)
    val pollution = PollutionTransform(spark, pollRaw)

    val finalDf = graft.operators.Checkpoints.local(
      MergeDatasets(evSummary, electricity, pollution), eager = true)
    val dims = StarSchema.dims(spark, finalDf, evRaw)
    val withKeys = StarSchema.withKeys(finalDf, dims.suburb)
    val evFact = StarSchema.evImpactFact(withKeys)
    val energyFact = StarSchema.energyPollutionFact(withKeys)

    val result = Result(evSummary, electricity, pollution, finalDf, dims, evFact, energyFact)
    conf.outDir.foreach { dir =>
      result.tables.foreach { case (name, df) =>
        graft.sources.Sinks.parquet(df, s"$dir/$name")
      }
    }
    result
  }
}
