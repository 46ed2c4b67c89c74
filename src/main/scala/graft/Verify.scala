package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.attachMetricsLogger(spark)
    new java.io.File(outDir).mkdirs()
    // Dev-only subset switch (unset for driver runs): dump just the named
    // queries — the fast loop for gating a NEW query before a full sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries (empty/whitespace " +
          "value) — unset it for a full run; an empty selection would dump " +
          "nothing and read as a passing gate")
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")} " +
          "— a typo here would dump nothing and read as a passing gate")
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    selected.foreach { case (name, fn) =>
      // cache isolation: Dashboard's frames stay cached past their query;
      // clear between queries so no query reads another's cache and memory
      // doesn't accumulate over the dumps
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
