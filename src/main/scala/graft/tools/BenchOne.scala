package graft.tools

/** Times selected declared queries by name (all four runs, min-of-3 like
  * graft.Bench) without paying for the full 130-query sweep — the
  * iterate-on-one-hotspot loop.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.BenchOne q99_curation_chain [more...]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass one or more query names from SparkEntry.queries")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    try graft.Tables.lineitem(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; valid: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      spark.sharedState.cacheManager.clearCache()
      // (seconds, generated classes compiled) per run; a warm run served
      // from the codegen cache compiles none
      val runs = (1 to 4).map { _ =>
        val (t0, c0) = (System.nanoTime(), graft.PerfMeters.codegenCompiles())
        fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, graft.PerfMeters.codegenCompiles() - c0)
      }
      println(f"$name%-28s min=${runs.tail.map(_._1).min}%.3f s  runs=${runs.map(r => f"${r._1}%.3f").mkString(",")}" +
        s"  codegen_compiles=${runs.tail.map(_._2).mkString(",")}")
    }
    spark.stop()
  }
}
