package graft.tools

/** Times selected declared queries by name (all four runs, min-of-3 like
  * graft.Bench) without paying for the full sweep — the
  * iterate-on-one-hotspot loop. Each run is one window of the run meter
  * (graft.PerfMeters); for the three warm runs the line also gives the
  * generated classes compiled, the driver time outside any Spark job, the
  * job span and the job count.
  *
  * Its walls compare only with other BenchOne walls, not with the full
  * Bench: it runs the named queries alone in a fresh JVM, without the
  * sweep that comes before them in Bench (at sf0.1 on 4 cores q244 read
  * 5.0–5.8 s here against 3.09 s in Bench). Compare a change with its
  * parent in alternating runs, each side built from a scratch copy of the
  * same kind (`git archive` into a directory of its own).
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
    val meter = graft.PerfMeters.attach(spark)
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; valid: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      spark.sharedState.cacheManager.clearCache()
      // (layers, generated classes compiled) per run; a warm run served
      // from the codegen cache compiles none
      val runs = (1 to 4).map { _ =>
        val c0 = graft.PerfMeters.codegenCompiles()
        val l = meter.measure(fn(spark, sfDir).count())
        (l, graft.PerfMeters.codegenCompiles() - c0)
      }
      val warm = runs.tail.map(_._1)
      def ms(f: graft.PerfMeters.Layers => Double) = warm.map(l => f"${f(l)}%.0f").mkString(",")
      println(f"$name%-28s min=${warm.map(_.wallMs).min / 1e3}%.3f s  runs=${runs.map(r => f"${r._1.wallMs / 1e3}%.3f").mkString(",")}" +
        s"  codegen_compiles=${runs.tail.map(_._2).mkString(",")}" +
        s"  driver_ms=${ms(_.driverMs)} job_span_ms=${ms(_.jobSpanMs)} jobs=${warm.map(_.jobs).mkString(",")}")
    }
    spark.stop()
  }
}
