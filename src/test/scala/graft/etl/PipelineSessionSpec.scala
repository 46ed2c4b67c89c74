package graft.etl

import graft.{GraftSession, PerfMeters, SparkSpecBase}
import graft.sources.Sinks
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** `Pipeline.run` looped in one long-lived session, the way perfbench's
  * `etl_star` and any scheduled caller drive it: each run plus its six
  * parquet writes.
  *
  * The compile count is the JVM-global `CodegenMetrics` counter. It is exact
  * here because the forked test JVM runs one suite at a time (`Test / fork`
  * without `testForkedParallel`) and no streaming query is left running.
  */
class PipelineSessionSpec extends SparkSpecBase with Eventually {

  private lazy val conf: Pipeline.Config = {
    val fx = graft.queries.EtlCsvFixture.ensure(spark, Sf0001)
    Pipeline.Config(
      evPath = s"$fx/ev",
      electricityPath = s"$fx/electricity",
      pollutionPath = s"$fx/pollution.csv")
  }

  private lazy val outDir: String =
    java.nio.file.Files.createTempDirectory("pipeline-session").toString

  /** One run and its six writes; returns the run's Result. */
  private def runAndWrite(): Pipeline.Result = {
    val r = Pipeline.run(spark, conf)
    r.tables.foreach { case (name, df) => Sinks.parquet(df, s"$outDir/$name") }
    r
  }

  /** Bytes stored for the checkpoint behind one run's merged frame. */
  private def checkpointBytes(r: Pipeline.Result): Long = {
    val ids = r.finalDf.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  test("a warm Pipeline.run and its six writes compile no new class") {
    assert(spark.streams.active.isEmpty, "a streaming query would compile concurrently")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    // the counter is live: a literal never seen before forces a compile
    val probe0 = PerfMeters.codegenCompiles()
    spark.range(2).selectExpr(s"id + ${System.nanoTime()} AS x").collect()
    assert(PerfMeters.codegenCompiles() > probe0, "CodegenMetrics counts no compiles")
    val compiles = (1 to 3).map { _ =>
      val c0 = PerfMeters.codegenCompiles()
      runAndWrite()
      PerfMeters.codegenCompiles() - c0
    }
    info(s"classes compiled per run: ${compiles.mkString(", ")}")
    // run alone, the cold run compiles the whole working set (82 classes);
    // with Spark's 100-entry default every warm run recompiled 28 of them,
    // and with codegen stage ids in class names a run whose query stages
    // finished in another order recompiled 8
    assert(compiles(2) == 0, s"compiles per run: $compiles")
  }

  test("a looped Pipeline.run does not accumulate executor storage") {
    // dropped Results' checkpoint blocks are freed by the ContextCleaner
    // once the driver collects their RDDs; a GC is asked for so the check
    // does not wait on heap pressure
    def settled(): Long = { System.gc(); PerfMeters.storedBytes(spark.sparkContext) }
    val base = settled()
    var held = runAndWrite()
    val perRun = checkpointBytes(held)
    // one checkpoint is the merged frame: one wide row per suburb (34 in
    // this fixture), a few KB, not the raw EV rows
    info(s"checkpoint per run: $perRun bytes")
    assert(perRun > 0, "the merged frame is not materialized")
    assert(perRun < 64 * 1024, s"checkpoint of $perRun bytes is not suburb-sized")
    (2 to 5).foreach { i =>
      held = runAndWrite()
      // the live run's checkpoint, and not one more: earlier runs' blocks
      // are gone once their Results are unreachable
      eventually(timeout(Span(30, Seconds))) {
        val grown = settled() - base
        assert(grown <= perRun * 3 / 2, s"run $i: $grown bytes stored against $perRun for one run")
      }
    }
    assert(checkpointBytes(held) > 0, "the live run's checkpoint was freed under it")
  }
}
