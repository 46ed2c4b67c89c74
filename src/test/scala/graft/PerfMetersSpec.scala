package graft

import org.apache.spark.sql.functions._

/** The run meter's layers on queries whose engine work is known. */
class PerfMetersSpec extends SparkSpecBase {
  private lazy val meter = PerfMeters.attach(spark)

  /** 4 range tasks shuffled into 8 partitions, then aggregated. */
  private def shuffled() = spark.range(0, 200000, 1, 4)
    .repartition(8, col("id") % 97)
    .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("n"))

  test("a shuffled aggregation's wall splits into driver time and job span") {
    var bodyMs = 0.0
    val l = meter.measure {
      val t0 = System.nanoTime()
      assert(shuffled().collect().length == 97)
      bodyMs = (System.nanoTime() - t0) / 1e6
    }
    info(l.json)
    assert(l.jobs >= 1, l.json)
    assert(l.stages >= 2, l.json)
    assert(l.tasks >= 8, l.json)
    assert(l.shuffleBytes > 0, l.json)
    assert(l.catalystMs > 0, l.json)
    assert(l.taskCpuMs > 0, l.json)
    assert(l.jobSpanMs > 0 && l.driverMs >= 0, l.json)
    // the window's wall is the body's own, and the two layers add up to it
    assert(math.abs(l.driverMs + l.jobSpanMs - bodyMs) <= 1.0,
      s"${l.json} against a body of $bodyMs ms")
  }

  test("a driver-only window right after a task-heavy query counts none of its work") {
    val m = meter // listening before the heavy query runs
    // outside any window: its task and job events may still be queued on
    // the listener bus when the next window opens
    spark.range(0, 2000000, 1, 16).repartition(16, col("id") % 101)
      .groupBy(col("id") % 101).agg(sum("id")).collect()
    val df = shuffled()
    val l = m.measure(df.schema)
    assert(l.jobs == 0 && l.stages == 0 && l.tasks == 0, l.json)
    assert(l.taskCpuMs == 0.0 && l.jobSpanMs == 0.0, l.json)
  }
}
