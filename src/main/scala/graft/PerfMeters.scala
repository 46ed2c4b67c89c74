package graft

import org.apache.spark.sql.SparkSession

/** CPU-time meters for Bench/Soak forensics — the round-12 verdict's
  * missing bit: a flat-slow capture (wall 15 s, gc 0, psi ~0) cannot be
  * attributed by wall-clock alone, because "the plan is slow" and "the JVM
  * got 1/40th of a CPU" read identically. CPU time splits them:
  * cpu ≈ wall × active-threads says the plan really burned the cycles;
  * cpu ≪ wall says the host never scheduled us (contention/throttling),
  * whatever loadavg claims.
  *
  * Two meters, same per-query delta protocol as gc_ms:
  *  - process CPU (OperatingSystemMXBean.getProcessCpuTime): every thread
  *    in this JVM — driver planning, codegen, GC workers, executors.
  *  - executor task CPU (TaskMetrics.executorCpuTime summed by a
  *    SparkListener): just the task work. task ≪ process with wall high
  *    points at the driver (planning/collect); both low points at the host.
  *
  * The listener bus is ASYNC: a query's last task-end events may land
  * after the timing snapshot, bleeding a few ms into the next query's
  * delta. Forensics-grade, not accounting-grade — the signal read off it
  * (cpu within ~2x of wall vs. 10x+ under) is far above that noise.
  */
object PerfMeters {

  /** Cumulative process CPU in ms, or -1 where the JDK bean is not the
    * com.sun.management extension (never on the Linux JDKs we run).
    */
  def procCpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val ns = os.getProcessCpuTime
        if (ns < 0) -1L else ns / 1000000L
      case _ => -1L
    }

  /** Cumulative count of generated classes Janino has compiled in this JVM
    * (whole-stage codegen, projections, predicates): each compile is a miss
    * in Spark's codegen cache. JVM-global, so a delta is meaningful only
    * while one query runs at a time.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Accumulates executor task CPU (ns) and run time (ms) across all jobs
    * on the session. Register once; read cumulative counters and diff.
    */
  final class TaskCpuListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
      }
    }
  }

  def attachTaskCpu(s: SparkSession): TaskCpuListener = {
    val l = new TaskCpuListener
    s.sparkContext.addSparkListener(l)
    l
  }
}
