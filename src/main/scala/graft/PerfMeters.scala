package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The run meter of Bench, BenchOne and Soak, and the JVM and host readings
  * they print beside it.
  *
  * [[Meter]] splits one run's wall time into layers, named and defined like
  * perfbench's `spark.*` metrics so the two tools agree. The JVM and host
  * readings make a slow capture attributable: process CPU against task CPU
  * says plan or driver; GC time says our own heap; PSI stalls and loadavg
  * say the host.
  */
object PerfMeters {

  /** One run window's layers.
    *  - `job_span_ms`: the union of the Spark job intervals inside the
    *    window;
    *  - `driver_ms`: the window's wall minus `job_span_ms` — Dataset
    *    construction, planning and AQE re-planning between jobs, eager
    *    sub-actions, collects;
    *  - `catalyst_ms`: the Catalyst phases (analysis, optimization,
    *    planning) of the actions that finished in the window;
    *  - `jobs` started, `stages` completed and `tasks` finished in the
    *    window, with the tasks' executor CPU, shuffle write and spill bytes.
    */
  final case class Layers(wallMs: Double, jobSpanMs: Double, catalystMs: Double,
                          jobs: Int, stages: Int, tasks: Int, taskCpuMs: Double,
                          shuffleBytes: Long, spillBytes: Long) {
    def driverMs: Double = wallMs - jobSpanMs

    def json: String = String.format(java.util.Locale.ROOT,
      "{\"driver_ms\":%.1f,\"catalyst_ms\":%.1f,\"job_span_ms\":%.1f,\"jobs\":%d," +
        "\"stages\":%d,\"tasks\":%d,\"task_cpu_ms\":%.1f,\"shuffle_bytes\":%d," +
        "\"spill_bytes\":%d}",
      Double.box(driverMs), Double.box(catalystMs), Double.box(jobSpanMs),
      Int.box(jobs), Int.box(stages), Int.box(tasks), Double.box(taskCpuMs),
      Long.box(shuffleBytes), Long.box(spillBytes))
  }

  private final case class Task(at: Long, cpuNs: Long, shuffle: Long, spill: Long)

  /** Records the engine events of a session inside [[measure]]'s windows,
    * and none outside them: jobs, stages and task metrics from the listener
    * bus, Catalyst phases from each finished action. Windows run one at a
    * time.
    */
  final class Meter private[PerfMeters] (sc: SparkContext)
      extends SparkListener with QueryExecutionListener {
    // filled on the listener bus thread while a window is open, read under
    // the same lock
    private var open = false
    private val jobStart = mutable.Map.empty[Int, Long]
    private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    private val stages = mutable.ArrayBuffer.empty[Long]
    private val tasks = mutable.ArrayBuffer.empty[Task]
    private val actions = mutable.ArrayBuffer.empty[Seq[(Long, Long)]]

    private def whileOpen(f: => Unit): Unit = synchronized { if (open) f }

    override def onJobStart(e: SparkListenerJobStart): Unit = whileOpen {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = whileOpen {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = whileOpen {
      e.stageInfo.completionTime.foreach(stages += _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = whileOpen {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = whileOpen {
      actions += qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    }

    /** Runs `body` as one window and returns its layers. The listener bus
      * is asynchronous, so it is drained on both sides: the events of
      * earlier work are delivered, and ignored, before the window opens, and
      * the window's own are all delivered before it is read. Listener event
      * times are epoch milliseconds, so the window is too, with nanoTime
      * resolution; an event outside it is not counted.
      */
    def measure(body: => Any): Layers = {
      GraftColumnBridge.drainListenerBus(sc)
      synchronized {
        jobStart.clear(); jobs.clear(); stages.clear(); tasks.clear(); actions.clear()
        open = true
      }
      val (e0, n0) = (System.currentTimeMillis(), System.nanoTime())
      val wallMs = try { body; (System.nanoTime() - n0) / 1e6 }
        finally {
          GraftColumnBridge.drainListenerBus(sc)
          synchronized { open = false }
        }
      val b = e0 + wallMs
      synchronized {
        def in(t: Long) = t >= e0 && t <= b
        val ts = tasks.filter(t => in(t.at))
        Layers(wallMs, covered(jobs.toSeq, e0, b),
          actions.filter(p => p.nonEmpty && in(p.map(_._2).max))
            .map(_.map { case (s, e) => e - s }.sum).sum.toDouble,
          jobs.count(j => in(j._1)), stages.count(in), ts.size,
          ts.map(_.cpuNs).sum / 1e6, ts.map(_.shuffle).sum, ts.map(_.spill).sum)
      }
    }
  }

  /** Length of the union of the intervals `iv`, clipped to [a, b]. */
  private def covered(iv: Seq[(Long, Long)], a: Double, b: Double): Double = {
    var (total, reach) = (0.0, a)
    iv.map { case (s, e) => (math.max(s.toDouble, a), math.min(e.toDouble, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** A meter listening to `spark`'s engine events from now on. */
  def attach(spark: SparkSession): Meter = {
    val m = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }

  /** Cumulative process CPU in ms — every thread in this JVM: driver
    * planning, codegen, GC workers, executors — or -1 where the JDK bean is
    * not the com.sun.management extension.
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

  /** Cumulative GC time of this JVM, ms. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use, MiB. */
  def heapMb(): Long = java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20

  /** Total `some` stall time (µs since boot) of the PSI resource `kind`
    * (`cpu`, `io`), or -1 where the kernel exposes none. Stalls show cgroup
    * throttling and I/O waits that loadavg misses.
    */
  def psiUs(kind: String): Long =
    try scala.io.Source.fromFile(s"/proc/pressure/$kind").getLines()
      .find(_.startsWith("some")).flatMap(_.split("\\s+")
        .find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** The 1-, 5- and 15-minute load averages as the kernel prints them;
    * empty where /proc/loadavg is unreadable.
    */
  def loadavg(): Seq[String] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).toSeq
    catch { case _: Throwable => Seq.empty }

  /** Bytes of every cached or checkpointed block, memory and disk. */
  def storedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** [[storedBytes]] after a GC, once it has held for a second: the
    * ContextCleaner frees the blocks of unreachable frames on its own
    * thread, and may start only after the first poll. Gives up after 5 s.
    */
  def settledStoredBytes(sc: SparkContext): Long = {
    System.gc()
    var (last, same, polls) = (storedBytes(sc), 0, 0)
    while (same < 10 && polls < 50) {
      Thread.sleep(100); polls += 1
      val cur = storedBytes(sc)
      if (cur == last) same += 1 else { last = cur; same = 0 }
    }
    last
  }
}
