package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and engine events for the traced run.
  *
  * Spans are recorded by the benchmark around its own calls into each
  * module (name, start, end, parent). The engine beneath is observed through
  * the benchmark's own SparkListener (jobs, stages, task metrics),
  * QueryExecutionListener (Catalyst phases) and StreamingQueryListener
  * (micro-batch progress). Everything stays in memory until [[write]].
  *
  * Self time of a span is its duration minus its child spans minus the part
  * of it during which a Spark job ran; that job time is reported once, as
  * `spark.job_span_ms`. Work done inside the benchmark's own checks
  * (`bench.check`: reading results back, digests) stays in that span's self
  * time and is left out of every `spark.*` count.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)
  private final case class Task(at: Double, cpuMs: Double, gcMs: Double, input: Double,
                                shuffle: Double, spill: Double)

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution, so spans
    * line up with the listener bus's epoch-millisecond event times.
    */
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  // engine events, guarded: the listener bus delivers them on its own thread
  private val jobStart = mutable.Map.empty[Int, Double]
  private val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
  private val stages = mutable.ArrayBuffer.empty[Double]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[Seq[(Double, Double)]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), now(), Double.NaN)
    spans += s
    stack = s.id :: stack
    try body finally { s.end = now(); stack = stack.tail }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time.toDouble
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stages += e.stageInfo.completionTime.map(_.toDouble).getOrElse(now())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.finishTime.toDouble, m.executorCpuTime / 1e6,
        m.jvmGCTime.toDouble, m.inputMetrics.bytesRead.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      queries += qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble)).toSeq
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        if (e.progress.numInputRows > 0)
          progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Forget the engine events of the previous round (spans are kept). */
  def resetEngine(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); queries.clear(); progress.clear()
  }

  /** Input bytes of the tasks that finished within [a, b]. */
  def inputBytesBetween(a: Double, b: Double): Double = synchronized {
    tasks.collect { case t if t.at >= a && t.at <= b => t.input }.sum
  }

  /** Length of the union of `iv` clipped to [a, b]. */
  private def covered(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    var total = 0.0
    var reach = a
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** One round's per-layer numbers: the self time of every span name (as
    * `<name>_ms`), the job span, and the engine counts, for the round whose
    * root span is `root`.
    */
  def round(root: Span): Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val checks = mutable.ArrayBuffer.empty[(Double, Double)]
    var jobSpan = 0.0
    def walk(s: Span): Unit = {
      val kids = children.getOrElse(s.id, Seq.empty).toSeq
      val kidIv = kids.map(k => (k.start, k.end))
      val inKids = covered(kidIv, s.start, s.end)
      if (s.name == "bench.check") {
        checks += ((s.start, s.end))
        self(s.name) += s.end - s.start
      } else {
        // job time inside this span but outside its children
        val jobOwn = covered(jobs.toSeq ++ kidIv, s.start, s.end) - inKids
        self(s.name) += (s.end - s.start) - inKids - jobOwn
        jobSpan += jobOwn
        kids.foreach(walk)
      }
    }
    walk(root)
    def counted(t: Double) = t >= root.start && t <= root.end &&
      !checks.exists { case (a, b) => t >= a && t <= b }
    val ts = tasks.filter(t => counted(t.at))
    val qs = queries.filter(p => p.nonEmpty && counted(p.map(_._2).max))
    self.map { case (k, v) => s"${k}_ms" -> v }.toMap ++ Map(
      "spark.job_span_ms" -> jobSpan,
      "spark.driver_ms" -> self.collect { case (k, v) if !k.startsWith("bench.") => v }.sum,
      "spark.catalyst_ms" -> qs.map(_.map { case (a, b) => b - a }.sum).sum,
      "spark.query_executions" -> qs.size.toDouble,
      "spark.jobs" -> jobs.count(j => counted(j._1)).toDouble,
      "spark.stages" -> stages.count(counted).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "spark.task_gc_ms" -> ts.map(_.gcMs).sum,
      "spark.input_bytes" -> ts.map(_.input).sum,
      "spark.shuffle_bytes" -> ts.map(_.shuffle).sum,
      "spark.spill_bytes" -> ts.map(_.spill).sum,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.planning_ms" -> progress.map(_.getOrElse("queryPlanning", 0L)).sum.toDouble,
      "streaming.add_batch_ms" -> progress.map(_.getOrElse("addBatch", 0L)).sum.toDouble)
  }

  def write(path: String): Unit = synchronized {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(spans.map(s => f"""  {"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}""").mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}
