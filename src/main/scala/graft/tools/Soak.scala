package graft.tools

/** Repro harness for run-to-run latency drift: repeats graft.Bench's exact
  * per-query protocol (clearCache, then 4 consecutive invocations) N times
  * in one JVM, printing every run plus the cached-plan count before each
  * iteration, and after it the executor's stored block bytes once a GC has
  * let the ContextCleaner free dropped checkpoints, the generated classes
  * compiled, the driver's loaded/unloaded class counts and its metaspace.
  * A genuine accumulation pathology (checkpoint or cache growth, codegen
  * cache churn) shows as a monotonic trend across iterations on an idle
  * host; flat times say the bad capture was host contention.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Soak <iters> q76_profile_approx [more...]
  */
object Soak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Soak <iters> <query> [query...]")
    val iters = args.head.toInt
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    try graft.Tables.lineitem(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }

    // cached-plan count: CacheManager keeps its entries private; read the
    // field reflectively (diagnostic tool only — never library code).
    def cachedCount(): String = try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields
        .find(f => f.getName.contains("cachedData")).get
      f.setAccessible(true)
      f.get(cm) match {
        case c: java.util.Collection[_] => c.size.toString
        case s: scala.collection.Iterable[_] => s.size.toString
        case o => o.toString.take(20)
      }
    } catch { case _: Throwable => "?" }
    // loaded/unloaded driver classes and metaspace in use: every codegen
    // cache entry is a loaded class, so a cache that grows without bound
    // shows here as a rising loaded count and metaspace
    def classMem(): String = {
      import scala.jdk.CollectionConverters._
      val cl = java.lang.management.ManagementFactory.getClassLoadingMXBean
      val meta = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(_.getName == "Metaspace").map(_.getUsage.getUsed >> 20).getOrElse(-1L)
      s"classes_loaded=${cl.getLoadedClassCount} classes_unloaded=${cl.getUnloadedClassCount} metaspace_mb=$meta"
    }
    import graft.PerfMeters.{gcMs, heapMb, loadavg, psiUs, settledStoredBytes}
    // every run is one window of the run meter; task_cpu_ms sums the
    // iteration's four, beside the process CPU: cpu_ms ~ wall x threads
    // says plan, cpu_ms << wall says host
    val meter = graft.PerfMeters.attach(spark)
    println(s"[soak] start ${classMem()}")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      println(s"== $name ==")
      val mins = (1 to iters).map { i =>
        spark.sharedState.cacheManager.clearCache()
        val pre = s"cached=${cachedCount()} load=${loadavg().headOption.getOrElse("?")}"
        val (gc0, cpu0) = (gcMs(), psiUs("cpu"))
        val pcpu0 = graft.PerfMeters.procCpuMs()
        val cg0 = graft.PerfMeters.codegenCompiles()
        val layers = (1 to 4).map(_ => meter.measure(fn(spark, sfDir).count()))
        val runs = layers.map(_.wallMs / 1e3)
        val cpuMs = if (pcpu0 < 0) -1L else graft.PerfMeters.procCpuMs() - pcpu0
        val tCpuMs = layers.map(_.taskCpuMs).sum.toLong
        println(f"[$name iter $i%2d] $pre gc_ms=${gcMs() - gc0} heap_mb=${heapMb()} psi_cpu_us=${if (cpu0 < 0) -1L else psiUs("cpu") - cpu0} cpu_ms=$cpuMs task_cpu_ms=$tCpuMs codegen_compiles=${graft.PerfMeters.codegenCompiles() - cg0} stored_bytes=${settledStoredBytes(spark.sparkContext)} ${classMem()}  runs=${runs.map(r => f"$r%.3f").mkString(",")}")
        runs.tail.min
      }
      println(f"[$name] min-of-3 per iter: ${mins.map(m => f"$m%.3f").mkString(",")}  spread=${mins.max / mins.min}%.2fx")
    }
    println(s"[soak] final cached=${cachedCount()} stored_bytes=${settledStoredBytes(spark.sparkContext)} ${classMem()}")
    spark.stop()
  }
}
