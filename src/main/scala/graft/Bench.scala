package graft

/** Benchmark main: times every SparkEntry query end-to-end (scan → plan →
  * execute → count) on SPARK_GRAFT_SF_DIR and prints one JSON line.
  * A throwaway warm-up action runs first so JVM/codegen startup cost is not
  * charged to the first query measured.
  */
object Bench {
  /** Per-query forensics over the timed runs (warm-ups excluded); each field
    * is one column of the file artifact, keyed by query.
    */
  private final case class QueryCtx(
      gcMs: Long, heapMb: Long, load1: String, psiCpuUs: Long, psiIoUs: Long,
      cpuMs: Long, taskCpuMs: Long, wallMs: Long, warmups: Int,
      jitCold: Boolean, semiCold: Boolean, codegenCompiles: Long,
      fastest: Option[PerfMeters.Layers])

  /** A query whose first timed run takes longer than this is timed
    * [[LongRuns]] times instead of SPARK_GRAFT_BENCH_RUNS times.
    */
  private val LongQuerySec = 5.0
  private val LongRuns = 2
  /** A host-contention retry waits for the 1-minute load below this. */
  private val RetryLoad1 = 3.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same default as GraftSession.get(): bench and verify must run the
    // identical parallelism/shuffle-partition configuration
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.attachMetricsLogger(spark)
    // Warm-up: trigger codegen + parquet footer reads once, untimed.
    try Tables.lineitem(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }
    // Per-query: ADAPTIVE untimed warm-ups (repeat while the run shows the
    // JIT-compiling signature — process-CPU >> task-CPU — max 3; see the
    // loop below) then three timed runs, report the min — a single
    // GC/JIT-unlucky run must not masquerade as a cross-round regression
    // (two consecutive bench invocations should agree within ~5%).
    // A failing query must surface as -1, never as a fast-looking timing.
    // Every run is one window of the run meter: its wall is the run's time
    // and its layers split that wall.
    val meter = PerfMeters.attach(spark)
    def time(name: String,
             fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[PerfMeters.Layers] =
      try Some(meter.measure(fn(spark, sfDir).count()))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    def secs(run: Option[PerfMeters.Layers]): Double = run.fold(-1.0)(_.wallMs / 1e3)
    // Host-contention forensics: stamp the artifact with wall-clock and
    // loadavg at start and end, and keep ALL timed runs per query (not just
    // the min), so a contended capture is self-diagnosing: spiky max/min
    // ratios within a query and a high loadavg say "machine", flat runs say
    // "code". Per query, the GC, PSI, process-CPU and task-CPU deltas over
    // its timed runs say which: extra seconds matching gc_ms are our heap,
    // matching the PSI stalls are the host, cpu_ms far above task_cpu_ms is
    // the driver.
    import PerfMeters.{gcMs, heapMb, loadavg, psiUs}
    def load1(): String = loadavg().headOption.getOrElse("-1")
    def nowIso(): String = java.time.Instant.now().toString
    val (tsStart, loadStart) = (nowIso(), loadavg().mkString("[", ",", "]"))
    // Dev-only subset switch (same contract as Verify's): time just the
    // named queries. Guarded the same way — a typo must fail, not time
    // nothing and read as a healthy bench. Subset runs print their JSON
    // but never write the numbered round artifact (see below) unless
    // SPARK_GRAFT_BENCH_OUT redirects them anyway.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_ONLY set but names no queries")
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // Run count: min-of-3 (the stable statistic since round 1), or the
    // SPARK_GRAFT_BENCH_RUNS override (the sf1 capture times each query
    // once). A query whose first timed run exceeds LongQuerySec is timed
    // LongRuns times: its latency is dominated by inherent sequential
    // rounds, and a second pass keeps its spread measurable. single_run in
    // the artifact marks any query timed fewer than 3 times. A malformed
    // value must not abort the run before any artifact is written.
    val normalRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap { v =>
      try Some(math.max(1, v.toDouble.toInt))
      catch { case _: NumberFormatException =>
        System.err.println(s"[bench] SPARK_GRAFT_BENCH_RUNS='$v' is not a number — using 3")
        None
      }
    }.getOrElse(3)
    def measure(name: String,
                fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                warmupsMax: Int) = {
      // cache isolation BETWEEN queries: no query may ride a cache another
      // query built. No declared query leaves a cache entry of its own:
      // eager bodies unpersist in a finally, and lazily returned queries
      // keep their intermediates as checkpoints of their own frames
      // (operators.Checkpoints), which no later run can read and the
      // ContextCleaner frees once a run's frame is dropped.
      spark.sharedState.cacheManager.clearCache()
      // ADAPTIVE warm-up (round-13 verdict ask #3 — end the phantom-
      // regression adjudication loop): one fixed warm-up was measurably
      // not enough for the big ANSI-text queries, whose JIT/codegen
      // compilation landed INSIDE the timed window in two consecutive
      // driver captures (q40 3.34 s captured vs 0.83 s idle, the
      // cpu_ms ≈ 5-15× task_cpu_ms signature). The signature is
      // measurable per run, so warm up UNTIL it clears: repeat the
      // untimed run while process-CPU exceeds 4× task-CPU (compiler
      // threads burning cycles tasks don't see), max 3 warm-ups. Queries
      // already warm pay exactly the old single warm-up. jit_cold=true
      // marks a query still compiling after 3 — its timings are
      // untrusted-by-the-artifact, no post-hoc forensics needed.
      var warmups = 0
      var continueWarm = warmupsMax > 0
      var prevPd = -1L
      var lastRatioHigh = false
      var lastFalling5 = false
      while (warmups < warmupsMax && continueWarm) {
        val p0 = PerfMeters.procCpuMs()
        val run = time(name, fn) // untimed warm-up, timing discarded
        val pd = PerfMeters.procCpuMs() - p0
        val td = run.fold(0L)(_.taskCpuMs.toLong)
        // td <= 50 ms: too little task work to read the ratio (driver-
        // bound or trivial queries) — treat as warm, one warm-up is right.
        // STABILITY test (round 16 — the r15 artifact flagged 60 queries
        // and they carried the round's diffuse drift): a high proc/task
        // ratio alone also describes legitimately DRIVER-HEAVY queries
        // (planning, bounded collects), which no amount of warming
        // changes. Compilation, by contrast, burns off: its process-CPU
        // DROPS run over run. So keep warming only while the ratio is
        // high AND the process-CPU is still falling materially (>20%
        // below the previous warm-up); a stabilized query is warm no
        // matter its ratio, and jit_cold marks only the genuinely
        // still-converging tail.
        lastRatioHigh = p0 >= 0 && td > 50 && pd > 4 * td
        lastFalling5 = prevPd >= 0 && pd < (prevPd * 19) / 20
        continueWarm = lastRatioHigh && (prevPd < 0 || pd < (prevPd * 4) / 5)
        prevPd = pd
        warmups += 1
      }
      // jit_cold keeps the r16 contract (flag ONLY a loop that exhausted
      // warmupsMax still wanting to warm — the definition that took the
      // artifact from 60 false flags to 0). The round-16 advice's
      // semi-cold tail — stopped by the 20%-decline test with the ratio
      // still high and the CPU still falling >5% — gets its OWN column
      // instead of re-widening jit_cold: a single final-sample decline in
      // [5%, 20%) is indistinguishable from pd noise on a stable
      // driver-heavy query (a first full capture flagged 29/251 that way,
      // all with warmups 2-4 — the r15 over-flagging shape), so it is
      // recorded as forensics, not as measurement distrust.
      val stillCold = lastRatioHigh && continueWarm
      val semiCold = lastRatioHigh && !continueWarm && lastFalling5
      val (gc0, cpu0, io0) = (gcMs(), psiUs("cpu"), psiUs("io"))
      val pcpu0 = PerfMeters.procCpuMs()
      val cg0 = PerfMeters.codegenCompiles()
      val w0 = System.nanoTime()
      val first = time(name, fn)
      val runs =
        if (first.isEmpty) Seq(first)
        else if (secs(first) <= LongQuerySec)
          first +: (1 until normalRuns).map(_ => time(name, fn))
        else first +: (1 until LongRuns).map(_ => time(name, fn))
      val wallMs = (System.nanoTime() - w0) / 1000000L
      val cpuMs = if (pcpu0 < 0) -1L else PerfMeters.procCpuMs() - pcpu0
      // each run's share of task_cpu_ms is its layers' task_cpu_ms
      val taskCpuMs = runs.flatten.map(_.taskCpuMs).sum.toLong
      val timed = runs.map(secs)
      val ctx = QueryCtx(gcMs() - gc0, heapMb(), load1(),
        if (cpu0 < 0) -1L else psiUs("cpu") - cpu0,
        if (io0 < 0) -1L else psiUs("io") - io0,
        cpuMs, taskCpuMs, wallMs, warmups, stillCold, semiCold,
        PerfMeters.codegenCompiles() - cg0,
        if (runs.exists(_.isEmpty)) None else Some(runs.flatten.minBy(_.wallMs)))
      (name, if (timed.exists(_ < 0)) -1.0 else timed.min, timed, ctx)
    }
    // cache isolation is owned by measure() itself (its first statement)
    // warmupsMax = 6 (round-15 verdict ask #6): 60/244 queries still
    // flagged jit_cold after 3 adaptive warm-ups and carried the round's
    // diffuse +8% drift. Queries already warm exit the loop at 1 warm-up
    // exactly as before — only the still-compiling tail pays more.
    val firstPass = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      measure(name, fn, warmupsMax = 6)
    }
    // Idle-capture discipline (round-14 verdict ask #3): a query whose
    // run spread exceeds 3x WITHOUT the gc signature (gc delta < 1 s —
    // i.e. not our own JVM under memory pressure) carries the documented
    // host-contention fingerprint (gc≈0, load1 spikes, PSI deltas). Such
    // a query re-measures ONCE after the 1-min load average drops below
    // threshold (or 60 s elapse), and the retry REPLACES its numbers;
    // the artifact lists the query under "retried" with its first-pass
    // runs in "runs_first" so nothing is hidden. A spread with a real gc
    // delta is ours — it stays, loudly, in "unstable".
    def spreadOf(timed: Seq[Double]): Double =
      if (timed.exists(_ <= 0) || timed.size < 2) -1.0 else timed.max / timed.min
    val retriedFirstRuns = scala.collection.mutable.Map[String, Seq[Double]]()
    val retryLoads = scala.collection.mutable.Map[String, Double]()
    val results = firstPass.map { case r @ (name, _, timed, ctx) =>
      val hostSignature = spreadOf(timed) > 3.0 && ctx.gcMs < 1000L
      if (!hostSignature) r
      else {
        var waited = 0
        def load1Now(): Double =
          try load1().toDouble catch { case _: Throwable => 0.0 }
        while (waited < 60 && load1Now() >= RetryLoad1) {
          Thread.sleep(5000); waited += 5
        }
        // the load wait TIMED OUT with the host still contended: a retry
        // run there would be measured under the very conditions the retry
        // exists to escape — and replacing could report WORSE-than-honest
        // numbers (round-15 advice). Keep the first pass, flagged
        // unstable as any >3x spread is.
        val loadAtRetry = load1Now()
        if (loadAtRetry >= RetryLoad1) {
          System.err.println(s"[bench] RETRY $name SKIPPED — load1 " +
            f"$loadAtRetry%.1f still >= $RetryLoad1 after ${waited}s; " +
            "keeping first-pass numbers (query stays in 'unstable')")
          r
        } else {
          System.err.println(s"[bench] RETRY $name (spread " +
            f"${spreadOf(timed)}%.1f, gc ${ctx.gcMs} ms — host signature); " +
            s"waited ${waited}s for load1 < $RetryLoad1")
          val retry = measure(name, selected(name), warmupsMax = 1)
          // the load around the retry, in the artifact — sampled AFTER
          // the timed runs too (contention can start mid-retry; the
          // pre-check alone would report an idle host for a contended
          // retry — round-16 review catch): record the worse of the two.
          // Recorded BEFORE the keep-or-replace decision (round-16
          // advice): a FAILED retry still ran under a measured load, and
          // losing its retry_load1 entry loses exactly the forensic
          // context the column exists for.
          retryLoads(name) = math.max(loadAtRetry, load1Now())
          // a FAILED retry must not turn three successful first-pass runs
          // into a reported failure (the 'broken query can never read as a
          // speedup' discipline, both directions) — keep the first pass,
          // flagged unstable as before (round-15 review catch)
          if (retry._2 < 0 && r._2 >= 0) {
            System.err.println(s"[bench] RETRY $name FAILED — keeping the " +
              "first-pass numbers (query stays in 'unstable')")
            r
          } else {
            retriedFirstRuns(name) = timed
            retry
          }
        }
      }
    }
    val (tsEnd, loadEnd) = (nowIso(), loadavg().mkString("[", ",", "]"))
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, timed, _) =>
      "\"" + k + "\":" + timed.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def byQuery(col: QueryCtx => Any): String =
      results.map { case (k, _, _, ctx) => "\"" + k + "\":" + col(ctx) }.mkString("{", ",", "}")
    // gc_ms: GC time accrued across the query's 3 timed runs; heap_mb:
    // used heap after the last run; load1: 1-min loadavg at query end.
    // All three are longs/strings rendered locale-independently.
    val gcJson = byQuery(_.gcMs)
    val heapJson = byQuery(_.heapMb)
    val loadJson = byQuery(_.load1)
    val psiCpuJson = byQuery(_.psiCpuUs)
    val psiIoJson = byQuery(_.psiIoUs)
    // cpu_ms / task_cpu_ms / wall_ms share gc_ms's 3-timed-run window
    // (warm-ups now EXCLUDED — they absorb compilation, so these columns
    // read clean): cpu_ms >> wall_ms says the runs really burned parallel
    // cycles (plan); cpu_ms << wall_ms says the host starved the JVM;
    // task_cpu_ms << cpu_ms with high wall says driver-side time.
    val cpuJson = byQuery(_.cpuMs)
    val taskCpuJson = byQuery(_.taskCpuMs)
    val wallJson = byQuery(_.wallMs)
    // codegen_compiles: generated classes Janino compiled in the same
    // window. A warm query served from the codegen cache compiles none; a
    // steady count says its generated source changes per run, or the
    // cache (GraftSession.CodegenCacheEntries) is smaller than the
    // working set.
    val codegenJson = byQuery(_.codegenCompiles)
    // layers: the fastest timed run, the one reported as the query's
    // value, split by the run meter (PerfMeters.Layers): its driver_ms and
    // job_span_ms add up to that value. A failed query has none.
    val layersJson = results.flatMap { case (k, _, _, ctx) =>
      ctx.fastest.map(l => "\"" + k + "\":" + l.json)
    }.mkString("{", ",", "}")
    // warm-up forensics: how many warm-ups each query took (1 = was warm
    // immediately) and whether it STILL showed the compiling signature
    // after 3 — the in-run replacement for the post-hoc JIT adjudication.
    val warmupsJson = byQuery(_.warmups)
    val jitColdJson = byQuery(_.jitCold)
    // semi-cold tail (round-16 advice): warm-up loop stopped by the
    // 20%-decline test with the proc/task ratio still high and the CPU
    // still falling >5% — forensic only (single-sample declines in that
    // band are pd-noise-indistinguishable on stable driver-heavy queries).
    val semiColdJson = results.collect {
      case (k, _, _, ctx) if ctx.semiCold => "\"" + k + "\""
    }.mkString("[", ",", "]")
    // Variance honesty (round-10 verdict ask): min-of-3 stays the headline
    // statistic, but a contended or pathological capture must flag ITSELF.
    // spread = max/min of the timed runs per query; anything past 3x goes
    // in an explicit "unstable" list (and a loud stderr line), so a judge
    // reading the artifact never has to diff the runs map by hand.
    // (spreadOf defined above for the retry pass; single-run queries
    // report spread -1 — unmeasurable, not unstable.)
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would render "spread":{"q01":1,234} — invalid
    // JSON (round-11 advice). Every other number here goes through
    // Double/Long toString, which is locale-independent.
    val spreadJson = results.map { case (k, _, timed, _) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(spreadOf(timed)))
    }.mkString("{", ",", "}")
    val unstable = results.collect {
      case (k, _, timed, _) if spreadOf(timed) > 3.0 => k
    }
    if (unstable.nonEmpty)
      System.err.println(s"[bench] UNSTABLE (run spread > 3x): " +
        unstable.mkString(", ") + " — treat this capture's latencies as " +
        "untrusted; re-run on an idle host (see loadavg_start/loadavg_end)")
    // total sums SUCCESSFUL queries only; failures are listed explicitly so
    // a broken query can never read as a speedup.
    val failed = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    // retry + single-run forensics (round-14 ask #3 / round-15 economy):
    // "retried" queries were re-measured once on an idle-ish host and
    // their numbers REPLACED (first-pass runs preserved in "runs_first");
    // "single_run" queries exceeded the long-query threshold (or ran
    // under a reduced SPARK_GRAFT_BENCH_RUNS) and were timed fewer than
    // the standard three passes — min-of-2 since round 17, so their
    // spread IS measurable; a 1-run capture still reports spread -1.
    val retriedJson = retriedFirstRuns.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val runsFirstJson = retriedFirstRuns.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val retryLoadJson = retryLoads.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(v))
      }
      .mkString("{", ",", "}")
    val singleRun = results.collect {
      case (k, v, timed, _) if v >= 0 && timed.size < 3 => k
    }
    // Stdout/file split (round-17 verdict ask #2): the per-query forensic
    // maps (runs/gc/psi/cpu/warmup columns) quadrupled the one-line JSON,
    // and the driver's round-16 stdout tail truncated BEFORE the line
    // started — costing that round its entire PERF comparison. The line
    // PRINTED to stdout now carries only what the driver parses (metric/
    // value/unit/queries/failed/sf) plus the small trust lists (unstable/
    // retried/single_run) and capture context; the full forensic document
    // keeps every column and goes to the FILE artifacts (BENCH_LAST.json,
    // the numbered round artifact, docs/perf structured copy), which are
    // not tail-limited. Nothing is dropped — it just stops riding stdout.
    val slimTail =
      s""""unstable":[${unstable.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""retried":$retriedJson,""" +
        s""""single_run":[${singleRun.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""long_query_sec":$LongQuerySec,""" +
        s""""cpus":$cpus,""" +
        s""""ts_start":"$tsStart","ts_end":"$tsEnd",""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd}"""
    val slimJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":[${failed.mkString(",")}],"sf":"$sfDir",""" + slimTail
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":[${failed.mkString(",")}],"sf":"$sfDir",""" +
        s""""runs":$runsJson,"spread":$spreadJson,""" +
        s""""gc_ms":$gcJson,"heap_mb":$heapJson,"load1":$loadJson,""" +
        s""""psi_cpu_us":$psiCpuJson,"psi_io_us":$psiIoJson,""" +
        s""""cpu_ms":$cpuJson,"task_cpu_ms":$taskCpuJson,""" +
        s""""wall_ms":$wallJson,"codegen_compiles":$codegenJson,""" +
        s""""layers":$layersJson,""" +
        s""""warmups":$warmupsJson,"jit_cold":$jitColdJson,""" +
        s""""semi_cold":$semiColdJson,""" +
        s""""runs_first":$runsFirstJson,""" +
        s""""retry_load1":$retryLoadJson,""" + slimTail
    println(slimJson)
    // Also persist the line to a file: log tailing truncated a round's
    // BENCH json once (lost the head queries + total), so the artifact is
    // written losslessly regardless of how stdout is captured.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // The numbered per-round artifact is written ONLY when the round is
    // stated EXPLICITLY (SPARK_GRAFT_ROUND=N → BENCH_r{N}.json). The
    // previous max(CORRECTNESS_r*)+1 heuristic misfired in round 14: the
    // driver's mid-round correctness write made the builder's own bench
    // land in BENCH_r15.json while BENCH_r14.json held a raw stdout tail
    // — a future judge reading by filename got the wrong round (round-14
    // verdict ask #5). An inferred round number is worse than none:
    // BENCH_LAST.json always has the latest structured run, and the
    // round-close capture sets the round explicitly. Subset runs and
    // off-round SFs still never write a numbered artifact.
    val roundSf = sfDir.endsWith("sf0.1") || sfDir.endsWith("sf0.1/")
    try sys.env.get("SPARK_GRAFT_ROUND") match {
      case Some(r) if !only.isDefined && roundSf &&
          !sys.env.contains("SPARK_GRAFT_BENCH_OUT") =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"BENCH_r${r.toInt}%02d.json"), json + "\n")
        // DRIVER-PROOF copy (round-15 verdict ask #4): the top-level
        // BENCH_r{N}.json gets clobbered by the driver's own raw-wrapper
        // write at round close (r15's structured run survived only in
        // BENCH_LAST.json). docs/perf/ is builder-owned — the structured
        // artifact lands there too, like r14's hand-saved copy.
        val perf = java.nio.file.Paths.get("docs/perf")
        java.nio.file.Files.createDirectories(perf)
        java.nio.file.Files.writeString(
          perf.resolve(f"BENCH_r${r.toInt}%02d_structured.json"), json + "\n")
      case Some(r) =>
        System.err.println(s"[bench] SPARK_GRAFT_ROUND=$r set but this is " +
          "a subset/off-sf/redirected run — numbered artifact skipped")
      case None => ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write numbered artifact: ${e.getMessage}")
    }
    spark.stop()
  }
}
