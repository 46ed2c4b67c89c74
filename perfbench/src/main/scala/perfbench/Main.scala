package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** A collected result, as a SQL client receives it. */
final case class Res(schema: StructType, rows: Seq[Row])

/** One timed call into the program. `cls` groups operations into the
  * workload's two headline steps ("step1", "step2") or "other".
  */
final case class Op(cls: String, name: String, ms: Double, ok: Boolean)

final case class Round(ops: Seq[Op], wallMs: Double, layers: Map[String, Double])

/** What every workload implements. `setup` makes the inputs from the seed,
  * builds what the operations need and runs one untimed warm-up round.
  */
trait Workload {
  /** A warm round's length on a 4-core machine. A run of `--seconds`
    * measures seconds / roundS whole rounds (at least one), so every run of
    * a workload measures the same rounds at the same point of JIT warm-up.
    */
  def roundS: Double
  def setup(b: Bench): Unit
  def round(b: Bench): Unit
  /** Items per second, from the untraced rounds (see README). */
  def itemsPerSecond(rounds: Seq[Round]): Double
  /** Traced-run probes that sit outside the round wall. */
  def probe(b: Bench): Map[String, Double] = Map.empty
  /** Per-round traced numbers only the workload can attribute. */
  def roundExtras(b: Bench, t: Tracer): Map[String, Double] = Map.empty
  /** Directory whose newly written files count as `sources.*_written`. */
  def writeRoot(b: Bench): Option[String] = None
}

final class Bench(val spark: SparkSession, val seed: Long, val fixture: String,
                  val digests: Map[String, Digest], val work: String,
                  val plant: Option[String]) {
  val rnd = new scala.util.Random(seed)
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val ops = mutable.ArrayBuffer.empty[Op]

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Collect `df`, applying the self-test's planted change if one is asked for. */
  def take(df: DataFrame): Res = Res(df.schema, planted(df.collect().toSeq))

  /** The self-test's planted change: drop one row, or change one value. */
  def planted(rows: Seq[Row]): Seq[Row] = plant match {
    case Some("row") => if (rows.isEmpty) Seq(Row.empty) else rows.init
    case Some("value") if rows.nonEmpty =>
      val r = rows.head
      val i = (0 until r.length).find(!r.isNullAt(_)).getOrElse(0)
      val v: Any = r.get(i) match {
        case null => 0L
        case x: Int => x + 1
        case x: Long => x + 1
        case x: Double => x + 1.0
        case x: Float => x + 1.0f
        case x: String => x + "~"
        case x: Boolean => !x
        case x: java.math.BigDecimal => x.add(java.math.BigDecimal.ONE)
        case x => x.toString + "~"
      }
      new GenericRowWithSchema(r.toSeq.updated(i, v).toArray, r.schema) +: rows.tail
    case _ => rows
  }

  /** Time `run`, then check its result. A failed check or an exception is a
    * failed operation: it is counted, and its time is not reported.
    */
  def op[R](cls: String, name: String)(run: => R)(check: R => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(run) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = res match {
      case Left(e) => Some(s"threw $e")
      case Right(r) =>
        try span("bench.check")(check(r))
        catch { case scala.util.control.NonFatal(e) => Some(s"check threw $e") }
    }
    verdict.foreach { msg =>
      failed += 1
      System.err.println(s"perfbench: FAILED $name: ${msg.take(400)}")
    }
    ops += Op(cls, name, ms, verdict.isEmpty)
  }

  /** Check a collected result against the DuckDB digest of its oracle. */
  def matchesOracle(name: String, r: Res): Option[String] = digests.get(name) match {
    case None => Some(s"no oracle digest for $name")
    case Some(d) => Digest.of(r.schema, r.rows).diff(d)
  }

  def path(name: String): String = new java.io.File(work, name).getAbsolutePath
}

object Main {
  val Layers: Seq[String] = Seq(
    "session.start_ms", "tables.frame_ms", "sources.csv_read_ms",
    "sources.read_amplification", "sources.write_ms", "sources.bytes_written",
    "sources.files_written", "etl.build_ms", "analytics.call_ms",
    "queries.build_ms", "queries.action_ms", "operators.index_build_ms",
    "streaming.build_ms", "streaming.batch_ms", "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.batches", "spark.driver_ms", "spark.catalyst_ms",
    "spark.job_span_ms", "spark.query_executions", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_cpu_ms", "spark.task_gc_ms", "spark.input_bytes",
    "spark.shuffle_bytes", "spark.spill_bytes", "bench.round_ms",
    "bench.check_ms", "trace.wall_ms", "trace.self_sum_pct", "trace.overhead_pct")

  /** The per-layer metrics that are self times of the benchmark's spans. */
  val SpanLayers: Set[String] = Set("tables.frame_ms", "sources.write_ms", "etl.build_ms",
    "analytics.call_ms", "queries.build_ms", "queries.action_ms", "streaming.build_ms",
    "streaming.batch_ms", "bench.round_ms", "bench.check_ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("dump-oracles")) { dumpOracles(a("dump-oracles")); return }
    val t0 = a("t0").toDouble
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors().toString
    val work = new java.io.File(a("work")).getAbsolutePath
    val startSpan = System.nanoTime()
    val spark = graft.GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - startSpan) / 1e6
    System.err.println(f"perfbench: session up ${(System.currentTimeMillis() - t0) / 1000}%.1f s after start")
    val (fixtureSha, digests) = Digest.load(a("digests"))
    val b = new Bench(spark, a("seed").toLong, a("fixture"), digests, work, a.get("plant"))
    if (fixtureSha != a("fixture-sha")) {
      System.err.println(s"perfbench: digests.json is for fixture $fixtureSha, not ${a("fixture-sha")}")
      sys.exit(3)
    }
    val w: Workload = a("workload") match {
      case "etl_star" => new EtlStar
      case "sql_mix" => new SqlMix
      case "web_curation" => new WebCuration
      case other => System.err.println(s"perfbench: unknown workload $other"); sys.exit(2)
    }
    var exit = 0
    try {
      w.setup(b)
      System.err.println(f"perfbench: set-up done ${(System.currentTimeMillis() - t0) / 1000}%.1f s after start; " +
        "warm-up " + b.ops.map(o => f"${o.name}=${o.ms}%.0f").mkString(" "))
      b.ops.clear(); b.attempted = 0; b.failed = 0
      val setupS = (System.currentTimeMillis() - t0) / 1000.0
      val seconds = a("seconds").toDouble
      val plain = loop(b, w, if (traced) seconds / 2 else seconds, None)
      val result =
        if (!traced) endToEnd(w, plain, setupS)
        else {
          val t = new Tracer(spark)
          t.attach()
          b.tracer = Some(t)
          val tracedRounds = loop(b, w, seconds / 2, Some(t))
          t.detach()
          val extra = w.probe(b) + ("session.start_ms" -> sessionMs)
          t.write(s"${a("out")}/trace-${a("workload")}-${a("seed")}.json")
          perLayer(plain, tracedRounds, extra)
        }
      val m = result.map { case (k, (v, unit)) =>
        s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }.mkString(", ")
      println(s"""{"correct": ${b.failed == 0}, "attempted": ${b.attempted}, "failed": ${b.failed}, "metrics": {$m}}""")
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** The whole rounds that `seconds` holds. */
  def loop(b: Bench, w: Workload, seconds: Double, t: Option[Tracer]): Seq[Round] = {
    val rounds = mutable.ArrayBuffer.empty[Round]
    val n = math.max(1, (seconds / w.roundS).toInt)
    while (rounds.size < n) {
      b.ops.clear()
      t.foreach(_.resetEngine())
      val writeStart = System.currentTimeMillis()
      val r0 = System.nanoTime()
      b.span("bench.round")(w.round(b))
      val wall = (System.nanoTime() - r0) / 1e6
      val layers = t.map { tr =>
        tr.drain()
        val m = tr.round(tr.spans.filter(_.name == "bench.round").last)
        val (files, bytes) = w.writeRoot(b).map(Files.writtenSince(_, writeStart)).getOrElse((0L, 0L))
        // the printed self times and the job span, against the loop's own clock
        val selfSum = m.collect { case (k, v) if SpanLayers(k) => v }.sum + m("spark.job_span_ms")
        m ++ w.roundExtras(b, tr) ++ Map(
          "sources.files_written" -> files.toDouble,
          "sources.bytes_written" -> bytes.toDouble,
          "trace.wall_ms" -> wall,
          "trace.self_sum_pct" -> selfSum / wall * 100)
      }.getOrElse(Map.empty)
      rounds += Round(b.ops.toSeq, wall, layers)
      System.err.println(f"perfbench: round ${rounds.size} ${wall / 1000}%.2f s " +
        b.ops.map(o => f"${o.name}=${o.ms}%.0f").mkString(" "))
    }
    rounds.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile: always one of the measured values. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def endToEnd(w: Workload, rounds: Seq[Round], setupS: Double): Seq[(String, (Double, String))] = {
    val ok = rounds.flatMap(_.ops).filter(_.ok).map(_.ms)
    def step(cls: String) = median(rounds.map(_.ops.filter(o => o.ok && o.cls == cls).map(_.ms).sum)) / 1000
    Seq(
      "setup_s" -> (setupS, "s"),
      "round_s" -> (median(rounds.map(_.ops.filter(_.ok).map(_.ms).sum)) / 1000, "s"),
      "step1_s" -> (step("step1"), "s"),
      "step2_s" -> (step("step2"), "s"),
      "op_p50_ms" -> (percentile(ok, 0.5), "ms"),
      "op_p90_ms" -> (percentile(ok, 0.9), "ms"),
      "items_per_s" -> (w.itemsPerSecond(rounds), "1/s"))
  }

  def perLayer(plain: Seq[Round], traced: Seq[Round],
               extra: Map[String, Double]): Seq[(String, (Double, String))] = {
    val overhead = (median(traced.map(_.wallMs)) / median(plain.map(_.wallMs)) - 1) * 100
    Layers.map { name =>
      val v = extra.getOrElse(name,
        if (name == "trace.overhead_pct") overhead
        else median(traced.map(_.layers.getOrElse(name, 0.0))))
      val unit =
        if (name.endsWith("_ms")) "ms" else if (name.endsWith("_pct")) "%"
        else if (name.endsWith("_bytes") || name.endsWith("bytes_written")) "bytes"
        else if (name.endsWith("amplification")) "ratio" else "count"
      name -> (v, unit)
    }
  }

  /** Print the declared oracle statement of each named query as JSON. */
  def dumpOracles(names: String): Unit = {
    val all = graft.SparkEntry.oracleSql
    val m = new java.util.TreeMap[String, String]()
    names.split(",").foreach(n => m.put(n, all.getOrElse(n, sys.error(s"no oracle for $n"))))
    println(new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m))
  }
}

object Files {
  /** Files and bytes under `root` modified at or after `sinceMs`. */
  def writtenSince(root: String, sinceMs: Long): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.lastModified >= sinceMs && !f.getName.startsWith(".")) {
        files += 1; bytes += f.length
      }
    walk(new java.io.File(root))
    (files, bytes)
  }
}
