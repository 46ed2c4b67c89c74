package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * All entry points (Verify, Bench, tests) build their session here so the
  * semantics-critical knobs are set exactly once:
  *
  *  - `spark.sql.ansi.enabled=false` — the reference engine
  *    (/root/reference/main.py:59,62 `pd.to_numeric(errors='coerce')`,
  *    main.py:198-199 division producing inf that is then scrubbed) relies on
  *    coercing semantics: bad casts -> NULL, x/0 -> NULL. Spark 4.x defaults
  *    ANSI ON (errors), so we turn it off for pandas-parity (SURVEY.md §7.3.3).
  *  - UTC session timezone — parquet timestamps must render identically in
  *    Spark and in the DuckDB oracle.
  *  - shuffle partitions sized to the local core count, not the 200 default —
  *    on a real cluster this is set per-job; at 100 TB you would size it to
  *    ~2-3x total executor cores with AQE coalescing enabled (it is).
  *  - a generated-class cache of [[CodegenCacheEntries]] entries, not
  *    Spark's 100. With 100, every warm perfbench round recompiled its
  *    working set: 272–279 classes per `etl_star` round, 348 per
  *    `web_curation` round (4 cores). With this default a warm `etl_star`
  *    round compiles none. Class names leave out the codegen stage id, so a
  *    pipeline's class does not depend on the order AQE finishes stages in.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`. Static, and the cache is one per
    * JVM: it must be set on the builder of the first session. 2,000 holds
    * the largest measured working set, the 408 classes a `web_curation`
    * set-up compiles, several times over; an entry is one loaded class.
    */
  private[graft] val CodegenCacheEntries = 2000

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.ansi.enabled", "false")
      // custom codegen kernels available from raw SQL (see GraftExtensions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // name generated classes without their whole-stage codegen id. AQE
      // numbers codegen stages in the order its query stages finish, so a
      // warm Pipeline.run whose branches finished in another order got the
      // same pipelines under new class names: 8 cache misses in that run.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      // some events.parquet generations store TIMESTAMP(NANOS), which
      // vanilla Spark rejects; read as Long and convert explicitly
      // (Tables.normalizeTs — which also handles the naive-µs/NTZ
      // generation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write timestamps as TIMESTAMP_MICROS (not INT96) so downstream
      // readers (incl. the DuckDB oracle compare) see matching physical types.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // FileOutputCommitter v2: task commits move files straight to the
      // destination instead of staging for a second job-commit rename
      // pass — halves the per-write rename count for every table/file
      // sink here. v2's documented tradeoff (a failed JOB can leave
      // partial files) is already handled by this repo's own visibility
      // protocols: Upsert.completeVersions and IndexCommits gate reads
      // on explicit _SUCCESS/epoch markers, never on file presence, and
      // managed-table overwrites go through staging-then-rename swaps.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Default session: honors SPARK_GRAFT_CPUS, falls back to the machine's
    * core count. Must be a concrete number — the value also feeds
    * spark.sql.shuffle.partitions, where "*" would fail config validation.
    */
  def get(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    attachMetricsLogger(s)
    s
  }

  /** Logs every `graft_*` CollectMetrics observation (e.g. the q25
    * bucket-cap drop counters) after each successful query, so data dropped
    * by capacity caps is visible in driver logs in production — not only in
    * the SQL-metrics UI. Idempotent per session.
    */
  def attachMetricsLogger(s: SparkSession): Unit = synchronized {
    if (s.conf.getOption("graft.metricsLogger").isEmpty) {
      s.conf.set("graft.metricsLogger", "attached")
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_")) log.warn(s"$name: $row")
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }
  }
}
