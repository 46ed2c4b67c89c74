package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-quality profiling — the "what did we just ingest" stage every
  * large-scale pipeline runs before and after each transform: per-column
  * null/distinct/min/max profiles and fixed-width value histograms.
  *
  * Both operators are pure aggregation shapes (partial+final hash
  * aggregates, no joins on data-sized keys): the profile runs one shared
  * counts/min/max pass plus one cheap single-column distinct pass per
  * column (see numericProfile for why that beats packing the distincts
  * into one aggregate), and the histogram is one groupBy on the bucket
  * id. Nothing here is ever driver-side except the final
  * column-count-sized result.
  */
object Profile {

  /** Runs each 1-row aggregate frame as its own PLAIN job (`head()`) and
    * fuses the collected rows into one local 1-row frame with the
    * concatenated schema.
    *
    * This replaces the previous `crossJoin(broadcast(agg))` stitching: a
    * broadcast whose child is a full-scan aggregate executes that scan on
    * the broadcast-exchange thread pool, and a cache whose first
    * materialization lands there runs ~3x slower on this machine
    * (round-10 bench forensics) — under host load the q76 shape degraded
    * 8-30x. Collecting instead is the sanctioned 1-row-aggregate driver
    * hop: only a row of scalars crosses the driver, each scan stays a
    * plain distributed job, and downstream consumers see a LocalRelation
    * (zero joins). Construction becomes eager — callers' timing loops
    * charge the work to the invocation that runs it, same as before.
    *
    * The broadcast-stitched shape was fast on an idle host BECAUSE the
    * builds overlapped; to keep that, the first frame runs synchronously
    * (materializing any persisted input exactly once, on this thread) and
    * the rest submit concurrently from driver threads — Spark schedules
    * concurrent plain jobs across cores the same way, minus the
    * build-thread pathology (measured: sequential cost q76 0.85→1.4 s;
    * concurrent restores it).
    */
  def eagerOneRow(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "need at least one 1-row frame")
    fuseRows(frames, frames.head.head() +: concurrentRows(frames.tail))
  }

  /** [[eagerOneRow]] with ALL frames submitted concurrently — for callers
    * that have already stored any shared input (otherwise
    * the first-touch race rebuilds it per job: redundant compute, not
    * wrong, but up to frames.size scans).
    */
  def eagerOneRowConcurrent(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "need at least one 1-row frame")
    fuseRows(frames, concurrentRows(frames))
  }

  private def concurrentRows(frames: Seq[DataFrame]): Seq[Row] =
    if (frames.isEmpty) Seq.empty
    else if (frames.size == 1) Seq(frames.head.head())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(frames.size, 8))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = frames.map { f =>
          new java.util.concurrent.Callable[Row] { def call(): Row = f.head() }
        }
        pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
      } finally pool.shutdown()
    }

  private def fuseRows(frames: Seq[DataFrame], rows: Seq[Row]): DataFrame = {
    val schema = StructType(frames.flatMap(_.schema.fields))
    val merged = Row.fromSeq(rows.flatMap(_.toSeq))
    frames.head.sparkSession.createDataFrame(
      java.util.Collections.singletonList(merged), schema)
  }

  /** Per-column profile of numeric columns: non-null count, null count,
    * exact distinct count, min, max — one row per column.
    *
    * Shape: counts/min/max for ALL columns come from one scan; each exact
    * distinct count is its own single-DISTINCT aggregate (a one-column
    * columnar scan + partial-aggregated two-phase distinct). Packing the
    * distincts into the shared aggregate instead would make Spark plan an
    * Expand duplicating every row (nCols+1)× — measured ~3× slower than
    * the per-column scans, whose parquet reads are columnar and whose
    * map-side partial aggs collapse low-cardinality columns before the
    * shuffle. The 1-row results run as sequential plain jobs and fuse
    * driver-side ([[eagerOneRow]] — never on the broadcast-build thread
    * pool). At 100 TB swap to [[numericProfileApprox]] — the same profile
    * in TWO scans with HLL distincts (q44 pattern).
    *
    * The input is read nCols+1 times, so it must be deterministic across
    * re-reads (any parquet/table scan is; a frame built on rand()/sample
    * without a seed is not — cache such inputs first or the per-column
    * stats come from different snapshots).
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val baseAggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = eagerOneRow(
      df.agg(baseAggs.head, baseAggs.tail: _*) +:
        cols.map(c => df.agg(count_distinct(col(c)).as(s"${c}__nd"))))
    val branches = cols.map { c =>
      s"'$c', `${c}__n`, __n_rows - `${c}__n`, `${c}__nd`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $branches) AS " +
        "(col_name, n_non_null, n_nulls, n_distinct, min_val, max_val)"))
  }

  /** The 100 TB profile: identical output shape to [[numericProfile]] but
    * the distinct counts are HyperLogLog++ sketches
    * (`approx_count_distinct`) — TWO scans total instead of 1 + nCols,
    * independent of column count. Deterministic: HLL registers merge by
    * max, so the result is invariant to partitioning (the q44 contract);
    * IntegrationSpec pins the ≤ 2 % error vs the exact profile at the
    * default rsd. The exact variant stays the declared oracle query (q68)
    * — sketch internals are engine-specific, so this one is rows-only
    * (q76).
    *
    * Why two aggregates rather than one: a single ImperativeAggregate in
    * an aggregate list disables whole-stage codegen for the WHOLE
    * HashAggregate, so folding the sketches into the scalar agg drags the
    * counts/min/max into the interpreted row loop — measured 4.1 s vs
    * 0.9 s for the split shape at sf0.1 (commit ca5c8cd). Splitting
    * keeps the scalar pass codegen'd and confines the interpreted loop to
    * the sketch-only pass; the two 1-row results run as plain jobs and
    * fuse driver-side ([[eagerOneRow]] — the round-10 driver capture
    * showed the previous broadcast-stitched shape degrading 8-30x under
    * host load because the sketch scan ran on the broadcast-build thread).
    *
    * rsd trades the sketch-pass CPU for distinct-count error: measured at
    * sf0.1 on l_extendedprice (583 k distinct), rsd 0.01 → 0.27 % err /
    * 2.8 s, 0.02 → 1.4 % / 0.9 s, 0.03 → 2.6 % / 0.6 s. Default 0.02
    * stays inside the spec's 2 % bound at a quarter of the rsd-0.01 cost;
    * tighten it per-call when the profile feeds cardinality-sensitive
    * planning.
    */
  def numericProfileApprox(df: DataFrame, cols: Seq[String],
                           rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val scalarAggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"))
    }
    val hllAggs = cols.map(c => approx_count_distinct(col(c), rsd).as(s"${c}__nd"))
    val wide = eagerOneRow(Seq(
      df.agg(scalarAggs.head, scalarAggs.tail: _*),
      df.agg(hllAggs.head, hllAggs.tail: _*)))
    val branches = cols.map { c =>
      s"'$c', `${c}__n`, __n_rows - `${c}__n`, `${c}__nd`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $branches) AS " +
        "(col_name, n_non_null, n_nulls, n_distinct, min_val, max_val)"))
  }

  /** The q76/q102 shape fused: the EXACT numeric profile plus a per-column
    * `nd_ok` boolean asserting the HLL estimate lies within 1/bandInv of
    * the exact distinct count. Composing [[numericProfile]] with
    * [[numericProfileApprox]] pays an approx scalar pass the band check
    * discards and serializes the two profiles' job sets; here the scalar
    * pass, the nCols exact-DISTINCT passes and the single HLL pass all
    * submit concurrently — nCols+2 scans total, the minimum the
    * exact-vs-sketch contract admits. A caller that shares one stored
    * input across them stores it first (q76/q102 pass an eager
    * checkpoint). Output = numericProfile's columns plus nd_ok.
    */
  def numericProfileBanded(df: DataFrame, cols: Seq[String], bandInv: Int,
                           rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(bandInv > 0, s"bandInv must be positive, got $bandInv")
    val scalarAggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"))
    }
    val hllAggs = cols.map(c => approx_count_distinct(col(c), rsd).as(s"${c}__nda"))
    val wide = eagerOneRowConcurrent(
      df.agg(scalarAggs.head, scalarAggs.tail: _*) +:
        (cols.map(c => df.agg(count_distinct(col(c)).as(s"${c}__nd"))) :+
          df.agg(hllAggs.head, hllAggs.tail: _*)))
    val branches = cols.map { c =>
      s"'$c', `${c}__n`, __n_rows - `${c}__n`, `${c}__nd`, `${c}__min`, `${c}__max`, " +
        s"abs(`${c}__nda` - `${c}__nd`) * $bandInv <= `${c}__nd`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $branches) AS " +
        "(col_name, n_non_null, n_nulls, n_distinct, min_val, max_val, nd_ok)"))
  }

  /** Per-column profile of STRING columns — the text half of the ingest
    * QA the reference runs via `.head()`/`.nunique()` table dumps
    * (/root/reference/main.py:377-434): non-null count, null count, exact
    * distinct count, min/max CHARACTER length, and the lexicographic
    * min/max value, one row per column.
    *
    * Same plan shape as [[numericProfile]] (one shared scalar scan + one
    * single-DISTINCT pass per column, broadcast-crossJoined back — the
    * Expand-avoidance rationale documented there applies unchanged).
    * Binary/codepoint collation on both engines makes the lexicographic
    * min/max hash-comparable; length() counts characters, identical
    * across engines for the BMP text the fixtures carry.
    */
  def stringProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val baseAggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      min(length(col(c))).cast("long").as(s"${c}__minlen"),
      max(length(col(c))).cast("long").as(s"${c}__maxlen"),
      min(col(c)).as(s"${c}__min"),
      max(col(c)).as(s"${c}__max"))
    }
    val wide = eagerOneRow(
      df.agg(baseAggs.head, baseAggs.tail: _*) +:
        cols.map(c => df.agg(count_distinct(col(c)).as(s"${c}__nd"))))
    val branches = cols.map { c =>
      s"'$c', `${c}__n`, __n_rows - `${c}__n`, `${c}__nd`, " +
        s"`${c}__minlen`, `${c}__maxlen`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $branches) AS " +
        "(col_name, n_non_null, n_nulls, n_distinct, min_len, max_len, min_val, max_val)"))
  }

  /** Per-column profile of DATE (or date-castable timestamp) columns:
    * non-null/null/exact-distinct counts plus ISO-rendered min/max day.
    * Output schema matches [[stringProfile]] (len columns NULL — a date
    * has no length) so mixed-type table profiles union into one frame,
    * which is how q98 declares the whole-table audit.
    */
  def dateProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val asDate: String => org.apache.spark.sql.Column = c => col(c).cast("date")
    val baseAggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c => Seq(
      count(asDate(c)).as(s"${c}__n"),
      date_format(min(asDate(c)), "yyyy-MM-dd").as(s"${c}__min"),
      date_format(max(asDate(c)), "yyyy-MM-dd").as(s"${c}__max"))
    }
    val wide = eagerOneRow(
      df.agg(baseAggs.head, baseAggs.tail: _*) +:
        cols.map(c => df.agg(count_distinct(asDate(c)).as(s"${c}__nd"))))
    val branches = cols.map { c =>
      s"'$c', `${c}__n`, __n_rows - `${c}__n`, `${c}__nd`, " +
        s"CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $branches) AS " +
        "(col_name, n_non_null, n_nulls, n_distinct, min_len, max_len, min_val, max_val)"))
  }

  /** Fixed-width histogram of a numeric column: bucket i covers
    * [lo + i·width, lo + (i+1)·width), with under/overflow clamped into the
    * first/last bucket. NULLs AND NaNs are excluded — NULLs belong in the
    * profile's null count, and NaN has no bucket (engines disagree on
    * floor/clamp of NaN: JVM floor(NaN).toLong = 0, SQL GREATEST/LEAST
    * sort NaN last — excluding it is the only cross-engine-stable choice).
    */
  def histogram(df: DataFrame, c: String, lo: Double, width: Double,
                nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, s"bad histogram shape: $width x $nBuckets")
    val outCols = Set("bucket", "n", "min_val", "max_val", "bucket_lo")
    require(!outCols.contains(c),
      s"column '$c' collides with the histogram's output schema ($outCols); rename first")
    df.filter(col(c).isNotNull && !isnan(col(c)))
      .withColumn("bucket",
        least(greatest(floor((col(c) - lo) / width), lit(0.0)),
          lit((nBuckets - 1).toDouble)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col(c)).cast("double").as("min_val"),
        max(col(c)).cast("double").as("max_val"))
      .withColumn("bucket_lo", lit(lo) + col("bucket") * width)
  }
}
