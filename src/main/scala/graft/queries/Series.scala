package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential time-series recurrences — the family window frames can't
  * express (q35 covers frame aggregates; an EWMA value depends on the
  * PREVIOUS OUTPUT, not a frame of inputs). Engine parity comes from the
  * integer fixed-point device (operators.Graph scaladoc): quantize once
  * by an exact power-of-two scale, then keep the whole recurrence in
  * BIGINT arithmetic both engines replay bit-for-bit.
  */
object Series {

  /** q174: per-user exponentially-weighted moving average over the event
    * stream, α = 1/8 — the smoothed-load signal behind per-entity rate
    * limiting and drift monitors. Contract (nonnegative inputs pinned by
    * the filter, mirrored in the oracle):
    *
    *   xq_i = floor(value_i · 2²⁰)                 (exact: 2²⁰ scaling is
    *                                                lossless in binary FP)
    *   e_1  = xq_1
    *   e_i  = (xq_i + 7·e_{i-1}) >> 3              (= DIV 8 on nonneg)
    *
    * Events order by (ts, event_id) — event_id is unique, so the
    * trajectory is total-order deterministic. The oracle replays the
    * recurrence as a recursive CTE keyed on the per-user row number.
    *
    * Scale shape: ONE shuffle (groupBy user) then a per-group
    * sort+fold via array_sort ∘ aggregate — higher-order functions, not
    * UDFs. The per-user event list is held in one task, the
    * sessionization contract (EventStreams): per-entity history is
    * bounded by construction; for unbounded keys use the streaming
    * stateful form instead. aggregate() is a CodegenFallback expression
    * — acceptable here because the fold is O(events) integer ops, far
    * off the scan-heavy hot path.
    */
  def q174Ewma(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          floor(col("value") * lit(1048576.0)).cast("long").as("xq")).as("rec"))
    def f(c: Column, n: String): Column = c.getField(n)
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          array_sort(collect_list(col("rec"))),
          struct(lit(0L).as("i"), lit(0L).as("e")),
          (acc, x) => struct(
            (f(acc, "i") + 1).as("i"),
            when(f(acc, "i") === 0, f(x, "xq"))
              .otherwise(shiftright(f(x, "xq") + lit(7L) * f(acc, "e"), 3))
              .as("e")))
          .getField("e").as("ewma_q"))
      .orderBy("user_id")
  }

  /** One EWMA admission step: fold a ts-ordered micro-batch of events
    * into the running per-user state `(user_id, n_events, ewma_q)` —
    * q174's recurrence continued from arbitrary incoming state, so any
    * ts-respecting batch split folds to the same answer as the one-shot
    * batch query (the q157/q163 split-independence device). Full-outer
    * on user_id: unseen users initialize at i=0 (first event becomes
    * e_1), absent users carry state through unchanged.
    */
  def ewmaFold(state: DataFrame, batch: DataFrame): DataFrame = {
    def f(c: Column, n: String): Column = c.getField(n)
    val folded = batch
      .groupBy("user_id")
      .agg(count(lit(1)).as("bn"), array_sort(collect_list(col("rec"))).as("recs"))
    folded.join(state, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("n_events"),
        when(col("recs").isNull, col("ewma_q")).otherwise(
          aggregate(col("recs"),
            struct(coalesce(col("n_events"), lit(0L)).as("i"),
              coalesce(col("ewma_q"), lit(0L)).as("e")),
            (acc, x) => struct(
              (f(acc, "i") + 1).as("i"),
              when(f(acc, "i") === 0, f(x, "xq"))
                .otherwise(shiftright(f(x, "xq") + lit(7L) * f(acc, "e"), 3))
                .as("e"))).getField("e")).as("ewma_q"))
  }

  /** q178: q174's STREAMING twin under the gate — the events replay as
    * three ts-ordered micro-batches (boundaries at ts terciles, so
    * equal-ts events never straddle a batch and the per-user
    * (ts, event_id) order is preserved across batches), each folded into
    * the running state by [[ewmaFold]]. EWMA admission is exactly
    * batch-split-independent, which is why this declares under q174's
    * own oracle string — one recurrence, two hash-equal plans. The real
    * Structured Streaming form (EventStreams.ewmaStream,
    * mapGroupsWithState) is proven equal to the batch answer by
    * SeriesSpec's MemoryStream harness.
    */
  def q178EwmaStream(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("user_id"), col("ts"),
        struct(col("ts"), col("event_id"),
          floor(col("value") * lit(1048576.0)).cast("long").as("xq")).as("rec"))
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val batches = Seq(
      ev.filter(unix_micros(col("ts")) <= t1),
      ev.filter(unix_micros(col("ts")) > t1 && unix_micros(col("ts")) <= t2),
      ev.filter(unix_micros(col("ts")) > t2)).map(_.select("user_id", "rec"))
    val empty = batches.head.limit(0)
      .select(col("user_id"), lit(0L).as("n_events"), lit(0L).as("ewma_q"))
    batches.foldLeft(empty)(ewmaFold).orderBy("user_id")
  }

  /** q181: cohort retention — users grouped by their FIRST active day,
    * then for each (cohort, day-offset k) the count still active k days
    * later, as a ppm rate of the cohort size. The engagement matrix every
    * product-analytics stack computes; integer-exact end-to-end (day
    * index = µs DIV 86400e6 — no engine-specific week-start conventions,
    * retention as integer ppm).
    *
    * Scale shape: activity dedups to one row per (user, day) — the frame
    * every later stage works on, never raw events; cohort assignment is
    * a per-user min (same user_id shuffle key as the dedup, so AQE
    * reuses the exchange); the final matrix is (days × days)-sized and
    * the cohort-size frame broadcast-joins onto it. No window over
    * user-sized partitions anywhere.
    */
  def q181CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
    val cohorts = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    act.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("k"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("k"), col("n_active"), col("cohort_size"),
        expr("(n_active * 1000000) DIV cohort_size").as("retained_ppm"))
      .orderBy("cohort_day", "k")
  }

  /** q182: event-type Markov transition matrix — per-user behavioral
    * bigrams (this event → next event), counted and normalized per
    * source type to integer ppm. q166's bigram-LM shape lifted from
    * token sequences to user journeys: the input to next-action
    * prediction and anomalous-flow detection.
    *
    * Scale: the lead() window partitions by USER — per-entity history,
    * bounded like sessionize/EWMA — never by event_type (which would
    * funnel a popular type's whole volume into one task). The
    * type×type count matrix is tiny; row totals broadcast back onto it.
    */
  def q182EventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("from_type").agg(sum("cnt").as("total"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"), col("total"),
        expr("(cnt * 1000000) DIV total").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** q183: HOPPING-window rollup (size 6 h, slide 3 h) — the overlapped
    * twin of q30's tumbling hour: each event lands in exactly two
    * windows, the shape behind smoothed rate dashboards and
    * alerting-with-hysteresis. Spark's window() aligns starts to the
    * epoch on the slide grid; the oracle replays that alignment as
    * integer µs arithmetic (start = (t DIV slide − i)·slide, i ∈ {0,1}),
    * so the gate pins the window semantics themselves, not just the
    * sums. Window starts surface as epoch-µs BIGINTs; values sum through
    * DECIMAL (order-invariant).
    */
  def q183HoppingRollup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.hoppingRollup(Tables.events(s, dir))
      .orderBy("win_start_us", "event_type")

  /** q190: DAU + trailing 7-day active users per day — the WAU curve
    * every engagement dashboard carries. Exact trailing distinct via the
    * map-side day-expand: each (user, day) activity row fans out to the
    * ≤ 7 report days it supports (a fixed 7× expand, like q183's
    * 2-window hop), then one distinct + count per report day — no
    * per-day re-scan, no window over user-sized partitions. Report days
    * cap at the corpus max (one bounded driver count).
    */
  def q190RollingActives(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
    val maxDay = act.agg(max("day")).head().getLong(0)
    val wau = act
      .withColumn("i", explode(sequence(lit(0), lit(6))))
      .select(col("user_id"), (col("day") + col("i")).as("day"))
      .filter(col("day") <= maxDay)
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau_7d"))
    val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau_7d"))
      .orderBy("day")
  }

  /** q191: last-touch purchase attribution — each purchase credits the
    * user's most recent non-purchase event within the preceding hour
    * ('direct' when none), revenue decimal-summed per attributed type.
    * The inequality time join runs through RangeJoin.trailingWindowJoin
    * (bin-explode equi rewrite — never a nested loop); the per-purchase
    * argmax is one max(struct) aggregate, not a window.
    */
  def q191LastTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    val joined = graft.operators.RangeJoin.trailingWindowJoin(
      purchases, touches, "user_id", "ts", "touch_ts", windowUs = 3600000000L)
    val last = joined.groupBy("pid")
      .agg(max(struct(col("touch_ts"), col("touch_id"), col("touch_type"))).as("lt"))
      .select(col("pid"), col("lt.touch_type").as("attr"))
    purchases.join(last, Seq("pid"), "left")
      .select(col("value"), coalesce(col("attr"), lit("direct")).as("attr_type"))
      .groupBy("attr_type")
      .agg(count(lit(1)).as("n_purchases"),
        graft.queries.dsum(col("value"), 6).as("attributed_revenue"))
      .orderBy("attr_type")
  }

  /** q192: inter-event-time histogram — per-user consecutive-event gaps,
    * log2-bucketed (bucket k = gaps in [2^k, 2^(k+1)) µs; -1 = exact
    * ties): the burstiness profile read before sizing session gaps and
    * rate limits. floor(log2(x)) is safe cross-engine: it only lands on
    * an integer at exact powers of two, where double log2 is exact; the
    * lag window partitions by USER (bounded), the histogram is ≤ ~40
    * buckets.
    */
  def q192InterEventHist(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("delta", col("us") - lag("us", 1).over(w))
      .filter(col("delta").isNotNull)
      .withColumn("bucket",
        when(col("delta") === 0, lit(-1L))
          .otherwise(floor(log2(col("delta")))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"),
        min("delta").as("min_us"), max("delta").as("max_us"))
      .orderBy("bucket")
  }

  /** q193: RFM customer segmentation — each customer scored 1–4 on
    * Recency (last order day), Frequency (order count), and Monetary
    * (decimal-exact lifetime spend) by exact rank quartiles, then the
    * 4³ segment census. The CRM classic, and a third consumer of the
    * chunkedPrefix device: all three global rankings run with NO
    * single-task sort (boundary-chunked prefix ranks — the q165
    * curriculum shape), ties broken on the customer key so both engines
    * rank identically. Scores = ((rn−1)·4 DIV n) + 1.
    */
  def q193RfmSegments(s: SparkSession, dir: String): DataFrame = {
    // one customer aggregate read by all three rankings: a lazy checkpoint
    val base = graft.operators.Checkpoints.local(Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust"))
      // o_orderdate is TIMESTAMP_NTZ in the fixtures; the session runs
      // UTC, so the cast is value-preserving (the RangeJoin device)
      .agg(max(expr("unix_micros(cast(o_orderdate as timestamp)) DIV 86400000000"))
          .as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .cast("double").as("mon")))
    def score(metric: String, as: String): DataFrame =
      graft.operators.StratifiedSelect.chunkedPrefix(
        base.select(col("cust"), col(metric)).withColumn("g", lit("all")),
        "g", metric, desc = false, tieBreak = Seq(col("cust")),
        value = lit(1L), nChunks = 8)
        .select(col("cust"),
          (expr("((rn - 1) * 4) DIV n_stratum") + 1).cast("int").as(as))
    score("last_day", "r_score")
      .join(score("freq", "f_score"), "cust")
      .join(score("mon", "m_score"), "cust")
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** q196: freshness-decayed engagement score per event type — each
    * event's quantized value halves per day of age (weight 2^-age), so
    * recent activity dominates: the recency-weighted scorer behind
    * trending-source ranking and crawl prioritization. The decay is a
    * RIGHT SHIFT on the 2²⁰ fixed-point value (xq >> min(age, 40)) —
    * exponential decay with zero float surface, bit-exact in any engine.
    * One map-side-combined agg; the corpus max day is one bounded count.
    */
  def q196DecayedScore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        floor(col("value") * lit(1048576.0)).cast("long").as("xq"))
    val maxDay = ev.agg(max("day")).head().getLong(0)
    ev.withColumn("age", lit(maxDay) - col("day"))
      .withColumn("decayed",
        expr("shiftright(xq, cast(least(age, 40) as int))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("xq").as("raw_q"), sum("decayed").as("decayed_q"))
      .select(col("event_type"), col("n_events"), col("raw_q"), col("decayed_q"),
        expr("(decayed_q * 1000000) DIV raw_q").as("fresh_share_ppm"))
      .orderBy("event_type")
  }

  /** q197: CUSUM change-point detection per event type — the classic
    * upward-shift monitor over the daily value series:
    *
    *   s_0 = 0;  s_i = max(0, s_{i-1} + (dq_i − mean_q))
    *
    * with dq the 2²⁰-quantized daily sum and mean_q its integer per-type
    * mean. Reports the peak CUSUM and the FIRST day it is reached — the
    * candidate change point. Completes the monitoring family (EWMA
    * smoothing q174, drift histogram q195, MAD/IQR outliers q131/q94).
    *
    * Scale: one (type, day) agg first — the fold then runs over ≤ days
    * rows per type (calendar-bounded by construction, the q174 list
    * contract is trivially satisfied); mean and fold are array
    * expressions over that bounded series, computed inside one groupBy.
    */
  def q197Cusum(s: SparkSession, dir: String): DataFrame = {
    def f(c: Column, n: String): Column = c.getField(n)
    val daily = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(sum(floor(col("value") * lit(1048576.0)).cast("long")).as("dq"))
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("dq")))).as("arr"))
      .withColumn("n_days", size(col("arr")).cast("long"))
      .withColumn("mean_q",
        expr("aggregate(arr, 0L, (a, x) -> a + x.dq) DIV n_days"))
      .withColumn("fold",
        aggregate(col("arr"),
          struct(lit(0L).as("s"), lit(-1L).as("peak"), lit(-1L).as("pday")),
          (acc, x) => {
            val s2 = greatest(lit(0L),
              f(acc, "s") + f(x, "dq") - col("mean_q"))
            struct(s2.as("s"),
              when(s2 > f(acc, "peak"), s2).otherwise(f(acc, "peak")).as("peak"),
              when(s2 > f(acc, "peak"), f(x, "day")).otherwise(f(acc, "pday"))
                .as("pday"))
          }))
      .select(col("event_type"), col("n_days"), col("mean_q"),
        col("fold.peak").as("peak_cusum"), col("fold.pday").as("peak_day"))
      .orderBy("event_type")
  }

  /** q203: frequent behavioral TRIGRAMS — q182's transition matrix
    * extended to length-3 journey fragments (two stacked lead()s over the
    * same user-bounded window, one shuffle), top-20 by count. The
    * sequence-mining step behind "what do users do right before X".
    */
  def q203EventTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead("t1", 1).over(w))
      .withColumn("t3", lead("t1", 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** q207: weekly order BACKLOG curve — orders opened vs orders fully
    * shipped (completion week = the order's max lineitem ship week) per
    * epoch week, with the running open-order balance: the burndown
    * chart behind fulfillment capacity planning. Integer week indices
    * (µs DIV 7·86400e6); the running sum windows over the
    * calendar-bounded week frame (~hundreds of rows — the
    * dimension-sized-window contract), never over order-sized data.
    */
  def q207BacklogCurve(s: SparkSession, dir: String): DataFrame = {
    def wk(c: String) =
      expr(s"unix_micros(cast($c as timestamp)) DIV 604800000000")
    val opened = Tables.orders(s, dir)
      .groupBy(wk("o_orderdate").as("week"))
      .agg(count(lit(1)).as("opened"))
    val completed = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(max(wk("l_shipdate")).as("week"))
      .groupBy("week").agg(count(lit(1)).as("completed"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("week")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    opened.join(completed, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("opened"), lit(0L)).as("opened"),
        coalesce(col("completed"), lit(0L)).as("completed"))
      .withColumn("backlog",
        sum(col("opened") - col("completed")).over(w))
      .orderBy("week")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_backlog_curve" -> (q207BacklogCurve _),
    "q203_event_trigrams" -> (q203EventTrigrams _),
    "q197_cusum" -> (q197Cusum _),
    "q196_decayed_score" -> (q196DecayedScore _),
    "q190_rolling_actives" -> (q190RollingActives _),
    "q191_last_touch" -> (q191LastTouch _),
    "q192_inter_event_hist" -> (q192InterEventHist _),
    "q193_rfm_segments" -> (q193RfmSegments _),
    "q174_ewma" -> (q174Ewma _),
    "q178_ewma_stream" -> (q178EwmaStream _),
    "q181_cohort_retention" -> (q181CohortRetention _),
    "q182_event_transitions" -> (q182EventTransitions _),
    "q183_hopping_rollup" -> (q183HoppingRollup _))

  /** q178 declares under q174's oracle: the split-independent fold must
    * reproduce the one-shot answer exactly. */
  def oracles: Map[String, String] = baseOracles +
    ("q178_ewma_stream" -> baseOracles("q174_ewma"))

  private val baseOracles: Map[String, String] = Map(
    "q207_backlog_curve" ->
      """WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 604800000000 AS week,
        |    COUNT(*) AS opened
        |  FROM orders GROUP BY 1),
        |cpl AS (
        |  SELECT week, COUNT(*) AS completed FROM (
        |    SELECT MAX(epoch_us(l_shipdate) // 604800000000) AS week
        |    FROM lineitem GROUP BY l_orderkey) t
        |  GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(o.week, cpl.week) AS week,
        |    COALESCE(opened, 0) AS opened,
        |    COALESCE(completed, 0) AS completed
        |  FROM o FULL OUTER JOIN cpl ON o.week = cpl.week)
        |SELECT week, opened, completed,
        |  CAST(SUM(opened - completed) OVER (ORDER BY week
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS backlog
        |FROM j ORDER BY week""".stripMargin,
    "q203_event_trigrams" ->
      """WITH s AS (
        |  SELECT event_type AS t1,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT t1, t2, t3, COUNT(*) AS cnt
        |FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY cnt DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q197_cusum" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(value * 1048576.0) AS BIGINT)) AS BIGINT) AS dq
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |  GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day, dq,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM d),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |        CAST(SUM(dq) AS BIGINT) // COUNT(*) AS mean_q
        |      FROM x GROUP BY 1),
        |r(event_type, rn, s) AS (
        |  SELECT x.event_type, x.rn, GREATEST(0, x.dq - m.mean_q)
        |  FROM x JOIN m USING (event_type) WHERE x.rn = 1
        |  UNION ALL
        |  SELECT x.event_type, x.rn, GREATEST(0, r.s + x.dq - m.mean_q)
        |  FROM r JOIN x ON x.event_type = r.event_type AND x.rn = r.rn + 1
        |  JOIN m ON m.event_type = x.event_type),
        |p AS (SELECT event_type, MAX(s) AS peak FROM r GROUP BY 1),
        |pd AS (
        |  SELECT r.event_type, MIN(x.day) AS peak_day
        |  FROM r JOIN p ON p.event_type = r.event_type AND r.s = p.peak
        |  JOIN x ON x.event_type = r.event_type AND x.rn = r.rn
        |  GROUP BY 1)
        |SELECT m.event_type, m.n_days, m.mean_q,
        |  p.peak AS peak_cusum, pd.peak_day
        |FROM m JOIN p USING (event_type) JOIN pd USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    "q196_decayed_score" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1048576.0) AS BIGINT) AS xq
        |  FROM events WHERE value IS NOT NULL AND value >= 0),
        |m AS (SELECT MAX(day) AS md FROM e),
        |d AS (
        |  SELECT event_type, xq,
        |    xq >> CAST(LEAST(m.md - day, 40) AS INTEGER) AS decayed
        |  FROM e, m)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(xq) AS BIGINT) AS raw_q,
        |  CAST(SUM(decayed) AS BIGINT) AS decayed_q,
        |  (CAST(SUM(decayed) AS BIGINT) * 1000000) // CAST(SUM(xq) AS BIGINT)
        |    AS fresh_share_ppm
        |FROM d GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q190_rolling_actives" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS m FROM a),
        |r AS (
        |  SELECT DISTINCT user_id, day + i AS day
        |  FROM a, UNNEST(range(0, 7)) AS u(i), mx
        |  WHERE day + i <= mx.m),
        |w AS (SELECT day, COUNT(*) AS wau_7d FROM r GROUP BY 1),
        |d AS (SELECT day, COUNT(*) AS dau FROM a GROUP BY 1)
        |SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau_7d
        |FROM w LEFT JOIN d USING (day) ORDER BY w.day""".stripMargin,
    "q193_rfm_segments" ->
      """WITH b AS (
        |  SELECT o_custkey AS cust,
        |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS mon
        |  FROM orders GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM b),
        |r AS (SELECT cust, CAST(((ROW_NUMBER() OVER (ORDER BY last_day, cust)
        |        - 1) * 4) // n.n + 1 AS INTEGER) AS r_score FROM b, n),
        |f AS (SELECT cust, CAST(((ROW_NUMBER() OVER (ORDER BY freq, cust)
        |        - 1) * 4) // n.n + 1 AS INTEGER) AS f_score FROM b, n),
        |m AS (SELECT cust, CAST(((ROW_NUMBER() OVER (ORDER BY mon, cust)
        |        - 1) * 4) // n.n + 1 AS INTEGER) AS m_score FROM b, n)
        |SELECT r.r_score, f.f_score, m.m_score, COUNT(*) AS n_customers
        |FROM r JOIN f USING (cust) JOIN m USING (cust)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q192_inter_event_hist" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
        |  FROM events)
        |SELECT CASE WHEN delta = 0 THEN -1
        |            ELSE CAST(FLOOR(LOG2(delta)) AS BIGINT) END AS bucket,
        |  COUNT(*) AS n_gaps, MIN(delta) AS min_us, MAX(delta) AS max_us
        |FROM g WHERE delta IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q191_last_touch" ->
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
        |  FROM events WHERE event_type <> 'purchase'),
        |j AS (
        |  SELECT p.pid, t.ttype,
        |    ROW_NUMBER() OVER (PARTITION BY p.pid
        |      ORDER BY t.tts DESC, t.tid DESC) AS rk
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND epoch_us(t.tts) >= epoch_us(p.ts) - 3600000000
        |    AND epoch_us(t.tts) < epoch_us(p.ts)),
        |l AS (SELECT pid, ttype FROM j WHERE rk = 1),
        |a AS (
        |  SELECT p.pid, p.value, COALESCE(l.ttype, 'direct') AS attr_type
        |  FROM p LEFT JOIN l USING (pid))
        |SELECT attr_type, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
        |    AS attributed_revenue
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q182_event_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS cnt
        |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS total
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt, t.total,
        |  (c.cnt * 1000000) // t.total AS p_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY c.from_type, c.to_type""".stripMargin,
    // hopping windows replayed as integer µs arithmetic: slide 3 h
    // = 10800000000 µs, size 6 h — every event in exactly the two
    // epoch-aligned windows Spark's window() assigns
    "q183_hopping_rollup" ->
      """WITH e AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
        |x AS (
        |  SELECT ((t // 10800000000) - i) * 10800000000 AS ws,
        |    event_type, value
        |  FROM e, UNNEST([0, 1]) AS u(i)
        |  WHERE ((t // 10800000000) - i) * 10800000000 <= t
        |    AND t < ((t // 10800000000) - i) * 10800000000 + 21600000000)
        |SELECT ws AS win_start_us, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q181_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id),
        |cs AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM c GROUP BY 1),
        |m AS (
        |  SELECT c.cohort_day, a.day - c.cohort_day AS k, COUNT(*) AS n_active
        |  FROM a JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_day, m.k, m.n_active, cs.cohort_size,
        |  (m.n_active * 1000000) // cs.cohort_size AS retained_ppm
        |FROM m JOIN cs USING (cohort_day)
        |ORDER BY m.cohort_day, m.k""".stripMargin,
    "q174_ewma" ->
      """WITH RECURSIVE x AS (
        |  SELECT user_id, CAST(floor(value * 1048576.0) AS BIGINT) AS xq,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL AND value >= 0),
        |r(user_id, rn, e) AS (
        |  SELECT user_id, rn, xq FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT x.user_id, x.rn, (x.xq + 7 * r.e) // 8
        |  FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1),
        |n AS (SELECT user_id, MAX(rn) AS n_events FROM x GROUP BY user_id)
        |SELECT n.user_id, n.n_events, r.e AS ewma_q
        |FROM n JOIN r ON r.user_id = n.user_id AND r.rn = n.n_events
        |ORDER BY n.user_id""".stripMargin)
}
