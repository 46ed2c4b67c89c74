package perfbench

/** sql_mix: one analyst's closed-loop session. Each round runs the whole mix
  * of presentation-sized relational queries (step1) and TPC-H-shaped queries
  * (step2) in a seed-shuffled order, collecting every result and checking it
  * against the DuckDB digest of the query's declared oracle statement.
  */
final class SqlMix extends Workload {
  val roundS = 9.0
  private val queries = graft.SparkEntry.queries

  def setup(b: Bench): Unit = round(b) // warm-up: every query planned and run once

  def round(b: Bench): Unit =
    b.rnd.shuffle(SqlMix.Mix).foreach { case (cls, name) =>
      b.op(cls, name) {
        if (b.tracer.isDefined) b.span("tables.frame")(graft.Tables.registerAll(b.spark, b.fixture))
        val df = b.span("queries.build")(queries(name)(b.spark, b.fixture))
        b.span("queries.action")(b.take(df))
      }(b.matchesOracle(name, _))
    }

  /** Query executions per second of query time. */
  def itemsPerSecond(rounds: Seq[Round]): Double = {
    val ok = rounds.flatMap(_.ops).filter(_.ok)
    ok.size / (ok.map(_.ms).sum / 1000)
  }
}

object SqlMix {
  /** Presentation-sized relational queries: a handful of result rows each. */
  val Relational: Seq[String] = Seq("q01_groupby_agg", "q03_join_agg", "q05_star_join",
    "q06_cond_agg", "q13_dates", "q16_topk_per_group", "q17_kpis")
  /** TPC-H-shaped queries, half built with the DataFrame API, half as SQL text. */
  val Tpch: Seq[String] = Seq("q146_tpch_q1", "q147_tpch_q6", "q148_tpch_q18",
    "q168_tpch_q14", "q198_tpch_q5", "q212_tpch_q7", "q214_tpch_q13", "q216_tpch_q19",
    "q226_tpch_q3", "q227_tpch_q15")
  val Mix: Seq[(String, String)] = Relational.map("step1" -> _) ++ Tpch.map("step2" -> _)
}
