package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the dbt-test / Great
  * Expectations stage a production pipeline runs against every ingest
  * before downstream stages consume it: each rule is a row-level
  * predicate, the audit reports per-rule checked/violation counts in ONE
  * scan, and referential-integrity rules count orphans via anti-join
  * aggregation.
  *
  * Scale shape: [[audit]] is a single pass of conditional aggregates
  * (partial+final hash agg, no shuffle wider than one row per rule);
  * [[fkOrphans]] is a LEFT ANTI join counted — the parent side follows
  * the usual broadcast-when-dim rule, and nothing row-sized ever reaches
  * the driver. Both return the same (rule, n_checked, n_violations)
  * schema so a whole table's audit unions into one report frame (the
  * Profile.dateProfile union contract).
  */
object Expectations {

  /** A named row-level expectation: `holds` must evaluate TRUE for the
    * row to pass. NULL evaluations count as VIOLATIONS (three-valued
    * logic would otherwise silently pass unknowns — the conservative
    * reading every expectation engine takes); express "nullable" rules
    * explicitly (`col.isNull || pred`).
    */
  final case class Expect(rule: String, holds: Column)

  /** One row per rule: how many rows were checked, how many violate.
    * All rules evaluate in a single scan of `df`.
    */
  def audit(df: DataFrame, rules: Seq[Expect]): DataFrame = {
    require(rules.nonEmpty, "audit needs at least one expectation")
    require(rules.map(_.rule).distinct.size == rules.size,
      "duplicate rule names would collapse in the report")
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case (e, i) =>
        // coalesce: SUM over an EMPTY frame is NULL; an empty ingest has
        // zero violations, not unknown-many (round-11 advice).
        coalesce(
          sum(when(coalesce(e.holds, lit(false)), 0L).otherwise(1L)),
          lit(0L)).as(s"__v$i")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // Unpivot via typed explode(array(struct...)), NOT a stack() SQL text:
    // rule names are caller data, and quoting them into a parsed expr
    // string broke on backslashes (round-11 advice). Typed columns have
    // no parse step to escape for.
    val pairs = rules.zipWithIndex.map { case (e, i) =>
      struct(lit(e.rule).as("rule"), col("__n").as("n_checked"),
        col(s"__v$i").as("n_violations"))
    }
    wide.select(explode(array(pairs: _*)).as("__r")).select(col("__r.*"))
  }

  /** Row-level quarantine annotation — the gate half of the audit: each
    * row gains `violations` (the names of the rules it fails; NULL
    * evaluations are failures, the [[audit]] convention) and `admitted`
    * (no failures) — the admitStream output convention, so expectation
    * gating composes with the dedup admission stages downstream. Map-only:
    * every rule evaluates once per row inside one Project; nothing
    * shuffles, nothing reaches the driver.
    */
  def gateRows(df: DataFrame, rules: Seq[Expect]): DataFrame = {
    require(rules.nonEmpty, "gateRows needs at least one expectation")
    require(rules.map(_.rule).distinct.size == rules.size,
      "duplicate rule names would collapse in the violations list")
    val checked = array(rules.map { e =>
      struct(lit(e.rule).as("rule"),
        coalesce(e.holds, lit(false)).as("ok"))
    }: _*)
    df.withColumn("violations",
        transform(filter(checked, s => !s.getField("ok")),
          s => s.getField("rule")))
      .withColumn("admitted", size(col("violations")) === 0)
  }

  /** Batch-REJECT admission — the dbt-test blocking convention (a failed
    * test blocks the build; a failed expectation blocks the ingest):
    * audit the batch, and append it to `snapshotTable` only when the
    * audit reports ZERO violations; a violating batch appends — whole,
    * with its per-row `violations` annotation — to `quarantineTable`
    * instead, so nothing partial ever reaches consumers and the
    * quarantine is self-describing for triage. Returns the audit report.
    *
    * The verdict is ONE bounded collect of the rules-sized report (the
    * 1-row-aggregate convention); the batch itself flows straight to its
    * destination table. A streaming ingest runs this per micro-batch in
    * foreachBatch — ExpectationsSpec's MemoryStream twin proves a planted
    * violation never reaches the snapshot while clean batches land.
    */
  def gateBatch(batch: DataFrame, rules: Seq[Expect],
                snapshotTable: String, quarantineTable: String): DataFrame = {
    // Pin the batch across its two actions (audit collect, then the
    // table write): with a non-replay-stable source — a changing view, a
    // non-deterministic projection — an unpinned batch could pass a clean
    // audit yet WRITE different rows, letting a violating row reach the
    // snapshot behind a green verdict. foreachBatch frames are already
    // stable; the API accepts any DataFrame, so the gate must not trust
    // that. (round-13 advice)
    //
    // A checkpoint TRUNCATES lineage, so a block lost between the audit
    // collect and the write fails the write loudly instead of silently
    // recomputing from the source, which would reopen the divergence the
    // pin closes. The blocks are freed in the finally, not by the
    // ContextCleaner, so a long foreachBatch stream does not pile up a
    // block set per micro-batch until a driver GC.
    val pinned = Checkpoints.local(batch, eager = true)
    try {
      // ONE audit job, collected once (rules-sized): the verdict and the
      // returned report come from the same rows, and the returned frame is
      // materialized so it never re-reads the source
      val report = audit(pinned, rules)
      val reportRows = report.collect()
      val bad = reportRows.map(_.getAs[Long]("n_violations")).sum
      if (bad == 0L)
        pinned.write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(snapshotTable)
      else
        gateRows(pinned, rules).write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(quarantineTable)
      val s = batch.sparkSession
      import scala.jdk.CollectionConverters._
      s.createDataFrame(reportRows.toSeq.asJava, report.schema)
    } finally Checkpoints.free(pinned)
  }

  /** Referential-integrity expectation: rows of `child` whose `childKey`
    * has no match in `parent.parentKey` (NULL child keys are orphans —
    * same conservative convention as [[audit]]). Same report schema.
    */
  def fkOrphans(rule: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
    val n = child.agg(count(lit(1)).as("n_checked"))
    val v = orphans.agg(count(lit(1)).as("n_violations"))
    n.crossJoin(v).select(lit(rule).as("rule"),
      col("n_checked"), col("n_violations"))
  }
}
