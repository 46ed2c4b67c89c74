package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** The BNLJ build-side fence (round-14 verdict ask #4): the audit must
  * PASS the verified-benign class (1-row-aggregate crossJoins, tiny
  * VALUES frames) and FAIL a real broadcast nested-loop join — so "the
  * bnlj rows are fine" is asserted by code on the measured broadcast
  * output, not adjudicated from the plan string.
  */
class PlanAuditSpec extends SparkSpecBase {
  import spark.implicits._

  test("benign class passes: 1-row-aggregate crossJoin under the cap") {
    val li = graft.Tables.lineitem(spark, Sf0001)
    val tot = li.agg(sum("l_quantity").as("tot"))
    val df = li.crossJoin(broadcast(tot))
      .select((col("l_quantity") / col("tot")).as("share"))
    val a = PlanAudit.audit(df)
    assert(a.bnljBuildRows.nonEmpty, "expected the crossJoin to plan as BNLJ")
    assert(a.bnljBuildRows.forall(r => r >= 0 && r <= PlanAudit.MaxBnljBuildRows),
      s"1-row aggregate build side must be measured under the cap: $a")
    assert(a.cartesian == 0)
    PlanAudit.requireClean("benign", a) // must not throw
  }

  test("a real nested-loop join fails the fence loudly") {
    // 50 rows: above the 32-row cap (the largest measured INTENTIONAL
    // class — the brute-force ANN query batches)
    val a = Seq.tabulate(50)(i => (i.toLong, i * 2.0)).toDF("id", "x")
    val b = Seq.tabulate(50)(i => (i.toLong, i * 3.0)).toDF("id2", "y")
    // non-equi condition forces nested-loop; explicit broadcast makes it
    // a BroadcastNestedLoopJoin with a 50-row build side
    val df = a.join(broadcast(b), col("x") < col("y"))
      .agg(count(lit(1)).as("n"))
    val audit = PlanAudit.audit(df)
    assert(audit.bnljBuildRows.exists(_ > PlanAudit.MaxBnljBuildRows),
      s"expected a >cap build side, got $audit")
    val e = intercept[IllegalArgumentException] {
      PlanAudit.requireClean("real_bnl", audit)
    }
    assert(e.getMessage.contains("build side produced"))
  }

  test("exchange budget: a deliberately-added extra shuffle fails the audit") {
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val base = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val a0 = PlanAudit.audit(base)
    assert(a0.exchanges >= 1, s"groupBy must shuffle: $a0")
    // the committed-budget happy path: measured == budget passes
    PlanAudit.requireBudget("base", a0, Some((a0.exchanges, a0.arrayExchanges)))
    // one deliberate extra exchange (repartition before the agg) must
    // trip the SAME budget — the round-15 double-carry bug class as a
    // red assertion instead of a hand-read plan
    val extra = PlanAudit.audit(
      docs.repartition(col("doc_id")).groupBy("lang").agg(count(lit(1)).as("n")))
    assert(extra.exchanges > a0.exchanges,
      s"repartition must add an exchange: $extra vs $a0")
    val e = intercept[IllegalArgumentException] {
      PlanAudit.requireBudget("base", extra,
        Some((a0.exchanges, a0.arrayExchanges)))
    }
    assert(e.getMessage.contains("extra shuffle"))
    // embedding-bearing count: an exchange carrying the double-array
    // column is seen as such, and growing it trips its own message
    val emb = graft.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("e"))
    // the array must be CONSUMED above the shuffle or column pruning
    // (correctly) drops it from the exchange — which is precisely the
    // discipline the counter audits
    val carried = PlanAudit.audit(
      emb.repartition(col("vec_id"))
        .agg(sum(aggregate(col("e"), lit(0.0), (a, x) => a + x)).as("s")))
    assert(carried.arrayExchanges >= 1,
      s"the repartition carries the embedding array: $carried")
    val e2 = intercept[IllegalArgumentException] {
      PlanAudit.requireBudget("emb", carried,
        Some((carried.exchanges, carried.arrayExchanges - 1)))
    }
    assert(e2.getMessage.contains("embedding-bearing"))
    // a query with no budget entry is not gated (bootstrap path)
    PlanAudit.requireBudget("unknown", extra, None)
  }

  test("the exchange budget gates only the scale it was measured at") {
    val f = java.nio.file.Files.createTempFile("exchange-budget", ".txt")
    try {
      java.nio.file.Files.writeString(f, "# a comment\n# scale: sf0.1\nq1 3 0\n")
      val b = PlanAudit.readBudget(f.toString)
      assert(b.scale.contains("sf0.1"))
      assert(b.entries == Map("q1" -> ((3, 0))))
      // match: the entry gates the audit
      assert(b.gates("/data/sf0.1") && b.gates("/data/sf0.1/"))
      assert(b.note("q1", "/data/sf0.1") == " (budget 3/0)")
      // mismatch: the entry is shown, not gated
      assert(!b.gates("/data/sf0.01"))
      assert(b.note("q1", "/data/sf0.01") == " (budget@sf0.1 3/0, not gated)")
      assert(b.note("q2", "/data/sf0.01") == " (no budget entry)")
      // a file without the scale line gates every scale
      java.nio.file.Files.writeString(f, "q1 3 0\n")
      assert(PlanAudit.readBudget(f.toString).gates("/data/sf0.01"))
    } finally java.nio.file.Files.delete(f)
    assert(PlanAudit.readBudget(PlanAudit.BudgetPath).scale.contains("sf0.1"))
  }

  test("cartesian products fail the fence") {
    val a = Seq.tabulate(10)(i => i.toLong).toDF("id")
    val b = Seq.tabulate(10)(i => i.toLong).toDF("id2")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // no broadcast → the join planner's last resort is CartesianProduct
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = a.crossJoin(b).agg(count(lit(1)).as("n"))
      val audit = PlanAudit.audit(df)
      assert(audit.cartesian > 0, s"expected a CartesianProduct, got $audit")
      intercept[IllegalArgumentException] {
        PlanAudit.requireClean("cartesian", audit)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
