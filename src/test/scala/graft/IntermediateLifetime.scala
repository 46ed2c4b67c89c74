package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}

/** Checks of the intermediate-lifetime rule (operators.Checkpoints): a
  * query registers no CacheManager entry at any point, and once its frames
  * are dropped a GC lets the ContextCleaner free every block it stored.
  */
trait IntermediateLifetime extends SparkSpecBase with Eventually {

  /** Builds `query` and counts it, `times` times, asserting that the
    * CacheManager holds no entry after each build and each count; then,
    * with every built frame unreachable, waits until the stored blocks are
    * back at the level before the first build. Returns the counts.
    */
  def leavesNothing(clue: String, times: Int = 1)(query: => DataFrame): Seq[Long] = {
    spark.catalog.clearCache()
    val base = PerfMeters.settledStoredBytes(spark.sparkContext)
    val counts = countAndDrop(clue, times, query)
    eventually(timeout(Span(30, Seconds)), interval(Span(250, Millis))) {
      val now = PerfMeters.settledStoredBytes(spark.sparkContext)
      assert(now <= base, s"$clue: $now bytes stored after the frames were dropped, $base before")
    }
    counts
  }

  // its own frame on the stack, so no local of the caller keeps a result
  // reachable
  private def countAndDrop(clue: String, times: Int, query: => DataFrame): Seq[Long] =
    (1 to times).map { i =>
      val df = query
      assert(spark.sharedState.cacheManager.isEmpty, s"$clue #$i: a cache entry after the build")
      val n = df.count()
      assert(spark.sharedState.cacheManager.isEmpty, s"$clue #$i: a cache entry after the count")
      n
    }

  /** Every node of `df`'s executed plan, through the adaptive wrappers. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }
}
