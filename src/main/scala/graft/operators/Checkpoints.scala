package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage,
  QueryStageExec, ResultQueryStageExec}

/** The one way code in this project stores an intermediate that a query
  * reads more than once. One rule: the intermediate is a local checkpoint
  * ([[local]]), lazy unless its consumers need its measured size or start
  * concurrently (then each of them finds it stored). The blocks stay while
  * any frame that reads them is reachable, and the ContextCleaner frees
  * them once the driver has collected the last one.
  * The checkpoint also cuts the plan: a later action reads the blocks
  * instead of re-planning and recomputing the intermediate. Code that
  * knows the last read (an eager body that is done with the intermediate
  * when it returns, a loop round that no later round reads) frees the
  * blocks itself with [[free]], in a `finally` where an exception may
  * leave the body early.
  *
  * [[truncate]] is the same for a caller that takes a checkpoint
  * directory: set, it checkpoints reliably there. analytics.Dashboard's
  * `.cache()` is the one store outside this object: it spans the actions
  * of a dashboard pass, as the reference's `st.cache_data` does. Local
  * checkpoints are not executor-loss tolerant: a lost block fails the
  * reading job instead of recomputing.
  */
private[graft] object Checkpoints {

  /** `df.localCheckpoint(eager)` that keeps the partitioning and ordering
    * `df` was computed with, and gives the optimizer a measured size.
    *
    * Under AQE, creating even a lazy checkpoint runs `df`'s shuffle stages:
    * Dataset.checkpoint calls `execute()` on the adaptive plan. A lazy one
    * leaves only the final stage to the first action that reads it, which
    * stores the blocks inside its own job; an eager one runs that stage
    * now.
    *
    * Partitioning: Spark records the adaptive root's, which is always
    * unknown, so a frame hash-partitioned on a key before the checkpoint
    * would shuffle on that key again in every consumer. Here it is read
    * off the finalized plan, so an aggregation or a self-join on that key
    * reads the checkpoint with no exchange. Partition such a frame with
    * [[hashed]]: AQE coalesces a `repartition` by column alone, and a
    * coalesced checkpoint gives every round that reads it fewer tasks and
    * does not count as co-partitioned with itself in a join.
    *
    * Size: Spark records the optimizer's guess, which for a join is the
    * product of its sides, so a join over the checkpoint would shuffle
    * where a measured size broadcasts. An eager checkpoint is sized by its
    * stored blocks. A lazy one is sized by AQE's own re-planning estimate
    * of the final stage, in which every stage under it enters with its
    * measured size; that estimate is close for an aggregation or a filter
    * but keeps the product for a join, so a frame whose final stage joins
    * and whose consumers join it again is checkpointed eagerly.
    */
  def local(df: DataFrame, eager: Boolean = false): DataFrame = {
    val ck = df.localCheckpoint(eager)
    val done = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case r: ResultQueryStageExec => r.plan
        case p => p
      }
      case p => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val out = AttributeSet(lr.output)
        val part = firstLeaf(done.outputPartitioning) match {
          case p: Expression if !p.references.subsetOf(out) => lr.outputPartitioning
          case p if p.numPartitions != lr.rdd.getNumPartitions => lr.outputPartitioning
          case p => p
        }
        val ord = done.outputOrdering.takeWhile(_.references.subsetOf(out))
        val size =
          if (eager) Some(Statistics(sizeInBytes = ck.sparkSession.sparkContext
            .getRDDStorageInfo.filter(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize).sum))
          else runtimeStats(done)
        GraftColumnBridge.ofRows(ck.sparkSession, LogicalRDD(lr.output, lr.rdd, part, ord)(
          ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(size.getOrElse(lr.stats)), Some(lr.constraints)))
      case _ => ck
    }
  }

  /** A reliable checkpoint in `checkpointDir` when it is set, for long
    * cluster runs where an executor loss must replay from files: the
    * caller owns the directory and cleans it once the result is consumed.
    * Otherwise [[local]].
    */
  def truncate(df: DataFrame, checkpointDir: Option[String],
               eager: Boolean): DataFrame = checkpointDir match {
    case None => local(df, eager)
    case Some(dir) =>
      // each call writes under a fresh subdirectory of `dir`
      df.sparkSession.sparkContext.setCheckpointDir(dir)
      df.checkpoint(eager)
  }

  /** `df` hash-partitioned on `keys` into the session's shuffle partition
    * count, a partitioning AQE keeps as it is (see [[local]]).
    */
  def hashed(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys.map(org.apache.spark.sql.functions.col): _*)

  /** AQE's estimate of the final stage `done`: its logical plan with every
    * stage under it replaced by the stage's measured size
    * (LogicalQueryStage). None if no node of `done` links a logical plan.
    */
  private def runtimeStats(done: SparkPlan): Option[Statistics] = {
    val stages = done.collect { case s: QueryStageExec if s.isMaterialized => s }
      .flatMap(s => s.logicalLink.map(_ -> s))
    // the topmost node that links one; codegen wrappers do not
    done.collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
      .map(_.transformDown(Function.unlift { (l: LogicalPlan) =>
        stages.collectFirst { case (link, s) if link eq l => LogicalQueryStage(l, s) }
      }).stats)
  }

  /** Frees the blocks behind every checkpoint `df` reads directly (its
    * LogicalRDD leaves). Dataset.unpersist only talks to the CacheManager
    * and leaves checkpoint storage alone.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
