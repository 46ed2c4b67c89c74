package graft.operators

import graft.IntermediateLifetime
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.time.{Seconds, Span}

/** Pins the intermediate-lifetime rule (Checkpoints) on the declared queries
  * that keep an intermediate: none registers a CacheManager entry at any
  * point, and a long-lived session that loops them keeps no block once
  * their frames are dropped (the round-8 "already cached" leak).
  */
class CachingSpec extends IntermediateLifetime {

  test("repeated q131 invocations leave no cache entries behind") {
    val counts = leavesNothing("q131", times = 3) {
      graft.queries.Scaled.q131MadOutliers(spark, Sf0001)
    }
    assert(counts.forall(_ > 0))
  }

  test("q102 and mutualTop1 release their persists after the action") {
    assert(leavesNothing("q102") {
      graft.queries.Scaled.q102ProfileBanded(spark, Sf0001)
    } == Seq(4L))
    assert(leavesNothing("q76") {
      graft.queries.Scaled.q76ProfileApprox(spark, Sf0001)
    } == Seq(3L))
    val emb = graft.Tables.embeddings(spark, Sf0001)
    assert(leavesNothing("mutualTop1") {
      Similarity.mutualTop1(emb.filter(col("label") === 0), emb.filter(col("label") === 1))
    }.head > 0)
  }

  test("q193, q249 and the cells route keep no cache entry and free their checkpoints") {
    assert(leavesNothing("q193", times = 2) {
      graft.queries.Series.q193RfmSegments(spark, Sf0001)
    }.forall(_ > 0))
    assert(leavesNothing("q249", times = 2) {
      graft.queries.Extensions.q249ForestPairCensus(spark, Sf0001)
    }.forall(_ > 0))
    val emb = graft.Tables.embeddings(spark, Sf0001)
    assert(leavesNothing("cells", times = 2) {
      Dedup.embeddingNearDupsCells(emb, threshold = 0.3, maxBlockSize = 1 << 20)
    }.forall(_ > 0))
    // the curation chains' stage checkpoints, the component loops under
    // them, and the BPE trainer's representation checkpoints (q242; q228's
    // three rounds take none)
    for ((name, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
        "q244" -> graft.queries.Curation2.q244WebPipeline,
        "q99" -> graft.queries.Curation2.q99CurationChain,
        "q25" -> graft.queries.Extensions.q25MinhashLsh,
        "q228" -> graft.queries.TextStats.q228BpeMerges,
        "q242" -> graft.queries.TextStats.q242BpeCkpt))
      assert(leavesNothing(name)(q(spark, Sf0001)).forall(_ > 0), name)
    // minhashLsh's routed banding checkpoint
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    assert(leavesNothing("routed lsh") {
      Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32, bands = 8,
        threshold = 0.5, maxBucketSize = 50, routeOverCapExact = true)
    }.forall(_ > 0))
  }

  test("nothing in src/main stores an intermediate outside Checkpoints") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val allowed = Set("operators/Checkpoints.scala", "analytics/Dashboard.scala")
    val store = """\.persist\(|\.cache\(\)|\.localCheckpoint\(|\.checkpoint\(|setCheckpointDir""".r
    import scala.jdk.CollectionConverters._
    val hits = for {
      f <- java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq
      rel = root.toPath.relativize(f).toString.replace('\\', '/')
      if rel.endsWith(".scala") && !allowed(rel) && !rel.startsWith("tools/")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if store.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("a lazy checkpoint keeps its input's hash partitioning") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val keyed = spark.range(2000).select((col("id") % 37).as("k"), col("id"))
      val ck = Checkpoints.local(keyed.repartition(col("k")))
      // the shuffle under the checkpoint runs when it is created, as a job
      // of its own; the final stage waits for the first action
      eventually(timeout(Span(10, Seconds))) {
        assert(jobs.get() >= 1, "creating the checkpoint ran no job")
      }
      val rdd = ck.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      assert(rdd.size == 1)
      assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.head),
        "a lazy checkpoint stored blocks before any action")
      // an aggregation on the key reads it with no exchange, and so does a
      // sort-merge self-join once the partition count is the explicit one
      // of Checkpoints.hashed, which AQE does not coalesce
      val agg = ck.groupBy("k").agg(count(lit(1)).as("n"))
      assert(agg.collect().map(_.getLong(1)).sum == 2000L)
      val byCount = Checkpoints.local(Checkpoints.hashed(keyed, "k"))
      val self = byCount.as("a").join(byCount.as("b").hint("merge"), Seq("k"))
        .agg(count(lit(1)))
      assert(self.collect().head.getLong(0) == (0 until 37).map { k =>
        val n = (0 until 2000).count(_ % 37 == k).toLong; n * n }.sum)
      for (df <- Seq(agg, self)) {
        val nodes = executedNodes(df)
        // the count's final gather is the one exchange allowed
        assert(!nodes.exists {
          case e: ShuffleExchangeExec => e.outputPartitioning != SinglePartition
          case _ => false
        },
          s"the key's partitioning was lost:\n${df.queryExecution.executedPlan}")
        assert(nodes.exists(_.isInstanceOf[RDDScanExec]))
      }
      assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.head),
        "the first action did not store the checkpoint")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the cells self-join reads the cid-partitioned checkpoint with no exchange") {
    val emb = graft.Tables.embeddings(spark, Sf0001)
    for (cap <- Seq(Int.MaxValue, 1 << 20)) {
      val df = Dedup.embeddingNearDupsCells(emb, threshold = 0.3, maxBlockSize = cap)
      assert(df.collect().nonEmpty)
      // one exchange: the DISTINCT over the surviving pairs; the ranking's
      // shuffles sit under the checkpoint
      val ex = executedNodes(df).count(_.isInstanceOf[ShuffleExchangeExec])
      assert(ex == 1, s"cap $cap: $ex exchanges\n${df.queryExecution.executedPlan}")
    }
  }
}
