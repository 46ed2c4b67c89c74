package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.operators.{Dedup, Expectations}

/** The crawl-ingest twin (round-14 verdict ask #10): extract → validate →
  * near-dup-safe split must produce IDENTICAL rows over a MemoryStream and
  * over the same frame as a batch, a planted violation must quarantine
  * (never receive a split), and the plan must keep splitStreamMinhash's
  * no-broadcast contract through the composition.
  */
class WebIngestSpec extends SparkSpecBase {
  import spark.implicits._

  // wrap a doc in markup the extractor must strip; a trailing script
  // plants boilerplate that must NOT reach the split's shingle walk
  private def page(text: String): String =
    s"<html><body><p>$text</p><script>nav()</script></body></html>"

  private val rules = Seq(
    Expectations.Expect("tokens_min_3",
      size(split(col("text"), " ")) >= 3))

  test("MemoryStream ingest equals the batch run; violations quarantine") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.minhashLsh(corpus, shingleSize = 3, numHashes = 32, bands = 8,
        threshold = 0.5).select("doc_id_a", "doc_id_b"))
    val idx = Dedup.minhashSplitIndex(corpus, labels)
    // arrivals: real docs wrapped in markup + one planted violation (a
    // 2-token page) that must route to quarantine
    val arrivalRows = docs.filter(isNew).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), page(r.getString(1)))) :+
      ((99999L, page("too short")))
    val arrivals = arrivalRows.toSeq.toDF("doc_id", "html")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getSeq[String](4).toList, r.getString(5)))).toMap

    val batch = canon(WebIngest.ingest(arrivals, idx, rules, threshold = 0.5))
    assert(batch.contains(99999L))
    assert(batch(99999L)._5 == "quarantine")
    assert(batch(99999L)._3.isEmpty, "a quarantined page must carry no split")
    assert(batch(99999L)._4 == List("tokens_min_3"))
    val admits = batch.filter(_._2._5 == "admit")
    assert(admits.nonEmpty && admits.forall(_._2._3.nonEmpty))
    // the extractor did its job: a markup-matching arrival inherits its
    // corpus twin's cluster (the equal-shingle-set tier), so at least one
    // admit lands in a cluster smaller than its own id
    assert(admits.exists { case (id, (cl, _, _, _, _)) =>
      cl.exists(_.asInstanceOf[Long] < id)
    }, "no arrival matched its corpus near-dup through the markup wrap")

    val input = MemoryStream[(Long, String)]
    val q = WebIngest.ingest(input.toDF().toDF("doc_id", "html"),
        idx, rules, threshold = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("web_ingest_stream").start()
    try {
      val (a, b) = arrivalRows.splitAt(arrivalRows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      assert(canon(spark.table("web_ingest_stream")) == batch)
    } finally q.stop()
  }

  test("quality + decontamination stages: stream == batch, all four dispositions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairsForest(corpus, threshold = 0.5)
        .select("doc_id_a", "doc_id_b"))
    val idx = Dedup.minhashSplitIndex(corpus, labels)
    // reference LM from the corpus; q243's integer NLL algebra
    val stats = graft.operators.TextIndex.bigramPairs(corpus)
      .groupBy("tok", "nxt").agg(count(lit(1)).as("cnt"))
    // eval screen: one real corpus doc is the "benchmark"
    val evalDoc = corpus.orderBy("doc_id").limit(1).select("text")
    // arrivals: real docs + a planted violation (quarantine), a planted
    // gibberish page (every bigram unknown -> max NLL -> reject_quality),
    // and a planted benchmark quote (reject_contaminated)
    val evalText = evalDoc.collect()(0).getString(0)
    val gibberish = (1 to 30).map(i => s"zzqx$i").mkString(" ")
    val arrivalRows = docs.filter(isNew).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), page(r.getString(1)))) ++ Seq(
      (99999L, page("too short")),
      (99998L, page(gibberish)),
      (99997L, page(evalText)))
    val arrivals = arrivalRows.toSeq.toDF("doc_id", "html")
    // the gibberish page's every bigram is unknown: avg == UnkNllMicro,
    // so any ceiling below it rejects the page while plain English
    // (known bigrams, small NLL) passes
    val maxNll = graft.operators.TextIndex.UnkNllMicro - 1
    val quality = WebIngest.Quality(stats, maxNll)
    val decontam = WebIngest.Decontam(evalDoc, shingleSize = 3,
      minSharedPpm = 600000L)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getSeq[String](4).toList, r.getString(5)))).toMap

    val batchDf = WebIngest.ingest(arrivals, idx, rules, threshold = 0.5,
      quality = Some(quality), decontam = Some(decontam))
    // one pass: no union of disposition branches, no persisted stage
    val plan = batchDf.queryExecution.optimizedPlan
    assert(plan.collectFirst { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
      .isEmpty, "the dispositions are a union of branches")
    assert(plan.collectFirst {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }.isEmpty, "a stage is persisted")
    val batch = canon(batchDf)
    assert(batch(99999L)._5 == "quarantine")
    assert(batch(99998L)._5 == "reject_quality")
    assert(batch(99997L)._5 == "reject_contaminated")
    assert(batch.values.exists(_._5 == "admit"),
      "plain corpus-like arrivals must still admit")
    Seq(99998L, 99997L).foreach { id =>
      assert(batch(id)._3.isEmpty, s"rejected page $id must carry no split")
    }
    // the quality stage must agree with the gated batch operator's
    // algebra: rejected-by-NLL ids == docNllFromStats above the ceiling
    val extractedNew = arrivals.select(col("doc_id"),
      graft.functions.Html.htmlExtract(col("html")).as("text"))
      .filter(size(split(col("text"), " ")) >= 3)
    val nllReject = graft.operators.TextIndex
      .docNllFromStats(extractedNew, stats)
      .filter(col("avg_nll_u") > maxNll)
      .collect().map(_.getLong(0)).toSet
    assert(batch.filter(_._2._5 == "reject_quality").keySet == nllReject,
      "stream quality stage must equal docNllFromStats' verdicts")

    val input = MemoryStream[(Long, String)]
    val q = WebIngest.ingest(input.toDF().toDF("doc_id", "html"),
        idx, rules, threshold = 0.5,
        quality = Some(quality), decontam = Some(decontam))
      .writeStream.outputMode("append")
      .format("memory").queryName("web_ingest_q").start()
    try {
      val (a, b) = arrivalRows.splitAt(arrivalRows.length / 2)
      // each micro-batch reads its rows once and folds the NLL once
      def onePass(added: Int): Unit = {
        val p = q.lastProgress
        assert(p.numInputRows == added, s"source read more than once:\n$p")
        assert(p.stateOperators.length == 1, s"NLL fold planned more than once:\n$p")
      }
      input.addData(a.toSeq); q.processAllAvailable(); onePass(a.length)
      input.addData(b.toSeq); q.processAllAvailable(); onePass(b.length)
      assert(canon(spark.table("web_ingest_q")) == batch,
        "MemoryStream ingest diverged from the batch run")
    } finally q.stop()
  }

  test("a second streaming query over the same pages compiles no class") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairsForest(corpus, threshold = 0.5)
        .select("doc_id_a", "doc_id_b"))
    val raw = Dedup.minhashSplitIndex(corpus, labels)
    val idx = raw.copy(bandMaps = raw.bandMaps.map(_.localCheckpoint()))
    val arrivalRows = docs.filter(isNew).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), page(r.getString(1)))).toSeq
    // the compile counter is JVM-global: exact only while nothing else runs
    assert(spark.streams.active.isEmpty)
    def runStream(name: String): Long = {
      val c0 = graft.PerfMeters.codegenCompiles()
      val input = MemoryStream[(Long, String)]
      val q = WebIngest.ingest(input.toDF().toDF("doc_id", "html"),
          idx, rules, threshold = 0.5)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        arrivalRows.grouped((arrivalRows.size + 1) / 2).foreach { g =>
          input.addData(g); q.processAllAvailable()
        }
      } finally q.stop()
      spark.catalog.dropTempView(name)
      graft.PerfMeters.codegenCompiles() - c0
    }
    val first = runStream("web_ingest_cold")
    val second = runStream("web_ingest_warm")
    info(s"classes compiled: first query $first, second query $second")
    // with a class loader per session, each new query's cloned session
    // recompiled every task-side class
    assert(second == 0, s"the second query compiled $second classes")
  }

  test("large-eval decontam routes through the Bloom shape: same verdicts, no plan literal") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairsForest(corpus, threshold = 0.5)
        .select("doc_id_a", "doc_id_b"))
    val idx = Dedup.minhashSplitIndex(corpus, labels)
    // "large" eval set: several real corpus docs — plus the planted quote
    val evalDocs = corpus.orderBy("doc_id").limit(5).select("text")
    val evalText = evalDocs.collect()(0).getString(0)
    val arrivalRows = docs.filter(isNew).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), page(r.getString(1)))) :+
      ((99997L, page(evalText)))
    val arrivals = arrivalRows.toSeq.toDF("doc_id", "html")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getSeq[String](4).toList, r.getString(5)))).toMap

    // a literal cap of 0 forces the Bloom + stream-static-join shape; the
    // routes' equality is DedupSpec's route table
    val big = WebIngest.Decontam(evalDocs, shingleSize = 3,
      minSharedPpm = 600000L)
    def viaBloomOf(pages: org.apache.spark.sql.DataFrame) =
      Dedup.withDecontamSizing(literalCap = 0)(
        WebIngest.ingest(pages, idx, rules, threshold = 0.5, decontam = Some(big)))
    val viaBloomDf = viaBloomOf(arrivals)
    val viaBloom = canon(viaBloomDf)
    assert(viaBloom(99997L)._5 == "reject_contaminated")
    assert(viaBloom.values.exists(_._5 == "admit"))

    // plan hygiene: the Bloom shape must carry NO array literal that
    // scales with the eval set (the fixed-size Bloom BINARY constant is
    // the only big literal allowed), and the prescreen must be present
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.ArrayType
    var maxArrLit = 0
    viaBloomDf.queryExecution.analyzed.foreach(_.expressions.foreach(_.foreach {
      case l: Literal if l.dataType.isInstanceOf[ArrayType] && l.value != null =>
        maxArrLit = math.max(maxArrLit,
          l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .numElements())
      case _ => ()
    }))
    assert(maxArrLit <= 8,
      s"eval-scaled array literal leaked into the Bloom plan ($maxArrLit elems)")
    assert(viaBloomDf.queryExecution.analyzed.toString.contains("might_contain"),
      "Bloom prescreen missing from the large-eval plan")

    // stream == batch through the Bloom shape
    val input = MemoryStream[(Long, String)]
    val q = viaBloomOf(input.toDF().toDF("doc_id", "html"))
      .writeStream.outputMode("append")
      .format("memory").queryName("web_ingest_bloom").start()
    try {
      val (a, b) = arrivalRows.splitAt(arrivalRows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      assert(canon(spark.table("web_ingest_bloom")) == viaBloom,
        "MemoryStream Bloom-shape ingest diverged from the batch run")
    } finally q.stop()
  }

  test("composed ingest keeps the no-broadcast contract") {
    val docs = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairs(corpus, 0.5).select("doc_id_a", "doc_id_b"))
    val arrivals = docs.filter(isNew)
      .select(col("doc_id"), concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
    val out = WebIngest.ingest(arrivals,
      Dedup.minhashSplitIndex(corpus, labels), rules, threshold = 0.5)
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"corpus broadcast in plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"corpus broadcast join:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }
}
