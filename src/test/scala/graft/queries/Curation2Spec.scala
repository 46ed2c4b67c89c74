package graft.queries

import graft.SparkSpecBase
import graft.operators.{Similarity, TextChunks}
import org.apache.spark.sql.functions._

class Curation2Spec extends SparkSpecBase {
  import spark.implicits._

  test("stripFrequentLines drops exactly the high-df lines, preserves order") {
    // "footer" appears in 3 docs (df=3 >= maxDf=3); every other line is rare
    val docs = Seq(
      (1L, "alpha\nfooter\nbeta"),
      (2L, "footer\ngamma"),
      (3L, "delta\nfooter"),
      (4L, "epsilon\nzeta")
    ).toDF("doc_id", "text")
    val got = TextChunks.stripFrequentLines(docs, maxDf = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    assert(got(1L) == ((2L, 1L, Some("alpha\nbeta"))))
    assert(got(2L) == ((1L, 1L, Some("gamma"))))
    assert(got(3L) == ((1L, 1L, Some("delta"))))
    assert(got(4L) == ((2L, 0L, Some("epsilon\nzeta"))))
  }

  test("stripFrequentLines: all-boilerplate doc yields NULL cleaned text") {
    val docs = Seq(
      (1L, "nav"), (2L, "nav"), (3L, "nav\nunique")
    ).toDF("doc_id", "text")
    val got = TextChunks.stripFrequentLines(docs, maxDf = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(3))))).toMap
    assert(got(1L) == ((0L, None)))
    assert(got(2L) == ((0L, None)))
    assert(got(3L) == ((1L, Some("unique"))))
  }

  test("slidingChunks: 40 tokens at 32/24 -> two chunks with 8-token overlap") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val rows = TextChunks.slidingChunks(docs, chunkSize = 32, stride = 24)
      .orderBy("chunk_idx").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(1) == 0 && rows(0).getInt(2) == 1 && rows(0).getInt(3) == 32)
    assert(rows(1).getInt(1) == 1 && rows(1).getInt(2) == 25 && rows(1).getInt(3) == 16)
    val c0 = rows(0).getString(4).split(" ")
    val c1 = rows(1).getString(4).split(" ")
    assert(c0.takeRight(8).sameElements(c1.take(8)), "stride-overlap tokens must repeat")
    assert(c0.head == "w1" && c1.last == "w40")
  }

  test("slidingChunks: doc shorter than one chunk emits a single short chunk") {
    val docs = Seq((7L, "a b c")).toDF("doc_id", "text")
    val rows = TextChunks.slidingChunks(docs, chunkSize = 32, stride = 24).collect()
    assert(rows.length == 1)
    assert(rows(0).getInt(3) == 3 && rows(0).getString(4) == "a b c")
  }

  test("int8QuantStats: hand-computed codes, saturation, zero-vector exclusion") {
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f), 1),  // zero vector: excluded
      (3L, Array(-2.0f, 2.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.int8QuantStats(emb)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // vec 1: maxabs=1 -> q = (127, floor(-63.5) = -64, floor(31.75) = 31)
    assert(got(1L) == ((127L - 64L + 31L, 127L * 127 + 64L * 64 + 31L * 31, 1L)))
    // vec 3: maxabs=2 -> q = (-127, 127, floor(63.5) = 63)
    assert(got(3L) == ((63L, 127L * 127 * 2 + 63L * 63, 2L)))
    assert(!got.contains(2L), "zero vector must be excluded, not fabricated")
  }

  test("q88 weight is 1e6 ppm when actual share equals target share") {
    val out = Curation2.q88MixtureWeights(spark, Sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 20)
    val total = out.values.map(_._1).sum
    out.foreach { case (src, (nTok, targetPpm, weightPpm)) =>
      val n = src.stripPrefix("src").toLong
      assert(targetPpm == (n % 5 + 1) * 40000L, s"$src target")
      assert(weightPpm == targetPpm * total / nTok, s"$src weight")
    }
  }

  test("q85 plan: frequency agg keys on the 8-byte line hash, not the line") {
    val plan = Curation2.q85BoilerplateStrip(spark, Sf001)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("xxhash64"), "df agg/join must key on xxhash64(line)")
  }
  test("resampleToMixture: weight 0 drops all, 1e6 keeps all, missing stratum drops") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else if (i % 3 == 0) "b" else "c"))
      .toDF("doc_id", "source")
    val weights = Seq(("a", 0L), ("b", 1000000L)).toDF("source", "weight_ppm")
    val kept = graft.operators.Sampling.resampleToMixture(df, "doc_id", "source", weights)
      .collect().map(r => r.getLong(1) -> r.getString(0))
    assert(!kept.exists(_._2 == "a"), "weight 0 must drop everything")
    assert(kept.count(_._2 == "b") == df.filter($"source" === "b").count(), "weight 1e6 keeps all")
    assert(!kept.exists(_._2 == "c"), "stratum missing from the config must not pass through")
  }

  test("q92 keeps exactly the docs the md5-ppm rule selects, at the q88 weights") {
    val out = Curation2.q92MixtureResample(spark, Sf001)
      .collect().map(r => r.getLong(1)).toSet
    val weights = Curation2.q88MixtureWeights(spark, Sf001)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    def ppm(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val expect = graft.Tables.documents(spark, Sf001)
      .filter(col("text").isNotNull).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, src) => ppm(id) < weights(src) }
      .map(_._1).toSet
    assert(out == expect)
    assert(out.size < 500, "some over-represented source must actually downsample")
  }

  test("q120 yields exactly min(k, stratum size) rows per source, window-free") {
    val df = Curation2.q120SampleKPerSource(spark, Sf001)
    val perSource = df.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = graft.Tables.documents(spark, Sf001)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.keySet == sizes.keySet)
    perSource.foreach { case (src, n) =>
      assert(n == math.min(5L, sizes(src)), s"$src: $n of ${sizes(src)}") }
    // rerun selects the identical ids (determinism, not just counts)
    val ids = df.collect().map(r => (r.getString(0), r.getLong(2))).toSet
    val ids2 = Curation2.q120SampleKPerSource(spark, Sf001)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(ids == ids2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"per-stratum sample must not window:\n$plan")
  }

  test("q165 stage manifest equals the global-window formulation; stages balanced") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    val got = Curation2.q165Curriculum(spark, Sf0001)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // brute-force twin: one global window (fine at fixture scale)
    val base = graft.Tables.documents(spark, Sf0001)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    val w = Window.orderBy(col("quality"), col("doc_id"))
    val want = base
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("stage", expr("CAST((rn - 1) * 4 DIV n + 1 AS INT)"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("t"),
        min("cum_before").as("off"), min("quality").as("lo"),
        max("quality").as("hi"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got == want)
    // 4 stages, sizes differ by at most 1, quality bands are non-decreasing
    assert(got.keySet == Set(1, 2, 3, 4))
    val sizes = got.toSeq.sortBy(_._1).map(_._2._1)
    assert(sizes.max - sizes.min <= 1, s"unbalanced stages: $sizes")
    val bands = got.toSeq.sortBy(_._1).map(v => (v._2._4, v._2._5))
    bands.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"stage bands overlap: $bands")
    }
    // the scale contract: no data-sized global window — the only
    // stratum-wide window runs over the chunk aggregate (bounded rows)
    val plan = Curation2.q165Curriculum(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "chunked prefix still uses bounded windows")
  }


  test("decontaminate ppm: near-copy of an eval doc flagged, background not") {
    import spark.implicits._
    import graft.operators.Dedup
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, "src0", evalText),                                    // the benchmark doc
      (2L, "srcX", "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-copy
      (3L, "srcX", "alpha beta unrelated words everywhere else entirely fresh text here"), // shares 1 gram
      (4L, "srcX", "totally different vocabulary nothing shared at all with eval")
    ).toDF("doc_id", "source", "text")
    val flagged = Dedup.decontaminate(docs.filter($"source" =!= "src0"),
        docs.filter($"source" === "src0"), shingleSize = 3,
        Dedup.MinSharedPpm(600000L))
      .filter($"contaminated").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(2L), s"expected only the near-copy, got $flagged")
  }

  test("q244 web pipeline: near-dup-safe splits (cluster never straddles), packing sane") {
    val out = Curation2.q244WebPipeline(spark, Sf0001)
    out.cache()
    try {
      val straddlers = out.groupBy("cluster")
        .agg(countDistinct("split").as("ns")).filter(col("ns") > 1).count()
      assert(straddlers == 0, "a near-dup cluster straddles splits")
      // packing: cum_before strictly under budget, seq_id consistent
      assert(out.filter(col("cum_before") >= 2000L).isEmpty)
      assert(out.filter(expr("seq_id != cum_before DIV 512")).isEmpty)
      // the eval source is held out of the training pool
      assert(out.filter(col("source") === "src0").isEmpty)
      assert(out.count() > 50, "the funnel collapsed")
      assert(out.select("split").distinct().count() >= 2)
    } finally out.unpersist()
  }

}
