package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: MEASURE the decontamination routes instead of assuming
  * the route threshold.
  *
  * Dedup.decontaminate picks between two physical shapes by eval-set
  * size: at most Dedup.DecontamLiteralCap (65536) distinct eval hashes
  * run the zero-shuffle sorted-array literal per row; above it the
  * fixed-size Bloom prescreen + exact join + per-doc fold. This probe
  * pins each route with the cap override and times BOTH on the SAME
  * corpus at several eval-set sizes, through WebIngest.ingest as a batch
  * (the same operator body batch queries such as q244 call) and as
  * MemoryStream micro-batches, and reports rows/sec so the crossover is
  * a number.
  *
  * Usage: runMain graft.tools.StreamThroughputProbe [sfDir] [replicas] [out]
  * Writes `out` (default docs/perf/STREAM_THROUGHPUT_r20.txt).
  */
object StreamThroughputProbe {
  private def page(text: String): String =
    s"<html><body><p>$text</p><script>nav()</script></body></html>"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicas = if (args.length > 1) args(1).toInt else 20
    val outPath = if (args.length > 2) args(2)
      else "docs/perf/STREAM_THROUGHPUT_r20.txt"
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).select("doc_id", "text")
    val nDocs = docs.count()
    // corpus & split index from the base docs (the stream-static side)
    val labels = graft.operators.Dedup.contractedComponents(
      graft.operators.Dedup.minhashLsh(docs, shingleSize = 3,
        numHashes = 32, bands = 8, threshold = 0.5)
        .select("doc_id_a", "doc_id_b"))
    val idx = graft.operators.Dedup.minhashSplitIndex(docs, labels)
    val rules = Seq(graft.operators.Expectations.Expect("tokens_min_3",
      size(split(col("text"), " ")) >= 3))

    // arrivals: the docs wrapped in markup, replicated with shifted ids
    // so the page count supports a throughput read (docs are ~500/sf0.1)
    val pages = (0 until replicas).map { r =>
      docs.select((col("doc_id") + lit(r.toLong * 1000000L)).as("doc_id"),
        col("text"))
    }.reduce(_.unionByName(_))
      .select(col("doc_id"),
        concat(lit("<html><body><p>"), col("text"),
          lit("</p><script>nav()</script></body></html>")).as("html"))
      .persist()
    val nPages = pages.count()

    // eval sets: built from doc texts; replicas SUFFIX EVERY TOKEN (not
    // just a prefix — 3-gram shingles are interior, so a prefix adds only
    // boundary grams) so the distinct shingle count scales with reps and
    // the tiers bracket the default 65536 route threshold
    def evalOf(take: Int, reps: Int): DataFrame =
      (0 until reps).map { r =>
        val d = docs.limit(take)
        if (r == 0) d.select(col("text"))
        else d.select(array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$r"))), " ").as("text"))
      }.reduce(_.unionByName(_))

    val sb = new StringBuilder
    def log(s: String): Unit = { println(s); sb.append(s).append('\n') }
    log(s"[stp] sf=$sfDir docs=$nDocs pages=$nPages replicas=$replicas")

    // the cap override pins a route; the literal pin sits far above the
    // largest eval tier
    val literalRoute = 1 << 24
    val bloomRoute = 0
    def wallOf(d: Option[graft.streaming.WebIngest.Decontam],
               cap: Int = literalRoute): Double = {
      spark.sharedState.cacheManager.clearCache()
      pages.persist(); pages.count() // keep arrivals cached, outside the wall
      val t0 = System.nanoTime()
      graft.operators.Dedup.withDecontamSizing(cap)(
        graft.streaming.WebIngest.ingest(pages, idx, rules, threshold = 0.5,
          decontam = d)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def streamWallOf(d: graft.streaming.WebIngest.Decontam, cap: Int,
                     batches: Int): Double = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val rows = pages.collect().map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val q = graft.operators.Dedup.withDecontamSizing(cap)(
          graft.streaming.WebIngest.ingest(
            input.toDF().toDF("doc_id", "html"), idx, rules, threshold = 0.5,
            decontam = Some(d)))
        .writeStream.outputMode("append")
        .format("memory").queryName("stp_stream").start()
      try {
        val per = math.max(1, rows.length / batches)
        val t0 = System.nanoTime()
        rows.grouped(per).foreach { g =>
          input.addData(g.toSeq); q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e9
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS stp_stream")
      }
    }

    // warm-up (JIT/codegen), untimed
    wallOf(None)
    val base = wallOf(None)
    log(f"[stp] batch no-decontam: $base%.2f s (${nPages / base}%.0f rows/s)")

    for ((tag, take, reps) <- Seq(("small", 50, 1), ("mid", 500, 1),
                                  ("large", 5000, 1), ("xl", 5000, 4),
                                  ("xxl", 5000, 16))) {
      val eval = evalOf(take, reps)
      val nSh = eval.select(explode(graft.functions.WordGramHashes
        .wordGramHashes(col("text"), 3)).as("h")).distinct().count()
      val decontam = graft.streaming.WebIngest.Decontam(
        eval, shingleSize = 3, minSharedPpm = 600000L)
      val lit_ = wallOf(Some(decontam), literalRoute)
      val blm = wallOf(Some(decontam), bloomRoute)
      log(f"[stp] eval=$tag shingles=$nSh literal: $lit_%.2f s " +
        f"(${nPages / lit_}%.0f rows/s)  bloom: $blm%.2f s " +
        f"(${nPages / blm}%.0f rows/s)  literal/bloom=${lit_ / blm}%.2f")
    }

    // streaming micro-batch posture at the mid eval tier, both routes
    val evalMid = graft.streaming.WebIngest.Decontam(evalOf(500, 1))
    val sLit = streamWallOf(evalMid, literalRoute, batches = 8)
    val sBlm = streamWallOf(evalMid, bloomRoute, batches = 8)
    log(f"[stp] stream(8 micro-batches) literal: $sLit%.2f s " +
      f"(${nPages / sLit}%.0f rows/s)  bloom: $sBlm%.2f s " +
      f"(${nPages / sBlm}%.0f rows/s)")

    val out = java.nio.file.Paths.get(outPath)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, sb.toString)
    log(s"[stp] wrote $out")
    spark.stop()
  }
}
