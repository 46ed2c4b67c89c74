package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Expectations, TextIndex}
import graft.streaming.WebIngest

/** web_curation: the q244 web-curation chain (step1), the q157 rolling
  * admission lifecycle (step2), and crawl ingest of seed-shuffled pages
  * through MemoryStream micro-batches, whose output must equal, row for row,
  * the batch `WebIngest.ingest` over the same pages (run once in set-up).
  * The index, LM and eval set are built as WebIngestSpec builds them.
  */
final class WebCuration extends Workload {
  val roundS = 15.0
  import WebCuration._
  private var pages: Seq[(Long, String)] = Nil
  private var arrivals: DataFrame = _
  private var idx: Dedup.MinhashSplitIndex = _
  private var quality: WebIngest.Quality = _
  private var decontam: WebIngest.Decontam = _
  private var batchDigest: Digest = _
  private var streams = 0
  private var indexMs = 0.0

  override def probe(b: Bench): Map[String, Double] = Map("operators.index_build_ms" -> indexMs)

  def setup(b: Bench): Unit = {
    val s = b.spark
    import s.implicits._
    val docs = graft.Tables.documents(s, b.fixture).filter(col("text").isNotNull)
    val all = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val arriving = b.rnd.shuffle(all.toSeq).take(Arrivals)
    val corpus = docs.filter(!col("doc_id").isin(arriving.map(_._1): _*))
    val t0 = System.nanoTime()
    locally {
      val labels = Dedup.contractedComponents(
        Dedup.jaccardPairsForest(corpus, threshold = 0.5).select("doc_id_a", "doc_id_b"))
        .localCheckpoint()
      val raw = Dedup.minhashSplitIndex(corpus, labels)
      idx = raw.copy(bandMaps = raw.bandMaps.map(_.localCheckpoint()))
      val stats = TextIndex.bigramPairs(corpus)
        .groupBy("tok", "nxt").agg(count(lit(1)).as("cnt")).localCheckpoint()
      quality = WebIngest.Quality(stats, TextIndex.UnkNllMicro - 1)
    }
    indexMs = (System.nanoTime() - t0) / 1e6
    System.err.println(f"perfbench: index and LM built in $indexMs%.0f ms")
    val evalText = corpus.orderBy("doc_id").limit(1).select("text").collect()(0).getString(0)
    decontam = WebIngest.Decontam(Seq(evalText).toDF("text"), shingleSize = 3, minSharedPpm = 600000L)
    val gibberish = (1 to 30).map(i => s"zzqx$i").mkString(" ")
    pages = b.rnd.shuffle(arriving.map { case (id, t) => (id, page(t)) } ++ Seq(
      (Quarantined, page("too short")), (Gibberish, page(gibberish)),
      (Contaminated, page(evalText))))
    arrivals = pages.toDF("doc_id", "html")
    // the batch backfill over the same pages is the stream's reference
    val ref = ingest(arrivals)
    val rows = ref.collect().toSeq
    checkBatch(rows).foreach(msg => sys.error(s"batch WebIngest.ingest: $msg"))
    batchDigest = Digest.of(ref.schema, rows)
    System.err.println(f"perfbench: batch reference in ${(System.nanoTime() - t0) / 1e6 - indexMs}%.0f ms")
    round(b) // warm-up
  }

  /** The planted pages take their dispositions; real pages are admitted. */
  private def checkBatch(rows: Seq[org.apache.spark.sql.Row]): Option[String] = {
    val disp = rows.map(row => row.getLong(0) -> row.getAs[String]("disposition")).toMap
    val want = Map(Quarantined -> "quarantine", Gibberish -> "reject_quality",
      Contaminated -> "reject_contaminated")
    if (rows.size != pages.size) Some(s"${rows.size} rows for ${pages.size} pages")
    else want.find { case (id, d) => !disp.get(id).contains(d) }
      .map { case (id, d) => s"page $id is ${disp.get(id)}, expected $d" }
      .orElse(if (disp.values.exists(_ == "admit")) None else Some("nothing admitted"))
  }

  private def ingest(df: DataFrame): DataFrame =
    WebIngest.ingest(df, idx, Rules, threshold = 0.5,
      quality = Some(quality), decontam = Some(decontam))

  def round(b: Bench): Unit = {
    val s = b.spark
    import s.implicits._
    Seq("step1" -> "q244_web_pipeline", "step2" -> "q157_admit_rolling").foreach { case (cls, name) =>
      b.op(cls, name) {
        if (b.tracer.isDefined) b.span("tables.frame")(graft.Tables.documents(s, b.fixture))
        val df = b.span("queries.build")(graft.SparkEntry.queries(name)(s, b.fixture))
        b.span("queries.action")(b.take(df))
      }(b.matchesOracle(name, _))
    }
    streams += 1
    val name = s"web_ingest_$streams"
    b.op("other", "web_ingest.stream") {
      implicit val ctx = s.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = b.span("streaming.build")(ingest(input.toDF().toDF("doc_id", "html")))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try pages.grouped((pages.size + MicroBatches - 1) / MicroBatches).foreach { batch =>
        b.span("streaming.batch") { input.addData(batch); q.processAllAvailable() }
      } finally q.stop()
      val out = b.take(s.table(name))
      s.catalog.dropTempView(name)
      out
    }(r => Digest.of(r.schema, r.rows).diff(batchDigest).map("stream differs from batch: " + _))
  }

  /** Pages per second through the micro-batch stream. */
  def itemsPerSecond(rounds: Seq[Round]): Double =
    pages.size / (Main.median(rounds.flatMap(_.ops).filter(o => o.ok && o.name == "web_ingest.stream").map(_.ms)) / 1000)

  override def writeRoot(b: Bench): Option[String] = Some(b.path("warehouse"))
}

object WebCuration {
  val Arrivals = 240
  val MicroBatches = 2
  val Quarantined = 99999L
  val Gibberish = 99998L
  val Contaminated = 99997L
  val Rules = Seq(Expectations.Expect("tokens_min_3", size(split(col("text"), " ")) >= 3))

  /** A document wrapped in markup the extractor must strip. */
  def page(text: String): String =
    s"<html><body><p>$text</p><script>nav()</script></body></html>"
}
