package graft.operators

import graft.{IntermediateLifetime, PerfMeters}
import graft.queries.Signals
import graft.sources.IndexCommits
import org.apache.spark.sql.functions._

/** Crash-consistency kill points for the persisted index lifecycles
  * (round-15 verdict ask #3): at EVERY window inside an admission — data
  * files landed, commit marker not yet written — a reader must see
  * exactly the pre-append state; after the (re-run) admission commits,
  * exactly the fully-admitted state. The `*Partial` / `*Step(stopAfter)`
  * hooks ARE the simulated kills: they run the production write sequence
  * and stop before the IndexCommits commit.
  */
class IndexCrashSpec extends IntermediateLifetime {

  private def docs = graft.Tables.documents(spark, Sf0001)
    .filter(col("text").isNotNull)

  private def dropAll(names: String*): Unit =
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("BM25 admission kill points: every window reads pre-append, retry lands exactly once") {
    val base = "graft_crash_bm25"
    val full = "graft_crash_bm25_full"
    dropAll(Seq("_post", "_dl", "_stats").flatMap(s => Seq(base + s, full + s)): _*)
    try {
      val isBase = pmod(col("doc_id"), lit(2L)) === 0
      def probe(i: TextIndex.Bm25Index) =
        TextIndex.bm25Indexed(i, Signals.Bm25QueryTerms)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      TextIndex.saveBm25Index(docs.filter(isBase), base, numBuckets = 8)
      val r0 = probe(TextIndex.loadBm25Index(spark, base))
      // kill at each window: postings only / + doc lengths / + stats row
      for (stop <- 1 to 3) {
        TextIndex.appendBm25Partial(docs.filter(!isBase), base,
          numBuckets = 8, stopAfter = stop)
        assert(probe(TextIndex.loadBm25Index(spark, base)) == r0,
          s"a crash after write $stop leaked into the probe")
      }
      // retry of the admission (fresh epoch) — the three crashed epochs'
      // orphan rows stay invisible; the result equals a full rebuild
      val grown = TextIndex.appendBm25Index(docs.filter(!isBase), base,
        numBuckets = 8)
      val ref = TextIndex.saveBm25Index(docs, full, numBuckets = 8)
      assert(probe(grown) == probe(ref),
        "post-crash retry must equal a clean full build")
      assert(grown.stats.collect()(0) == ref.stats.collect()(0))
      // committed compaction garbage-collects the three crashed epochs'
      // orphan rows: raw row count falls to the committed view's, probe
      // unchanged
      val rawBefore = spark.table(s"${base}_post").count()
      graft.sources.Sinks.compactBucketedTableCommitted(spark,
        s"${base}_post", base)
      graft.sources.Sinks.compactBucketedTableCommitted(spark,
        s"${base}_dl", base)
      val compacted = TextIndex.loadBm25Index(spark, base)
      assert(spark.table(s"${base}_post").count() < rawBefore,
        "compaction must drop the crashed epochs' orphan posting rows")
      assert(spark.table(s"${base}_post").count() ==
        compacted.postings.count(),
        "after committed compaction the raw table IS the committed view")
      assert(probe(compacted) == probe(ref))
    } finally dropAll(
      Seq("_post", "_dl", "_stats").flatMap(s => Seq(base + s, full + s)): _*)
  }

  test("crashed REBUILD never leaks the dead lifecycle's rows into a later append") {
    val base = "graft_crash_rebuild"
    val ref = "graft_crash_rebuild_ref"
    dropAll(Seq("_post", "_dl", "_stats").flatMap(s => Seq(base + s, ref + s)): _*)
    try {
      val isBase = pmod(col("doc_id"), lit(2L)) === 0
      def probe(i: TextIndex.Bm25Index) =
        TextIndex.bm25Indexed(i, Signals.Bm25QueryTerms)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // lifecycle 1: build + one committed admission (epochs exist)
      TextIndex.saveBm25Index(docs.filter(isBase).limit(100), base, 8)
      TextIndex.appendBm25Index(docs.filter(!isBase).limit(100), base, 8)
      // lifecycle 2 CRASHES mid-overwrite: reset decommits, the build's
      // epoch is allocated and ONLY the posting table is overwritten —
      // _dl/_stats still hold lifecycle 1's rows under the old epochs
      IndexCommits.reset(spark, base)
      val e = IndexCommits.begin(spark, base)
      graft.sources.Sinks.parquetBucketed(
        spark.emptyDataFrame
          .select(lit("x").as("term"), lit(0L).as("doc_id"),
            lit(0L).as("tf"), lit(e).as("epoch"))
          .limit(0),
        s"${base}_post", "term", 8)
      // reopen: no committed epoch — the index reads EMPTY, loudly
      // distinguishable from serving lifecycle 1's stale rows
      assert(probe(TextIndex.loadBm25Index(spark, base)).isEmpty,
        "a crashed rebuild must read empty, not the dead lifecycle")
      // a later append commits a FRESH epoch strictly above every epoch
      // that ever existed — lifecycle 1's surviving _dl/_stats rows can
      // never match it
      val batch = docs.filter(!isBase).limit(100)
      val grown = TextIndex.appendBm25Index(batch, base, 8)
      val refIdx = TextIndex.saveBm25Index(batch, ref, 8)
      assert(probe(grown) == probe(refIdx),
        "the append must see ONLY its own batch — stale dl/stats rows " +
          "from the dead lifecycle leaked into the probe")
    } finally dropAll(
      Seq("_post", "_dl", "_stats").flatMap(s => Seq(base + s, ref + s)): _*)
  }

  test("bigram-stats kill point: uncommitted partial counts never fold into a probe") {
    val tbl = "graft_crash_bigram"
    val ref = "graft_crash_bigram_ref"
    dropAll(tbl, ref)
    try {
      val batchOf = pmod(xxhash64(col("doc_id")), lit(2L))
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      TextIndex.saveBigramStats(docs.filter(batchOf === 0), tbl, 8)
      val r0 = key(TextIndex.bigramTopKIndexed(
        TextIndex.loadBigramStats(spark, tbl)))
      TextIndex.appendBigramStatsPartial(docs.filter(batchOf === 1), tbl, 8)
      assert(key(TextIndex.bigramTopKIndexed(
        TextIndex.loadBigramStats(spark, tbl))) == r0,
        "uncommitted partial counts reached the probe")
      TextIndex.appendBigramStats(docs.filter(batchOf === 1), tbl, 8)
      TextIndex.saveBigramStats(docs, ref, 8)
      val refKey = key(TextIndex.bigramTopKIndexed(
        TextIndex.loadBigramStats(spark, ref)))
      assert(key(TextIndex.bigramTopKIndexed(
        TextIndex.loadBigramStats(spark, tbl))) == refKey)
      // compaction folds committed rows only — the crashed epoch's
      // orphans are garbage-collected, probe unchanged
      TextIndex.compactBigramStats(tbl, 8)
      assert(key(TextIndex.bigramTopKIndexed(
        TextIndex.loadBigramStats(spark, tbl))) == refKey)
      val rawSum = spark.table(tbl).agg(sum("cnt")).collect()(0).getLong(0)
      val refSum = spark.table(ref).agg(sum("cnt")).collect()(0).getLong(0)
      assert(rawSum == refSum,
        s"compaction must drop orphan partials: raw $rawSum vs ref $refSum")
    } finally dropAll(tbl, ref)
  }

  test("IVF admission kill point: uncommitted cell rows invisible, retry equals full build") {
    val base = "graft_crash_ivf"
    dropAll(s"${base}_cents", s"${base}_cells")
    try {
      val emb = graft.Tables.embeddings(spark, Sf0001)
      val isBase = col("vec_id") < 16 || pmod(col("vec_id"), lit(2L)) === 0
      def probe(i: Similarity.IvfIndex) =
        Similarity.ivfTopKIndexed(i, emb.filter(col("vec_id") < 8), k = 10)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      Similarity.saveIvfIndex(emb.filter(isBase), base)
      val r0 = probe(Similarity.loadIvfIndex(spark, base))
      Similarity.appendIvfIndexPartial(emb.filter(!isBase), base)
      assert(probe(Similarity.loadIvfIndex(spark, base)) == r0,
        "uncommitted cells reached the probe")
      val grown = Similarity.appendIvfIndexSaved(emb.filter(!isBase), base)
      val direct = Similarity.ivfTopK(emb, k = 10, maxQueryId = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(probe(grown) == direct,
        "post-crash retry must equal the direct full-corpus walk")
    } finally dropAll(s"${base}_cents", s"${base}_cells")
  }

  test("gram-index kill point: uncommitted grams never hit the contamination screen") {
    val base = "graft_crash_gram"
    dropAll(s"${base}_grams")
    try {
      val half = pmod(col("doc_id"), lit(2L)) === 0
      def screen(idx: org.apache.spark.sql.DataFrame) =
        Dedup.substrContamination(docs.filter(!half).limit(50), idx, k = 8)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      Dedup.saveGramIndex(docs.filter(half), base, k = 8)
      val r0 = screen(Dedup.loadGramIndex(spark, base))
      Dedup.appendGramIndexPartial(docs.filter(!half), base, k = 8)
      assert(screen(Dedup.loadGramIndex(spark, base)) == r0,
        "uncommitted grams reached the screen")
      Dedup.appendGramIndex(docs.filter(!half), base, k = 8)
      val grownScreen = screen(Dedup.loadGramIndex(spark, base))
      assert(grownScreen != r0, "the committed append must change the screen")
    } finally dropAll(s"${base}_grams")
  }

  test("rolling exact admission kill points: a crashed batch re-admits exactly once") {
    val base = "graft_crash_rolladm"
    val ref = "graft_crash_rolladm_ref"
    dropAll(s"${base}_exact", s"${base}_admitted",
      s"${ref}_exact", s"${ref}_admitted")
    try {
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val news = docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text")
      val mx = news.agg(max("doc_id")).head().getLong(0)
      val b1 = news.filter(col("doc_id") <= mx / 2)
      val b2 = news.filter(col("doc_id") > mx / 2)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val r1 = canon(Dedup.admitRollingExact(corpus, Seq(b1), base))
      // kill windows of batch 2 (round 18: result + fingerprints are ONE
      // fused write — stop=0 is epoch-begun-nothing-written, stop=1 is
      // written-but-uncommitted; the old between-the-writes window no
      // longer exists by construction)
      for (stop <- 0 to 1) {
        Dedup.admitRollingStep(b2, base, numBuckets = 32, stopAfter = stop)
        assert(canon(Dedup.loadAdmitted(spark, base)) == r1,
          s"a crash after write $stop leaked admitted rows")
      }
      // retry: b2 admitted exactly once — equals the uninterrupted run
      val e = Dedup.admitRollingStep(b2, base, numBuckets = 32, stopAfter = 1)
      IndexCommits.commit(spark, base, e)
      val refRun = canon(Dedup.admitRollingExact(corpus, Seq(b1, b2), ref))
      assert(canon(Dedup.loadAdmitted(spark, base)) == refRun,
        "post-crash retry must equal the uninterrupted two-batch run")
    } finally dropAll(s"${base}_exact", s"${base}_admitted",
      s"${ref}_exact", s"${ref}_admitted")
  }

  test("rolling minhash split kill points: crashed batch invisible, retry converges") {
    val base = "graft_crash_rollsplit"
    val ref = "graft_crash_rollsplit_ref"
    dropAll(s"${base}_post", s"${base}_splits",
      s"${ref}_post", s"${ref}_splits")
    try {
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val labels = Dedup.contractedComponents(
        Dedup.jaccardPairsForest(
          graft.Tables.documents(spark, Sf0001)
            .filter(col("text").isNotNull && col("doc_id") % 3 === 0),
          threshold = 0.8), stitch = "star")
      val news = docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text")
      val mx = news.agg(max("doc_id")).head().getLong(0)
      val b1 = news.filter(col("doc_id") <= mx / 2)
      val b2 = news.filter(col("doc_id") > mx / 2)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val r1 = canon(Dedup.splitRollingMinhash(corpus, labels, Seq(b1), base,
        threshold = 0.8))
      for (stop <- 1 to 2) {
        Dedup.splitRollingStep(b2, base, threshold = 0.8,
          minBandCollisions = 1, shingleSize = 3, numHashes = 32, bands = 8,
          numBuckets = 32, trainPct = 90, valPct = 5, stopAfter = stop)
        assert(canon(Dedup.loadRollingSplits(spark, base)) == r1,
          s"a crash after write $stop leaked split rows")
      }
      val e = Dedup.splitRollingStep(b2, base, threshold = 0.8,
        minBandCollisions = 1, shingleSize = 3, numHashes = 32, bands = 8,
        numBuckets = 32, trainPct = 90, valPct = 5, stopAfter = 2)
      IndexCommits.commit(spark, base, e)
      val refRun = canon(Dedup.splitRollingMinhash(corpus, labels,
        Seq(b1, b2), ref, threshold = 0.8))
      assert(canon(Dedup.loadRollingSplits(spark, base)) == refRun,
        "post-crash retry must equal the uninterrupted two-batch run")
    } finally dropAll(s"${base}_post", s"${base}_splits",
      s"${ref}_post", s"${ref}_splits")
  }

  test("a split batch whose append fails frees what it stored") {
    val base = "graft_crash_rollsplit_bad"
    dropAll(s"${base}_post", s"${base}_splits")
    try {
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val labels = corpus.select(col("doc_id"), col("doc_id").as("component"))
      val news = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
      Dedup.splitRollingMinhash(corpus, labels, Seq(news.filter(col("doc_id") % 3 === 1)),
        base, threshold = 0.8)
      // the split table now has a schema the batch's rows cannot append to
      spark.sql(s"DROP TABLE ${base}_splits")
      spark.sql(s"CREATE TABLE ${base}_splits (x STRING) USING parquet")
      spark.catalog.clearCache()
      val stored = PerfMeters.settledStoredBytes(spark.sparkContext)
      intercept[org.apache.spark.sql.AnalysisException] {
        Dedup.splitRollingStep(news.filter(col("doc_id") % 3 === 2), base,
          threshold = 0.8, minBandCollisions = 1, shingleSize = 3, numHashes = 32,
          bands = 8, numBuckets = 32, trainPct = 90, valPct = 5, stopAfter = 2)
      }
      assert(spark.sharedState.cacheManager.isEmpty, "a cache entry after the failed append")
      eventually(timeout(org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        val now = PerfMeters.settledStoredBytes(spark.sparkContext)
        assert(now <= stored, s"$now bytes stored after the failed append, $stored before")
      }
    } finally dropAll(s"${base}_post", s"${base}_splits")
  }
}
