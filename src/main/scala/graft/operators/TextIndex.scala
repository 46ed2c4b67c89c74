package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.queries.dsum

/** Persisted inverted index for lexical (BM25) retrieval — the text-side
  * analog of the persisted IVF vector index (Similarity.saveIvfIndex):
  * pay the corpus tokenization ONCE at build time, then answer every
  * query from the index, reading only the queried terms' posting buckets.
  *
  * Tables (all managed parquet):
  *  - `{base}_post`  (term, doc_id, tf)  BUCKETED BY term — a query's
  *    `term IN (...)` filter prunes to the terms' buckets, and the
  *    per-term df aggregation plans shuffle-free on the bucket key.
  *  - `{base}_dl`    (doc_id, dl)        BUCKETED BY doc_id — the
  *    normalization join's build side never shuffles.
  *  - `{base}_stats` (n_docs, tot)       one row, broadcast at query time.
  *
  * [[bm25Indexed]] reproduces Signals.bm25's scoring algebra term-for-term
  * (same casts, same parenthesization, same decimal score sum), and every
  * index column is integral (longs round-trip parquet exactly), so a probe
  * of the saved index is bit-identical to the direct corpus pass — q162
  * ships under q118's own oracle to prove it.
  */
object TextIndex {

  case class Bm25Index(postings: DataFrame, docLens: DataFrame, stats: DataFrame)

  /** Build and persist the index. One corpus pass computes the postings,
    * doc lengths, and collection stats; the bucketed writes are the only
    * shuffles, each keyed on its table's own bucket column.
    *
    * CRASH CONSISTENCY (round 16): every row carries the admission
    * `epoch` (0 for the build) and the three-table write set is flipped
    * visible by ONE IndexCommits marker — see [[loadBm25Index]]. The
    * stats table holds one ADDITIVE row per epoch (n_docs, tot, epoch),
    * not a rewritten singleton: appends never read-modify-write shared
    * state, so no admission can clobber another's totals and a crashed
    * admission leaves no half-applied stats.
    */
  def saveBm25Index(docs: DataFrame, tableBase: String, numBuckets: Int = 32,
                    unicode: Boolean = false): Bm25Index = {
    val s = docs.sparkSession
    graft.sources.IndexCommits.reset(s, tableBase)
    val e = graft.sources.IndexCommits.begin(s, tableBase) // 0 after reset
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"), unicode)).as("term"))
    val postings = terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("epoch", lit(e))
    graft.sources.Sinks.parquetBucketed(postings, s"${tableBase}_post",
      "term", numBuckets)
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .withColumn("epoch", lit(e))
    graft.sources.Sinks.parquetBucketed(dl, s"${tableBase}_dl",
      "doc_id", numBuckets)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("tot"), lit(e).as("epoch"))
    graft.sources.Sinks.reclaimOrphanTableLocation(s, s"${tableBase}_stats")
    stats.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${tableBase}_stats")
    graft.sources.IndexCommits.commit(s, tableBase, e)
    loadBm25Index(s, tableBase)
  }

  /** Admit a NEW document batch into a persisted BM25 index without
    * touching the corpus already indexed — the text analog of
    * Similarity.appendIvfIndexSaved. Only the arriving batch tokenizes;
    * its postings and doc lengths APPEND into the bucketed tables (at
    * most one new file per touched bucket, the indexed corpus never
    * re-shuffles), and the stats table gains the batch's own ADDITIVE
    * (n_docs, tot, epoch) row — no corpus rescan, no read-modify-write.
    *
    * PRECONDITION: the batch's doc_ids are disjoint from the indexed
    * corpus (re-admitting a doc would split its tf across two posting
    * rows). Admission pipelines get this for free — a doc is admitted
    * once — and [[bm25Indexed]] over the grown index is then
    * bit-identical to a full rebuild (q163 proves it under q118's
    * oracle). Repeated admissions accumulate small per-bucket files;
    * compact with Sinks.compactBucketedTable (q163 gates the full
    * build → admit → compact → probe loop).
    *
    * CRASH CONSISTENCY: the three appends share one epoch, committed
    * LAST (IndexCommits). A crash at ANY point before the commit leaves
    * every probe reading exactly the pre-append index — the orphan rows
    * are epoch-filtered out — and a retry allocates a FRESH epoch, so
    * the orphans can never merge back in (TextIndexSpec's kill-point
    * test walks every window via the stopAfter hook below).
    */
  def appendBm25Index(newDocs: DataFrame, tableBase: String,
                      numBuckets: Int = 32, unicode: Boolean = false): Bm25Index = {
    val s = newDocs.sparkSession
    val e = appendBm25Partial(newDocs, tableBase, numBuckets, unicode,
      stopAfter = 3)
    graft.sources.IndexCommits.commit(s, tableBase, e)
    loadBm25Index(s, tableBase)
  }

  /** [[appendBm25Index]]'s write sequence WITHOUT the commit — the
    * kill-point hook (stopAfter = 1: postings only; 2: + doc lengths;
    * 3: + stats row, crash before commit). Production code never calls
    * this directly.
    */
  private[graft] def appendBm25Partial(newDocs: DataFrame, tableBase: String,
                                       numBuckets: Int = 32,
                                       unicode: Boolean = false,
                                       stopAfter: Int): Long = {
    val s = newDocs.sparkSession
    val e = graft.sources.IndexCommits.begin(s, tableBase)
    val terms = newDocs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"), unicode)).as("term"))
    terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("epoch", lit(e))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, "term").sortBy("term")
      .saveAsTable(s"${tableBase}_post")
    if (stopAfter < 2) return e
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .withColumn("epoch", lit(e))
    dl.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${tableBase}_dl")
    if (stopAfter < 3) return e
    dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("tot"), lit(e).as("epoch"))
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${tableBase}_stats")
    e
  }

  /** Open a persisted BM25 index at its COMMITTED state: each table
    * filtered to `_SUCCESS`-carrying epochs (crashed admissions'
    * orphan rows are invisible), stats folded additively over the
    * committed rows back to the (n_docs, tot) singleton the scoring
    * algebra broadcasts.
    */
  def loadBm25Index(s: org.apache.spark.sql.SparkSession,
                    tableBase: String): Bm25Index = {
    val vis = graft.sources.IndexCommits.committedFilter(s, tableBase)
    Bm25Index(
      s.table(s"${tableBase}_post").filter(vis).drop("epoch"),
      s.table(s"${tableBase}_dl").filter(vis).drop("epoch"),
      s.table(s"${tableBase}_stats").filter(vis)
        .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum("tot"), lit(0L)).as("tot")))
  }

  /** Consecutive-token pair stream — q166's extraction: per-row array
    * algebra (zip_with over two slices), never a positional self-join.
    */
  def bigramPairs(docs: DataFrame, unicode: Boolean = false): DataFrame = {
    val ts = TextFunctions.tokens(col("text"), unicode)
    docs.filter(col("text").isNotNull && size(ts) >= 2)
      .select(explode(zip_with(
        slice(ts, lit(1), size(ts) - 1),
        slice(ts, lit(2), size(ts) - 1),
        (a, b) => struct(a.as("tok"), b.as("nxt")))).as("p"))
      .select(col("p.tok"), col("p.nxt"))
  }

  /** q166's ranking algebra over a (tok, nxt, cnt) count table: top-k
    * successors per token with integer-ppm conditional probabilities.
    * The windows see only the aggregated vocab²-bounded table.
    */
  def bigramTopK(counts: DataFrame, k: Int = 3): DataFrame = {
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
    counts
      .withColumn("tot", sum("cnt").over(wTok))
      .withColumn("rk",
        row_number().over(wTok.orderBy(col("cnt").desc, col("nxt"))))
      .filter(col("rk") <= k)
      .withColumn("p_ppm", expr("cnt * 1000000 DIV tot"))
      .select("tok", "rk", "nxt", "cnt", "tot", "p_ppm")
  }

  /** Build and persist bigram-conditional statistics: (tok, nxt, cnt)
    * BUCKETED BY tok. Unlike the BM25 postings, the rows are PARTIAL
    * COUNTS under an additive monoid — the probe re-aggregates — so
    * admission needs NO doc-disjointness precondition: any batch split,
    * even re-chunked or interleaved, folds to the same statistics.
    *
    * Crash consistency: rows carry the admission epoch; probes read
    * through [[loadBigramStats]]'s committed filter (IndexCommits), so
    * a crashed append's partial counts can never fold into a probe.
    */
  def saveBigramStats(docs: DataFrame, table: String,
                      numBuckets: Int = 32): DataFrame = {
    val s = docs.sparkSession
    graft.sources.IndexCommits.reset(s, table)
    val e = graft.sources.IndexCommits.begin(s, table)
    graft.sources.Sinks.parquetBucketed(
      bigramPairs(docs).groupBy("tok", "nxt").agg(count(lit(1)).as("cnt"))
        .withColumn("epoch", lit(e)),
      table, "tok", numBuckets)
    graft.sources.IndexCommits.commit(s, table, e)
    loadBigramStats(s, table)
  }

  /** Admit a new batch: only the batch tokenizes, its partial counts
    * APPEND into the bucketed table (at most one new file per touched
    * bucket; the indexed statistics never re-shuffle or re-scan) under
    * a fresh epoch, committed after the write.
    */
  def appendBigramStats(newDocs: DataFrame, table: String,
                        numBuckets: Int = 32): DataFrame = {
    val s = newDocs.sparkSession
    val e = appendBigramStatsPartial(newDocs, table, numBuckets)
    graft.sources.IndexCommits.commit(s, table, e)
    loadBigramStats(s, table)
  }

  /** [[appendBigramStats]] without the commit — the kill-point hook
    * (data files landed, epoch never flipped visible).
    */
  private[graft] def appendBigramStatsPartial(newDocs: DataFrame,
                                              table: String,
                                              numBuckets: Int = 32): Long = {
    val s = newDocs.sparkSession
    val e = graft.sources.IndexCommits.begin(s, table)
    bigramPairs(newDocs).groupBy("tok", "nxt").agg(count(lit(1)).as("cnt"))
      .withColumn("epoch", lit(e))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, "tok").sortBy("tok")
      .saveAsTable(table)
    e
  }

  /** The statistics table at its COMMITTED state — epoch-filtered,
    * epoch dropped, ready for the additive probes
    * ([[bigramTopKIndexed]] / [[docNllFromStats]] re-aggregate anyway).
    */
  def loadBigramStats(s: org.apache.spark.sql.SparkSession,
                      table: String): DataFrame =
    s.table(table)
      .filter(graft.sources.IndexCommits.committedFilter(s, table))
      .drop("epoch")

  /** Semantic compaction: fold the accumulated per-batch partials to ONE
    * row per (tok, nxt) and one file per bucket. The fold rides the
    * bucketing — hashPartitioning(tok) satisfies the (tok, nxt) clustering
    * the aggregate needs, so the rewrite is shuffle-free — and because the
    * probe re-aggregates anyway, compaction changes performance, never
    * results. Only COMMITTED rows fold (written back under the max
    * committed epoch, markers untouched), so compaction doubles as
    * garbage collection for crashed admissions' orphan rows.
    */
  def compactBigramStats(table: String, numBuckets: Int = 32): Unit = {
    val s = org.apache.spark.sql.SparkSession.active
    val eps = graft.sources.IndexCommits.committed(s, table)
    require(eps.nonEmpty, s"no committed epochs for $table — nothing to compact")
    // staging + catalog-rename swap (Sinks.compactBucketedTable's
    // contract): never overwrite a table the fold is reading
    val tmp = s"${table}_compact_staging"
    s.sql(s"DROP TABLE IF EXISTS $tmp")
    graft.sources.Sinks.reclaimOrphanTableLocation(s, tmp)
    loadBigramStats(s, table).groupBy("tok", "nxt").agg(sum("cnt").as("cnt"))
      .withColumn("epoch", lit(eps.max))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, "tok").sortBy("tok")
      .saveAsTable(tmp)
    s.sql(s"DROP TABLE $table")
    s.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** q166's answer from the persisted statistics — the corpus is never
    * touched: one shuffle-free fold over the bucketed scan, then the
    * ranking windows over the aggregated table.
    */
  def bigramTopKIndexed(stats: DataFrame, k: Int = 3): DataFrame =
    bigramTopK(stats.groupBy("tok", "nxt").agg(sum("cnt").as("cnt")), k)

  /** Backoff NLL for a bigram ABSENT from the statistics table: the same
    * micro-nat formula evaluated at the 1-ppm floor probability —
    * floor(-ln(1e-6) * 1e6). Hardcoded (not computed at class-load) so
    * the Scala constant and the oracle SQL literal cannot drift through
    * a libm change; derivation pinned in TextIndexSpec.
    */
  val UnkNllMicro: Long = 13815510L

  /** Per-document negative log-likelihood under a persisted bigram LM —
    * the CCNet perplexity-filter scoring stage (Wenzek et al. 2020): a
    * document's quality signal is its mean per-bigram NLL against a
    * reference language model, here the [[saveBigramStats]] table.
    *
    * ENGINE-AGREED BY ENUMERATION, not probability: probabilities
    * quantize to integer ppm first (p_ppm = cnt*1e6 DIV tot, exact
    * integer arithmetic; 0 floors to 1 ppm), and the per-pair NLL is
    * floor(-ln(p_ppm/1e6) * 1e6) — a function of p_ppm with only 10^6
    * possible inputs, exhaustively verified bit-identical between
    * java.lang.Math.log and DuckDB's ln over ALL of them (round 15).
    * From there everything is exact BIGINT arithmetic: sum_nll is an
    * order-invariant integer sum, avg_nll_u an integer floor-division.
    * Bigrams missing from the stats (scoring NEW text against a frozen
    * reference LM) back off to [[UnkNllMicro]], the 1-ppm NLL.
    *
    * Returns keyCols ++ (n_pairs, sum_nll, avg_nll_u), one row per doc
    * with >= 1 bigram (sub-2-token docs have no NLL and are dropped —
    * callers that must keep them left-join this result back).
    *
    * Shape at 100 TB: the probability table is vocab²-bounded (built
    * shuffle-free on the stats table's tok bucketing); the corpus pass
    * is one map-only pair explode, one (tok, nxt) join against the
    * shuffle_hash-hinted probability side (never broadcast — a web-scale
    * vocab² doesn't fit; AQE handles the Zipf-head skew), and one
    * doc-keyed aggregation. No window anywhere.
    */
  /** The (tok, nxt, nll_u) table behind every NLL consumer — the
    * enumeration-exact quantization (ppm floor, micro-nat fold) lives in
    * EXACTLY one place so the batch scorer ([[docNllFromStats]]) and the
    * streaming quality gate (WebIngest.docNllFold) can never drift.
    */
  private[graft] def bigramNllTable(stats: DataFrame): DataFrame = {
    val pairCnt = stats.groupBy("tok", "nxt").agg(sum("cnt").as("cnt"))
    val tot = pairCnt.groupBy("tok").agg(sum("cnt").as("tot"))
    pairCnt.join(tot, "tok")
      .select(col("tok"), col("nxt"),
        floor(-log(greatest(expr("cnt * 1000000 DIV tot"), lit(1L))
          .cast("double") / lit(1000000.0)) * lit(1000000.0))
          .cast("long").as("nll_u"))
  }

  def docNllFromStats(docs: DataFrame, stats: DataFrame,
                      textCol: String = "text",
                      keyCols: Seq[String] = Seq("doc_id"),
                      unicode: Boolean = false): DataFrame = {
    val prob = bigramNllTable(stats)
    val ts = TextFunctions.tokens(col(textCol), unicode)
    val pairs = docs
      .filter(col(textCol).isNotNull && size(ts) >= 2)
      .select(keyCols.map(col) :+
        explode(zip_with(
          slice(ts, lit(1), size(ts) - 1),
          slice(ts, lit(2), size(ts) - 1),
          (a, b) => struct(a.as("tok"), b.as("nxt")))).as("p"): _*)
      .select(keyCols.map(col) :+ col("p.tok") :+ col("p.nxt"): _*)
    pairs
      .join(prob.hint("shuffle_hash"), Seq("tok", "nxt"), "left")
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("nll_u"), lit(UnkNllMicro))).as("sum_nll"))
      .withColumn("avg_nll_u", expr("sum_nll DIV n_pairs"))
  }

  /** BM25 (k1 = 1.25, b = 0.75, rational idf — Signals.bm25's algebra)
    * answered from the persisted index. The corpus is never touched: tf
    * and df come from the term-pruned posting read (df is a shuffle-free
    * aggregation on the bucket key), dl joins on its own bucket key, and
    * the 1-row stats table broadcasts. Work scales with the queried
    * terms' posting lists, not the corpus.
    */
  def bm25Indexed(index: Bm25Index, queryTerms: Seq[String]): DataFrame = {
    val post = index.postings.filter(col("term").isin(queryTerms: _*))
    val df_ = post.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val score = idf * ((col("tf").cast("double") * lit(2.25)) /
      (col("tf").cast("double") +
        lit(1.25) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    post
      .join(broadcast(df_), "term")
      .join(index.docLens, "doc_id")
      .crossJoin(broadcast(index.stats))
      .withColumn("score", score)
      .groupBy("doc_id").agg(dsum(col("score"), 10).as("bm25"))
  }

  /** BPE merge-pair training loop (Sennrich et al. 2016) — the one
    * standard LLM-pipeline stage with no operator until round 13:
    * `rounds` iterations of count-adjacent-pairs → argmax → merge every
    * (left-to-right, non-overlapping) occurrence corpus-wide. Returns the
    * merge TABLE — (merge_round, tok, nxt, merged, cnt): the artifact tokenizer
    * training actually produces — with cnt the pair's corpus count at
    * pick time and ties broken (cnt DESC, tok ASC, nxt ASC) so the
    * sequence is total-ordered and cross-engine deterministic.
    *
    * The corpus rewrite is ONE scalar `replace` per document on a
    * sentinel-wrapped join of the token array (token t renders \u0001t\u0001,
    * adjacency renders \u0001\u0001): `replace` is left-to-right
    * non-overlapping in Spark and DuckDB alike, which IS the published
    * greedy merge — a run "a a a" under pair (a,a) merges once, leftmost,
    * exactly like the reference implementation's word-by-word scan. The
    * sentinel guarantees matches can't cross token boundaries; tokens
    * must not contain \u0001 (whitespace-split text never does). Pair
    * COUNTS include overlapping occurrences (the published counting —
    * "a a a" counts (a,a) twice), which the zip_with pair stream gives
    * for free.
    *
    * Shape at 100 TB, per round: one map-side-combined pair hash-agg;
    * argmax is a TakeOrdered(1) (per-partition top-1, no global sort)
    * whose single winning row is COLLECTED to the driver — the bounded
    * dimension-collect convention [[bpeEncode]] already uses for the
    * whole merge table, O(1) bytes per round by construction, never a
    * data collect. The corpus rewrite is then a map-only projection with
    * the winning pair inlined as string LITERALS: no per-round broadcast
    * exchange, no crossJoin, no 1-row checkpoint job.
    *
    * Per-round cost contract (round 18 — previously each round paid a
    * 1-row localCheckpoint job for `best` PLUS a BroadcastExchange that
    * every downstream action re-collected, and the final merge table
    * UNIONed `rounds` checkpointed snapshots; measured at sf0.1 that
    * fixed overhead dominated the trainer, OPTIMIZATION_r18.md): now a
    * round is exactly ONE Spark job — the pair aggregation feeding the
    * collected argmax — and the merge table itself is a LocalRelation
    * built from the collected rows (zero jobs, schema copied from the
    * aggregation shape so results are byte-identical; TextIndexSpec pins
    * the merge sequence against a driver-side reference at 16 rounds).
    *
    * The representation still checkpoints every `ckptEvery` rounds
    * (reliable under `checkpointDir`, local otherwise): round r replays
    * the merges picked since the last checkpoint (at most ckptEvery-1
    * literal replaces) on top of the checkpoint scan, so plan depth and
    * per-round wall time stay FLAT in the round number
    * (docs/perf/BPE_SOAK_r14.txt measures the cadence). With
    * `ckptEvery = 0` there is no checkpoint to replay from: every round
    * re-applies ALL prior merges over the base scan — quadratic total
    * rewrite work and a linearly deepening projection chain — fenced at
    * 8 rounds, right for the handful of gated rounds (q228 runs 3).
    */
  def bpeMergeRounds(docs: DataFrame, rounds: Int = 3,
                     textCol: String = "text",
                     ckptEvery: Int = 0,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(ckptEvery > 0 || rounds <= 8,
      s"rounds=$rounds with ckptEvery=0: without representation " +
        "checkpoints every round replays ALL prior merges over the base " +
        "scan — total rewrite work QUADRATIC in rounds — set ckptEvery " +
        "(e.g. 4) past 8 rounds")
    checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val S = "\u0001"
    val SS = S + S
    var rep = docs.filter(col(textCol).isNotNull)
      .select(concat(lit(S),
        array_join(split(col(textCol), " "), SS), lit(S)).as("rep"))
    def pairsOf(r: DataFrame): DataFrame = {
      val ts = col("ts")
      r.select(split(expr("substr(rep, 2, length(rep) - 2)"), SS).as("ts"))
        .filter(size(ts) >= 2)
        .select(explode(zip_with(
          slice(ts, lit(1), size(ts) - 1),
          slice(ts, lit(2), size(ts) - 1),
          (a, b) => struct(a.as("tok"), b.as("nxt")))).as("p"))
        .select(col("p.tok"), col("p.nxt"))
    }
    // schema donor: the output schema derived from the SAME expression
    // shape the per-round aggregation produces (analysis only, no job),
    // so the LocalRelation result is schema-identical to the former
    // union-of-aggregations — including nullability, which the parquet
    // dump the oracle hashes preserves as required/optional
    val outSchema = pairsOf(rep).groupBy("tok", "nxt")
      .agg(count(lit(1)).as("cnt"))
      .select(lit(0).cast("int").as("merge_round"), col("tok"), col("nxt"),
        concat(col("tok"), col("nxt")).as("merged"), col("cnt"))
      .schema
    val picked = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val best = pairsOf(rep).groupBy("tok", "nxt")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"), col("nxt")).limit(1)
        .collect()
      if (best.isEmpty) {
        // pair stream exhausted: every later round is provably empty too
        // (the old crossJoin-with-empty-best left rep and all later
        // bests empty) — emit nothing for the remaining rounds
        exhausted = true
      } else {
        val (tok, nxt, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        picked += org.apache.spark.sql.Row(r, tok, nxt, tok + nxt, cnt)
        rep = rep.select(org.apache.spark.sql.functions.replace(col("rep"),
          lit(S + tok + SS + nxt + S), lit(S + tok + nxt + S)).as("rep"))
        if (ckptEvery > 0 && (r + 1) % ckptEvery == 0 && r != rounds - 1)
          rep = ckpt(rep)
      }
      r += 1
    }
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(picked.toSeq: _*), outSchema)
  }

  /** The tokenizer ENCODE step — apply a learned merge table
    * ([[bpeMergeRounds]]'s output, or any frame with merge_round/tok/nxt)
    * to a corpus: each document's token sequence folds through the merges
    * IN TRAINING ORDER (BPE's defining invariant — applying out of order
    * changes segmentations), each merge the same sentinel-string greedy
    * `replace` the trainer used, so encode(corpus) is byte-consistent
    * with the representation the trainer ended on. Returns (idCol,
    * n_tokens_raw, n_tokens_bpe, tokens_bpe) — the fertility numbers a
    * tokenizer eval reads plus the encoded sequence itself.
    *
    * Shape at 100 TB: the merge table is rounds-sized (thousands at
    * most) — ONE bounded collect builds the fold expression; the corpus
    * pass is map-only (a chain of `rounds` scalar replaces per row),
    * nothing shuffles. The merge table is tiny by construction, so the
    * collect is the broadcast-dim convention, not a data collect.
    */
  def bpeEncode(docs: DataFrame, merges: DataFrame,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val S = "\u0001"
    val SS = S + S
    val ordered = merges.select("merge_round", "tok", "nxt")
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val rep0 = concat(lit(S),
      array_join(split(col(textCol), " "), SS), lit(S))
    val encoded = ordered.foldLeft(rep0) { case (rep, (tok, nxt)) =>
      org.apache.spark.sql.functions.replace(rep,
        lit(S + tok + SS + nxt + S), lit(S + tok + nxt + S))
    }
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens_raw"),
        encoded.as("__rep"))
      .select(col(idCol), col("n_tokens_raw"),
        split(expr("substr(__rep, 2, length(__rep) - 2)"), SS).as("tokens_bpe"))
      .select(col(idCol), col("n_tokens_raw"),
        size(col("tokens_bpe")).cast("long").as("n_tokens_bpe"),
        col("tokens_bpe"))
  }
}
