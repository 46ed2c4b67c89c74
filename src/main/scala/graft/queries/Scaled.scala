package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Checkpoints, Dedup, Profile, StratifiedSelect}

/** Round-5 scale-hardening twins: each query here re-runs an ALREADY
  * DECLARED query's semantics through its documented 100 TB escape hatch,
  * under the same oracle — proving the scale path is a pure physical
  * change, not a semantic fork. (q76 and q78 add the two remaining
  * hardening surfaces: sketch profiling and real header decode.)
  *
  *  - q72/q73/q74/q79 — the q61/q66/q71/q48 per-stratum windows
  *    re-expressed via operators.StratifiedSelect (no single-task
  *    stratum sort);
  *  - q75 — the q03 fact⋈fact join over BUCKETED tables (no shuffle under
  *    the join);
  *  - q76 — the q68 column profile in two column-count-independent scans
  *    (rows-only: sketch values are engine-specific);
  *  - q77 — q58's dedup resolution through large-star/small-star;
  *  - q78 — geometry round-trip through the real PNG/JPEG header parser.
  */
object Scaled {

  private def nChunks(s: SparkSession): Int = defaultChunks(s)

  /** q61's token-budget selection with no per-language sort task: same
    * projection, same (quality desc, doc_id) order, same budget — prefix
    * sums via chunked two-level aggregation. Oracle: q61's own SQL.
    */
  def q72TokenBudgetScaled(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    StratifiedSelect.chunkedPrefix(base, stratum = "lang",
        primary = "quality", desc = true, tieBreak = Seq(col("doc_id")),
        value = col("n_tokens").cast("long"), nChunks = nChunks(s))
      .filter(col("cum_before") < 3000L)
      .select("doc_id", "lang", "n_tokens", "cum_before")
  }

  /** q66's per-language top-quartile filter without the stratum sort: the
    * exact rank comes from the chunked running count (strictly stronger
    * than the documented approx-quantile pre-bound — no probabilistic
    * safety margin to verify), the stratum count from the tiny offsets
    * frame. Same integer-form filter rn*4 <= n+3. Oracle: q66's own SQL.
    */
  def q73QuantileFilterScaled(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    StratifiedSelect.chunkedPrefix(base, stratum = "lang",
        primary = "quality", desc = true, tieBreak = Seq(col("doc_id")),
        value = lit(1L), nChunks = nChunks(s))
      .filter(col("rn") * 4 <= col("n_stratum") + 3)
      .select(col("doc_id"), col("lang"), col("quality"),
        col("rn").cast("int").as("rn"))
  }

  /** q71's sequence packing with the documented range-partitioned
    * cumulative sum: chunk by doc_id quantiles, same concat-then-chunk
    * seq_id arithmetic. Oracle: q71's own SQL.
    */
  def q74SequencePackScaled(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    StratifiedSelect.chunkedPrefix(base, stratum = "lang",
        primary = "doc_id", desc = false, tieBreak = Seq.empty,
        value = col("n_tokens").cast("long"), nChunks = nChunks(s))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
      .withColumn("seq_id", expr("cum_before div 2048"))
  }

  /** The q03 lineitem⋈orders join over tables BUCKETED on the join key
    * (sources.Sinks.parquetBucketed): both sides pre-shuffled at write
    * time, so the sort-merge join runs with NO Exchange beneath it —
    * the pay-the-shuffle-once answer to repeated fact⋈fact joins
    * (ScaledSpec asserts the shuffle-free join subtree). Result is
    * bit-identical to q03: bucketing is physical layout only. The merge
    * hint pins SMJ: at fixture scale Catalyst would broadcast orders and
    * bypass the bucketed path this query exists to exercise.
    */
  def q75BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (lTbl, oTbl) = BucketedTables.ensure(s, dir)
    s.table(lTbl).hint("merge")
      .join(s.table(oTbl), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q48's per-priority median a THIRD way — rank SELECTION instead of
    * ranking (StratifiedSelect.stratumRanks): only the two middle ranks
    * per stratum come back, and only the chunks HOLDING them sort. q79
    * proves the full chunked ranking reproduces the window formulation;
    * this proves the point-selection path does too, under the same q48
    * oracle. The operators differ at scale, not in semantics: the
    * ranking shuffles the whole table (right when ranks feed prefix
    * logic), the selection shuffles ~targets x chunk rows of it (right
    * for medians/bands — at 100 TB that is a few million rows of a
    * trillion).
    */
  def q211RankSelect(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    StratifiedSelect.stratumRanks(base, stratum = "o_orderpriority",
        primary = "o_totalprice", desc = false, tieBreak = Seq(col("o_orderkey")),
        targets = n => Seq((n + 1) / 2, (n + 2) / 2), nChunks = nChunks(s))
      .groupBy("o_orderpriority")
      .agg((sum("o_totalprice") / count(lit(1))).as("median_price"))
  }

  /** The two-scan approx profile (operators.Profile.numericProfileApprox —
    * see its docstring for why folding the sketch pass into the scalar
    * aggregate is a 4.5x de-codegen trap), promoted to the hash gate via
    * the q102 banded trick on a SECOND table: the exact stats over the
    * orders numeric columns are SQL-expressible, the HLL estimate enters
    * only through the nd_ok boolean (5 % band at rsd 0.02 = 2.5 sigma;
    * deterministic for a given dataset). q102 gates the lineitem profile;
    * this one adds a full-key column (o_orderkey, distinct == rows) where
    * the HLL dense path carries the most registers. IntegrationSpec still
    * pins the <= 2 % error of the approx profile vs exact on lineitem.
    */
  def q76ProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_totalprice", "o_custkey", "o_orderkey")
    // the exact profile + the approx profile's own passes consume this
    // projection several times — share one stored copy, stored before the
    // profile's concurrent passes start. Profile construction is eager
    // (every pass runs before it returns), so the copy is freed right here
    // and nothing outlives the call.
    val proj = Checkpoints.local(Tables.orders(s, dir).select(cols.map(col): _*),
      eager = true)
    try Profile.numericProfileBanded(proj, cols, bandInv = 20)
    finally Checkpoints.free(proj)
  }

  /** q58's dedup resolution through the large-star/small-star path
    * (adversarial-diameter graphs). Same pair input, same recursive-CTE
    * oracle — the fixed point (min id per component) is
    * algorithm-independent. Routed blocked-first since round 10: the
    * one-pass contraction collapses in-partition structure to depth-1
    * stars, so the O(log n) star rounds run only on the residual
    * cross-partition graph (Dedup.contractedComponents).
    */
  def q77DedupResolveStar(s: SparkSession, dir: String): DataFrame =
    Dedup.contractedComponents(
      Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.8),
      stitch = "star")

  /** q48's exact positional median without the per-group sort task — the
    * last of the four flagged stratum-window cliffs (q48/q61/q66/q71),
    * closed with the same chunked exact rank: filter to the middle one or
    * two ranks per group, then average. Oracle: q48's own SQL. (q54's
    * sketch remains the cheap alternative; this one is EXACT at scale.)
    */
  def q79MedianScaled(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    StratifiedSelect.chunkedPrefix(base, stratum = "o_orderpriority",
        primary = "o_totalprice", desc = false, tieBreak = Seq(col("o_orderkey")),
        value = lit(1L), nChunks = nChunks(s))
      // the q48 middle-rank selection verbatim (explicit floor on both
      // engines — int division semantics differ, see Relational3)
      .filter(col("rn") === floor((col("n_stratum") + 1) / 2.0) ||
              col("rn") === floor((col("n_stratum") + 2) / 2.0))
      .groupBy("o_orderpriority")
      .agg((sum("o_totalprice") / count(lit(1))).as("median_price"))
  }

  /** q16's top-3-per-priority through a BOUNDED aggregation buffer
    * (functions.BoundedTopK) instead of a rank window — the scale twin
    * for the top-k-per-group shape. q16's window sorts every order of a
    * priority on one task (5 groups → 5 tasks carrying the whole table at
    * 100 TB); the heap aggregate keeps O(k) state per group per partition
    * and combines map-side, so the shuffle carries at most
    * groups × partitions × k rows. Same oracle as q16: one semantics, two
    * plans. posexplode over the best-first array IS the 1-based rank.
    */
  def q115TopkHeap(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("o_totalprice"), col("o_orderkey")), k = 3,
        desc = Seq(true, false)).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("int").as("rk"),
        col("col.o_orderkey"), col("col.o_totalprice"))

  /** q27's exact ANN baseline through the bounded heap
    * (operators.Similarity.bruteForceTopKHeap) instead of the per-query
    * rank window — in brute force each query's window group IS the whole
    * corpus, so at scale the window is a per-query single-task sort of a
    * billion rows. Same oracle as q27: one semantics, two plans.
    */
  def q119AnnTopkHeap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.bruteForceTopKHeap(
      Tables.embeddings(s, dir), k = 10, maxQueryId = 8)

  /** q224: hard-negative mining — for each query vector the 5 most
    * similar corpus vectors with a DIFFERENT label
    * (operators.Similarity.hardNegatives): the contrastive-curation step
    * between the ANN family (q27/q119/q153) and the label harness (q184).
    * Oracle = q27's float contract with the label-mismatch predicate in
    * the scoring join.
    */
  def q224HardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.hardNegatives(
      Tables.embeddings(s, dir), k = 5, maxQueryId = 8)

  /** q223: ±1 random projection 64 → 16 dims
    * (operators.Similarity.randomProjection) — the JL reduction in front
    * of LSH/IVF at billion-vector scale. The oracle re-derives the whole
    * sign matrix from the md5 parity formula and re-accumulates every
    * projection through the same floor-to-1e-12 fixed-point BIGINT sums
    * (floor(x·s·1e12) per term, long addition — engine-exact and
    * order-independent), so the gate pins the matrix AND the arithmetic
    * cross-engine.
    */
  def q223RandomProjection(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.randomProjection(Tables.embeddings(s, dir))

  /** q131: per-source MAD (median absolute deviation) robust outlier
    * fences over token counts — the robust companion to q94's IQR: a
    * single mega-document shifts a mean/stddev fence but moves MAD not
    * at all until half the slice is corrupt (50 % breakdown point).
    *
    * Both exact medians (x, then |x − median|) come from per-source VALUE
    * HISTOGRAMS: groupBy(source, value) first (map-side-combined, sized
    * by distinct values — token counts are integers bounded by document
    * length, so the histogram is orders smaller than the corpus at any
    * sf), then the middle ranks are read off cumulative counts with a
    * window over that histogram-sized frame. No data-row window, no
    * per-source sort task, and — unlike the earlier chunkedPrefix
    * formulation — NO construction-time boundary actions: the whole
    * query is ONE lazy plan, so its cost can't be held hostage to cache
    * residency across multiple driver actions (the round-8 contention
    * lesson: 6 actions × an evictable cache = a 60× tail). For
    * real-valued metrics where a histogram won't collapse, q79's
    * chunkedPrefix ranking remains the right shape.
    *
    * The tokenized 2-column projection is a lazy checkpoint (it feeds
    * both histograms plus the fence count; operators.Checkpoints).
    * Float safety: medians of integers live on the .5 grid, deviations
    * on the .5 grid, MAD on the .25 grid — all exact in IEEE doubles, so
    * the hash gate holds.
    */
  def q131MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = graft.operators.Checkpoints.local(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
            .as("x")))
    // exact per-source median via the value histogram: rank r's value is
    // the histogram row whose [cum − c + 1, cum] interval covers r; the
    // median is the mean of the values at ranks ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋
    // (equal for odd n) — identical to the rank-filter formulation the
    // oracle replays, at histogram cost
    def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val cumW = Window.partitionBy("source").orderBy(valueCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = df.groupBy(col("source"), col(valueCol))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(cumW))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
      def covers(r: org.apache.spark.sql.Column) =
        col("cum") - col("c") < r && r <= col("cum")
      val lo = floor((col("n") + 1) / 2.0)
      val hi = floor((col("n") + 2) / 2.0)
      hist.filter(covers(lo) || covers(hi))
        .groupBy("source")
        .agg(((min(when(covers(lo), col(valueCol))) +
               min(when(covers(hi), col(valueCol)))) / 2.0).as(out))
    }
    val med = medianOf(b, "x", "median_tokens")
    val d = b.join(broadcast(med), "source")
      .withColumn("dev", abs(col("x") - col("median_tokens")))
    val mad = medianOf(d.select(col("source"), col("dev")), "dev", "mad")
    d.join(broadcast(mad), "source")
      .groupBy("source")
      .agg(min("median_tokens").as("median_tokens"), min("mad").as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** q129: mutual top-1 embedding alignment between two label slices
    * (operators.Similarity.mutualTop1) — the cross-source document
    * matcher: a pair survives only when each side is the other's cosine
    * argmax. One broadcast-scored pass + two k=1 bounded-heap argmaxes;
    * the oracle replays both directional argmaxes with window ranks and
    * intersects them.
    */
  def q129MutualAlign(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity.mutualTop1(
      emb.filter(col("label") === 0), emb.filter(col("label") === 1))
  }

  /** The two directional rank-1 windows intersected — the oracle q129 and
    * q134 share (both plans must reproduce it bit-exactly).
    */
  private val MutualAlignOracle: String =
    """WITH a AS (SELECT vec_id AS aid, embedding::DOUBLE[] AS ae
      |           FROM embeddings WHERE label = 0),
      |b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS be
      |      FROM embeddings WHERE label = 1),
      |s AS (
      |  SELECT aid, bid,
      |    list_dot_product(ae, be)
      |      / (sqrt(list_dot_product(ae, ae)) * sqrt(list_dot_product(be, be)))
      |      AS cos
      |  FROM a, b),
      |ab AS (SELECT aid, bid, cos FROM (
      |    SELECT aid, bid, cos, ROW_NUMBER() OVER (PARTITION BY aid
      |      ORDER BY cos DESC, bid) AS rk FROM s) WHERE rk = 1),
      |ba AS (SELECT aid, bid FROM (
      |    SELECT aid, bid, ROW_NUMBER() OVER (PARTITION BY bid
      |      ORDER BY cos DESC, aid) AS rk FROM s) WHERE rk = 1)
      |SELECT ab.aid, ab.bid, ROUND(ab.cos, 6) AS cos_sim
      |FROM ab JOIN ba ON ab.aid = ba.aid AND ab.bid = ba.bid""".stripMargin

  /** q129's mutual alignment re-run through the NON-BROADCAST scoring
    * path (strategy = "ivf" with a full probe, nProbe = nList) — the
    * fallback for a B side too big to broadcast, proven under q129's own
    * oracle: with every cell probed the candidate union is provably all
    * pairs, so the output is bit-identical while the plan swaps the
    * broadcast cross-join for two cid-keyed shuffle joins (q119/q96's
    * one-semantics-two-plans pattern). At real scale nProbe < nList turns
    * the same plan into the standard IVF recall trade.
    */
  def q134MutualAlignIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity.mutualTop1(
      emb.filter(col("label") === 0), emb.filter(col("label") === 1),
      strategy = "ivf", nList = 8, nProbe = 8)
  }

  /** Geometry round-trip through the REAL header parser: synthetic
    * payloads carry genuine PNG IHDR / JPEG SOF0 headers whose dimensions
    * are a pure function of doc_id, so the oracle rebuilds width/height
    * arithmetically while the engine re-reads them from the container
    * bytes. The doc_id % 12 slice is a truncated PNG: flagged, not thrown.
    */
  def q78MediaDims(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.withMediaMeta(Multimodal.syntheticMedia(s, dir), "payload")
      .select(col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.ok").as("ok"))
  }

  /** q91: exact equi-depth (decile) histogram of order prices — GLOBAL
    * exact ranking through the same chunked-prefix machinery, with the
    * stratum degenerated to a constant: the escape hatch for "order the
    * whole table" without a single-task global sort. Bucket id is pure
    * integer arithmetic over (rank, n) — floor((rn-1)*10/n)+1, identical
    * on both engines — and the oracle computes it from a plain global
    * row_number window (fine single-node; the cliff it would hit on a
    * cluster is exactly what the chunked plan removes).
    */
  def q91EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("g", lit(1))
    StratifiedSelect.chunkedPrefix(base, stratum = "g",
        primary = "o_totalprice", desc = false,
        tieBreak = Seq(col("o_orderkey")), value = lit(1L),
        nChunks = nChunks(s))
      .withColumn("decile", expr("CAST((rn - 1) * 10 DIV n_stratum AS INT) + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
           min("o_totalprice").as("min_price"),
           max("o_totalprice").as("max_price"),
           dsum(col("o_totalprice"), 2).as("sum_price"))
  }

  /** q57 forced onto Dedup.decontaminate's large-eval route: a fixed-MB
    * Bloom filter prunes the corpus posting explode, an exact shuffle_hash
    * join removes its false positives, and a per-doc fold counts — output
    * identical to q57's literal route by construction, declared under
    * q57's own oracle. The fixture's eval slice is far under the literal
    * cap, so the cap is overridden to 0 to keep the route gated.
    */
  def q95DecontamBloom(s: SparkSession, dir: String): DataFrame =
    Dedup.withDecontamSizing(literalCap = 0)(Extensions.q57Decontam(s, dir))

  /** q67's incremental admission through the aggregation-free
    * stream-compatible shape (operators.Dedup.admitStream): static band
    * maps + per-row array-HOF Hamming verify — identical output by
    * construction, declared under q67's own oracle. The twin that proves
    * the streaming admission path hash-exact, not just spec-equal.
    * Since round 6 the index joins are shuffle_hash-hinted (NEVER
    * broadcast — the corpus-sized band maps were round 5's one
    * scale-killer); production streams pre-build the index as bucketed
    * tables via Dedup.saveAdmissionIndex so only microbatch rows shuffle.
    */
  def q96AdmitMapFree(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val isNew = col("source").isin(Curation.NewBatchSources: _*)
    Dedup.admitStream(docs.filter(isNew), docs.filter(!isNew))
  }

  /** q96 through the PRODUCTION static side: the corpus AdmissionIndex
    * pre-materialized as bucketed parquet tables
    * (operators.Dedup.saveAdmissionIndex, memoized per (session, sf-dir)
    * like the q75 bucketed twins) — each admission batch then joins
    * against bucketed scans with zero corpus-side shuffle and zero
    * broadcast. Declared under q67's oracle like q96: one semantics,
    * now THREE hash-equal plans (batch aggregate / in-plan index /
    * persisted bucketed index), which is exactly the migration path a
    * 100 TB corpus follows as it outgrows each shape.
    */
  def q103AdmitIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val isNew = col("source").isin(Curation.NewBatchSources: _*)
    Dedup.admitStream(docs.filter(isNew).select("doc_id", "text"),
      AdmissionIndexTables.ensure(s, dir), maxHamming = 3)
  }

  /** q28's IVF ANN through the PRODUCTION persisted index — the ANN
    * analog of q103: the cell-assignment table pre-materialized as
    * parquet BUCKETED on cid (Similarity.saveIvfIndex, memoized per
    * (session, sf-dir)), the query batch probing it with zero corpus-side
    * shuffle. Declared under q28's own oracle: one ANN semantics, now
    * THREE hash-equal plans (direct assign-per-query / in-plan index
    * frames via ivfIndexFrames / persisted bucketed index) — the
    * build-once / probe-many migration a 100 TB vector corpus follows.
    */
  def q153AnnIvfIndexed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopKIndexed(
      IvfIndexTables.ensure(s, dir),
      Tables.embeddings(s, dir).filter(col("vec_id") < 8), k = 10)

  /** q238: SEMANTIC admission (operators.Similarity.admitEmbedding) —
    * the embedding member of the admission family: an arriving vector
    * batch (vec_id % 7 == 3, the deterministic split) is screened
    * against the rest of the corpus through the IVF cell index; a batch
    * vector is admitted iff no indexed vector sits within cosine ≥ 0.3
    * of it. SemDeDup pointed at ingest — rejects the paraphrase whose
    * TEXT passed q67/q96/q103's lexical screens.
    *
    * Round 14: BOTH assignment passes run the TWO-LEVEL quantizer route
    * (Similarity.rankCellsTwoLevel, nSuper=4 / cSuper=3) — corpus index
    * build via ivfIndexFramesTwoLevel and the batch's 4-probe ranking —
    * so the admission path carries the nList >> broadcast posture
    * end-to-end: only the 4 super-centroids broadcast; the centroid
    * table joins shuffle_hash on the super-cell id. The oracle replays
    * the COMPOSED assignment exactly: centroid→super rank-1, vector→
    * top-3 supers, rank among member centroids of the probed supers —
    * then the probed-cells-only candidate join and the hit count.
    */
  def q238AdmitEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    val batch = emb.filter(col("vec_id") % 7 === 3)
    graft.operators.Similarity.admitEmbedding(batch,
      graft.operators.Similarity.ivfIndexFramesTwoLevel(corpus, nList = 16,
        nSuper = 4, cSuper = 3),
      threshold = 0.3, nProbe = 4, nSuper = 4, cSuper = 3)
  }

  /** q155: the persisted IVF index GROWN by admission instead of rebuilt.
    * The base index is built from a deterministic slice of the corpus
    * (everything with an even vec_id, plus all centroid ids so the frozen
    * quantizer is identical to the full build's); the remaining vectors
    * then arrive as a new batch through Similarity.appendIvfIndexSaved —
    * assigned under the frozen centroids with one broadcast pass and
    * APPENDED into the bucketed cell table, the corpus side never
    * re-shuffling. A probe of the grown index must equal q28's direct
    * answer bit-for-bit (cell assignment depends only on the centroids),
    * so the query runs under q28's own oracle: the incremental-admission
    * counterpart of q153, and the vector-index analog of q67→q103.
    */
  def q155AnnIvfAppend(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopKIndexed(
      IvfAppendTables.ensure(s, dir),
      Tables.embeddings(s, dir).filter(col("vec_id") < 8), k = 10)

  /** q156: the FULL index lifecycle under one hash gate — build the base
    * IVF index, admit the remaining vectors by bucketed append (q155),
    * then COMPACT the cell table back to one file per bucket
    * (Sinks.compactBucketedTable, the shuffle-free rewrite) and probe.
    * Still q28's own oracle: compaction is physical layout only, so the
    * probe must stay bit-identical through build → admit → compact. This
    * is the maintenance loop a 100 TB vector corpus actually runs, each
    * stage oracle-pinned.
    */
  def q156AnnIvfCompact(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopKIndexed(
      IvfCompactTables.ensure(s, dir),
      Tables.embeddings(s, dir).filter(col("vec_id") < 8), k = 10)

  /** q157: the dedup-index lifecycle under the gate — rolling exact
    * admission where each arriving batch is screened against the corpus
    * index GROWN by every earlier batch's admissions
    * (Dedup.admitRollingExact: bucketed anti-join screen, q155-style
    * bucketed append of the newly-seen fingerprints). The new docs arrive
    * as three ascending doc_id ranges, so the rolling result is exactly
    * "the first new document per fingerprint unseen in the corpus" — one
    * batch-split-independent SQL statement, hash-checked. Rebuilt
    * deterministically on every call (no fixture state to go stale).
    */
  /** q254: the rolling admission ACROSS an epoch-ledger fold (round 17,
    * verdict ask #4 made query-surface) — three batches admit, the whole
    * committed ledger folds into its base epoch
    * (Dedup.foldRollingAdmissions: index compacted + orphan-GC'd, result
    * table rewritten through the committed remap, folded markers
    * dropped, allocation high-water recorded), then a FOURTH batch
    * admits into the folded lifecycle. The final probe must equal the
    * never-folded admission of the same four batches — q157's
    * batch-split-independent oracle verbatim is exactly that statement,
    * so the hash gate IS the fold's probe-equality proof, on top of
    * IndexCommitsSpec's row-set/ledger invariants.
    */
  def q254AdmitFold(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val isNew = col("source").isin(Curation.NewBatchSources: _*)
    val news = docs.filter(isNew).select("doc_id", "text")
    val mx = news.agg(max("doc_id")).head().getLong(0)
    val q = mx / 4
    val batches = (0 until 4).map(i =>
      news.filter(
        (if (i == 0) lit(true) else col("doc_id") > i * q) &&
        (if (i == 3) lit(true) else col("doc_id") <= (i + 1) * q)))
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val base = s"graft_rollfold_$tag"
    graft.operators.Dedup.admitRollingExact(
      docs.filter(!isNew), batches.take(3), base)
    graft.operators.Dedup.foldRollingAdmissions(s, base, Long.MaxValue)
    graft.operators.Dedup.admitRollingMore(Seq(batches(3)), base)
  }

  def q157AdmitRolling(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val isNew = col("source").isin(Curation.NewBatchSources: _*)
    val news = docs.filter(isNew).select("doc_id", "text")
    val mx = news.agg(max("doc_id")).head().getLong(0)
    val batches = Seq(
      news.filter(col("doc_id") <= mx / 3),
      news.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * (mx / 3)),
      news.filter(col("doc_id") > 2 * (mx / 3)))
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    graft.operators.Dedup.admitRollingExact(
      docs.filter(!isNew), batches, s"graft_rolladm_$tag")
  }

  /** q100/q101/q102: driver-checkable tolerance gates for the three
    * sketch queries (q44 HLL distincts, q54 approx median, q76 approx
    * profile) that are otherwise rows-only. The trick: every EXACT stat
    * in the output is SQL-expressible, and the sketch estimate appears
    * only through a BOOLEAN banded-ok column whose oracle value is TRUE —
    * so the driver's hash compare verifies the band. Spark's sketches are
    * deterministic (HLL registers merge by max; KLL quantile merge is
    * order-stable under AQE's fixed partitioning), so the booleans are
    * stable run-to-run at a given sf.
    */
  def q100HllBanded(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // separate single-DISTINCT passes (the Profile.numericProfile
    // Expand-avoidance shape), fused driver-side as plain jobs — a
    // broadcast-stitched full-scan agg would run on the broadcast-build
    // thread pool (the q76 under-load trap, see Profile.eagerOneRow)
    // default rsd 0.05 -> a 10 % band is 2 sigma; integer arithmetic only
    Profile.eagerOneRow(Seq(
      li.agg(count_distinct(col("l_partkey")).as("n_parts")),
      li.agg(count_distinct(col("l_orderkey")).as("n_orders")),
      li.agg(count(lit(1)).as("n_rows")),
      li.agg(
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"))))
      .select(col("n_parts"), col("n_orders"), col("n_rows"),
        (abs(col("ap") - col("n_parts")) * 10 <= col("n_parts")).as("parts_ok"),
        (abs(col("ao") - col("n_orders")) * 10 <= col("n_orders")).as("orders_ok"))
  }

  /** q54's sketch median gated against the exact p40..p60 VALUE band —
    * vastly wider than the sketch's 1e-4 rank error, yet still a real
    * per-group assertion the oracle can state as TRUE.
    *
    * Exact ranks ride [[StratifiedSelect.chunkedPrefix]] (the q79 shape),
    * NOT `Window.partitionBy(o_orderpriority)`: the priority column has 5
    * values, so the window formulation is five single-task sorts of the
    * whole orders table — the exact stratum-sort cliff chunkedPrefix
    * exists to remove.
    */
  def q101MedianBanded(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select("o_orderpriority", "o_totalprice", "o_orderkey")
    val ranked = StratifiedSelect.chunkedPrefix(base,
      stratum = "o_orderpriority", primary = "o_totalprice", desc = false,
      tieBreak = Seq(col("o_orderkey")), value = lit(1L), nChunks = nChunks(s))
    val med = ranked
      .filter(col("rn") === expr("(n_stratum + 1) DIV 2") ||
              col("rn") === expr("(n_stratum + 2) DIV 2"))
      .groupBy("o_orderpriority")
      .agg((sum("o_totalprice") / count(lit(1))).as("median_price"))
    val band = ranked
      .filter(col("rn") === expr("(2 * n_stratum + 4) DIV 5") ||
              col("rn") === expr("(3 * n_stratum + 4) DIV 5"))
      .groupBy("o_orderpriority")
      .agg(min(when(col("rn") === expr("(2 * n_stratum + 4) DIV 5"), col("o_totalprice"))).as("lo"),
           min(when(col("rn") === expr("(3 * n_stratum + 4) DIV 5"), col("o_totalprice"))).as("hi"))
    val approx = Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("am"))
    med.join(band, "o_orderpriority").join(approx, "o_orderpriority")
      .select(col("o_orderpriority"), col("median_price"),
        (col("am") >= col("lo") && col("am") <= col("hi")).as("approx_ok"))
  }

  /** q76's approx profile gated per column: the exact stats ARE the q68
    * profile (hash-verified directly); the HLL estimate appears only as
    * the 2 %-band boolean the IntegrationSpec bound promoted into the
    * driver-visible gate.
    */
  def q102ProfileBanded(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // ONE projected scan kept across all 7 aggregate passes (shared
    // scalar pass + 4 exact DISTINCTs + the approx twin's 2): without it
    // the query re-reads lineitem per pass, and the repeated IO dominates
    // under contention (measured ×17 on a loaded host). The projection is
    // 4 doubles/row, so the copy is a small fraction of the source table
    // at any sf; at 100 TB this is exactly the "project then profile"
    // shape the Profile scaladoc prescribes. The copy is stored before the
    // profile's concurrent passes start; profile construction is eager, so
    // every pass is done when it returns and the copy is freed right here.
    val proj = Checkpoints.local(Tables.lineitem(s, dir).select(cols.map(col): _*),
      eager = true)
    try Profile.numericProfileBanded(proj, cols, bandInv = 50)
    finally Checkpoints.free(proj)
  }

  /** q105: the q100-q102 banded trick applied to the LAST rows-only query
    * family — a driver-checkable RECALL gate for q25's MinHash+LSH
    * banding (32 hashes, 8 bands, ≥2 collisions). The exact blocked
    * unigram-Jaccard pair set (q24's semantics) restricted to q25's en
    * slice is SQL-expressible and appears as the exact column; the LSH
    * result enters only through the recall_ok boolean (oracle value
    * TRUE). MinHash signatures are seed-fixed and the band walk
    * deterministic, so the boolean is stable at a given sf — DedupSpec's
    * sf0.001 recall assertion promoted into the driver-visible gate at
    * every sf the driver runs. Measured: 0.974 / 0.955 / 0.973 at
    * sf0.001/0.01/0.1 against the 0.8 gate.
    *
    * Deliberately UNCAPPED (no maxBucketSize): the gate measures the
    * banding math over every true pair. Uncapped is affordable because
    * the walk is Dedup.minhashLshDistinct (round 9): bucket² runs in
    * DISTINCT shingle sets, so the fixture's ~930-member boilerplate
    * buckets collapse to their distinct contents and the full-recall
    * configuration stops being the quadratic blowup it was with the
    * doc-level walk (q25's history: 9.4 s capped-vs-recall dilemma →
    * 0.4 s with no dilemma). The cap + `graft_q25_bucket_cap` metrics
    * remain available on both walks for corpora whose distinct-content
    * clusters are themselves degenerate.
    *
    * Scale shape: the exact side keeps q24's O(block²) contract (it IS the
    * audit — at production scale you run it on a sampled slice); the
    * comparison is ONE left join on (doc_id_a, doc_id_b) counting exact
    * and found in the same aggregate.
    */
  def q105LshRecallBanded(s: SparkSession, dir: String): DataFrame = {
    val en = Tables.documents(s, dir).filter(col("lang") === "en")
    // blocked exact pairs (q24) restricted to the en slice: blocking is on
    // (lang, source), so doc_id_a's lang decides the pair's block lang
    val exactEn = Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.8)
      .join(en.select(col("doc_id").as("doc_id_a")), Seq("doc_id_a"), "left_semi")
    // q25's devices: the distinct-content LSH walk (row-identical to the
    // doc-level one, bucket² in distinct sets) and the one-pass
    // exact/found count over the duplicate-free pair list
    val lsh = Dedup.minhashLshDistinct(en, shingleSize = 1, numHashes = 32,
        bands = 8, threshold = 0.8, minBandCollisions = 2)
      .select(col("doc_id_a"), col("doc_id_b"), lit(1).as("__f"))
    exactEn.join(lsh, Seq("doc_id_a", "doc_id_b"), "left_outer")
      .agg(count(lit(1)).as("n_exact_pairs"), count(col("__f")).as("n_found"))
      .select(col("n_exact_pairs"),
        (col("n_found") * 10L >= col("n_exact_pairs") * 8L).as("recall_ok"))
  }

  /** q106: cross-source contamination matrix — for every source pair, how
    * many distinct winnowing fingerprints (q51's MOSS scheme) they share.
    * The first question a curation owner asks before mixing sources: which
    * ones already overlap, and how much. Exact-fingerprint overlap is too
    * sparse to rank on (8 shared md5s in the whole sf0.1 corpus); winnow
    * fingerprints measure shared PASSAGES, which is the contamination that
    * matters.
    *
    * Scale shape: distinct (source, fp) is one shuffle; after it each fp
    * appears at most n_sources times, so the self-join on fp fans out
    * ≤ n_sources² rows per fingerprint — quadratic in SOURCES (tens), never
    * in documents. No broadcast of anything corpus-sized.
    */
  def q106SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(s, dir).select(
        col("source"),
        explode(graft.functions.WinnowFingerprint.winnow(col("text"))).as("fp"))
      .distinct()
    fps.select(col("fp"), col("source").as("source_a"))
      .join(fps.select(col("fp"), col("source").as("source_b")), "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_hll_banded"           -> (q100HllBanded _),
    "q101_median_banded"        -> (q101MedianBanded _),
    "q102_profile_banded"       -> (q102ProfileBanded _),
    "q103_admit_indexed"        -> (q103AdmitIndexed _),
    "q153_ann_ivf_indexed"      -> (q153AnnIvfIndexed _),
    "q238_admit_embedding"      -> (q238AdmitEmbedding _),
    "q155_ann_ivf_append"       -> (q155AnnIvfAppend _),
    "q156_ann_ivf_compact"      -> (q156AnnIvfCompact _),
    "q157_admit_rolling"        -> (q157AdmitRolling _),
    "q254_admit_fold"           -> (q254AdmitFold _),
    "q105_lsh_recall_banded"    -> (q105LshRecallBanded _),
    "q106_source_overlap"       -> (q106SourceOverlap _),
    "q96_admit_map_free"        -> (q96AdmitMapFree _),
    "q95_decontam_bloom"        -> (q95DecontamBloom _),
    "q91_equidepth_hist"        -> (q91EquidepthHist _),
    "q72_token_budget_scaled"   -> (q72TokenBudgetScaled _),
    "q73_quantile_filter_scaled" -> (q73QuantileFilterScaled _),
    "q74_sequence_pack_scaled"  -> (q74SequencePackScaled _),
    "q75_bucketed_join"         -> (q75BucketedJoin _),
    "q76_profile_approx"        -> (q76ProfileApprox _),
    "q77_dedup_resolve_star"    -> (q77DedupResolveStar _),
    "q78_media_dims"            -> (q78MediaDims _),
    "q79_median_scaled"         -> (q79MedianScaled _),
    "q211_rank_select"          -> (q211RankSelect _),
    "q115_topk_heap"            -> (q115TopkHeap _),
    "q119_ann_topk_heap"        -> (q119AnnTopkHeap _),
    "q224_hard_negatives"       -> (q224HardNegatives _),
    "q223_random_projection"    -> (q223RandomProjection _),
    "q129_mutual_align"         -> (q129MutualAlign _),
    "q134_mutual_align_ivf"     -> (q134MutualAlignIvf _),
    "q131_mad_outliers"         -> (q131MadOutliers _))

  /** The twins deliberately REUSE their exact counterpart's oracle string:
    * one oracle, two plans — the equality proof is the point. q76 has no
    * oracle (sketch), matching q44's precedent.
    */
  val oracles: Map[String, String] = Map(
    // the COMPOSED two-level quantizer replay over the corpus slice
    // (centroid→super rank-1, vector→top-3 supers, rank-1 among member
    // centroids) + the batch's two-level 4-probe ranking +
    // probed-cells-only hit count
    "q238_admit_embedding" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |corpus AS (SELECT * FROM v WHERE vec_id % 7 <> 3),
        |b AS (SELECT * FROM v WHERE vec_id % 7 = 3),
        |c AS (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id < 16),
        |sc AS (SELECT cid AS sid, ce AS se FROM c WHERE cid < 4),
        |ca AS (
        |  SELECT cid, ce, sid FROM (
        |    SELECT c.cid, c.ce, sc.sid,
        |      ROW_NUMBER() OVER (PARTITION BY c.cid
        |        ORDER BY list_dot_product(c.ce, sc.se)
        |          / (sqrt(list_dot_product(c.ce, c.ce))
        |             * sqrt(list_dot_product(sc.se, sc.se))) DESC,
        |          sc.sid ASC) AS rn
        |    FROM c CROSS JOIN sc) t
        |  WHERE rn = 1),
        |vsup AS (
        |  SELECT vec_id, e, sid FROM (
        |    SELECT corpus.vec_id, corpus.e, sc.sid,
        |      ROW_NUMBER() OVER (PARTITION BY corpus.vec_id
        |        ORDER BY list_dot_product(corpus.e, sc.se)
        |          / (sqrt(list_dot_product(corpus.e, corpus.e))
        |             * sqrt(list_dot_product(sc.se, sc.se))) DESC,
        |          sc.sid ASC) AS rn
        |    FROM corpus CROSS JOIN sc) t
        |  WHERE rn <= 3),
        |assigned AS (
        |  SELECT vec_id, e, cid FROM (
        |    SELECT vsup.vec_id, vsup.e, ca.cid,
        |      ROW_NUMBER() OVER (PARTITION BY vsup.vec_id
        |        ORDER BY list_dot_product(vsup.e, ca.ce)
        |          / (sqrt(list_dot_product(vsup.e, vsup.e))
        |             * sqrt(list_dot_product(ca.ce, ca.ce))) DESC,
        |          ca.cid ASC) AS rn
        |    FROM vsup JOIN ca ON vsup.sid = ca.sid) t
        |  WHERE rn = 1),
        |bsup AS (
        |  SELECT vec_id, e, sid FROM (
        |    SELECT b.vec_id, b.e, sc.sid,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |        ORDER BY list_dot_product(b.e, sc.se)
        |          / (sqrt(list_dot_product(b.e, b.e))
        |             * sqrt(list_dot_product(sc.se, sc.se))) DESC,
        |          sc.sid ASC) AS rn
        |    FROM b CROSS JOIN sc) t
        |  WHERE rn <= 3),
        |probes AS (
        |  SELECT vec_id, e, cid FROM (
        |    SELECT bsup.vec_id, bsup.e, ca.cid,
        |      ROW_NUMBER() OVER (PARTITION BY bsup.vec_id
        |        ORDER BY list_dot_product(bsup.e, ca.ce)
        |          / (sqrt(list_dot_product(bsup.e, bsup.e))
        |             * sqrt(list_dot_product(ca.ce, ca.ce))) DESC,
        |          ca.cid ASC) AS rk
        |    FROM bsup JOIN ca ON bsup.sid = ca.sid) t
        |  WHERE rk <= 4),
        |hits AS (
        |  SELECT p.vec_id,
        |    CASE WHEN a.vec_id IS NOT NULL AND
        |      list_dot_product(p.e, a.e)
        |        / (sqrt(list_dot_product(p.e, p.e))
        |           * sqrt(list_dot_product(a.e, a.e))) >= 0.3
        |    THEN 1 ELSE 0 END AS hit
        |  FROM probes p LEFT JOIN assigned a ON p.cid = a.cid)
        |SELECT vec_id, CAST(SUM(hit) AS BIGINT) AS n_neardup,
        |  SUM(hit) = 0 AS admitted
        |FROM hits GROUP BY vec_id""".stripMargin,
    // q48's middle-rank formula twice (x, then |x - median|), then the
    // 3*MAD fence count — same expression shapes on both engines
    "q131_mad_outliers" ->
      """WITH b AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |    doc_id
        |  FROM documents WHERE text IS NOT NULL),
        |r1 AS (
        |  SELECT source, x,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM b),
        |med AS (
        |  SELECT source, SUM(x) / COUNT(*) AS m FROM r1
        |  WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
        |     OR rn = CAST(FLOOR((n + 2) / 2.0) AS BIGINT)
        |  GROUP BY source),
        |d AS (
        |  SELECT b.source, b.doc_id, med.m, ABS(b.x - med.m) AS dev
        |  FROM b JOIN med USING (source)),
        |r2 AS (
        |  SELECT source, dev,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |mad AS (
        |  SELECT source, SUM(dev) / COUNT(*) AS mad FROM r2
        |  WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
        |     OR rn = CAST(FLOOR((n + 2) / 2.0) AS BIGINT)
        |  GROUP BY source)
        |SELECT d.source, MIN(d.m) AS median_tokens, MIN(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (source)
        |GROUP BY d.source""".stripMargin,
    // both directional argmaxes as rank-1 windows, intersected; cosine
    // formula identical to q27's (list_dot_product fold = aggregate fold)
    "q129_mutual_align" -> MutualAlignOracle,
    // the IVF-path twin replays the IDENTICAL mutual-argmax oracle —
    // one semantics, two plans (broadcast cross vs cell-keyed union)
    "q134_mutual_align_ivf" -> MutualAlignOracle,
    // banded sketch gates: exact stats verbatim from the exact oracles,
    // sketch estimates surfaced ONLY as booleans the oracle states as TRUE
    "q100_hll_banded" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_rows,
        |  TRUE AS parts_ok, TRUE AS orders_ok
        |FROM lineitem""".stripMargin,
    "q101_median_banded" ->
      s"SELECT t.*, TRUE AS approx_ok FROM (\n${Relational3.oracles("q48_median")}\n) t",
    "q102_profile_banded" ->
      s"SELECT t.*, TRUE AS nd_ok FROM (\n${Curation.oracles("q68_profile")}\n) t",
    // the q68 per-column profile shape over the orders numeric columns,
    // with the sketch estimate surfaced only as the TRUE nd_ok boolean
    "q76_profile_approx" -> Seq("o_totalprice", "o_custkey", "o_orderkey")
      .map(c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n_non_null,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_val,
           |  CAST(MAX($c) AS DOUBLE) AS max_val,
           |  TRUE AS nd_ok
           |FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n"),
    "q96_admit_map_free"         -> Curation.oracles("q67_incremental_admit"),
    "q103_admit_indexed"         -> Curation.oracles("q67_incremental_admit"),
    "q153_ann_ivf_indexed"       -> Extensions.oracles("q28_ann_ivf"),
    "q155_ann_ivf_append"        -> Extensions.oracles("q28_ann_ivf"),
    "q156_ann_ivf_compact"       -> Extensions.oracles("q28_ann_ivf"),
    // rolling admission over ascending doc_id batches == "first new doc
    // per fingerprint unseen in the corpus" — batch-split independent
    // q254 declares q157's oracle VERBATIM: the rolling result is
    // batch-split-independent, and a ledger fold must not change the
    // probe — so "same SQL, hash-equal" is the fold-equality proof
    "q254_admit_fold" -> {
      val inList = Curation.NewBatchSources.map(x => s"'$x'").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT DISTINCT md5(text) AS xfp FROM documents
         |  WHERE text IS NOT NULL AND source NOT IN ($inList)),
         |news AS (
         |  SELECT doc_id, md5(text) AS xfp FROM documents
         |  WHERE text IS NOT NULL AND source IN ($inList)),
         |firsts AS (SELECT xfp, MIN(doc_id) AS doc_id FROM news GROUP BY xfp)
         |SELECT f.doc_id, f.xfp FROM firsts f
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.xfp = f.xfp)""".stripMargin
    },
    "q157_admit_rolling" -> {
      val inList = Curation.NewBatchSources.map(x => s"'$x'").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT DISTINCT md5(text) AS xfp FROM documents
         |  WHERE text IS NOT NULL AND source NOT IN ($inList)),
         |news AS (
         |  SELECT doc_id, md5(text) AS xfp FROM documents
         |  WHERE text IS NOT NULL AND source IN ($inList)),
         |firsts AS (SELECT xfp, MIN(doc_id) AS doc_id FROM news GROUP BY xfp)
         |SELECT f.doc_id, f.xfp FROM firsts f
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.xfp = f.xfp)""".stripMargin
    },
    // exact blocked en pairs are SQL-expressible; the LSH result enters
    // only through recall_ok, which the oracle states as TRUE
    "q105_lsh_recall_banded" ->
      s"""WITH ${Extensions.unigramPairCtes}
         |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM p JOIN t ON p.da = t.doc_id
         |WHERE t.lang = 'en'""".stripMargin,
    // q51's fingerprint CTEs joined back to source, then the tiny
    // source-pair self-join
    "q106_source_overlap" ->
      s"""WITH sf AS (
         |  SELECT DISTINCT d.source, f.fp
         |  FROM (
         |${Extensions.oracles("q51_winnow_fp")}
         |) f JOIN documents d USING (doc_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared_fps
         |FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q95_decontam_bloom"         -> Extensions.oracles("q57_decontam"),
    "q91_equidepth_hist" ->
      """WITH ranked AS (
        |  SELECT o_totalprice,
        |    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM orders)
        |SELECT CAST((rn - 1) * 10 // n AS INTEGER) + 1 AS decile,
        |  COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
        |FROM ranked GROUP BY 1""".stripMargin,
    "q72_token_budget_scaled"    -> Extensions.oracles("q61_token_budget"),
    "q73_quantile_filter_scaled" -> Curation.oracles("q66_quantile_filter"),
    "q74_sequence_pack_scaled"   -> Curation.oracles("q71_sequence_pack"),
    "q75_bucketed_join"          -> Relational.oracles("q03_join_agg"),
    "q77_dedup_resolve_star"     -> Extensions.oracles("q58_dedup_resolve"),
    "q79_median_scaled"          -> Relational3.oracles("q48_median"),
    "q211_rank_select"           -> Relational3.oracles("q48_median"),
    "q115_topk_heap"             -> Relational.oracles("q16_topk_per_group"),
    "q119_ann_topk_heap"         -> Extensions.oracles("q27_ann_topk"),
    // sign matrix re-derived from the md5 parity formula; floor-to-1e-12
    // fixed-point LONG terms make the sum order-independent and
    // engine-exact (floor of a double is, where the double->decimal
    // cast's 16th-decimal rounding was not)
    "q223_random_projection" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |pos AS (SELECT vec_id, t.i, u.j, e[t.i] AS x
        |        FROM v, range(1, 65) t(i), range(0, 16) u(j)),
        |s AS (SELECT vec_id, j,
        |        CAST(floor((CASE WHEN ('0x' || substring(md5('rp:'
        |            || CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)),
        |            1, 1))::INT % 2 = 0
        |          THEN x ELSE -x END) * 1000000000000.0) AS BIGINT) AS term
        |      FROM pos)
        |SELECT vec_id, CAST(j AS INTEGER) AS j,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / 1000000000000.0, 6) AS rp
        |FROM s GROUP BY vec_id, j""".stripMargin,
    // q27's float contract with the label-mismatch predicate in the join
    "q224_hard_negatives" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |  q AS (SELECT vec_id AS qid, label AS qlbl, e AS qe FROM v WHERE vec_id < 8),
        |  scored AS (
        |    SELECT q.qid, v.vec_id, v.label,
        |      list_dot_product(q.qe, v.e)
        |        / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.e, v.e)))
        |        AS cos
        |    FROM q JOIN v ON v.vec_id <> q.qid AND v.label <> q.qlbl)
        |SELECT qid, rank, vec_id AS negative_id, label AS neg_label,
        |  ROUND(cos, 6) AS cos_sim FROM (
        |  SELECT qid, vec_id, label, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |         AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    "q78_media_dims" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE NULL END AS format,
        |  CASE WHEN doc_id % 12 = 0 OR doc_id % 3 = 2 THEN NULL
        |       ELSE CAST(16 + doc_id % 1000 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 12 = 0 OR doc_id % 3 = 2 THEN NULL
        |       ELSE CAST(16 + (doc_id * 7) % 1000 AS INTEGER) END AS height,
        |  doc_id % 3 IN (0, 1) AND doc_id % 12 <> 0 AS ok
        |FROM documents""".stripMargin)
}

/** Bucketed twins of the fixture fact tables, written once per
  * (session, sf-dir) through sources.Sinks.parquetBucketed and memoized —
  * the bench's timed runs then exercise the READ path, the way a
  * production pipeline pays its ingest shuffle once. Table names embed a
  * hash of the source dir so two scale factors in one JVM (the test
  * suite) never collide.
  */
/** The corpus AdmissionIndex persisted as bucketed tables, written once per
  * (session, sf-dir) through Dedup.saveAdmissionIndex and memoized — q103's
  * static side (same dir-hash naming and stale-leftover handling as
  * BucketedTables below).
  */
private[queries] object AdmissionIndexTables {
  def ensure(s: SparkSession, dir: String): graft.operators.Dedup.AdmissionIndex =
    synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val base = s"graft_admidx_$tag"
      val names = s"${base}_exact" +: (0 until 4).map(b => s"${base}_band$b")
      if (!names.forall(s.catalog.tableExists)) {
        names.foreach { t =>
          if (!s.catalog.tableExists(t)) {
            val wh = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t)
            val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fs.exists(wh)) fs.delete(wh, true)
          }
        }
        val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        val corpus = docs.filter(!col("source").isin(Curation.NewBatchSources: _*))
        Dedup.saveAdmissionIndex(corpus, base, numBuckets = 32)
      }
      graft.operators.Dedup.AdmissionIndex(
        s.table(s"${base}_exact"), (0 until 4).map(b => s.table(s"${base}_band$b")))
    }
}

private[queries] object IvfIndexTables {
  def ensure(s: SparkSession, dir: String): graft.operators.Similarity.IvfIndex =
    synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val base = s"graft_ivfidx_$tag"
      val names = Seq(s"${base}_cents", s"${base}_cells")
      val complete = names.forall(s.catalog.tableExists) &&
        s.table(s"${base}_cells").columns.contains("epoch") &&
        graft.sources.IndexCommits.committed(s, base).nonEmpty
      if (!complete) {
        names.filter(s.catalog.tableExists)
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        names.foreach { t =>
          if (!s.catalog.tableExists(t)) {
            val wh = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t)
            val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fs.exists(wh)) fs.delete(wh, true)
          }
        }
        graft.operators.Similarity.saveIvfIndex(
          Tables.embeddings(s, dir), base, nList = 16, numBuckets = 32)
      }
      graft.operators.Similarity.loadIvfIndex(s, base)
    }
}

/** q156's lifecycle index: q155's build-then-append, then the cell table
  * compacted back to one file per bucket. Compaction is physical layout
  * only, so the completeness check (cells cover the corpus) still guards
  * the build block; the file-count check (≤ numBuckets parquet files)
  * distinguishes "appended" from "appended then compacted", so a crash
  * between append and compact rebuilds rather than serving the
  * uncompacted layout as if it were the gated one.
  */
private[queries] object IvfCompactTables {
  def ensure(s: SparkSession, dir: String): graft.operators.Similarity.IvfIndex =
    synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val base = s"graft_ivfcmp_$tag"
      val names = Seq(s"${base}_cents", s"${base}_cells")
      val emb = Tables.embeddings(s, dir)
      val numBuckets = 32
      def cellFiles(): Long = {
        val loc = new org.apache.hadoop.fs.Path(java.net.URI.create(
          s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(s"${base}_cells"))
            .location.toString))
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(loc).count(_.getPath.getName.endsWith(".parquet")).toLong
      }
      val complete = names.forall(s.catalog.tableExists) &&
        s.table(s"${base}_cells").columns.contains("epoch") &&
        graft.sources.IndexCommits.committed(s, base).nonEmpty &&
        graft.operators.Similarity.loadIvfIndex(s, base)
          .assigned.count() == emb.count() &&
        cellFiles() <= numBuckets
      if (!complete) {
        names.filter(s.catalog.tableExists)
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        names.foreach { t =>
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), t)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
        }
        val isBase = col("vec_id") < 16 || pmod(col("vec_id"), lit(2L)) === 0
        graft.operators.Similarity.saveIvfIndex(
          emb.filter(isBase), base, nList = 16, numBuckets = numBuckets)
        graft.operators.Similarity.appendIvfIndexSaved(
          emb.filter(!isBase), base, numBuckets = numBuckets)
        graft.sources.Sinks.compactBucketedTableCommitted(s,
          s"${base}_cells", base)
      }
      graft.operators.Similarity.loadIvfIndex(s, base)
    }
}

/** q155's grown index: built from the even-vec_id slice (plus all
  * centroid ids, so the frozen quantizer equals the full build's), then
  * the odd slice admitted through Similarity.appendIvfIndexSaved. Same
  * dir-hash naming and once-per-(warehouse, sf-dir) build as
  * IvfIndexTables; the append happens exactly once, in the same guarded
  * block as the base build.
  */
private[queries] object IvfAppendTables {
  def ensure(s: SparkSession, dir: String): graft.operators.Similarity.IvfIndex =
    synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val base = s"graft_ivfapp_$tag"
      val names = Seq(s"${base}_cents", s"${base}_cells")
      val emb = Tables.embeddings(s, dir)
      // a crash between the base build and the append leaves both tables
      // present but the cell table half-built — verify completeness by
      // row count (cells must cover the whole corpus), not just existence
      val complete = names.forall(s.catalog.tableExists) &&
        s.table(s"${base}_cells").columns.contains("epoch") &&
        graft.sources.IndexCommits.committed(s, base).nonEmpty &&
        graft.operators.Similarity.loadIvfIndex(s, base)
          .assigned.count() == emb.count()
      if (!complete) {
        names.filter(s.catalog.tableExists)
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        names.foreach { t =>
          if (!s.catalog.tableExists(t)) {
            val wh = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t)
            val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fs.exists(wh)) fs.delete(wh, true)
          }
        }
        val isBase = col("vec_id") < 16 || pmod(col("vec_id"), lit(2L)) === 0
        graft.operators.Similarity.saveIvfIndex(
          emb.filter(isBase), base, nList = 16, numBuckets = 32)
        graft.operators.Similarity.appendIvfIndexSaved(
          emb.filter(!isBase), base, numBuckets = 32)
      }
      graft.operators.Similarity.loadIvfIndex(s, base)
    }
}

private[queries] object BucketedTables {
  def ensure(s: SparkSession, dir: String): (String, String) = synchronized {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val lTbl = s"graft_lineitem_bkt_$tag"
    val oTbl = s"graft_orders_bkt_$tag"
    // catalog-checked, not memoized: table registration is session-scoped,
    // so a fresh session in the same JVM re-writes rather than trusting a
    // stale JVM-global flag
    if (!s.catalog.tableExists(lTbl) || !s.catalog.tableExists(oTbl)) {
      // a dead JVM leaves the managed location on disk with no catalog
      // entry (the in-memory catalog dies with it), and saveAsTable
      // refuses to clobber an unregistered location — these names are
      // graft-owned and content-deterministic, so clear stale leftovers
      Seq(lTbl, oTbl).foreach { t =>
        if (!s.catalog.tableExists(t)) {
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), t)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
        }
      }
      graft.sources.Sinks.parquetBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        lTbl, "l_orderkey", numBuckets = 8)
      graft.sources.Sinks.parquetBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        oTbl, "o_orderkey", numBuckets = 8)
    }
    (lTbl, oTbl)
  }
}
