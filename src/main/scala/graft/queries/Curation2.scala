package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Checkpoints, Dedup, Similarity, TextChunks}

/** Round-5 curation additions: line-level boilerplate removal (CCNet
  * pattern), sliding-window document chunking, int8 embedding
  * quantization audit, and source-mixture reweighting — the remaining
  * restructure/prepare stages of a training-data pipeline. Each carries a
  * full DuckDB oracle; the boilerplate fixture plants deterministic
  * synthetic lines (the q62 pattern) because the word-soup fixture has no
  * newlines of its own.
  */
object Curation2 {

  /** q85: line-level boilerplate strip. The fixture docs are single-line,
    * so two synthetic lines are appended first, deterministically from
    * doc_id: `boiler_<doc_id % 7>` (shared by ~1/7 of the corpus — a nav
    * bar) and `rare_<doc_id>` (unique — real content). With maxDf = 5 the
    * boiler lines and the original word-soup dupes drop; rare lines and
    * unique soup survive in original order. The oracle rebuilds the same
    * planted text and the same doc-frequency rule over raw lines (Spark
    * keys the frequency agg on xxhash64(line) — the hash-set contract).
    */
  def q85BoilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), concat(
        col("text"), lit("\n"),
        lit("boiler_"), (col("doc_id") % 7).cast("string"), lit("\n"),
        lit("rare_"), col("doc_id").cast("string")).as("text"))
    TextChunks.stripFrequentLines(planted, maxDf = 5)
  }

  /** q241: HTML/markup-aware text extraction feeding the line-level
    * boilerplate strip — the tag-level stage (script/style/comment
    * removal, CDATA unwrap, block-tag→newline, entity decode:
    * functions.Html.htmlExtract) that runs BEFORE line dedup on web
    * corpora, composed with q85's stripFrequentLines in the
    * CCNet/trafilatura order. The fixture has no markup, so each doc is
    * wrapped in a deterministic hostile-ish page (q85's planting device):
    * a script whose body contains a bare `<`, a style block, a comment,
    * a CDATA section and a nav div keyed on doc_id mod (line-frequent →
    * stripped downstream), an entity-laced line unique per doc (decode
    * lands in the hash-checked output, including the `&amp;amp;` →
    * literal `&amp;` double-encoding case and the numeric
    * `&#76;`/`&#x4d;` printable-ASCII references), and an every-doc
    * footer. The oracle rebuilds the page and replays the IDENTICAL
    * rewrite — GENERATED from Html.RegexSteps/EntitySteps via
    * Html.htmlExtractSql (engine-agreed by construction: `\z` not `$`,
    * explicit whitespace class not `\s`, literal entity replaces
    * &-producers-last) — plus q85's line-frequency SQL.
    */
  def q241HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val extracted = hostilePage(Tables.documents(s, dir)
        .filter(col("text").isNotNull))
      .select(col("doc_id"),
        graft.functions.Html.htmlExtract(col("text")).as("text"))
    TextChunks.stripFrequentLines(extracted, maxDf = 5)
  }

  /** q241/q244's deterministic hostile page wrap (the fixture corpus has
    * no markup — q85's planting device): a script whose body contains a
    * bare `<`, a style block, a comment, a CDATA section and a nav div
    * keyed on doc_id mods (line-frequent → stripped by the line stage),
    * a per-doc entity-laced line (named + double-encoded + numeric
    * refs), an every-doc footer. lang/source carried for the pipeline
    * stages that stratify on them. [[hostilePageSql]] is the same wrap
    * as a DuckDB CTE body — the two renderings are pinned to each other
    * by the q241/q244 hash gates.
    */
  private def hostilePage(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"), concat(
      lit("<html><!-- nav follows --><head>" +
        "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
        "<style>p { color: red }</style></head><body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"), lit("</p><![CDATA[cdata_"),
      (col("doc_id") % 3).cast("string"),
      lit("]]><DIV class=\"nav\">boiler_"),
      (col("doc_id") % 7).cast("string"),
      lit("</DIV><p>ent_&lt;"), col("doc_id").cast("string"),
      lit("&gt; &amp;amp; &quot;&nbsp;&apos; num_&#76;&#x4d;</p>" +
        "<footer>(c) corp footer</footer></body></html>")).as("text"))

  // one physical line per concat step, operators at line END: this text
  // interpolates into stripMargin'd oracle templates, where a
  // line-leading || would lose its first pipe to the margin strip
  private val hostilePageSql: String =
    "SELECT doc_id, lang, source, " +
      "'<html><!-- nav follows --><head><script type=\"text/javascript\">var x = 1 < 2;</script><style>p { color: red }</style></head><body><h1>Doc ' || " +
      "CAST(doc_id AS VARCHAR) || '</h1><p>' || text || " +
      "'</p><![CDATA[cdata_' || CAST(doc_id % 3 AS VARCHAR) || " +
      "']]><DIV class=\"nav\">boiler_' || CAST(doc_id % 7 AS VARCHAR) || " +
      "'</DIV><p>ent_&lt;' || CAST(doc_id AS VARCHAR) || " +
      "'&gt; &amp;amp; &quot;&nbsp;&apos; num_&#76;&#x4d;</p><footer>(c) corp footer</footer></body></html>' " +
      "AS html FROM documents WHERE text IS NOT NULL"

  /** q244: the WEB-CURATION CAPSTONE — the full published web-corpus
    * pipeline (CCNet/Gopher/RefinedWeb order) as ONE hash-gated chain,
    * every stage an operator this engine already gates in isolation:
    *
    *   extract (Html.htmlExtract, q241) → line-boilerplate strip
    *   (TextChunks.stripFrequentLines, q85) → Gopher rules (q160's
    *   formula) → perplexity filter vs the PERSISTED reference bigram LM
    *   (TextIndex.docNllFromStats, q243 — per-source tertiles, tail
    *   dropped) → near-dup resolve + keep-first (jaccardPairs +
    *   contractedComponents, q24/q58) → decontaminate vs the held-out
    *   eval source (Dedup.decontaminate — src0 is the benchmark; its
    *   docs leave the pool and its post-extraction trigrams are the
    *   screen, routed by their measured count. FRACTION rule at 0.6 of
    *   the doc's own grams, because an absolute count cannot survive
    *   eval-set growth: background overlap p99 measured 0.17 at sf0.01
    *   vs 0.52 at sf0.1 while true planted leaks sit at 0.9+) →
    *   NEAR-DUP-SAFE split on the resolved cluster label (q239's device —
    *   leakage impossible by construction) → per-(split, lang) token
    *   budget + 512-token sequence packing through chunkedPrefix (q165's
    *   rank device: no single-task sort even when one split×lang cell is
    *   corpus-scale).
    *
    * Output: the per-doc training manifest (doc_id, lang, source,
    * cluster, split, n_tokens, cum_before, seq_id). The DuckDB oracle
    * replays the ENTIRE chain — page wrap, generated rewrite chain,
    * line frequencies, rule algebra, the enumeration-exact NLL fold,
    * recursive-CTE closure, trigram decontamination, md5 split buckets,
    * and the pack windows — so the stage WIRING is under the hash gate,
    * not just the stages.
    *
    * Scale: every stage keeps its own operator's 100 TB contract; the
    * only additions are map-only projections between stages. flat/kept/
    * scored/clean materialize once each (multi-consumer stages) as
    * checkpoints (Checkpoints.local) — plan-truncating, see the in-body
    * note.
    */
  def q244WebPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling, StratifiedSelect, TextIndex}
    val extracted = hostilePage(Tables.documents(s, dir)
        .filter(col("text").isNotNull))
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.Html.htmlExtract(col("text")).as("text"))
    val stripped = TextChunks.stripFrequentLines(extracted, maxDf = 5,
        carryCols = Seq("lang", "source"))
      .filter(col("cleaned").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        call_function("replace", col("cleaned"), lit("\n"), lit(" ")).as("text"))
    val flat = Checkpoints.local(stripped)
    // src0 is the held-out benchmark: out of the pool, into the screen
    val evalDocs = flat.filter(col("source") === "src0")
    val pool = flat.filter(col("source") =!= "src0")
    val t = TextFunctions.tokens(col("text"))
    val nWords = size(t)
    val meanWlen = (length(col("text")) - (nWords - lit(1))).cast("double") /
      nWords.cast("double")
    val distinctRatio = size(array_distinct(t)).cast("double") /
      nWords.cast("double")
    val gop = pool.filter(
      nWords.between(20, 100) && meanWlen >= 4.0 && meanWlen <= 5.0 &&
        distinctRatio >= 0.40 &&
        arrays_overlap(t, array(lit("the"), lit("a"), lit("data"))))
    // scored/clean materialize alongside flat/kept: chunkedPrefix makes
    // TWO passes over its input (boundary sketch + ranking), so an
    // unmaterialized stage would re-run its whole upstream chain per pass
    // — measured ~4 s of pure recomputation at sf0.1 (commit 7478c2a).
    // The four checkpoints also TRUNCATE the plan, so the chain's eager
    // sub-actions (two boundary sketches, the forest count) and the
    // terminal action stop re-planning the whole upstream pipeline —
    // driver gaps were 3.3 s of the 8.8 s wall (commit 0a0c80e).
    val scored = Checkpoints.local(TextIndex.docNllFromStats(gop,
        BigramStatsTables.ensure(s, dir), keyCols = Seq("doc_id", "source")))
    val ranked = StratifiedSelect.chunkedPrefix(
      scored.select("doc_id", "source", "avg_nll_u"),
      stratum = "source", primary = "avg_nll_u", desc = false,
      tieBreak = Seq(col("doc_id")), value = lit(1L),
      nChunks = defaultChunks(s))
    val keptIds = ranked
      .filter(expr("(rn - 1) * 3 DIV n_stratum + 1") <= 2)
      .select("doc_id")
    // lazy, though its final stage joins and its consumers join it again:
    // eager measured no faster at sf0.1 and costs one more job
    val kept = Checkpoints.local(gop.join(keptIds, "doc_id"))
    // forest pair route (q239's device): CC-identical spanning subgraph,
    // O(docs + rep-pairs) emission — the full-closure oracle gates it
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairsForest(kept, threshold = 0.8), stitch = "star")
    val surv = kept.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .filter(col("doc_id") === col("cluster")) // keep-first == label
    val contaminated = Dedup.decontaminate(surv.select("doc_id", "text"),
        evalDocs, shingleSize = 3, Dedup.MinSharedPpm(600000L))
      .filter(col("contaminated"))
    val clean = Checkpoints.local(surv
      .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("split", Sampling.splitAssign(col("cluster")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("cell", concat_ws("|", col("split"), col("lang"))))
    val packed = StratifiedSelect.chunkedPrefix(
        clean.select("doc_id", "lang", "source", "cluster", "split",
          "n_tokens", "cell"),
        stratum = "cell", primary = "doc_id", desc = false,
        tieBreak = Seq(col("doc_id")), value = col("n_tokens"),
        nChunks = defaultChunks(s))
      .filter(col("cum_before") < 2000L)
      .select(col("doc_id"), col("lang"), col("source"), col("cluster"),
        col("split"), col("n_tokens"), col("cum_before"),
        expr("cum_before DIV 512").as("seq_id"))
    packed
  }

  /** q86: sliding-window chunking — 32-token chunks every 24 tokens
    * (8-token overlap), the training-sequence / RAG splitter. Pure map
    * work; the oracle replays the identical slice arithmetic.
    */
  def q86DocChunks(s: SparkSession, dir: String): DataFrame =
    TextChunks.slidingChunks(
      Tables.documents(s, dir).filter(col("text").isNotNull),
      chunkSize = 32, stride = 24)

  /** q87: int8 quantization audit over the embeddings table — integer
    * code stats per vector (operators.Similarity.int8QuantStats). All
    * outputs integral: floor() over identical IEEE doubles on both
    * engines, so the hash comparison is exact.
    */
  def q87EmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.int8QuantStats(Tables.embeddings(s, dir))

  /** q88: source-mixture reweighting — per source, the sampling weight
    * (in ppm) that moves the corpus from its ACTUAL token share to a
    * TARGET share. Target shares are a pure function of the source name
    * ((n mod 5 + 1) x 40000 ppm — deterministic at every sf, standing in
    * for the config table a real pipeline would broadcast). The corpus
    * total stays in-plan as a broadcast 1-row crossJoin (q43 pattern, no
    * driver count()), and the weight is integer floor-division so the
    * oracle comparison is exact. BIGINT headroom: target_ppm x
    * total_tokens overflows past ~4.6e13 corpus tokens — at that scale
    * swap the product into DECIMAL(38,0) (the dsum pattern).
    */
  def q88MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_ppm",
        (regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 5 + 1) * 40000L)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_ppm"),
        expr("(target_ppm * total_tokens) DIV n_tokens").as("weight_ppm"))
  }

  /** q92: apply q88's weights — deterministically downsample each source
    * toward the target mixture by md5-ppm bucket
    * (operators.Sampling.resampleToMixture). End-to-end: weights are
    * computed in-plan (q88), broadcast against the corpus, and the keep
    * decision is a pure function of doc_id — reproducible at any
    * parallelism, no RNG state, no shuffle of the corpus. Weights over
    * 1e6 ppm (under-represented sources) keep all rows: filtering cannot
    * upsample; the q88 weight output is what a repetition-based upsampler
    * would consume instead.
    */
  def q92MixtureResample(s: SparkSession, dir: String): DataFrame = {
    val weights = q88MixtureWeights(s, dir).select("source", "weight_ppm")
    graft.operators.Sampling.resampleToMixture(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source")),
      idCol = "doc_id", stratumCol = "source", weights = weights)
  }

  /** q99: the WHOLE curation pipeline as one declared, hash-verified
    * composition — expectations gate (q236's gateRows, the validate-first
    * ingest order) → admission (q67) → near-dup resolve + survivor
    * selection (q81) → top-quartile quality gate (q66) → per-lang token
    * budget (q61) → sequence packing (q71). Each stage is an
    * already-oracle-checked operator; what this query adds is the
    * COMPOSITION under a single oracle string, so the driver verifies
    * that outputs legally feed inputs (the admitted pool is the dedup
    * universe, survivors are the quantile population, the budget's
    * admission order is quality-on-the-filtered-set, the packer sees
    * budget survivors only) — the part unit stages cannot prove.
    *
    * Scale shape: every stage keeps its own contract (band-joined
    * admission, blocked pairs, hash-agg argmax survivors, per-lang
    * windows over per-key-bounded groups); the chain adds no new shuffle
    * wider than its widest stage.
    */
  def q99CurationChain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage 0: expectations as the ingest gate (round-13 verdict ask #8 —
    // the real pipeline order is validate → admit → dedup → select →
    // pack). Map-only row gate (Expectations.gateRows); the len_max rule
    // is LIVE on the fixture (~5% of docs exceed 520 chars), so the gate
    // demonstrably shapes everything downstream and the oracle carries
    // the same three predicates.
    val docs = graft.operators.Expectations.gateRows(
        Tables.documents(s, dir).filter(col("text").isNotNull),
        Seq(
          graft.operators.Expectations.Expect("len_min_20",
            length(col("text")) >= 20),
          graft.operators.Expectations.Expect("len_max_520",
            length(col("text")) <= 520),
          graft.operators.Expectations.Expect("tokens_min_3",
            TextFunctions.tokenCount(col("text")) >= 3)))
      .filter(col("admitted")).drop("violations", "admitted")
    val isNew = col("source").isin(Curation.NewBatchSources: _*)
    // stage 1: admission — corpus docs plus ADMITTED new docs form the pool
    val admitted = Dedup.admitIncremental(docs, isNew)
      .filter(col("admitted")).select("doc_id")
    // The pool is consumed by THREE downstream branches (the quality
    // scoring that feeds the output, the jaccard pair walk, and the
    // survivor join); without materialization each branch re-pays the
    // admission band-join. The checkpoint also TRUNCATES the logical plan,
    // so the eager sub-actions and the final action stop re-analyzing the
    // whole upstream chain — the driver-side planning gaps were ~35 % of
    // this family's wall (commit 0a0c80e).
    val pool = Checkpoints.local(docs.filter(!isNew)
      .unionByName(docs.filter(isNew).join(admitted, "doc_id"))
      .select("doc_id", "lang", "source", "text"))
    // stage 2: near-dup resolve + one survivor per cluster (q81 machinery)
    val scored = pool.select(col("doc_id"), col("lang"), col("text"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val survivors = Dedup.keepBestLabeled(scored.select("doc_id", "quality"),
        Dedup.blockedComponents(
          Dedup.jaccardPairs(pool, threshold = 0.8, keepBlock = true), "block"))
      .select("doc_id")
    // stage 3: top quartile by quality per lang (q66 shape, over survivors)
    val wq = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    val quart = scored.join(survivors, "doc_id")
      .withColumn("rn", row_number().over(wq))
      .withColumn("nq", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") * 4 <= col("nq") + 3)
      .drop("rn", "nq")
    // stage 4: per-lang token budget in quality order (q61 shape)
    val wb = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val budgeted = quart
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens").cast("long")).over(wb), lit(0L)))
      .filter(col("cum_before") < 3000L)
    // stage 5: greedy sequence packing at 2048 tokens (q71 shape)
    val wp = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val res = budgeted
      .withColumn("pack_before",
        coalesce(sum(col("n_tokens").cast("long")).over(wp), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("pack_before DIV 2048").as("seq_id"))
    res
  }

  /** q104: apply q88's weights by REPETITION — the upsampling half q92's
    * filter cannot express (operators.Sampling.upsampleToMixture). An
    * under-represented source (weight_ppm > 1e6) emits floor(weight/1e6)
    * full epochs per doc plus an md5-ppm fractional epoch; the epoch
    * column is the copy index a downstream shuffler salts on. End-to-end
    * deterministic: weights in-plan (q88), broadcast join, integer
    * arithmetic, no RNG — the oracle replays copies via generate_series.
    */
  def q104MixtureUpsample(s: SparkSession, dir: String): DataFrame = {
    val weights = q88MixtureWeights(s, dir).select("source", "weight_ppm")
    graft.operators.Sampling.upsampleToMixture(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source")),
      idCol = "doc_id", stratumCol = "source", weights = weights)
  }

  /** q120: exactly-5 reproducible docs per source — the "show me a stable
    * handful of examples from every slice" curation op (eyeballing,
    * labeling seeds, regression fixtures). Deterministic md5 priority +
    * bounded per-stratum heap: no RNG, no per-stratum window.
    */
  def q120SampleKPerSource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.uniformKPerStratum(
      Tables.documents(s, dir), idCol = "doc_id", stratumCol = "source",
      k = 5, seed = "seed42")

  /** q126: probability-proportional-to-size systematic sample — exactly
    * 20 picks per source, pick probability ∝ token count, zero floating
    * point (operators.Sampling.ppsSystematic). The "sample a fixed
    * review budget per slice, but let big documents carry their weight"
    * op; a doc wider than T/20 is honestly multi-counted via n_hits.
    * Cumulative weights ride chunkedPrefix, so no per-source sort task.
    */
  def q126PpsSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.ppsSystematic(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      stratumCol = "source", idCol = "doc_id",
      weight = col("n_tokens"), k = 20)
    .select("source", "doc_id", "weight", "cum_before", "n_hits")

  /** q220: weighted WITHOUT-replacement sample — 10 docs per language,
    * draw probability proportional to token count, never the same doc
    * twice (operators.Sampling.weightedKPerStratum, the
    * Efraimidis–Spirakis exponential sort). The "sample a review budget
    * per slice, biased toward the long documents that dominate training
    * tokens" op — [[q126PpsSample]]'s without-replacement complement.
    * The oracle replays the md5→u→(-ln u)/w priority formula verbatim
    * and ranks with the same (priority, doc_id) order.
    */
  def q220WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedKPerStratum(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("double").as("w")),
      idCol = "doc_id", stratumCol = "lang",
      weight = col("w"), k = 10, seed = "aes42")

  /** q132: dedup-aware train/val/test split audit
    * (operators.Sampling.splitAssign) — assignment keyed on the exact-dup
    * cluster fingerprint md5(text), so duplicates can never straddle
    * splits. Output is the per-(source, split) doc AND cluster census a
    * release audit reads; the no-leakage invariant itself is pinned in
    * SamplingSpec (a fingerprint never maps to two splits — true by
    * construction, asserted anyway).
    */
  def q132SplitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .withColumn("fp", md5(col("text")))
      .withColumn("split", graft.operators.Sampling.splitAssign(col("fp")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_clusters"))

  /** q239: NEAR-dup-safe train/val/test split — q132's docstring promise
    * ("swap in the resolved CC label for near-dup-safe splits") made
    * gated code: the split key is the resolved near-dup CLUSTER label
    * (q24's exact blocked pairs → contracted CC → min-id component,
    * unclustered docs their own cluster), so a test doc whose NEAR
    * duplicate sits in train — the leakage an exact-fingerprint split
    * quietly commits — cannot happen by construction. Output is the
    * per-(source, split) doc and cluster census; the pair-level
    * no-straddle invariant is additionally asserted in SamplingSpec.
    * Scale shape: the pair walk and resolver keep their own contracts;
    * the split assignment is one map-only md5 bucket on the label.
    */
  def q239SplitNeardupSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    // FOREST pair route (round 16): the resolver needs a spanning
    // subgraph, not the pair list — jaccardPairsForest emits O(docs +
    // rep-pairs) edges with identical components (the oracle's recursive
    // closure over the FULL pair list is the hash gate for that claim)
    val labels = graft.operators.Dedup.contractedComponents(
      graft.operators.Dedup.jaccardPairsForest(docs, threshold = 0.8),
      stitch = "star")
    docs.select("doc_id", "source")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("split", graft.operators.Sampling.splitAssign(col("cluster")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"))
  }

  /** q165: curriculum/annealing schedule — the whole corpus ordered by
    * ascending q39 quality score (ties to doc_id) and cut into 4 equal-size
    * training stages, so the loader feeds noisier text first and anneals
    * onto the cleanest quartile last (the standard quality-curriculum /
    * data-annealing recipe). Output is the stage manifest a training run
    * consumes: per stage its doc count, token budget, the cumulative token
    * offset where the stage starts, and the quality band it covers.
    *
    * Scale shape: the global rank rides
    * [[graft.operators.StratifiedSelect.chunkedPrefix]] under a constant
    * stratum — a global ORDER BY with NO single-task sort anywhere (the
    * only global window in the plan runs over the nChunks-row chunk
    * aggregate). `stage = (rn-1)*4 DIV n` is pure integer arithmetic, so
    * both engines cut identically; cum_before doubles as the stage's
    * token offset for free (same prefix sum, value = n_tokens). The
    * 4-row manifest is a bounded hash-agg on top.
    */
  def q165Curriculum(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        lit("all").as("corpus"))
    val ranked = graft.operators.StratifiedSelect.chunkedPrefix(base,
      stratum = "corpus", primary = "quality", desc = false,
      tieBreak = Seq(col("doc_id")), value = col("n_tokens"),
      nChunks = defaultChunks(s))
    ranked
      .withColumn("stage",
        expr("CAST((rn - 1) * 4 DIV n_stratum + 1 AS INT)"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("stage_tokens"),
        min("cum_before").as("token_offset"),
        min("quality").as("lo_quality"),
        max("quality").as("hi_quality"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q165_curriculum"   -> (q165Curriculum _),
    "q132_split_assign" -> (q132SplitAssign _),
    "q239_split_neardup_safe" -> (q239SplitNeardupSafe _),
    "q126_pps_sample" -> (q126PpsSample _),
    "q120_sample_k_per_source" -> (q120SampleKPerSource _),
    "q220_weighted_sample" -> (q220WeightedSample _),
    "q99_curation_chain"    -> (q99CurationChain _),
    "q104_mixture_upsample" -> (q104MixtureUpsample _),
    "q85_boilerplate_strip" -> (q85BoilerplateStrip _),
    "q241_html_extract"     -> (q241HtmlExtract _),
    "q244_web_pipeline"     -> (q244WebPipeline _),
    "q86_doc_chunks"        -> (q86DocChunks _),
    "q87_embed_quantize"    -> (q87EmbedQuantize _),
    "q88_mixture_weights"   -> (q88MixtureWeights _),
    "q92_mixture_resample"  -> (q92MixtureResample _))

  val oracles: Map[String, String] = Map(
    // global quality rank -> integer quartile cut -> 4-row stage manifest;
    // CASTs keep DuckDB's HUGEINT sums in Spark's BIGINT domain
    "q165_curriculum" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ${Extensions.qualitySqlExpr} AS quality
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (
        |  SELECT doc_id, n_tokens, quality,
        |    ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn,
        |    COUNT(*) OVER () AS n,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT CAST((rn - 1) * 4 // n + 1 AS INTEGER) AS stage,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS stage_tokens,
        |  MIN(cum_before) AS token_offset,
        |  MIN(quality) AS lo_quality,
        |  MAX(quality) AS hi_quality
        |FROM w GROUP BY 1""".stripMargin,
    // q60's md5-bucket formula keyed on the CLUSTER fingerprint
    "q132_split_assign" ->
      """WITH d AS (
        |  SELECT source, md5(text) AS fp,
        |    ('0x' || substr(md5('split:' || md5(text)), 1, 4))::INT % 100
        |      AS b
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT fp) AS n_clusters
        |FROM d GROUP BY 1, 2""".stripMargin,
    // q58's pair+closure CTEs, then q132's md5 bucket on the CLUSTER label
    "q239_split_neardup_safe" ->
      s"""WITH RECURSIVE
        |${Extensions.unigramPairCtes},
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |           FROM reach GROUP BY a),
        |d AS (SELECT doc_id, source FROM documents WHERE text IS NOT NULL),
        |cl AS (SELECT d.doc_id, d.source,
        |         coalesce(l.component, d.doc_id) AS cluster
        |       FROM d LEFT JOIN labels l USING (doc_id)),
        |bk AS (SELECT source, cluster,
        |         ('0x' || substr(md5('split:' || CAST(cluster AS VARCHAR)),
        |           1, 4))::INT % 100 AS b
        |       FROM cl)
        |SELECT source,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster) AS n_clusters
        |FROM bk GROUP BY 1, 2""".stripMargin,
    // same integer threshold algebra over a window cumsum; CASTs keep
    // DuckDB's HUGEINT window sums in the BIGINT domain Spark emits
    "q126_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wt
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, source, wt,
        |    CAST(COALESCE(SUM(wt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before,
        |    CAST(SUM(wt) OVER (PARTITION BY source) AS BIGINT) AS t
        |  FROM w)
        |SELECT source, doc_id, wt AS weight, cum_before,
        |  ((cum_before + wt) * 20) // t - (cum_before * 20) // t AS n_hits
        |FROM c
        |WHERE t > 0
        |  AND ((cum_before + wt) * 20) // t - (cum_before * 20) // t >= 1""".stripMargin,
    // md5 → 52-bit u → -ln(u)/w priority, replayed verbatim: '0x'||hex
    // cast is DuckDB's conv(hex,16,10); (m+1) is exact in a double; ln
    // and the divides are the same IEEE ops Spark runs.
    "q220_weighted_sample" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS weight,
        |    -ln((('0x' || substring(md5('aes42:' || CAST(doc_id AS VARCHAR)),
        |           1, 13))::BIGINT + 1) / 4503599627370496.0)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS pri
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0)
        |SELECT lang, rk, doc_id, weight FROM (
        |  SELECT lang, doc_id, weight,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY pri, doc_id) AS INTEGER) AS rk
        |  FROM d) t WHERE rk <= 10""".stripMargin,
    "q120_sample_k_per_source" ->
      """SELECT source, rk, doc_id, h FROM (
        |  SELECT source, doc_id,
        |    md5(concat('seed42:', CAST(doc_id AS VARCHAR))) AS h,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(concat('seed42:', CAST(doc_id AS VARCHAR))), doc_id)
        |      AS INTEGER) AS rk
        |  FROM documents) t WHERE rk <= 5""".stripMargin,
    // the five verified stage oracles CTE-chained into one statement:
    // q67's admission (simhash CTEs + md5/band screens), q81's survivor
    // closure (pair CTEs re-based onto the admitted pool), q66's
    // quartile window, q61's budget window, q71's packer
    "q99_curation_chain" -> {
      val inList = Curation.NewBatchSources.map(x => s"'$x'").mkString(", ")
      s"""WITH RECURSIVE ${Extensions.simhashFpCtes},
        |base AS (
        |  SELECT d.doc_id, d.lang, d.source, d.text, md5(d.text) AS xfp, f.fp
        |  FROM documents d JOIN fps f USING (doc_id)
        |  WHERE d.text IS NOT NULL
        |    AND length(d.text) >= 20 AND length(d.text) <= 520
        |    AND len(string_split(d.text, ' ')) >= 3),
        |nw AS (SELECT * FROM base WHERE source IN ($inList)),
        |co AS (SELECT * FROM base WHERE source NOT IN ($inList)),
        |rej AS (
        |  SELECT DISTINCT nw.doc_id FROM nw JOIN co ON nw.xfp = co.xfp
        |  UNION
        |  SELECT DISTINCT nw.doc_id FROM nw JOIN co
        |    ON bit_count(xor(nw.fp, co.fp)) <= 3),
        |pool AS (
        |  SELECT doc_id, lang, source, text FROM co
        |  UNION ALL
        |  SELECT doc_id, lang, source, text FROM nw
        |  WHERE doc_id NOT IN (SELECT doc_id FROM rej)),
        |${Extensions.unigramPairCtesOver("pool")},
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |           FROM reach GROUP BY a),
        |scored AS (SELECT doc_id, lang, text,
        |             ${Extensions.qualitySqlExpr} AS quality FROM pool),
        |cl AS (SELECT s.doc_id, s.lang, s.text, s.quality,
        |              coalesce(l.component, s.doc_id) AS cluster
        |       FROM scored s LEFT JOIN labels l USING (doc_id)),
        |surv AS (SELECT doc_id, lang, text, quality FROM (
        |  SELECT cl.*, ROW_NUMBER() OVER (PARTITION BY cluster
        |    ORDER BY quality DESC, doc_id) AS rk
        |  FROM cl) q1 WHERE rk = 1),
        |quart AS (SELECT doc_id, lang, text, quality FROM (
        |  SELECT surv.*, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY quality DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS nq
        |  FROM surv) q2 WHERE rn * 4 <= nq + 3),
        |budg AS (SELECT doc_id, lang, n_tokens FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
        |      PARTITION BY lang ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM quart) q3 WHERE cum_before < 3000)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    // 2048 AS seq_id
        |FROM budg""".stripMargin
    },
    // the identical rewrite chain, GENERATED from Html.RegexSteps /
    // EntitySteps (Html.htmlExtractSql — one Scala source of truth, two
    // engine renderings) + q85's line-frequency SQL over the result
    // the WHOLE web pipeline replayed: page wrap + the generated rewrite
    // chain (Html.htmlExtractSql), q85's line frequencies, q160's rule
    // algebra, q243's enumeration-exact NLL fold + per-source tertile,
    // q24/q58's pair walk + recursive closure, the FRACTION trigram
    // screen (600000 ppm of the doc's own grams), q132's md5 split
    // buckets on the cluster label, and the budget/pack windows
    // (chunkedPrefix ≡ ROW_NUMBER/SUM, q165's equivalence)
    "q244_web_pipeline" ->
      s"""WITH RECURSIVE page AS ($hostilePageSql),
        |x AS (SELECT doc_id, lang, source,
        |  ${graft.functions.Html.htmlExtractSql("html")} AS t2
        |  FROM page),
        |lines AS (SELECT doc_id, lang, source,
        |    generate_subscripts(string_split(t2, chr(10)), 1) AS pos,
        |    unnest(string_split(t2, chr(10))) AS line FROM x),
        |freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df
        |         FROM lines GROUP BY 1),
        |flat AS (SELECT doc_id, lang, source,
        |    replace(cleaned, chr(10), ' ') AS text
        |  FROM (SELECT l.doc_id, l.lang, l.source,
        |      string_agg(CASE WHEN f.df < 5 THEN l.line END, chr(10)
        |                 ORDER BY l.pos) AS cleaned
        |    FROM lines l JOIN freq f USING (line) GROUP BY 1, 2, 3)
        |  WHERE cleaned IS NOT NULL),
        |evalg AS (SELECT DISTINCT g AS gram FROM (
        |    SELECT unnest(${Extensions.trigramListSql("string_split(text, ' ')")}) AS g
        |    FROM flat WHERE source = 'src0')),
        |pool AS (SELECT * FROM flat WHERE source <> 'src0'),
        |gop AS (SELECT doc_id, lang, source, text FROM (
        |    SELECT *, len(string_split(text, ' ')) AS nw,
        |      CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS mw,
        |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')) AS dr,
        |      list_has_any(string_split(text, ' '), ['the', 'a', 'data']) AS hs
        |    FROM pool)
        |  WHERE nw BETWEEN 20 AND 100 AND mw >= 4.0 AND mw <= 5.0
        |    AND dr >= 0.40 AND hs),
        |lm0 AS (SELECT string_split(text, ' ') AS ts
        |        FROM documents WHERE text IS NOT NULL),
        |lmp AS (SELECT ts[i] AS tok, ts[i + 1] AS nxt
        |        FROM lm0, UNNEST(range(1, len(ts))) AS u(i)
        |        WHERE len(ts) >= 2),
        |lmc AS (SELECT tok, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM lmp GROUP BY 1, 2),
        |lmt AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM lmc GROUP BY 1),
        |prob AS (SELECT lmc.tok, lmc.nxt,
        |    CAST(floor(-ln(CAST(GREATEST(lmc.cnt * 1000000 // lmt.tot, 1)
        |      AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT) AS nll_u
        |  FROM lmc JOIN lmt USING (tok)),
        |gp AS (SELECT doc_id, source, ts[i] AS tok, ts[i + 1] AS nxt
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ts FROM gop) t,
        |    UNNEST(range(1, len(ts))) AS u(i)
        |  WHERE len(ts) >= 2),
        |nll AS (SELECT gp.doc_id, gp.source,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(COALESCE(prob.nll_u, 13815510)) AS BIGINT) AS sum_nll
        |  FROM gp LEFT JOIN prob ON gp.tok = prob.tok AND gp.nxt = prob.nxt
        |  GROUP BY 1, 2),
        |ppl AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY sum_nll // n_pairs, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM nll),
        |kept AS (SELECT g.doc_id, g.lang, g.source, g.text,
        |    CAST(len(string_split(g.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM gop g JOIN ppl USING (doc_id)
        |  WHERE (ppl.rn - 1) * 3 // ppl.n + 1 <= 2),
        |kt AS (SELECT doc_id, lang, source,
        |    list_distinct(string_split(text, ' ')) AS ts FROM kept),
        |pp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM kt a JOIN kt b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ts, b.ts))
        |      / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8),
        |edges AS (SELECT da AS a, db AS b FROM pp UNION SELECT db, da FROM pp),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |           FROM reach GROUP BY a),
        |surv AS (SELECT k.doc_id, k.lang, k.source, k.text, k.n_tokens,
        |    COALESCE(l.component, k.doc_id) AS cluster
        |  FROM kept k LEFT JOIN labels l USING (doc_id)
        |  WHERE k.doc_id = COALESCE(l.component, k.doc_id)),
        |dg AS (SELECT doc_id,
        |    unnest(${Extensions.trigramListSql("string_split(text, ' ')")}) AS gram
        |  FROM surv),
        |contam AS (SELECT dg.doc_id FROM dg LEFT JOIN evalg e ON dg.gram = e.gram
        |           GROUP BY 1
        |           HAVING SUM(CASE WHEN e.gram IS NOT NULL
        |                       THEN 1 ELSE 0 END) * 1000000 >= 600000 * COUNT(*)),
        |clean AS (SELECT s.*,
        |    CASE WHEN ('0x' || substr(md5('split:' || CAST(s.cluster AS VARCHAR)),
        |           1, 4))::INT % 100 < 90 THEN 'train'
        |         WHEN ('0x' || substr(md5('split:' || CAST(s.cluster AS VARCHAR)),
        |           1, 4))::INT % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM surv s ANTI JOIN contam c USING (doc_id)),
        |packed AS (SELECT doc_id, lang, source, cluster, split, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM clean)
        |SELECT doc_id, lang, source, cluster, split, n_tokens, cum_before,
        |  cum_before // 512 AS seq_id
        |FROM packed WHERE cum_before < 2000""".stripMargin,
    "q241_html_extract" ->
      s"""WITH page AS ($hostilePageSql),
        |x AS (SELECT doc_id,
        |  ${graft.functions.Html.htmlExtractSql("html")} AS t2
        |  FROM page),
        |lines AS (SELECT doc_id,
        |    generate_subscripts(string_split(t2, chr(10)), 1) AS pos,
        |    unnest(string_split(t2, chr(10))) AS line FROM x),
        |freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
        |SELECT l.doc_id,
        |  CAST(SUM(CASE WHEN f.df < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  string_agg(CASE WHEN f.df < 5 THEN l.line END, chr(10)
        |             ORDER BY l.pos) AS cleaned
        |FROM lines l JOIN freq f USING (line)
        |GROUP BY 1""".stripMargin,
    "q85_boilerplate_strip" ->
      """WITH docs AS (SELECT doc_id,
        |    text || chr(10) || 'boiler_' || CAST(doc_id % 7 AS VARCHAR)
        |         || chr(10) || 'rare_' || CAST(doc_id AS VARCHAR) AS t2
        |  FROM documents WHERE text IS NOT NULL),
        |lines AS (SELECT doc_id,
        |    generate_subscripts(string_split(t2, chr(10)), 1) AS pos,
        |    unnest(string_split(t2, chr(10))) AS line FROM docs),
        |freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
        |SELECT l.doc_id,
        |  CAST(SUM(CASE WHEN f.df < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  string_agg(CASE WHEN f.df < 5 THEN l.line END, chr(10)
        |             ORDER BY l.pos) AS cleaned
        |FROM lines l JOIN freq f USING (line)
        |GROUP BY 1""".stripMargin,
    "q86_doc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST((t.s - 1) // 24 AS INTEGER) AS chunk_idx,
        |  CAST(t.s AS INTEGER) AS chunk_start,
        |  CAST(len(toks[t.s : least(t.s + 31, len(toks))]) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[t.s : least(t.s + 31, len(toks))], ' ') AS chunk_text
        |FROM d, unnest(generate_series(1, greatest(len(toks), 1), 24)) AS t(s)""".stripMargin,
    // floor() over the same double expression on both engines; all
    // outputs integral, so exact. Zero vectors excluded (maxabs > 0).
    "q87_embed_quantize" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        |pos AS (SELECT vec_id, label, i, e[i] AS x FROM v, range(1, 65) t(i)),
        |mx AS (SELECT vec_id, MAX(abs(x)) AS maxabs FROM pos GROUP BY 1),
        |q AS (SELECT p.vec_id, p.label,
        |        GREATEST(-127, LEAST(127,
        |          CAST(floor(p.x * 127.0 / m.maxabs) AS BIGINT))) AS q
        |      FROM pos p JOIN mx m USING (vec_id) WHERE m.maxabs > 0)
        |SELECT vec_id, label, CAST(SUM(q) AS BIGINT) AS sum_q,
        |  CAST(SUM(q * q) AS BIGINT) AS sum_q2,
        |  CAST(SUM(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat
        |FROM q GROUP BY 1, 2""".stripMargin,
    // TRY_CAST(NULLIF(...)) mirrors Spark's null-yielding regexp_extract →
    // cast on a source name WITHOUT trailing digits; plain CAST('' AS
    // BIGINT) would raise in DuckDB — an engine divergence the srcN
    // fixture naming otherwise masks
    "q88_mixture_weights" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per)
        |SELECT source, n_docs, n_tokens,
        |  (TRY_CAST(NULLIF(regexp_extract(source, '(\d+)$', 1), '') AS BIGINT) % 5 + 1) * 40000
        |    AS target_ppm,
        |  ((TRY_CAST(NULLIF(regexp_extract(source, '(\d+)$', 1), '') AS BIGINT) % 5 + 1) * 40000
        |    * total_tokens) // n_tokens AS weight_ppm
        |FROM per, tot""".stripMargin,
    // q88's weight CTE + the md5-ppm keep rule (q60's '0x'||hex device,
    // 8 hex digits for ppm granularity)
    "q92_mixture_resample" ->
      """WITH per AS (SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per),
        |w AS (SELECT source,
        |  ((TRY_CAST(NULLIF(regexp_extract(source, '(\d+)$', 1), '') AS BIGINT) % 5 + 1) * 40000
        |    * total_tokens) // n_tokens AS weight_ppm
        |  FROM per, tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN w USING (source)
        |WHERE d.text IS NOT NULL
        |  AND ('0x' || substr(md5(coalesce(d.doc_id::VARCHAR, '')), 1, 8))::BIGINT
        |      % 1000000 < w.weight_ppm""".stripMargin,
    // q92's weight CTEs + integer copy count + generate_series replay of
    // the epoch explode
    "q104_mixture_upsample" ->
      """WITH per AS (SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per),
        |w AS (SELECT source,
        |  ((TRY_CAST(NULLIF(regexp_extract(source, '(\d+)$', 1), '') AS BIGINT) % 5 + 1) * 40000
        |    * total_tokens) // n_tokens AS weight_ppm
        |  FROM per, tot),
        |c AS (SELECT d.doc_id, d.source,
        |    w.weight_ppm // 1000000
        |    + CASE WHEN ('0x' || substr(md5(coalesce(d.doc_id::VARCHAR, '')), 1, 8))::BIGINT
        |        % 1000000 < w.weight_ppm % 1000000 THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN w USING (source)
        |  WHERE d.text IS NOT NULL)
        |SELECT doc_id, source, CAST(t.e AS BIGINT) AS epoch
        |FROM c, unnest(generate_series(0, copies - 1)) AS t(e)
        |WHERE copies > 0""".stripMargin)
}
