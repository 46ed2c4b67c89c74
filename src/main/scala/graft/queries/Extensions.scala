package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{SimHash64, TextFunctions}
import graft.operators.{Dedup, Similarity}

/** Large-scale training-data pipeline operators (BASELINE.json north star):
  * dedup family (pairs + resolution), similarity search, text analysis,
  * decontamination, mixture sampling, event-time analytics. Everything
  * deterministic carries a full DuckDB oracle — including the IVF/LSH ANN
  * paths (fixed centroids/hyperplanes) and the lossless-banded SimHash
  * pairs. The genuinely sketch/probabilistic queries (q25 band-prune, q44
  * HLL, q54 percentile sketch) are hash-gated through the banded trick
  * pioneered by q100-q102/q105: every exact stat in the output is
  * SQL-expressible, and the sketch estimate appears only through a
  * boolean band whose oracle value is TRUE (sketches are deterministic
  * for a given dataset, so the booleans are stable at a given sf); each
  * is additionally spec-anchored against its exact counterpart
  * (DedupSpec / SimilaritySpec / IntegrationSpec).
  */
object Extensions {


  /** Exact dedup — hash-aggregate on the full text (SURVEY §7.4). */
  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir))
      .select(col("text"), col("keep_id"), col("n_copies"))

  /** Token/char statistics per document — pure map work. The regex count is
    * the BPE-ish pre-tokenizer shape (letter runs | digit runs | other).
    */
  def q21TextStats(s: SparkSession, dir: String): DataFrame = {
    val t = TextFunctions.tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      // explicit ASCII whitespace class, not \s: Java regex and DuckDB's RE2
      // disagree on \s membership (vertical tab) and surrogate handling —
      // this pattern is provably identical on both engines
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\x09-\\x0D ]"), lit(0)))
        .as("n_regex_tokens"),
      length(col("text")).as("n_chars_computed"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
  }

  /** Language-ID heuristic: marker-token counts, fixed-priority argmax. */
  def q22LangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred"))

  /** Document fingerprinting (md5 of lowercased text). */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))

  /** Exact unigram-Jaccard near-dup pairs within (lang, source) blocks. */
  def q24JaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.8)

  /** Asymmetric containment pairs (quote-inclusion dedup) — the directional
    * overlap Jaccard can't see; operators.Dedup.containmentPairs.
    */
  def q107ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), threshold = 0.9)

  /** q124: EXACT similarity join via prefix filtering
    * (operators.Dedup.prefixJaccardPairs) — all-pairs output, never an
    * all-pairs plan: rarest-first token prefixes are the only join keys,
    * recall 1.0 by the prefix theorem. Declared over a four-source slice
    * purely to keep the ORACLE's genuine all-pairs replay quadratic in
    * something small; the operator itself is corpus-global (DedupSpec
    * proves brute-force equality with no source filter).
    */
  def q124PrefixJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(
      Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1", "src2", "src3")),
      threshold = 0.9)

  /** q110: canonical dedup-key normalization (NFC + ascii-lower +
    * whitespace collapse) through the codegen NormalizeText expression;
    * the oracle replays it with utf8proc's nfc_normalize — cross-engine
    * NFC parity is the property under test.
    */
  def q110TextNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.NormalizeText.normalizeText(col("text")).as("norm_text"))

  /** MinHash+LSH near-dup recall gate over the FULL corpus — the q105
    * banded trick (exact pair count SQL-expressible, the LSH result
    * entering only through a boolean the oracle states as TRUE) widened
    * from q105's English slice to every (lang, source) block: the gate
    * that proves the banding math holds across the corpus's language mix,
    * not just its largest slice. MinHash signatures are seed-fixed and the
    * band walk deterministic, so recall_ok is stable at a given sf.
    *
    * Deliberately UNCAPPED, like q105: a capped walk (maxBucketSize=200 +
    * routeOverCapExact) measurably trades recall on THIS pathologically
    * self-similar corpus (at sf0.1 the over-cap buckets carry most of the
    * true near-dup pairs — measured recall well under the 0.8 gate).
    * Uncapped used to mean bucket² in DOCUMENTS (the 955-member
    * boilerplate buckets put ~3.7 M pairs through candidate generation +
    * verification — measured 9.4 s at sf0.1); the declared path is now
    * [[graft.operators.Dedup.minhashLshDistinct]], which runs the whole
    * walk over DISTINCT shingle sets and expands pairs through the
    * identity groups — row-identical output (DedupSpec), bucket² falls to
    * distinct contents, and the cap/recall dilemma disappears for
    * identical-text clusters. The capped configuration and its
    * `graft_q25_bucket_cap` drop metrics remain available on both walks.
    */
  def q25MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = Dedup.jaccardPairs(docs, threshold = 0.8)
    // the distinct-content walk (Dedup.minhashLshDistinct): row-identical
    // to uncapped minhashLsh, but the bucket² term runs in distinct
    // shingle sets, not documents — the boilerplate cluster that makes
    // the cap/recall dilemma disappears at the source. One pass counts
    // both the exact pair set and its LSH-found subset (the LSH pair list
    // is duplicate-free, so the left join cannot multiply exact rows).
    val lsh = Dedup.minhashLshDistinct(docs, shingleSize = 1, numHashes = 32,
        bands = 8, threshold = 0.8, minBandCollisions = 2)
      .select(col("doc_id_a"), col("doc_id_b"), lit(1).as("__f"))
    exact.join(lsh, Seq("doc_id_a", "doc_id_b"), "left_outer")
      .agg(count(lit(1)).as("n_exact_pairs"), count(col("__f")).as("n_found"))
      .select(col("n_exact_pairs"),
        (col("n_found") * 10L >= col("n_exact_pairs") * 8L).as("recall_ok"))
  }

  /** SimHash fingerprints (custom Catalyst expression) — the map stage of
    * simhash dedup; banding/pair tests live in DedupSpec.
    */
  def q26SimhashFp(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      SimHash64.simhash64(col("text")).as("fp"))

  /** Exact brute-force cosine top-k (k=10) for queries vec_id < 8. */
  def q27AnnTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), k = 10, maxQueryId = 8)

  /** q184: kNN label classification — vectors < 32 are held-out queries,
    * the rest the labeled corpus; 10-NN cosine majority vote
    * (operators.Similarity.knnClassify). The embedding-quality eval every
    * training pipeline runs; the oracle replays scoring, ranking, and the
    * vote end-to-end with the q27 float contract.
    */
  def q184KnnClassify(s: SparkSession, dir: String): DataFrame =
    Similarity.knnClassify(Tables.embeddings(s, dir), k = 10, maxQueryId = 32)

  /** IVF-style approximate ANN — same queries; recall asserted in
    * SimilaritySpec. Fully oracle-checked: centroids are the deterministic
    * first-nList vectors, so assign/probe/top-k replicate in DuckDB SQL
    * with list_dot_product (same float contract as q27).
    */
  def q28AnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, dir), k = 10, maxQueryId = 8)

  /** Embedding-cosine near-dup pairs blocked by label — the exact walk,
    * now FENCED: maxBlockSize=1<<20 puts the graft_q29_block_cap guard in
    * the executed plan (a no-op at fixture block sizes, so the oracle is
    * unchanged; an over-cap block at larger data trips the observed drop
    * instead of running block²). The production-scale pair generator is
    * q234's quantizer-cell-blocked variant; this one is its recall
    * audit/oracle.
    */
  def q29EmbedNeardup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.3,
      maxBlockSize = 1 << 20)

  /** q234: the q105 banded-recall device applied to embedding near-dup
    * blocking — the gate that turns the "at 100 TB the label is an IVF
    * cell" prose into checked code. Exact side = the label-blocked walk
    * (q29's semantics, SQL-expressible, the oracle column); approximate
    * side = [[Dedup.embeddingNearDupsCells]] with the TWO-LEVEL quantizer
    * route ON (nSuper=4, cSuper=3 — Similarity.rankCellsTwoLevel, the
    * nList >> broadcast posture: only the 4 super-centroids broadcast,
    * the centroid table itself joins shuffle_hash on the super-cell id),
    * entering only through the recall_ok boolean (oracle value TRUE).
    * Measured recall 0.902 / 0.901 / 0.890 at sf0.001/0.01/0.1 against
    * the 0.8 gate (flat route: 0.95/0.98/0.90 — the ~0.05 give-up is the
    * coarse level's standard miss, priced HERE, where it ships).
    *
    * Round 17 (verdict ask #7): NEITHER side of the comparison
    * materializes the exact pair list any more. n_exact_pairs comes from
    * [[Dedup.embeddingNearDupCount]]'s identity-group algebra (the
    * sparse-sf1 soak spent ~53 s building 20.0 M pair rows to count
    * them); n_found exploits that the cells walk verifies with the SAME
    * kernel expression as the exact walk, so a cells pair is an exact
    * pair iff its endpoints share a label — the old exact⋈cells
    * membership join collapses to labeling the cells output (two
    * shuffle_hash joins against the thin (vec_id, label) map) and
    * counting the same-label rows. Both counts are value-identical to
    * the old formulation (DedupSpec pins the equalities); the oracle is
    * unchanged.
    */
  def q234EmbedNeardupCellBanded(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val nExact = Dedup.embeddingNearDupCount(emb, threshold = 0.3)
      .select(col("n_pairs").as("n_exact_pairs"))
    val lbl = emb.select(col("vec_id"), col("label"))
    val found = Dedup.embeddingNearDupsCells(emb, threshold = 0.3,
        nList = 16, nProbe = 4, maxBlockSize = 1 << 20,
        nSuper = 4, cSuper = 3)
      .join(lbl.select(col("vec_id").as("vec_id_a"), col("label").as("__la"))
        .hint("shuffle_hash"), Seq("vec_id_a"))
      .join(lbl.select(col("vec_id").as("vec_id_b"), col("label").as("__lb"))
        .hint("shuffle_hash"), Seq("vec_id_b"))
      .filter(col("__la") === col("__lb"))
      .agg(count(lit(1)).as("n_found"))
    nExact.crossJoin(found)
      .select(col("n_exact_pairs"),
        (col("n_found") * 10L >= col("n_exact_pairs") * 8L).as("recall_ok"))
  }

  /** q240: the k-means coarse quantizer GATED (round-13 verdict ask #4).
    * q28's IVF runs the deterministic first-N stand-in quantizer; the
    * production path — `ivfTopK(kmeansIters = 2)`, two sampled-Lloyd
    * refinement rounds over spherical (unit-vector-mean) decimal-exact
    * statistics, `Similarity.kmeansCentroids` — had no declared query
    * until this one. The k-means rounds aren't SQL-replayable, so the
    * q234/q105 banded device applies: the exact side is the brute-force
    * top-10 (q27's semantics, the hash-checked n_exact count), and the
    * k-means IVF enters only through the recall_ok boolean the oracle
    * asserts TRUE. Measured recall 0.863 / 0.850 / 1.000 at
    * sf0.001/0.01/0.1 against the 0.8 gate (first-N quantizer:
    * 0.900/0.900/0.988 — both measured in commit d858bb5). One left
    * join on (qid, neighbor_id) counts exact and found in the same
    * aggregate, q234's comparison shape verbatim.
    */
  def q240AnnIvfKmeansBanded(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val exact = Similarity.bruteForceTopK(emb, k = 10, maxQueryId = 8)
      .select(col("qid"), col("neighbor_id"))
    val approx = Similarity.ivfTopK(emb, k = 10, maxQueryId = 8,
        nList = 16, nProbe = 4, kmeansIters = 2)
      .select(col("qid"), col("neighbor_id"), lit(1).as("__f"))
    exact.join(approx, Seq("qid", "neighbor_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"), count(col("__f")).as("n_found"))
      .select(col("n_exact"),
        (col("n_found") * 10L >= col("n_exact") * 8L).as("recall_ok"))
  }

  /** Event-time hourly rollup (the batch shape of the streaming agg). */
  def q30EventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // cast to NTZ: the source nanos are wall-clock; the oracle (DuckDB)
      // yields naive timestamps, and with a UTC session the cast is a no-op
      // on the instant.
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("total_value"))

  /** Sessionization: 30-minute inactivity gap splits sessions per user. */
  def q31Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        sum("new_session").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Multimodal plumbing: opaque binary payloads with typed metadata —
    * byte length + sha256 digest computed distributed (decode itself is
    * stubbed, see operators.Multimodal).
    */
  def q32BinaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      octet_length(col("text").cast("binary")).as("n_bytes"),
      sha2(col("text").cast("binary"), 256).as("sha"))

  /** Word-3-gram Jaccard near-dup pairs within (lang, source) blocks —
    * the n-gram variant of q24 (the fixtures' random word soup keeps 3-gram
    * similarity near zero except for genuinely related docs).
    *
    * Inverted-index shape (exact, same output as the block-all-pairs merge
    * walk): explode each doc's distinct shingle-hash set into a posting
    * list, self-join on the individual shingle within the block, and the
    * per-pair group count IS the intersection size. A pair with zero
    * common shingles never materializes — and at jaccard >= 0.02 a pair
    * needs ic >= 1, so dropping ic=0 pairs is lossless. Cost is
    * sum-over-shingles of C(df, 2) instead of C(block, 2) x |set|: on
    * 3-gram text (df ~ 1 for non-dup corpus) this is near-linear. Scale
    * caveat: a high-df shingle contributes df^2 pairs — at 100 TB set
    * `ngramJaccard`'s maxDf cap (drops such postings with an observed,
    * logged count; a shingle shared by thousands of docs carries no
    * near-dup signal at this threshold), or raise the threshold and add a
    * PPJoin prefix filter (only index the first (1-t)|s|+1 shingles).
    * q24 keeps the merge-walk shape: unigram sets over a ~30-word
    * vocabulary have df ~ block size, where posting lists degrade to
    * all-pairs times set size.
    */
  def q38NgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(s, dir, maxDf = None)

  /** The parameterized operator behind q38. `maxDf` is the 100 TB knob the
    * scale caveat above names: a shingle with document frequency df
    * contributes ~df²/2 candidate pairs, so one ubiquitous shingle (a
    * boilerplate phrase) dominates the join. With `maxDf` set, postings for
    * shingles with df > cap are dropped BEFORE the self-join — at a low
    * similarity threshold this loses the (rare) pairs whose overlap is
    * mostly high-df shingles, so it is opt-in and OFF for the declared
    * query (the oracle hash stays exact). The df filter is one window count
    * over the same (lang, source, shingle) keys the self-join shuffles on
    * (exchange reused), and the dropped-posting volume surfaces as the
    * `graft_q38_df_cap` observation (logged by GraftSession's listener;
    * pinned in DedupSpec).
    */
  def ngramJaccard(s: SparkSession, dir: String, maxDf: Option[Int]): DataFrame = {
    val withSets = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("source"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 3).as("sh"))
    val posting0 = withSets.select(col("lang"), col("source"), col("doc_id"),
      size(col("sh")).as("sz"), explode(col("sh")).as("h"))
    val posting = maxDf.fold(posting0) { cap =>
      Dedup.capGroups(posting0, Seq("lang", "source", "h"), cap, "graft_q38_df_cap")
    }
    val a = posting.select(col("lang"), col("source"), col("h"),
      col("doc_id").as("doc_id_a"), col("sz").as("sz_a"))
    val b = posting.select(col("lang"), col("source"), col("h"),
      col("doc_id").as("doc_id_b"), col("sz").as("sz_b"))
    // Catalyst sizes Generate output at its input's bytes, so it would
    // BROADCAST the ~100x-exploded posting list (a single-threaded build of
    // the whole inverted index); posting lists are never broadcast-able —
    // force the distributed hash join on the (lang, source, shingle) key.
    a.hint("shuffle_hash").join(b, Seq("lang", "source", "h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("ic"))
      .withColumn("jaccard", col("ic").cast("double") /
        (col("sz_a") + col("sz_b") - col("ic")))
      .filter(col("jaccard") >= 0.02)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** Heuristic quality score in [0,1]: length, stopword density, inverse
    * punctuation density — the standard cheap LLM-corpus filter shape.
    */
  def q39QualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  /** Multimodal plumbing through the gate: synthetic binary payloads with
    * REAL container headers -> per-partition header decode (PNG IHDR /
    * JPEG SOF walk, operators.Multimodal.MediaDecoder) -> typed metadata.
    * Oracle-checked: the payload is deterministic (headers + geometry are a
    * pure function of doc_id, then UTF-8 text bytes), so n_bytes/format/ok
    * are plain SQL over `documents` (verified against the fixtures: no
    * text is empty or starts with 'RIFF', so the sniff can never misfire
    * on the raw case). The doc_id % 12 slice is a truncated PNG — it must
    * flag ok = false, never throw. Geometry round-trip is the q78 query.
    */
  def q42MediaMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.withMediaMeta(Multimodal.syntheticMedia(s, dir), "payload")
      .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
              col("media_meta.format").as("format"), col("media_meta.ok").as("ok"))
  }

  /** TF-IDF-style term scoring, distributed shape: explode terms ->
    * per-(doc,term) tf -> per-term document frequency -> score -> top-3
    * terms per doc. IDF is the rational N/df (not log) so both engines
    * compute identical doubles.
    */
  def q43Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size N stays IN the plan (broadcast 1-row crossJoin, the same
    // trick Dashboard.combined uses) — no eager count() job at build time
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df_, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
  }

  /** Deterministic approximate distinct counting (HLL merge is
    * order-independent) — the 100 TB substitute for exact countDistinct,
    * promoted to the hash gate via the q100 banded trick, PER GROUP: the
    * exact per-returnflag distincts are SQL-expressible and the HLL
    * estimate enters only through booleans the oracle states as TRUE.
    * q100 gates the global HLL aggregate; this one gates the grouped
    * HashAggregate path (per-group register merge). rsd 0.02 against a
    * 10 % band is 5 sigma — and HLL is deterministic for a given dataset,
    * so the booleans are stable at every sf. The two exact distincts run
    * as separate single-DISTINCT passes (the Profile Expand-avoidance
    * shape) meeting on the 3-row group keys.
    */
  def q44ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val exactSupp = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n_rows"))
    val exactParts = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("n_parts"))
    val approx = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_suppkey"), 0.02).as("a_supp"),
      approx_count_distinct(col("l_partkey"), 0.02).as("a_parts"))
    exactSupp.join(exactParts, "l_returnflag").join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("n_supp"), col("n_parts"), col("n_rows"),
        (abs(col("a_supp") - col("n_supp")) * 10 <= col("n_supp")).as("supp_ok"),
        (abs(col("a_parts") - col("n_parts")) * 10 <= col("n_parts")).as("parts_ok"))
  }

  /** Built-in session_window: 30-minute-gap sessions per user as a batch
    * aggregation (the stateful streaming twin lives in EventStreams).
    * Oracle: classic gaps-and-islands SQL.
    */
  def q45SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"), col("total_value"))

  /** Rolling-hash winnowing fingerprints (MOSS scheme, custom expression),
    * exploded to one scalar (doc_id, fp) row per fingerprint so the result
    * is sortable/hashable by any harness (the raw array API remains
    * `WinnowFingerprint.winnow`). Fully oracle-checked: FNV-1a + the
    * polynomial rolling hash are replicated in DuckDB with HUGEINT
    * mod-2^64 arithmetic (window mins compare in the SIGNED domain,
    * matching the JVM's long comparison).
    */
  def q51WinnowFp(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      explode(graft.functions.WinnowFingerprint.winnow(col("text"))).as("fp"))

  /** Salted left join (the skew path, operators.Skew) under the gate: the
    * salting must be a PURE physical rewrite, so the DuckDB oracle is the
    * UNSALTED SQL join. The small side is filtered to one market segment so
    * unmatched big-side rows exercise the left join's NULL path.
    */
  def q52SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val small = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_acctbal"))
    graft.operators.Skew.saltedJoin(big, small, "o_custkey",
        saltSrc = col("o_orderkey"), saltBuckets = 8, joinType = "left")
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal")
  }

  /** Hyperplane-LSH bucketed ANN under the gate. Fully oracle-checked:
    * the hyperplanes are deterministic (Murmur3-parity ±1 component
    * signs), so the oracle bakes them in as literal DOUBLE[] weights and
    * replicates bucket assignment + in-bucket top-k exactly; recall vs
    * brute force is additionally asserted in SimilaritySpec.
    * Deterministic: fixed hyperplanes, ties broken by vec_id.
    */
  def q53LshTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, dir), k = 10, maxQueryId = 8)

  /** SimHash near-dup pairs under the gate: banded candidate join +
    * Hamming verification (operators.Dedup.simhashPairs). maxHamming=3
    * against 4 bands makes the LSH banding lossless (pigeonhole: <= 3
    * flipped bits cannot touch all 4 bands), so unlike q25's probabilistic
    * prune this IS fully oracle-checkable — the q26 fingerprint oracle
    * plus an all-pairs Hamming filter reproduces the output bit-exactly.
    */
  def q55SimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3)

  /** Intra-document repetition score (the Gopher-style quality filter):
    * fraction of duplicate word 3-grams within each document. Pure map
    * work — total gram count is arithmetic on the token count, distinct
    * gram count is the WordGramHashes kernel's output size (hash-set
    * cardinality == string-set cardinality, the q38 contract). Short docs
    * (< 3 tokens) count one whole-text gram, matching the kernel.
    */
  def q56Repetition(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(s, dir))

  /** The reusable projection behind q56 (planted-doc spec in DedupSpec). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val sp = split(col("text"), " ")
    docs.select(
      col("doc_id"),
      greatest(size(sp) - 2, lit(1)).as("n_grams"),
      size(graft.functions.WordGramHashes.wordGramHashes(col("text"), 3))
        .as("n_distinct_grams"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Benchmark decontamination under the gate (operators.Dedup
    * .decontaminate): training docs sharing >= 3 distinct word 3-gram
    * shingles with the held-out 'src0' slice. The eval slice is far under
    * the literal cap at every SF, so the route is map-only: the corpus
    * never shuffles.
    */
  def q57Decontam(s: SparkSession, dir: String): DataFrame =
    decontamVsSrc0(Tables.documents(s, dir), Dedup.MinShared(3L))
      .select("doc_id", "n_shared")

  /** q246: q57's FRACTION-rule twin (born in q244's chain and gated
    * first-class here): a training doc is contaminated when >= 60% of ITS
    * OWN distinct trigrams appear in the held-out 'src0' slice — the rule
    * that survives eval-set growth where any absolute count eventually
    * flags everything (Dedup.DecontamRule carries the measured
    * divergence). Output carries both sides of the ratio so a triage
    * owner sees WHY a doc was flagged. Live at every SF on the fixture
    * (5/2/76 docs flagged, the near-copy tail at fraction 1.0).
    */
  def q246DecontamFraction(s: SparkSession, dir: String): DataFrame =
    decontamVsSrc0(Tables.documents(s, dir).filter(col("text").isNotNull),
      Dedup.MinSharedPpm(600000L))
      .select("doc_id", "n_shared", "n_grams")

  /** The contaminated training docs of `docs`: 'src0' is the held-out
    * eval slice, every other source is training text.
    */
  private def decontamVsSrc0(docs: DataFrame,
                             rule: Dedup.DecontamRule): DataFrame =
    Dedup.decontaminate(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), shingleSize = 3, rule)
      .filter(col("contaminated"))

  /** Dedup resolution under the gate: connected components over q24's
    * exact near-dup pairs — each involved doc labeled with its cluster's
    * minimum doc_id (the canonical survivor). Oracle: transitive closure
    * via a recursive CTE over the same pair SQL (the engine never builds
    * the closure; the oracle may — fixture clusters are block-bounded).
    * Routed blocked-first since round 10: one-pass per-partition
    * union-find contraction, then min-label propagation rounds only on
    * the contracted forest (Dedup.contractedComponents) — the fixed
    * point is algorithm-independent, the round count is not.
    */
  def q58DedupResolve(s: SparkSession, dir: String): DataFrame =
    Dedup.contractedComponents(
      Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.8),
      stitch = "propagation")

  /** q247: dedup resolution over the FOREST pair walk (round 16) —
    * [[graft.operators.Dedup.jaccardPairsForest]] emits a spanning
    * subgraph (star edges inside identity groups, one edge per verified
    * representative pair) instead of the full O(true-pairs) list, and the
    * resolver labels it. The oracle is q58's — the full recursive closure
    * over the COMPLETE exact pair list — so the hash gate IS the proof
    * that forest connectivity equals full-list connectivity on this
    * corpus. The walk whose sf1 cost motivated the mode (3.69 M pairs,
    * ~772 s, SOAK_r15_sf1) becomes O(docs + rep-pairs) with labels
    * unchanged.
    */
  def q247ForestResolve(s: SparkSession, dir: String): DataFrame =
    Dedup.contractedComponents(
      Dedup.jaccardPairsForest(Tables.documents(s, dir), threshold = 0.8),
      stitch = "star")

  /** q248: the forest walk's pair-count accounting — forest mode must
    * not LOSE the pair count the full walk would have emitted (dedup
    * dashboards read it), so every forest edge carries `n_pairs` (rep
    * edge: its |A|·|B| group-product expansion; r-th star edge: its r-1
    * within-group pairs) and this gate pins BOTH invariants as exact
    * aggregates: sum(n_pairs) equals the full walk's pair count, and the
    * edge count equals Σ(k-1) star edges + distinct verified
    * representative pairs — each replayed from first principles in the
    * oracle (identity groups keyed on the sorted distinct token set).
    */
  def q248ForestPairCount(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsForest(Tables.documents(s, dir), threshold = 0.8)
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("sum_pairs"))

  /** q249: per-CLUSTER true-pair mass from the forest walk — the dedup
    * dashboard q109 could not afford at scale: how many true near-dup
    * PAIRS each resolved cluster contains (the quadratic mass a curation
    * owner reads to find boilerplate epicenters), computed WITHOUT ever
    * materializing the pair list. Every forest edge's two endpoints
    * share a component by construction, so summing the edges' carried
    * `n_pairs` per component yields each cluster's exact pair count —
    * O(docs + rep-pairs) work for a statistic that naively costs
    * O(true pairs) (281M rows at dense sf1, SOAK_r16_sf1_sparse.txt).
    * Output: (component, n_docs, pair_mass), one row per cluster.
    */
  def q249ForestPairCensus(s: SparkSession, dir: String): DataFrame = {
    // the forest feeds TWO consumers (the resolver and the pair-mass
    // join) — left lazy, the rep²-block walk would run twice; a checkpoint
    // computes it once (the q99 device). Eager: the walk ends in a join,
    // and the joins over the forest broadcast it only on its measured size.
    val forest = graft.operators.Checkpoints.local(
      Dedup.jaccardPairsForest(Tables.documents(s, dir), threshold = 0.8), eager = true)
    val labels = Dedup.contractedComponents(
      forest.select("doc_id_a", "doc_id_b"), stitch = "star")
    val mass = forest
      .join(labels.withColumnRenamed("doc_id", "doc_id_a"), Seq("doc_id_a"))
      .groupBy("component").agg(sum("n_pairs").as("pair_mass"))
    labels.groupBy("component").agg(count(lit(1)).as("n_docs"))
      .join(mass, Seq("component"))
  }

  /** q250: dedup resolution over the CONTAINMENT forest walk (round 17) —
    * [[graft.operators.Dedup.containmentPairs]]' `pairsMode="forest"`:
    * identity groups collapse before the block² walk (identical token
    * sets have containment 1 both ways and identical containment against
    * everything else), star edges + verified rep pairs replace the full
    * O(true-pairs) quote-inclusion list. The oracle is the full recursive
    * closure over the COMPLETE containment pair list, so the hash gate IS
    * the spanning-subgraph proof on this corpus — q247's contract for the
    * asymmetric walk.
    */
  def q250ContainmentForestResolve(s: SparkSession, dir: String): DataFrame =
    Dedup.contractedComponents(
      Dedup.containmentPairs(Tables.documents(s, dir), threshold = 0.9,
        pairsMode = "forest").select("doc_id_a", "doc_id_b"),
      stitch = "star")

  /** q251: the containment forest's pair-count accounting — q248's two
    * invariants for the asymmetric walk: sum(n_pairs) equals the full
    * containment walk's pair count, n_edges equals Σ(k-1) star edges +
    * distinct verified representative pairs, both replayed from first
    * principles in the oracle.
    */
  def q251ContainmentForestCount(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), threshold = 0.9,
        pairsMode = "forest")
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("sum_pairs"))

  /** q252: dedup resolution over the PREFIX-JOIN forest walk (round 17) —
    * [[graft.operators.Dedup.prefixJaccardPairs]]' `pairsMode="forest"`:
    * the corpus-global identity collapse (no block keys — this walk
    * spans sources) in front of the prefix-filtered exact join. Oracle:
    * full recursive closure over the complete all-pairs replay on q124's
    * slice, so forest connectivity under the EXACT similarity join is
    * hash-gated like q247's blocked walk.
    */
  def q252PrefixForestResolve(s: SparkSession, dir: String): DataFrame =
    Dedup.contractedComponents(
      Dedup.prefixJaccardPairs(
        Tables.documents(s, dir)
          .filter(col("source").isin("src0", "src1", "src2", "src3")),
        threshold = 0.9, pairsMode = "forest")
        .select("doc_id_a", "doc_id_b"),
      stitch = "star")

  /** q253: the prefix forest's pair-count accounting (q248's invariants
    * on q124's slice — identity groups keyed on the sorted distinct
    * token set, corpus-global).
    */
  def q253PrefixForestCount(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(
        Tables.documents(s, dir)
          .filter(col("source").isin("src0", "src1", "src2", "src3")),
        threshold = 0.9, pairsMode = "forest")
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("sum_pairs"))

  /** q109: the dedup diagnostics view over q58's resolution fixed point —
    * how big are the clusters? (cluster_size, n_clusters) histogram: the
    * number a curation owner reads to decide whether near-dup mass is a
    * long tail of pairs or a few mega-clusters (and so whether LSH bucket
    * caps / exact-route thresholds are set right). Labels come from the
    * one-pass blocked union-find (jaccardPairs edges are block-local;
    * identical labels to q58's iterative resolution, DedupSpec-pinned);
    * the histogram is two bounded hash-aggs on top.
    */
  def q109ClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedComponents(
        Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.8,
          keepBlock = true), "block")
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** The custom kernels through the RAW SQL surface: GraftExtensions
    * injects simhash64 / word_gram_hashes (and friends) into the function
    * registry via spark.sql.extensions, so this query is plain SQL text —
    * no Column API — running the same codegen expressions q26/q56 use.
    * Oracle composes the shared SimHash CTEs with the trigram distinct
    * count.
    */
  def q59SqlKernels(s: SparkSession, dir: String): DataFrame = {
    // registerAll, NOT a lone createOrReplaceTempView (round-18 advice):
    // rebinding the fixture-named view out-of-band left registerAll's
    // dir marker pointing at a dir whose views were partly overwritten —
    // registerAll(dirA); q59(dirB); registerAll(dirA) became a no-op with
    // 'documents' still bound to dirB. One writer owns fixture view names.
    Tables.registerAll(s, dir)
    // text IS NOT NULL on BOTH engines: with ANSI off size(NULL) is -1
    // (legacySizeOfNull) while the oracle's CTE chain lands on 0/NULL —
    // excluding null texts symmetrically is the one null contract the two
    // engines can share exactly
    s.sql("""SELECT doc_id, simhash64(text) AS fp,
            |  size(word_gram_hashes(text, 3)) AS n_distinct_grams
            |FROM documents WHERE text IS NOT NULL""".stripMargin)
  }

  /** Deterministic stratified mixture sampling (operators.Sampling): keep
    * 100% of en, 50% of de, 25% of everything else — the reproducible
    * downsampling step of corpus curation. Decisions are md5-bucket pure
    * functions of doc_id, so the oracle replicates them exactly.
    */
  def q60MixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
      idCol = "doc_id", stratumCol = "lang",
      rates = Map("en" -> 100, "de" -> 50), defaultPct = 25)

  /** Token-budget selection — the canonical mixture-building step: per
    * language, admit documents in quality order until a token budget
    * (3000 here) is exhausted. The running total EXCLUDES the current doc
    * (a doc is admitted while the budget is not yet full). NULL texts are
    * excluded symmetrically on both engines (the q59 null contract: legacy
    * size(NULL) = -1 would poison the running sum on one side only).
    *
    * Scale note: the window partitions by lang only, so one task sorts one
    * language's rows — fine at dimension-sized strata, NOT at a 100 TB
    * 'en' stratum. The scale path is the q48→q54 pattern: bound the
    * stratum first (approx quality quantile from one sketch pass, filter
    * to the top band that can possibly fit the budget), then run this
    * exact window on the survivors — selection semantics unchanged.
    */
  def q61TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .filter(col("cum_before") < 3000L)
      .select("doc_id", "lang", "n_tokens", "cum_before")
  }

  /** Approximate per-group median (approx_percentile sketch) — the 100 TB
    * companion to q48's exact positional median, promoted to the hash gate
    * via the q101 banded trick on a SECOND (table, stratum) pair: exact
    * per-returnflag medians of l_extendedprice ride
    * [[graft.operators.StratifiedSelect.chunkedPrefix]] (never a
    * per-stratum sort task), the sketch estimate enters only through the
    * approx_ok boolean gated against the exact p40..p60 VALUE band — vastly
    * wider than the sketch's 10000-accuracy rank error (≤ n/10000 ranks),
    * yet a real per-group assertion the oracle states as TRUE. q101 gates
    * the sketch on orders/o_orderpriority; this one on the 4x-larger
    * lineitem with a 3-value stratum.
    */
  def q54ApproxMedian(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StratifiedSelect
    val nChunks = defaultChunks(s)
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    // Rank-ADDRESSING, not ranking (round-11 ask #3): the exact marks are
    // four order statistics per stratum — median pair + the p40/p60 band
    // ends — so stratumRanks locates their (chunk, local-rank) cells from
    // one count pass and sorts ONLY the addressed cells, where the old
    // chunkedPrefix formulation ranked every row of the table to read
    // four of them (q211 proved the device 2.7x faster on the same
    // oracle). At 100 TB the difference is a full-table shuffle vs
    // ~4 x chunk rows.
    val targets: Long => Seq[Long] = n =>
      Seq((n + 1) / 2, (n + 2) / 2, (2 * n + 4) / 5, (3 * n + 4) / 5)
    val sel = StratifiedSelect.stratumRanks(base,
      stratum = "l_returnflag", primary = "l_extendedprice", desc = false,
      tieBreak = Seq(col("l_orderkey"), col("l_linenumber")),
      targets = targets, nChunks = nChunks)
    val isMed = col("rn") === expr("(n_stratum + 1) DIV 2") ||
      col("rn") === expr("(n_stratum + 2) DIV 2")
    val isLo = col("rn") === expr("(2 * n_stratum + 4) DIV 5")
    val isHi = col("rn") === expr("(3 * n_stratum + 4) DIV 5")
    // The sketch branch reads the base projection over a deterministic
    // 10% hash-sample — independent of the mark branch, so its stage
    // runs concurrently inside the final 3-row join. Sampling widens the
    // sketch's rank error to ~O(1/sqrt(n/10)) percentiles and accuracy
    // 1000 adds n/1000 — both orders of magnitude inside the p40/p60
    // acceptance band (verified green at all three SFs).
    val isSampled =
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10)) === 0
    val marks = sel
      .groupBy("l_returnflag")
      .agg(
        (sum(when(isMed, col("l_extendedprice"))) /
          count(when(isMed, lit(1)))).as("median_price"),
        min(when(isLo, col("l_extendedprice"))).as("lo"),
        min(when(isHi, col("l_extendedprice"))).as("hi"))
    val sketch = base
      .filter(isSampled)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"))
    // LEFT join (round-11 advice): a stratum whose 10% hash-sample is
    // empty keeps its row with approx_ok NULL — the single-groupBy
    // formulation's behavior — instead of vanishing from the report.
    marks.join(sketch, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("median_price"),
        (col("am") >= col("lo") && col("am") <= col("hi")).as("approx_ok"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q52_salted_join"    -> (q52SaltedJoin _),
    "q53_lsh_topk"       -> (q53LshTopk _),
    "q54_approx_median"  -> (q54ApproxMedian _),
    "q45_session_window" -> (q45SessionWindow _),
    "q51_winnow_fp"      -> (q51WinnowFp _),
    "q38_ngram_jaccard" -> (q38NgramJaccard _),
    "q39_quality_score" -> (q39QualityScore _),
    "q42_media_meta"    -> (q42MediaMeta _),
    "q43_tfidf"         -> (q43Tfidf _),
    "q44_approx_distinct" -> (q44ApproxDistinct _),
    "q20_dedup_exact"   -> (q20DedupExact _),
    "q21_text_stats"    -> (q21TextStats _),
    "q22_lang_id"       -> (q22LangId _),
    "q23_fingerprint"   -> (q23Fingerprint _),
    "q24_jaccard_pairs" -> (q24JaccardPairs _),
    "q107_containment_pairs" -> (q107ContainmentPairs _),
    "q124_prefix_join"  -> (q124PrefixJoin _),
    "q110_text_normalize" -> (q110TextNormalize _),
    "q25_minhash_lsh"   -> (q25MinhashLsh _),
    "q26_simhash_fp"    -> (q26SimhashFp _),
    "q55_simhash_pairs" -> (q55SimhashPairs _),
    "q56_repetition"    -> (q56Repetition _),
    "q57_decontam"      -> (q57Decontam _),
    "q246_decontam_fraction" -> (q246DecontamFraction _),
    "q58_dedup_resolve" -> (q58DedupResolve _),
    "q247_forest_resolve" -> (q247ForestResolve _),
    "q248_forest_pair_count" -> (q248ForestPairCount _),
    "q249_forest_pair_census" -> (q249ForestPairCensus _),
    "q250_containment_forest_resolve" -> (q250ContainmentForestResolve _),
    "q251_containment_forest_count" -> (q251ContainmentForestCount _),
    "q252_prefix_forest_resolve" -> (q252PrefixForestResolve _),
    "q253_prefix_forest_count" -> (q253PrefixForestCount _),
    "q109_cluster_sizes" -> (q109ClusterSizes _),
    "q59_sql_kernels"   -> (q59SqlKernels _),
    "q60_mixture_sample" -> (q60MixtureSample _),
    "q61_token_budget"  -> (q61TokenBudget _),
    "q27_ann_topk"      -> (q27AnnTopk _),
    "q184_knn_classify" -> (q184KnnClassify _),
    "q28_ann_ivf"       -> (q28AnnIvf _),
    "q29_embed_neardup" -> (q29EmbedNeardup _),
    "q234_embed_neardup_cell_banded" -> (q234EmbedNeardupCellBanded _),
    "q240_ann_ivf_kmeans_banded" -> (q240AnnIvfKmeansBanded _),
    "q30_events_hourly" -> (q30EventsHourly _),
    "q31_sessionize"    -> (q31Sessionize _),
    "q32_binary_meta"   -> (q32BinaryMeta _))

  private[queries] val langCase: String = {
    val counts = TextFunctions.LangMarkers.map { case (lang, m) =>
      val inList = m.map(w => s"'$w'").mkString(", ")
      lang -> s"len(list_filter(string_split(text, ' '), x -> x IN ($inList)))"
    }
    val names = counts.map { case (lang, e) => s"$e AS c_$lang" }.mkString(",\n    ")
    val whens = counts.map(_._1).map { lang =>
      val geAll = counts.map(_._1).map(o => s"c_$lang >= c_$o").mkString(" AND ")
      s"WHEN $geAll AND c_$lang > 0 THEN '$lang'"
    }.mkString("\n      ")
    s"""SELECT doc_id,
       |  CASE $whens ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, text,
       |    $names
       |  FROM documents)""".stripMargin
  }

  /** The distinct word-3-gram list of token-list expression `v`, as DuckDB
    * SQL — the single source of truth for the q38/q56/q57/q59/q64 oracles'
    * gram generation, including the short-doc whole-text fallback
    * (greatest(len - 1, 2) mirrors WordGramHashes' "< n tokens -> one
    * whole-text gram" contract). One definition so the fallback can never
    * drift between the five oracles.
    */
  private[queries] def trigramListSql(v: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($v) - 1, 2)), " +
      s"i -> array_to_string(list_slice($v, i, i + 2), ' ')))"

  /** The q39 quality-score expression as DuckDB SQL — shared by the
    * q39/q61/q66 oracles so the scoring function cannot drift between them.
    */
  private[queries] val qualitySqlExpr: String =
    """LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
      |  + len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','and','of','to','in')))
      |      / len(string_split(text, ' ')) * 0.3
      |  + (1.0 - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
      |        / LENGTH(text)) * 0.3""".stripMargin

  /** Shared CTE chain for the q24/q58 oracles: exact unigram-Jaccard
    * near-dup pairs (threshold 0.8) within (lang, source) blocks — one
    * definition so the pair semantics can never drift between the pair
    * query and the resolution query built on it.
    */
  /** q24's pair CTEs over an arbitrary base relation — q99 reuses them
    * over its admitted pool; the `documents` instantiation below stays the
    * single source for the q24/q58/q81 oracles.
    */
  private[queries] def unigramPairCtesOver(table: String,
                                           threshold: Double = 0.8): String =
    s"""t AS (SELECT doc_id, lang, source,
      |    list_distinct(string_split(text, ' ')) AS ts FROM $table),
      |p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    len(list_intersect(a.ts, b.ts))
      |      / len(list_distinct(list_concat(a.ts, b.ts))) AS jaccard
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ts, b.ts))
      |      / len(list_distinct(list_concat(a.ts, b.ts))) >= $threshold)""".stripMargin

  private[queries] val unigramPairCtes: String = unigramPairCtesOver("documents")

  /** q107's containment pair list as (da, db) CTEs — the q250/q251
    * oracles' ground truth (threshold 0.9, block-keyed like the engine).
    */
  private[queries] val containmentPairCtes: String =
    """t AS (SELECT doc_id, lang, source,
      |    list_distinct(string_split(text, ' ')) AS ts FROM documents),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE greatest(len(list_intersect(a.ts, b.ts)) / len(a.ts),
      |                 len(list_intersect(a.ts, b.ts)) / len(b.ts)) >= 0.9)""".stripMargin

  /** q124's exact all-pairs replay on its four-source slice as (da, db)
    * CTEs — the q252/q253 oracles' ground truth (corpus-global within
    * the slice: no block keys, exactly the prefix walk's semantics).
    */
  private[queries] val prefixSlicePairCtes: String =
    """t AS (SELECT doc_id,
      |    list_distinct(string_split(text, ' ')) AS ts
      |  FROM documents
      |  WHERE source IN ('src0','src1','src2','src3')
      |    AND text IS NOT NULL),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.ts, b.ts))
      |      / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.9)""".stripMargin

  /** Shared CTE chain computing SimHash64 fingerprints in DuckDB (FNV-1a
    * per token in HUGEINT mod-2^64, 64-bit majority vote, signed BIGINT
    * domain) — the single source of truth for the q26/q55/q59/q67 oracles.
    */
  private[queries] val simhashFpCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_transform(
      |      list_filter(string_split(text, ' '), t -> t <> ''),
      |      t -> list_reduce(
      |        list_prepend(14695981039346656037::HUGEINT,
      |          list_transform(range(1, octet_length(encode(t)) + 1),
      |            i -> (('0x' || substr(hex(encode(t)), 2*i-1, 2))::BIGINT)::HUGEINT)),
      |        (a, b) -> ((a - (a % 256) + xor((a % 256)::BIGINT, b::BIGINT)::HUGEINT)
      |                   * 1099511628211) % 18446744073709551616::HUGEINT)
      |    ) AS th
      |  FROM documents),
      |votes AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 64),
      |      b -> CASE WHEN 2 * len(list_filter(th, h -> (h // (1::HUGEINT << b)) % 2 = 1)) > len(th)
      |                THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)) AS u
      |  FROM toks),
      |fps AS (
      |  SELECT doc_id,
      |    CASE WHEN u >= 9223372036854775808::HUGEINT
      |         THEN (u - 18446744073709551616::HUGEINT)::BIGINT
      |         ELSE u::BIGINT END AS fp
      |  FROM votes)""".stripMargin

  /** ±1 hyperplane component signs for the q53 oracle: the exact Murmur3
    * (seed 42) parity Spark's `hash(i, j)` computes inside
    * VectorFunctions.hyperplaneSignature, evaluated once at oracle-build
    * time and baked into the SQL as a literal DOUBLE[] weight vector — the
    * planes are deterministic constants, no different from a stopword
    * list. Multiplying by exactly ±1.0 is IEEE-exact, and DuckDB's
    * list_dot_product accumulates sequentially like the aggregate() fold,
    * so the per-plane scores are bit-identical. Fixture embeddings are
    * 64-dim at every sf.
    */
  private def planeSql(j: Int, dim: Int = 64): String =
    (0 until dim).map { i =>
      val h1 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(i, 42)
      val h  = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(j, h1)
      if (((h % 2) + 2) % 2 == 0) "1.0" else "-1.0"
    }.mkString("[", ", ", "]::DOUBLE[]")

  val oracles: Map[String, String] = Map(
    // banded sketch gates (the q100-q102/q105 trick): exact stats are
    // SQL-expressible, the sketch estimate enters only through booleans
    // the oracle states as TRUE
    "q25_minhash_lsh" ->
      s"""WITH $unigramPairCtes
         |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM p""".stripMargin,
    "q44_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows,
        |  TRUE AS supp_ok, TRUE AS parts_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q54_approx_median" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  SUM(l_extendedprice) / COUNT(*) AS median_price,
        |  TRUE AS approx_ok
        |FROM ranked
        |WHERE rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
        |   OR rn = CAST(FLOOR((n + 2) / 2.0) AS BIGINT)
        |GROUP BY l_returnflag""".stripMargin,
    // IVF replicated end-to-end: centroids = first 16 vectors, every corpus
    // vector assigned to its max-cosine centroid (tie -> smallest cid,
    // matching max_by(cid, struct(cdist, -cid))), queries probe their 4
    // closest cells, then plain per-query top-10 over the candidate join.
    "q28_ann_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, e, cid FROM (
        |    SELECT v.vec_id, v.e, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        |        ORDER BY list_dot_product(v.e, c.ce)
        |          / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |          c.cid ASC) AS rn
        |    FROM v CROSS JOIN c) t
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 8),
        |probes AS (
        |  SELECT qid, qe, cid FROM (
        |    SELECT q.qid, q.qe, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid
        |        ORDER BY list_dot_product(q.qe, c.ce)
        |          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |          c.cid ASC) AS prank
        |    FROM q CROSS JOIN c) t
        |  WHERE prank <= 4),
        |cand AS (
        |  SELECT p.qid, a.vec_id,
        |    list_dot_product(p.qe, a.e)
        |      / (sqrt(list_dot_product(p.qe, p.qe)) * sqrt(list_dot_product(a.e, a.e))) AS cos
        |  FROM probes p JOIN assigned a ON p.cid = a.cid AND a.vec_id <> p.qid)
        |SELECT qid, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
        |  SELECT qid, vec_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |         AS INTEGER) AS rank
        |  FROM cand) t
        |WHERE rank <= 10""".stripMargin,
    // Hyperplane LSH replicated end-to-end: bucket = 4-bit sign signature
    // against the baked-in ±1 planes (see planeSql), then in-bucket
    // per-query top-10 with the q27 float contract.
    "q53_lsh_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |b AS (
        |  SELECT vec_id, e,
        |      (CASE WHEN list_dot_product(e, ${planeSql(0)}) >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_dot_product(e, ${planeSql(1)}) >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN list_dot_product(e, ${planeSql(2)}) >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN list_dot_product(e, ${planeSql(3)}) >= 0 THEN 8 ELSE 0 END)
        |      AS bucket
        |  FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe, bucket FROM b WHERE vec_id < 8),
        |cand AS (
        |  SELECT q.qid, b.vec_id,
        |    list_dot_product(q.qe, b.e)
        |      / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(b.e, b.e))) AS cos
        |  FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.qid)
        |SELECT qid, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
        |  SELECT qid, vec_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |         AS INTEGER) AS rank
        |  FROM cand) t
        |WHERE rank <= 10""".stripMargin,
    // the salted join must equal the plain join — the oracle IS the
    // unsalted SQL, proving the salt+explode rewrite changes no rows
    "q52_salted_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_acctbal
        |FROM orders
        |LEFT JOIN (SELECT c_custkey, c_name, c_acctbal
        |           FROM customer WHERE c_mktsegment = 'BUILDING') c
        |  ON o_custkey = c_custkey""".stripMargin,
    // SimHash replicated exactly: FNV-1a 64 per space-token (same HUGEINT
    // mod-2^64 reduce as q51), then the 64-bit majority vote — bit b set
    // iff strictly more than half the tokens have bit b set (ties clear,
    // matching votes(b) > 0 in SimHash64.compute) — reassembled as an
    // unsigned HUGEINT and converted to the signed BIGINT domain.
    "q26_simhash_fp" -> s"WITH $simhashFpCtes SELECT doc_id, fp FROM fps",
    // the SQL-surface twin: same fingerprint CTEs + the q56-style trigram
    // distinct count (hash-set cardinality == string-set cardinality)
    "q59_sql_kernels" ->
      s"""WITH $simhashFpCtes,
        |g AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents
        |      WHERE text IS NOT NULL)
        |SELECT f.doc_id, f.fp,
        |  CAST(len(${trigramListSql("sp")}) AS INTEGER) AS n_distinct_grams
        |FROM fps f JOIN g USING (doc_id)""".stripMargin,
    // q55's banding (4x16-bit bands) is LOSSLESS at maxHamming=3: a pair
    // differing in <= 3 bits leaves at least one band untouched
    // (pigeonhole over 4 bands), so the band-join output is EXACTLY all
    // pairs with hamming <= 3 — expressible as the all-pairs SQL below
    // over the shared fingerprint CTEs (the engine never runs all-pairs;
    // the oracle may).
    "q55_simhash_pairs" ->
      s"""WITH $simhashFpCtes
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    // duplicate-trigram fraction: total grams = max(tokens-2, 1) (a <3-token
    // doc contributes its whole text as one gram, mirroring WordGramHashes),
    // distinct grams via string list_distinct (== the kernel's hash-set size)
    "q56_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
        |SELECT doc_id,
        |  CAST(greatest(len(sp) - 2, 1) AS INTEGER) AS n_grams,
        |  CAST(len(${trigramListSql("sp")}) AS INTEGER) AS n_distinct_grams,
        |  1.0 - (CAST(len(${trigramListSql("sp")}) AS DOUBLE)
        |    / CAST(greatest(len(sp) - 2, 1) AS DOUBLE)) AS rep_ratio
        |FROM t""".stripMargin,
    // decontamination: distinct 3-gram shingles per doc, eval = src0 slice,
    // n_shared = |train-doc shingles ∩ eval shingle union|
    // q57's CTE shape with the integer-ppm fraction HAVING; n_grams is the
    // doc's own distinct-trigram count (COUNT(*) over the left join)
    "q246_decontam_fraction" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS sp
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, source, ${trigramListSql("sp")} AS sh FROM t),
        |ev AS (SELECT DISTINCT unnest(sh) AS h FROM g WHERE source = 'src0'),
        |tp AS (SELECT doc_id, unnest(sh) AS h FROM g WHERE source <> 'src0')
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM tp LEFT JOIN ev ON tp.h = ev.h
        |GROUP BY doc_id
        |HAVING SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |  >= 600000 * COUNT(*)""".stripMargin,
    "q57_decontam" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents),
        |g AS (SELECT doc_id, source, ${trigramListSql("sp")} AS sh
        |  FROM t),
        |ev AS (SELECT DISTINCT unnest(sh) AS h FROM g WHERE source = 'src0'),
        |tp AS (SELECT doc_id, unnest(sh) AS h FROM g WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_shared
        |FROM tp JOIN ev USING (h)
        |GROUP BY doc_id HAVING count(*) >= 3""".stripMargin,
    // connected components via transitive closure: reach(a,b) saturates
    // through the recursive UNION (dedup keeps it finite; fixture clusters
    // are block-bounded), then component = min over self + reachable
    "q58_dedup_resolve" ->
      s"""WITH RECURSIVE
        |$unigramPairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin,
    // q58's closure verbatim: forest edges must resolve to the SAME
    // components as the complete pair list — the spanning-subgraph claim
    // under the hash gate
    "q247_forest_resolve" ->
      s"""WITH RECURSIVE
        |$unigramPairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin,
    // forest accounting from first principles: identity groups keyed on
    // the sorted distinct token set (the engine keys on xxhash64 of the
    // hashed set — same grouping, the accepted hash-set contract);
    // n_edges = Σ(k-1) star edges + distinct verified rep pairs,
    // sum_pairs = the full walk's exact pair count
    "q248_forest_pair_count" ->
      s"""WITH $unigramPairCtes,
        |g AS (SELECT doc_id, lang, source, list_sort(ts) AS key
        |  FROM t WHERE ts IS NOT NULL AND len(ts) > 0
        |    AND lang IS NOT NULL AND source IS NOT NULL),
        |r AS (SELECT lang, source, key, min(doc_id) AS rep, count(*) AS k
        |  FROM g GROUP BY 1, 2, 3),
        |m AS (SELECT g.doc_id, r.rep FROM g JOIN r
        |  ON g.lang = r.lang AND g.source = r.source AND g.key = r.key),
        |re AS (SELECT DISTINCT least(ma.rep, mb.rep) AS ra,
        |    greatest(ma.rep, mb.rep) AS rb
        |  FROM p JOIN m ma ON p.da = ma.doc_id
        |         JOIN m mb ON p.db = mb.doc_id
        |  WHERE ma.rep <> mb.rep)
        |SELECT
        |  CAST((SELECT coalesce(sum(k - 1), 0) FROM r)
        |     + (SELECT count(*) FROM re) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS sum_pairs""".stripMargin,
    // q58's closure over the COMPLETE containment pair list: the
    // containment forest must resolve identically (q247's contract for
    // the asymmetric walk)
    "q250_containment_forest_resolve" ->
      s"""WITH RECURSIVE
        |$containmentPairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin,
    // q248's accounting for the containment walk: identity groups are
    // block-keyed, exactly the engine's collapse
    "q251_containment_forest_count" ->
      s"""WITH $containmentPairCtes,
        |g AS (SELECT doc_id, lang, source, list_sort(ts) AS key
        |  FROM t WHERE ts IS NOT NULL AND len(ts) > 0
        |    AND lang IS NOT NULL AND source IS NOT NULL),
        |r AS (SELECT lang, source, key, min(doc_id) AS rep, count(*) AS k
        |  FROM g GROUP BY 1, 2, 3),
        |m AS (SELECT g.doc_id, r.rep FROM g JOIN r
        |  ON g.lang = r.lang AND g.source = r.source AND g.key = r.key),
        |re AS (SELECT DISTINCT least(ma.rep, mb.rep) AS ra,
        |    greatest(ma.rep, mb.rep) AS rb
        |  FROM p JOIN m ma ON p.da = ma.doc_id
        |         JOIN m mb ON p.db = mb.doc_id
        |  WHERE ma.rep <> mb.rep)
        |SELECT
        |  CAST((SELECT coalesce(sum(k - 1), 0) FROM r)
        |     + (SELECT count(*) FROM re) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS sum_pairs""".stripMargin,
    // q58's closure over the exact all-pairs replay on q124's slice: the
    // prefix forest must resolve identically
    "q252_prefix_forest_resolve" ->
      s"""WITH RECURSIVE
        |$prefixSlicePairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin,
    // q248's accounting for the prefix walk: identity groups are
    // corpus-global (the walk spans sources)
    "q253_prefix_forest_count" ->
      s"""WITH $prefixSlicePairCtes,
        |g AS (SELECT doc_id, list_sort(ts) AS key
        |  FROM t WHERE ts IS NOT NULL AND len(ts) > 0),
        |r AS (SELECT key, min(doc_id) AS rep, count(*) AS k
        |  FROM g GROUP BY 1),
        |m AS (SELECT g.doc_id, r.rep FROM g JOIN r ON g.key = r.key),
        |re AS (SELECT DISTINCT least(ma.rep, mb.rep) AS ra,
        |    greatest(ma.rep, mb.rep) AS rb
        |  FROM p JOIN m ma ON p.da = ma.doc_id
        |         JOIN m mb ON p.db = mb.doc_id
        |  WHERE ma.rep <> mb.rep)
        |SELECT
        |  CAST((SELECT coalesce(sum(k - 1), 0) FROM r)
        |     + (SELECT count(*) FROM re) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS sum_pairs""".stripMargin,
    // q58's closure + per-component doc and PAIR counts: pair_mass is the
    // number of exact pairs whose endpoints resolve into the component —
    // the engine derives it from the forest edges' n_pairs aggregate
    // without materializing the pair list
    "q249_forest_pair_census" ->
      s"""WITH RECURSIVE
        |$unigramPairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM labels GROUP BY 1),
        |mass AS (SELECT l.component, CAST(COUNT(*) AS BIGINT) AS pair_mass
        |  FROM p JOIN labels l ON p.da = l.doc_id GROUP BY 1)
        |SELECT component, n_docs, pair_mass
        |FROM sizes JOIN mass USING (component)""".stripMargin,
    // q58's closure + the two aggregation levels
    "q109_cluster_sizes" ->
      s"""WITH RECURSIVE
        |$unigramPairCtes,
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |  FROM reach GROUP BY a),
        |sizes AS (SELECT component, COUNT(*) AS cluster_size
        |  FROM labels GROUP BY 1)
        |SELECT cluster_size, COUNT(*) AS n_clusters
        |FROM sizes GROUP BY 1""".stripMargin,
    // md5-bucket sampling is a pure function of doc_id on both engines
    // (coalesce matches hashBucket's defined NULL-id behavior)
    "q60_mixture_sample" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |WHERE ('0x' || substr(md5(coalesce(doc_id::VARCHAR, '')), 1, 4))::INT % 100
        |  < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 ELSE 25 END""".stripMargin,
    // header sizes mirror Multimodal.syntheticMedia: 33-byte PNG header
    // (signature + IHDR chunk), 39-byte JPEG header (SOI + APP0 + SOF0),
    // 10-byte truncated-PNG corrupt slice (magic + 'XX', no text)
    "q42_media_meta" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 12 = 0 THEN 10
        |    ELSE octet_length(encode(text))
        |      + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 0 END
        |    END AS INTEGER) AS n_bytes,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE NULL END AS format,
        |  doc_id % 3 IN (0, 1) AND doc_id % 12 <> 0 AS ok
        |FROM documents""".stripMargin,
    // Winnowing replicated exactly: FNV-1a 64 per token over UTF-8 bytes,
    // degree-5 polynomial rolling hash (base 1315423911), min of each
    // 4-gram window — all in HUGEINT mod-2^64 arithmetic. Grams convert to
    // the SIGNED domain before the window min / sort, matching the JVM's
    // signed long comparison in WinnowFingerprint.compute.
    "q51_winnow_fp" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(string_split(text, ' '), t -> t <> ''),
        |      t -> list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |          list_transform(range(1, octet_length(encode(t)) + 1),
        |            i -> (('0x' || substr(hex(encode(t)), 2*i-1, 2))::BIGINT)::HUGEINT)),
        |        (a, b) -> ((a - (a % 256) + xor((a % 256)::BIGINT, b::BIGINT)::HUGEINT)
        |                   * 1099511628211) % 18446744073709551616::HUGEINT)
        |    ) AS th
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_transform(range(0, greatest(len(th) - 5 + 1, 1)),
        |        g -> list_reduce(
        |               list_prepend(0::HUGEINT, list_slice(th, g + 1, g + least(5, len(th)))),
        |               (a, b) -> (a * 1315423911 + b) % 18446744073709551616::HUGEINT)),
        |      u -> CASE WHEN u >= 9223372036854775808::HUGEINT
        |                THEN (u - 18446744073709551616::HUGEINT)::BIGINT
        |                ELSE u::BIGINT END) AS gr
        |  FROM toks WHERE len(th) > 0),
        |mins AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      list_transform(range(0, greatest(len(gr) - 4 + 1, 1)),
        |        s -> list_aggregate(list_slice(gr, s + 1, least(s + 4, len(gr))), 'min')))) AS fps
        |  FROM grams)
        |SELECT doc_id, unnest(fps) AS fp FROM mins""".stripMargin,
    "q45_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "q43_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, rk, term, score FROM (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * (CAST(n.n AS DOUBLE) / df.df) AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * (CAST(n.n AS DOUBLE) / df.df) DESC, tf.term)
        |      AS INTEGER) AS rk
        |  FROM tf JOIN df USING (term) CROSS JOIN n) t
        |WHERE rk <= 3""".stripMargin,
    "q38_ngram_jaccard" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source,
        |    ${trigramListSql("string_split(text, ' ')")} AS sh
        |  FROM documents)
        |SELECT doc_id_a, doc_id_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |    len(list_intersect(a.sh, b.sh))
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.02""".stripMargin,
    "q39_quality_score" ->
      s"SELECT doc_id,\n  $qualitySqlExpr AS quality\nFROM documents",
    // token-budget selection: running token total (EXCLUDING the current
    // doc) per lang in quality order; a doc is admitted while the budget
    // is not yet exhausted. SUM(int) widens to HUGEINT in DuckDB -> cast
    // back to BIGINT to match Spark's long.
    "q61_token_budget" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    $qualitySqlExpr AS quality
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_before
        |FROM w WHERE cum_before < 3000""".stripMargin,
    "q20_dedup_exact" ->
      "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text",
    "q21_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\x09-\x0D ]')) AS INTEGER)
        |    AS n_regex_tokens,
        |  CAST(LENGTH(text) AS INTEGER) AS n_chars_computed,
        |  len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','and','of','to','in')))
        |    / len(string_split(text, ' ')) AS stopword_ratio
        |FROM documents""".stripMargin,
    "q22_lang_id" -> langCase,
    "q23_fingerprint" ->
      "SELECT doc_id, md5(LOWER(text)) AS fp FROM documents",
    "q24_jaccard_pairs" ->
      s"""WITH $unigramPairCtes
        |SELECT da AS doc_id_a, db AS doc_id_b, jaccard FROM p""".stripMargin,
    // the honest quadratic: DuckDB replays ALL pairs on the slice, so a
    // single pair missed by the prefix pruning breaks the hash
    "q124_prefix_join" ->
      """WITH t AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS ts
        |  FROM documents
        |  WHERE source IN ('src0','src1','src2','src3')
        |    AND text IS NOT NULL)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.ts, b.ts))
        |    / len(list_distinct(list_concat(a.ts, b.ts))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ts, b.ts))
        |    / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.9""".stripMargin,
    "q107_containment_pairs" ->
      """WITH t AS (SELECT doc_id, lang, source,
        |    list_distinct(string_split(text, ' ')) AS ts FROM documents)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.ts, b.ts)) / len(a.ts) AS containment_a,
        |  len(list_intersect(a.ts, b.ts)) / len(b.ts) AS containment_b
        |FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE greatest(len(list_intersect(a.ts, b.ts)) / len(a.ts),
        |               len(list_intersect(a.ts, b.ts)) / len(b.ts)) >= 0.9""".stripMargin,
    // the same pipeline in DuckDB: utf8proc NFC, ascii-only translate
    // lowercase (full case folding is engine/locale-dependent), RE2's
    // ascii \s class collapsed, trim — see NormalizeText's scaladoc
    "q110_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(translate(nfc_normalize(text),
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |    '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    "q27_ann_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |  q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 8),
        |  scored AS (
        |    SELECT q.qid, v.vec_id,
        |      list_dot_product(q.qe, v.e)
        |        / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.e, v.e)))
        |        AS cos
        |    FROM q JOIN v ON v.vec_id <> q.qid)
        |SELECT qid, rank, vec_id AS neighbor_id, ROUND(cos, 6) AS cos_sim FROM (
        |  SELECT qid, vec_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |         AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""".stripMargin,
    // scoring, k-boundary ranking, and the majority vote replayed
    // end-to-end with q27's float contract; vote ties break on the
    // smaller label in both engines
    "q184_knn_classify" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe, label AS true_label
        |      FROM v WHERE vec_id < 32),
        |c AS (SELECT vec_id, e, label FROM v WHERE vec_id >= 32),
        |scored AS (
        |  SELECT q.qid, q.true_label, c.label,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY list_dot_product(q.qe, c.e)
        |        / (sqrt(list_dot_product(q.qe, q.qe))
        |           * sqrt(list_dot_product(c.e, c.e))) DESC,
        |        c.vec_id) AS rk
        |  FROM q CROSS JOIN c),
        |votes AS (
        |  SELECT qid, true_label, label AS pred_label, COUNT(*) AS n_votes
        |  FROM scored WHERE rk <= 10 GROUP BY 1, 2, 3),
        |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY n_votes DESC, pred_label) AS vr FROM votes)
        |SELECT qid, true_label, pred_label, n_votes
        |FROM w WHERE vr = 1 ORDER BY qid""".stripMargin,
    "q29_embed_neardup" ->
      """WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.label, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  ROUND(list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
        |    AS cos_sim
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3""".stripMargin,
    // banded gate (the q105 device): the exact label-blocked pair COUNT is
    // the hash-checked column; the cell-blocked walk enters only through
    // the recall_ok boolean the oracle asserts TRUE
    "q234_embed_neardup_cell_banded" ->
      """WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3""".stripMargin,
    // banded gate for the k-means quantizer: the brute-force top-10 COUNT
    // is the hash-checked column (q27's float contract); the kmeansIters=2
    // IVF walk enters only through the recall_ok boolean asserted TRUE
    "q240_ann_ivf_kmeans_banded" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |  q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 8),
        |  scored AS (
        |    SELECT q.qid, v.vec_id,
        |      list_dot_product(q.qe, v.e)
        |        / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.e, v.e)))
        |        AS cos
        |    FROM q JOIN v ON v.vec_id <> q.qid)
        |SELECT COUNT(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10""".stripMargin,
    "q30_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q31_sessionize" ->
      """SELECT user_id,
        |  CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts, event_id,
        |      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |    FROM events) t) s
        |GROUP BY user_id""".stripMargin,
    "q32_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha
        |FROM documents""".stripMargin)
}
