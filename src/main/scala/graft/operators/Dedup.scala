package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{SimHash64, TextFunctions}

/** Deduplication family for LLM-corpus pipelines (BASELINE.json north star):
  * exact, unigram-Jaccard, MinHash+LSH, SimHash. All shapes are
  * shuffle-minimal and scale-first:
  *
  *  - exact: one hash-aggregate on the text (or its md5 at 100 TB, so the
  *    shuffle moves 16-byte keys instead of documents);
  *  - MinHash+LSH: per-row signature (map-only) -> explode b bands ->
  *    ONE shuffle on (band, bandHash) -> within-bucket pairs -> exact
  *    verification. Never an n² cross join;
  *  - SimHash: per-row 64-bit fingerprint (native Catalyst expression) ->
  *    band the 64 bits into 4x16-bit keys -> same bucket-join shape.
  */
object Dedup {

  /** The shared group-size-cap shape behind every capacity cap here
    * (q24 blocks, q25 LSH buckets, q38 posting lists): one window count
    * over the SAME keys the downstream join/aggregation shuffles on (the
    * exchange is reused — no extra shuffle), an observed drop volume, then
    * the filter. Emits `metricName` with dropped_rows / dropped_groups /
    * max_group_size: each dropped group of size k contributes k rows each
    * adding 1/k, so dropped_groups is EXACT (observe forbids distinct
    * aggregates; round() scrubs the float dust). GraftSession's
    * QueryExecutionListener logs every graft_* observation. Caveat shared
    * by all callers: if the FINAL query result is empty, AQE's
    * empty-relation propagation replaces the plan — CollectMetrics
    * included — so the observation disappears along with the output
    * (specs pin this in DedupSpec).
    */
  private[graft] def capGroups(df: DataFrame, keys: Seq[String], cap: Int,
                               metricName: String): DataFrame =
    fenceGroups(groupSized(df, keys), cap, metricName)

  /** [[capGroups]]' window: each row's group size as `__gsz`. */
  private def groupSized(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("__gsz", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))

  /** [[capGroups]]' observation and filter over a [[groupSized]] frame —
    * split out so a frame sized once can be fenced by several readers.
    */
  private def fenceGroups(sized: DataFrame, cap: Int,
                          metricName: String): DataFrame =
    sized
      .observe(metricName,
        sum(when(col("__gsz") > cap, 1L).otherwise(0L)).as("dropped_rows"),
        round(sum(when(col("__gsz") > cap, lit(1.0) / col("__gsz"))
          .otherwise(0.0)), 0).as("dropped_groups"),
        max(col("__gsz")).as("max_group_size"))
      .filter(col("__gsz") <= cap)
      .drop("__gsz")

  /** Exact dedup: keep the smallest doc_id per identical text, with the
    * duplicate count (group-by, partial-aggregated map-side).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup at 100 TB: group on the md5 of the RAW text (not
    * TextFunctions.fingerprint, which lowercases and would merge
    * case-variant documents) so the shuffle moves 32-byte keys instead of
    * whole documents. md5 collision ~2^-64 at realistic corpus sizes; the
    * survivors' ids are exact either way and agree with `exact`.
    */
  def exactByFingerprint(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    docs.select(md5(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Unigram-Jaccard near-dup pairs within (lang, source) blocks: exact set
    * Jaccard over distinct tokens, emitted when >= threshold. Blocking keys
    * bound the pair count (the classic entity-resolution shape); the join
    * shuffles both sides once on the block key.
    *
    * This walk is O(block²) BY DESIGN (the exact, oracle-checkable
    * companion to the LSH/inverted-index shapes — see q38's scaladoc for
    * why posting lists degenerate on its ~30-word unigram vocabulary), so
    * the block-size contract is enforceable in code, not just prose:
    * with `maxBlockSize` set, blocks above the cap are dropped from the
    * join with an observed, logged count (`graft_q24_block_cap`) instead of
    * silently melting the stage. Off by default: the fixtures' ~100 blocks
    * are all dimension-sized.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxBlockSize: Int = Int.MaxValue,
                   keepBlock: Boolean = false): DataFrame = {
    // sorted hashed token sets (one codegen kernel — bit-identical to the
    // HOF chain, see WordGramHashes): cardinalities (and so the Jaccard
    // values) match the string-set computation; the pairwise hot loop is
    // the codegen'd SortedIntersectCount merge walk over longs
    val withSets0 = docs.select(
      col("doc_id"), col("lang"), col("source"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("tset"))
    val withSets =
      if (maxBlockSize == Int.MaxValue) withSets0
      else capGroups(withSets0, Seq("lang", "source"), maxBlockSize,
        "graft_q24_block_cap")
    val a = withSets.select(
      col("lang"), col("source"),
      col("doc_id").as("doc_id_a"), col("tset").as("tset_a"))
    val b = withSets.select(
      col("lang"), col("source"),
      col("doc_id").as("doc_id_b"), col("tset").as("tset_b"))
    val pairs = a.join(b, Seq("lang", "source"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .withColumn("ic", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("tset_a"), col("tset_b")))
      .withColumn("jaccard", col("ic").cast("double") /
        (size(col("tset_a")) + size(col("tset_b")) - col("ic")))
      .filter(col("jaccard") >= threshold)
    // keepBlock: expose the (lang, source) block key the pair was generated
    // in — every edge is block-local by construction, which is exactly
    // the precondition [[blockedComponents]] needs. to_json(struct) keys
    // the block UNambiguously: a concat_ws("|") key would merge
    // ("a","b|c") with ("a|b","c") into one union-find task, letting the
    // maxBlockEdges fence meter (and trip on) a combined block whose
    // halves are individually fine.
    if (keepBlock)
      pairs.select(to_json(struct(col("lang"), col("source"))).as("block"),
        col("doc_id_a"), col("doc_id_b"), col("jaccard"))
    else pairs.select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** [[jaccardPairs]] in FOREST mode — the resolution-bound consumer's
    * shape (q239's near-dup-safe split, q244's dedup stage): downstream
    * connected components need only a SPANNING SUBGRAPH of the pair
    * graph, so materializing every true pair is pure output cost.
    *
    * Documents are first collapsed to identity groups (same distinct
    * token set within the same (lang, source) block ⇒ pairwise Jaccard
    * exactly 1, and identical Jaccard against everything else). The
    * block² walk then runs over one REPRESENTATIVE per group — the
    * quadratic term falls from documents to distinct contents, the
    * [[minhashLshDistinct]] device applied to the exact walk — and the
    * emission is O(docs + rep-pairs): star edges rep→member inside each
    * group, ONE rep→rep edge per verified representative pair. Recall is
    * 1.0 by construction (no LSH banding anywhere — the collapse keys on
    * xxhash64 of the token set, the repo-wide 2⁻⁶⁴ hash-set contract,
    * and everything else is the exact walk), so
    * connected components over this output are IDENTICAL to components
    * over [[jaccardPairs]]'s full list — q239/q244 route it with their
    * full-closure oracles unchanged, which is the hash gate for the
    * equivalence.
    *
    * The full walk's exact pair count survives as the `n_pairs` column
    * (rep edge: |A|·|B| group product; r-th member's star edge: its r-1
    * within-group pairs) — sum(n_pairs) equals count([[jaccardPairs]])
    * without materializing it (DedupSpec pins both invariants).
    *
    * `maxBlockSize` caps block size in REPRESENTATIVES (same
    * `graft_q24_block_cap` observation). Under a cap, a capped-out
    * block's identity groups contribute NO edges either — star edges
    * are emitted only for groups whose representative survived the cap
    * (a left-semi join that elides entirely at the default cap), so the
    * forest stays self-consistent: components over it equal components
    * over "the capped-representative corpus expanded by its identity
    * groups", and sum(n_pairs) counts exactly that corpus's pairs. Note
    * this is a DIFFERENT subset than [[jaccardPairs]] with the same cap
    * (which caps in documents, not representatives) — the subset/count
    * equivalences with the full walk hold only at the default cap.
    */
  def jaccardPairsForest(docs: DataFrame, threshold: Double,
                         maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    blockIdentityForest(docs, maxBlockSize, "graft_q24_block_cap",
      starKernelCols = Seq(lit(1.0).as("jaccard"))) { (a, b) =>
      a.join(b, Seq("lang", "source"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .withColumn("ic", graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("tset_a"), col("tset_b")))
        .withColumn("jaccard", col("ic").cast("double") /
          (size(col("tset_a")) + size(col("tset_b")) - col("ic")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
          (col("gsz_a") * col("gsz_b")).as("n_pairs"))
    }
  }

  /** The block-local identity-group forest scaffold shared by
    * [[jaccardPairsForest]] and [[containmentPairsForest]] (round-17
    * review — the round-16 null-key and capped-star fixes each had to
    * land per copy; now they live once):
    *
    *  - empty/null token sets can never reach a positive threshold in a
    *    full walk (the similarity divides to 0 or NULL) — dropped BEFORE
    *    identity grouping, or empty docs would wrongly star-edge each
    *    other; NULL block keys likewise (the full walks' equi-joins never
    *    match NULL lang/source, but a window partition groups NULLs
    *    together — round-16 review catch);
    *  - identity grouping keys on xxhash64 of the set — exact up to the
    *    repo-wide 2⁻⁶⁴ hash-set contract, not LSH-probabilistic;
    *  - `maxBlockSize` caps in REPRESENTATIVES, and under a cap star
    *    edges are emitted only for SURVIVING groups (the pre-cap ranked
    *    frame would hand a capped-out block its identity-group edges and
    *    n_pairs mass — round-16 advice);
    *  - the r-th member's star edge carries its r−1 within-group pairs,
    *    so sum(n_pairs) over star + rep edges is the full walk's count.
    *
    * `repEdges(a, b)` is the kernel-specific rep² walk: it receives the
    * (lang, source, doc_id_a/b, tset_a/b, gsz_a/b) projections and must
    * return (doc_id_a, doc_id_b, <kernel cols>, n_pairs);
    * `starKernelCols` are the same kernel columns at their within-group
    * constant (similarity exactly 1).
    */
  private def blockIdentityForest(docs: DataFrame, maxBlockSize: Int,
                                  capMetric: String,
                                  starKernelCols: Seq[Column])(
      repEdges: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val withSets = docs.select(
        col("doc_id"), col("lang"), col("source"),
        graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("tset"))
      .filter(col("tset").isNotNull && size(col("tset")) > 0 &&
        col("lang").isNotNull && col("source").isNotNull)
      .withColumn("k", xxhash64(col("tset")))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source", "k")
    val ranked = withSets
      .withColumn("r", row_number().over(wg.orderBy("doc_id")))
      .withColumn("rep", min("doc_id").over(wg))
      .withColumn("gsz", count(lit(1)).over(wg))
    val reps0 = ranked.filter(col("r") === 1)
      .select(col("lang"), col("source"), col("doc_id"), col("tset"), col("gsz"))
    val reps =
      if (maxBlockSize == Int.MaxValue) reps0
      else capGroups(reps0, Seq("lang", "source"), maxBlockSize, capMetric)
    val a = reps.select(col("lang"), col("source"),
      col("doc_id").as("doc_id_a"), col("tset").as("tset_a"), col("gsz").as("gsz_a"))
    val b = reps.select(col("lang"), col("source"),
      col("doc_id").as("doc_id_b"), col("tset").as("tset_b"), col("gsz").as("gsz_b"))
    val edges = repEdges(a, b)
    val star0 = ranked.filter(col("r") >= 2)
      .select(col("lang"), col("source"), col("rep"),
        col("doc_id").as("doc_id_b"), (col("r") - 1).cast("long").as("n_pairs"))
    val starKept =
      if (maxBlockSize == Int.MaxValue) star0
      else star0.join(
        reps.select(col("lang"), col("source"), col("doc_id").as("rep")),
        Seq("lang", "source", "rep"), "left_semi")
    val star = starKept.select(
      Seq(col("rep").as("doc_id_a"), col("doc_id_b")) ++
        starKernelCols :+ col("n_pairs"): _*)
    edges.unionByName(star)
  }

  /** Asymmetric near-dup: CONTAINMENT |A∩B|/|A| catches what Jaccard
    * misses — a short doc quoted wholesale inside a long one scores
    * near-zero Jaccard (union is dominated by the long doc) but
    * containment ≈ 1 for the short side. The practical dedup question for
    * quote inclusion / boilerplate supersets. Emits one row per unordered
    * pair (doc_id_a < doc_id_b) whose LARGER directional containment
    * clears the threshold, with both directions as columns so the caller
    * can tell container from contained.
    *
    * Same blocked O(block²) contract, kernels, and cap semantics as
    * [[jaccardPairs]] — one codegen set pass, merge-walk intersect, block
    * cap observable via `graft_q24_block_cap`'s twin.
    *
    * `pairsMode="forest"` (round-17 verdict ask #6) applies the
    * [[jaccardPairsForest]] device: identical token sets within a block
    * have pairwise containment exactly 1 in BOTH directions and identical
    * containment against every other set (both directional denominators
    * and the intersection depend only on the sets), so documents collapse
    * to identity groups, the block² walk runs over one representative per
    * group, and the emission is O(docs + rep-pairs): star edges
    * (containment 1.0/1.0) plus one verified rep pair each, every edge
    * carrying `n_pairs` so sum(n_pairs) equals the full walk's pair count
    * without materializing it. Components over the forest equal
    * components over the full list (q250 routes it under a full-closure
    * oracle); under a non-default cap the forest caps in REPRESENTATIVES
    * with capped-out groups contributing nothing — [[jaccardPairsForest]]'s
    * cap semantics verbatim.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       maxBlockSize: Int = Int.MaxValue,
                       pairsMode: String = "all"): DataFrame = {
    require(pairsMode == "all" || pairsMode == "forest",
      s"pairsMode must be 'all' or 'forest', got $pairsMode")
    if (pairsMode == "forest")
      return containmentPairsForest(docs, threshold, maxBlockSize)
    val withSets0 = docs.select(
      col("doc_id"), col("lang"), col("source"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("tset"))
    val withSets =
      if (maxBlockSize == Int.MaxValue) withSets0
      else capGroups(withSets0, Seq("lang", "source"), maxBlockSize,
        "graft_q107_block_cap")
    val a = withSets.select(
      col("lang"), col("source"),
      col("doc_id").as("doc_id_a"), col("tset").as("tset_a"))
    val b = withSets.select(
      col("lang"), col("source"),
      col("doc_id").as("doc_id_b"), col("tset").as("tset_b"))
    a.join(b, Seq("lang", "source"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .withColumn("ic", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("tset_a"), col("tset_b")))
      .withColumn("containment_a", col("ic").cast("double") / size(col("tset_a")))
      .withColumn("containment_b", col("ic").cast("double") / size(col("tset_b")))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select("doc_id_a", "doc_id_b", "containment_a", "containment_b")
  }

  /** [[containmentPairs]]' forest shape — see the pairsMode doc there.
    * Output adds `n_pairs`; star edges carry containment 1.0/1.0.
    */
  private def containmentPairsForest(docs: DataFrame, threshold: Double,
                                     maxBlockSize: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"forest mode needs threshold in (0, 1] (within-group containment is 1), got $threshold")
    blockIdentityForest(docs, maxBlockSize, "graft_q107_block_cap",
      starKernelCols = Seq(lit(1.0).as("containment_a"),
        lit(1.0).as("containment_b"))) { (a, b) =>
      a.join(b, Seq("lang", "source"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .withColumn("ic", graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("tset_a"), col("tset_b")))
        .withColumn("containment_a", col("ic").cast("double") / size(col("tset_a")))
        .withColumn("containment_b", col("ic").cast("double") / size(col("tset_b")))
        .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
        .select(col("doc_id_a"), col("doc_id_b"),
          col("containment_a"), col("containment_b"),
          (col("gsz_a") * col("gsz_b")).as("n_pairs"))
    }
  }

  /** EXACT all-pairs Jaccard join without the all-pairs: prefix filtering
    * (the PPJoin family's prefix principle, public literature) replaces
    * both the O(n²) scan AND the probabilistic-recall LSH compromise.
    * Tokens get a global rarest-first total order (document frequency asc,
    * hash asc); a doc of n distinct tokens exposes only its first
    * n - ⌈t·n⌉ + 1 ordered tokens as join keys. Two sets with
    * Jaccard ≥ t MUST collide on at least one exposed token — if their
    * prefixes were disjoint, even perfect overlap of everything after
    * both prefixes leaves the intersection below the threshold — so
    * recall is 1.0 by theorem, not by tuning: the output is the exact
    * same pair set an all-pairs scan yields (the spec proves equality
    * against brute force; the oracle replays all-pairs in SQL).
    *
    * Scale shape: candidates are generated by joining on PREFIX tokens
    * only, and the rarest-first order makes those the shortest posting
    * lists in the corpus — the frequent-token quadratic blowup an
    * inverted-index join suffers is structurally excluded (a token of
    * df=d contributes ≤ d² candidates only if it lands in prefixes,
    * which high-df tokens don't). Shuffles: one token-df aggregation,
    * one per-doc sort (bounded by doc length — the per-key window
    * contract), one equi-join on the exposed tokens, one distinct on the
    * surviving pairs. The length filter (⌈t·|x|⌉ ≤ |y| ≤ |x|/t) prunes
    * candidates before the merge-walk verification kernel runs.
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double,
                         pairsMode: String = "all"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(pairsMode == "all" || pairsMode == "forest",
      s"pairsMode must be 'all' or 'forest', got $pairsMode")
    val withSets0 = docs.filter(col("text").isNotNull).select(
      col("doc_id"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("tset"))
    if (pairsMode == "all")
      prefixWalk(withSets0.withColumn("gsz", lit(1L)), threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    else {
      // FOREST shape (round-17 verdict ask #6), the jaccardPairsForest
      // device without block keys (this walk is corpus-global): identical
      // token sets collapse to identity groups keyed on xxhash64 of the
      // set, the prefix walk runs over one representative per group (the
      // quadratic candidate term falls from documents to distinct
      // contents), and the emission is O(docs + rep-pairs) — star edges
      // (jaccard 1.0 — within-group Jaccard is exactly 1, >= any legal
      // threshold) plus the verified rep pairs, each carrying `n_pairs`
      // so sum(n_pairs) equals the full walk's exact pair count. Recall
      // stays 1.0: the prefix theorem gives exactness over the reps, the
      // collapse is exact up to the repo-wide 2^-64 hash-set contract.
      // Empty sets can never clear a positive threshold in the full walk
      // (0/0 -> NULL) — excluded before grouping so they never star-edge.
      val nonEmpty = withSets0.filter(size(col("tset")) > 0)
        .withColumn("k", xxhash64(col("tset")))
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("k")
      val ranked = nonEmpty
        .withColumn("r", row_number().over(wg.orderBy("doc_id")))
        .withColumn("rep", min("doc_id").over(wg))
        .withColumn("gsz", count(lit(1)).over(wg))
      val reps = ranked.filter(col("r") === 1)
        .select(col("doc_id"), col("tset"), col("gsz"))
      val repEdges = prefixWalk(reps, threshold)
        .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
          (col("gsz_a") * col("gsz_b")).as("n_pairs"))
      val star = ranked.filter(col("r") >= 2)
        .select(col("rep").as("doc_id_a"), col("doc_id").as("doc_id_b"),
          lit(1.0).as("jaccard"), (col("r") - 1).cast("long").as("n_pairs"))
      repEdges.unionByName(star)
    }
  }

  /** The prefix-filtered exact-Jaccard walk over (doc_id, tset, gsz)
    * rows — [[prefixJaccardPairs]]' engine, factored so forest mode can
    * run it over identity-group representatives. Returns one row per
    * qualifying unordered pair with both sides' `gsz` carried through.
    */
  private def prefixWalk(withSets: DataFrame, threshold: Double): DataFrame = {
    val toks = withSets.select(col("doc_id"), explode(col("tset")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // rarest-first total order, ties broken by hash — deterministic and
    // identical for every doc, the prefix theorem's only requirement
    val ordered = toks.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), s => s.getField("tok")).as("otoks"))
    // epsilon before ceil: IEEE slop in t·n must never round UP across an
    // integer — that would shrink the prefix / tighten the length filter
    // and silently drop a valid pair; erring low only admits candidates
    // the exact verification kills anyway
    def ceilSafe(x: org.apache.spark.sql.Column) = ceil(x - lit(1e-9))
    val exposed = withSets.join(ordered, "doc_id")
      .withColumn("n", size(col("tset")))
      .withColumn("p",
        (col("n") - ceilSafe(lit(threshold) * col("n")) + 1).cast("int"))
      .select(col("doc_id"), col("tset"), col("n"), col("gsz"),
        explode(slice(col("otoks"), lit(1), col("p"))).as("tok"))
    val a = exposed.select(col("tok"), col("doc_id").as("doc_id_a"),
      col("tset").as("tset_a"), col("n").as("n_a"), col("gsz").as("gsz_a"))
    val b = exposed.select(col("tok"), col("doc_id").as("doc_id_b"),
      col("tset").as("tset_b"), col("n").as("n_b"), col("gsz").as("gsz_b"))
    a.join(b, Seq("tok"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .filter(col("n_b") >= ceilSafe(lit(threshold) * col("n_a")) &&
              col("n_a") >= ceilSafe(lit(threshold) * col("n_b")))
      .withColumn("ic", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("tset_a"), col("tset_b")))
      .withColumn("jaccard", col("ic").cast("double") /
        (col("n_a") + col("n_b") - col("ic")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard", "gsz_a", "gsz_b")
      .distinct()
  }

  /** Deterministic minhash signature: numHashes permutations approximated by
    * h_j(s) = a_j * xxhash64(s) + b_j (mod 2^64 wraparound), min over the
    * document's shingle set. One pass, map-only.
    *
    * Takes the PRE-HASHED shingle array (`transform(sh, xxhash64)`
    * materialized as its own column): inlining the hash into all numHashes
    * signature expressions would re-evaluate it numHashes times per row —
    * interpreted HOFs get no common-subexpression elimination.
    */
  def minhashSignatureFromHashes(shingleHashes: Column, numHashes: Int): Column = {
    val coeffs = MinhashCoeffs.take(numHashes)
    array(coeffs.map { case (a, b) =>
      array_min(transform(shingleHashes, h => h * lit(a) + lit(b)))
    }: _*)
  }

  def minhashSignature(shingles: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(shingles, s => xxhash64(s)), numHashes)

  /** Deterministic odd multipliers/offsets (splitmix64 of the index) —
    * fixed so signatures are reproducible across runs and engines.
    */
  private lazy val MinhashCoeffs: Seq[(Long, Long)] =
    (0 until 128).map { i =>
      (splitmix64(2L * i) | 1L, splitmix64(2L * i + 1))
    }

  /** Primitive coefficient arrays for the MinHashSig codegen kernel. */
  lazy val minhashCoeffArrays: (Array[Long], Array[Long]) =
    (MinhashCoeffs.map(_._1).toArray, MinhashCoeffs.map(_._2).toArray)

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash+LSH near-dup pairs: shingle -> signature -> band -> bucket join
    * -> exact Jaccard verification over the shingle sets. LSH only prunes;
    * every emitted pair carries its true shingle-set Jaccard and passes the
    * threshold, so output quality is exact (recall is probabilistic).
    *
    * With `routeOverCapExact` set (and a finite `maxBucketSize`), docs in
    * over-cap buckets — which the cap would otherwise silently drop from
    * EVERY band of a boilerplate cluster — take the exact-fingerprint
    * route instead: group those docs by their full shingle-hash SET and
    * emit all identical-set pairs (true Jaccard exactly 1.0, no
    * verification join needed). That recovers the identical-text clusters
    * the cap exists to contain, at output-pair cost (cluster pairs are the
    * output, not a candidate blowup); near-identical pairs whose every
    * band is over cap remain dropped — by design, and still observed via
    * the `graft_q25_bucket_cap` metrics.
    */
  def minhashLsh(
      docs: DataFrame,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      minBandCollisions: Int = 1,
      maxBucketSize: Int = Int.MaxValue,
      routeOverCapExact: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    // Sorted hashed shingle sets (one codegen kernel, bit-identical to the
    // HOF chain): all downstream set algebra runs on longs via the
    // merge-walk kernel, and |intersect|/|union| equal the string-set
    // counts (xxhash64 collisions are ~2^-64 per pair).
    val withSets = docs.select(
      col("doc_id"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), shingleSize).as("xh"))
    val withSig = withSets
      .withColumn("sig", graft.functions.MinHashSig.minhashSig(col("xh"), numHashes))
      .select(col("doc_id"), col("sig"))
    val routed = routeOverCapExact && maxBucketSize != Int.MaxValue
    // With routing on, the banding feeds TWO consumers (the under-cap
    // candidate join and the over-cap id set). Left as lineage, each
    // consumer would re-derive the signatures — a second full
    // WordGramHashes+MinHashSig pass over the corpus (measured ~70 % on
    // q25 at sf0.1). Instead band+size ONCE and localCheckpoint the
    // (doc_id, band, bucket, __gsz) frame: ~40 bytes x bands per doc,
    // orders of magnitude smaller than the text it derives from; blocks
    // are freed by the ContextCleaner when the plan is GC'd. Same
    // executor-loss caveat as the CC loop's localCheckpoint (documented
    // there, with checkpoint() as the long-cluster-run alternative).
    // eager = false: the blocks are stored by the first ACTION over the
    // returned frame, and both consumers share that one copy. Creating the
    // checkpoint already runs the window's shuffle (Checkpoints.local).
    val sizedOpt =
      if (!routed) None
      else Some(groupSized(bandedBuckets(withSig, bands, rows), Seq("band", "bucket"))
        .localCheckpoint(eager = false))
    val candidates = sizedOpt match {
      case None => lshCandidates(withSig, bands, rows, minBandCollisions, maxBucketSize)
      case Some(sized) =>
        // fenced over the shared frame, so the window runs once and the
        // observed counts stay identical
        val banded = fenceGroups(sized, maxBucketSize, "graft_q25_bucket_cap")
        banded.as("a")
          .join(banded.as("b"), Seq("band", "bucket"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
          .agg(count(lit(1)).as("n_bands"))
          .filter(col("n_bands") >= minBandCollisions)
          .select("doc_id_a", "doc_id_b")
    }
    val verified = verifiedPairs(candidates, withSets, threshold)
    if (!routed) verified
    else {
      val overIds = sizedOpt.get
        .filter(col("__gsz") > maxBucketSize)
        .select("doc_id").distinct()
      // identical-set pairs among them: equi-join on an 8-byte hash of the
      // set (the shuffle key stays small), exactness restored by the array
      // equality filter — so jaccard is exactly 1.0, no collision risk
      val keyed = withSets.join(overIds, Seq("doc_id"))
        .select(col("doc_id"), col("xh"), xxhash64(col("xh")).as("__xk"))
      val exactPairs = keyed
        .select(col("__xk"), col("doc_id").as("doc_id_a"), col("xh").as("xh_a"))
        .join(keyed.select(col("__xk"), col("doc_id").as("doc_id_b"),
          col("xh").as("xh_b")), Seq("__xk"))
        .filter(col("doc_id_a") < col("doc_id_b") && col("xh_a") === col("xh_b"))
        .select(col("doc_id_a"), col("doc_id_b"), lit(1.0).as("jaccard"))
      // a pair can also survive through an under-cap band of another
      // (band, bucket) — its verified jaccard is exactly 1.0 too, so the
      // union dedups cleanly
      verified.union(exactPairs).distinct()
    }
  }

  /** Exact-Jaccard verification of an LSH candidate pair list: join the
    * shingle sets back, merge-walk intersect, keep pairs at or above the
    * threshold. Shared by [[minhashLsh]] and [[minhashLshDistinct]] so the
    * two paths cannot drift.
    */
  private def verifiedPairs(candidates: DataFrame, withSets: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(withSets.select(col("doc_id").as("doc_id_a"), col("xh").as("xh_a")), Seq("doc_id_a"))
      .join(withSets.select(col("doc_id").as("doc_id_b"), col("xh").as("xh_b")), Seq("doc_id_b"))
      .withColumn("ic", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("xh_a"), col("xh_b")))
      .withColumn("jaccard", col("ic").cast("double") /
        (size(col("xh_a")) + size(col("xh_b")) - col("ic")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")

  /** [[minhashLsh]] computed over DISTINCT shingle sets — the shape that
    * survives boilerplate clusters at 100 TB.
    *
    * Uncapped LSH is quadratic per (band, bucket) in DOCUMENTS: a cluster
    * of k identical/near-identical texts oversizes every band's bucket and
    * contributes O(k²) candidate rows PLUS O(k²) verification merge-walks,
    * even though the distinct CONTENT in the bucket may be tiny. Here the
    * corpus is first collapsed to identity groups (same shingle set ⇒ same
    * signature ⇒ same buckets ⇒ pairwise Jaccard exactly 1): banding,
    * candidate generation, and verification all run on one REPRESENTATIVE
    * per distinct set, and the result expands back through the groups —
    * cross-group pairs inherit the representative pair's (identical, by
    * construction) Jaccard; within-group pairs are emitted directly at
    * 1.0. The expansion is OUTPUT-sized (those pairs are the answer, not a
    * candidate blowup), so the quadratic term falls from documents to
    * distinct contents — on the q25 corpus at sf0.1 that halves in-bucket
    * pair mass; on a 100 TB crawl where boilerplate multiplicity is 10³+,
    * it is the difference between feasible and not.
    *
    * A size-ratio prescreen runs between candidates and verification:
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose set sizes differ
    * by more than the threshold ratio cannot pass and is dropped BEFORE
    * its (potentially KB-sized) shingle arrays ship to the verify join —
    * the PPJoin length-filter bound, exactness-neutral by construction.
    *
    * Output is row-identical to uncapped [[minhashLsh]] (DedupSpec pins
    * it): every candidate the doc-level walk generates corresponds to the
    * same representative-level candidate (signatures are functions of the
    * set), and verification computes the same Jaccard. Identity grouping
    * keys on xxhash64 of the set — the same per-pair 2⁻⁶⁴ collision odds
    * the shingle hashing itself already accepts. `maxBucketSize` caps
    * bucket size in REPRESENTATIVES; identical-text clusters no longer
    * need the over-cap exact route (collapse handles them for free).
    *
    * `pairsMode` (round 16 — the one measured scale cost left at sf1,
    * where the q25 walk spent ~772 s materializing 3.69 M true pairs that
    * downstream CC reduces straight back to components):
    *  - "all" (default): every true near-dup pair, as above — the recall
    *    audit / pair-list consumers' contract.
    *  - "forest": a SPANNING SUBGRAPH of the same pair graph, O(docs +
    *    rep-pairs) instead of O(true pairs). Within each identity group,
    *    star edges rep→member (each a true 1.0-Jaccard pair); across
    *    groups, ONE rep→rep edge per verified representative pair (a true
    *    pair carrying the group pair's shared Jaccard). Connectivity — and
    *    so every connected-component label downstream — is EXACTLY that of
    *    the full pair list (forest ⊆ full, and any full edge a–b is
    *    spanned by a–rep(A)–rep(B)–b; DedupSpec pins label equality). The
    *    exact pair COUNT the full walk would emit is kept as the extra
    *    `n_pairs` column: a rep edge carries |A|·|B| (its group-product
    *    expansion), the r-th member's star edge carries r-1 (its
    *    within-group pairs to earlier members), so sum(n_pairs) equals the
    *    full walk's pair count without materializing it.
    */
  def minhashLshDistinct(
      docs: DataFrame,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      minBandCollisions: Int = 1,
      maxBucketSize: Int = Int.MaxValue,
      pairsMode: String = "all"): DataFrame = {
    require(pairsMode == "all" || pairsMode == "forest",
      s"pairsMode must be 'all' or 'forest', got '$pairsMode'")
    val rows = numHashes / bands
    val withSets = docs.select(
        col("doc_id"),
        graft.functions.WordGramHashes.wordGramHashes(col("text"), shingleSize).as("xh"))
      // no signature exists for null/empty sets (MinHashSig contract):
      // the doc-level walk drops them in banding, so drop them before
      // grouping or empty-text docs would pair with each other at "1.0"
      .filter(col("xh").isNotNull && size(col("xh")) > 0)
    val members = withSets.select(col("doc_id"), xxhash64(col("xh")).as("k"))
    val reps = members.groupBy("k").agg(min("doc_id").as("doc_id"))
    val repSets = reps.join(withSets, "doc_id")
      .select(col("doc_id"), col("k"), col("xh"))
    val withSig = repSets
      .withColumn("sig", graft.functions.MinHashSig.minhashSig(col("xh"), numHashes))
      .select(col("doc_id"), col("sig"))
    val candidates =
      lshCandidates(withSig, bands, rows, minBandCollisions, maxBucketSize)
    // PPJoin-style length prescreen: ship two ints per candidate, not two
    // shingle arrays, and verify only pairs whose size ratio allows the
    // threshold
    val sizes = repSets.select(col("doc_id"), size(col("xh")).as("sz"))
    val pruned = candidates
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("sz").as("sz_a")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("sz").as("sz_b")),
        Seq("doc_id_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .select("doc_id_a", "doc_id_b")
    val repPairs =
      verifiedPairs(pruned, repSets.select(col("doc_id"), col("xh")), threshold)
    // the guard shared by both modes' identity-group emissions: an
    // identical pair collides in exactly `bands` bands and verifies at
    // exactly 1.0, so it survives the doc-level walk iff
    // minBandCollisions <= bands AND threshold <= 1.0 — outside that
    // degenerate range identity groups contribute nothing, keeping the
    // row-identity (and forest-connectivity) contract.
    val withinLegal = minBandCollisions <= bands && threshold <= 1.0
    if (pairsMode == "forest") {
      // group sizes ride one hash-agg over the member map; rep edges stay
      // un-expanded (one row per verified representative pair)
      val sizes = members.groupBy("k").agg(count(lit(1)).as("gsz"))
      val repKeyed = repSets.select(col("doc_id"), col("k"))
      val cross = repPairs
        .join(repKeyed.select(col("doc_id").as("doc_id_a"), col("k").as("k_a")),
          Seq("doc_id_a"))
        .join(repKeyed.select(col("doc_id").as("doc_id_b"), col("k").as("k_b")),
          Seq("doc_id_b"))
        .join(sizes.select(col("k").as("k_a"), col("gsz").as("gsz_a")), Seq("k_a"))
        .join(sizes.select(col("k").as("k_b"), col("gsz").as("gsz_b")), Seq("k_b"))
        .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
          (col("gsz_a") * col("gsz_b")).as("n_pairs"))
      // star edges rep→member: the per-group window sorts ONE identity
      // group per task (bounded by duplication multiplicity — the same
      // per-key window contract the rest of the family relies on); the
      // r-th member's edge carries its r-1 within-group pairs so the
      // group's k(k-1)/2 total survives as an aggregate, not a blowup
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("doc_id")
      val star = members
        .withColumn("r", row_number().over(wk))
        .withColumn("rep", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")))
        .filter(col("r") >= 2)
        .select(col("rep").as("doc_id_a"), col("doc_id").as("doc_id_b"),
          lit(1.0).as("jaccard"), (col("r") - 1).cast("long").as("n_pairs"))
        .where(lit(withinLegal))
      cross.unionByName(star)
    } else {
      // expand representative pairs through the identity groups: every
      // (member of A's group, member of B's group) pair shares A×B's Jaccard
      val cross = repPairs
        .join(repSets.select(col("doc_id").as("doc_id_a"), col("k").as("k_a")),
          Seq("doc_id_a"))
        .join(repSets.select(col("doc_id").as("doc_id_b"), col("k").as("k_b")),
          Seq("doc_id_b"))
        .join(members.select(col("k").as("k_a"), col("doc_id").as("a")), Seq("k_a"))
        .join(members.select(col("k").as("k_b"), col("doc_id").as("b")), Seq("k_b"))
        .select(least(col("a"), col("b")).as("doc_id_a"),
          greatest(col("a"), col("b")).as("doc_id_b"), col("jaccard"))
      // within-group pairs: identical sets, Jaccard exactly 1.0 (what the
      // doc-level walk verifies to 1.0 through every shared bucket)
      val within = members.select(col("k"), col("doc_id").as("doc_id_a"))
        .join(members.select(col("k"), col("doc_id").as("doc_id_b")), Seq("k"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"), lit(1.0).as("jaccard"))
        .where(lit(withinLegal))
      cross.unionByName(within)
    }
  }

  /** LSH candidate generation: explode each signature into `bands` bucket
    * keys, bucket-join carrying ONLY ids, keep pairs agreeing on >=
    * minBandCollisions bands. With the standard minBandCollisions=1 this is
    * plain LSH recall (P = 1-(1-j^rows)^bands). Raising it to 2 trades
    * recall for a large candidate prune — at threshold j, P(>=2 bands) is
    * meaningfully below P(>=1) unless bands * j^rows is well above 2, so
    * callers opt in only when the bucket-collision tail dominates cost
    * (as q25's pathologically self-similar corpus does at j=0.8, where
    * bands*j^rows = 3.3 and P(>=2) ~ 0.90).
    *
    * `maxBucketSize` caps the bucket-join blowup: a (band, bucket) with k
    * members contributes k(k-1)/2 candidate rows, so one pathological
    * bucket (a boilerplate signature slice shared by thousands of docs)
    * dominates the stage. A bucket above the cap loses that band entirely.
    * For a pair whose OTHER bands stay under the cap, recall degrades
    * gracefully — but a cluster of identical/boilerplate documents
    * oversizes EVERY band's bucket, so such clusters lose all their pairs
    * HERE: identical-text clusters belong to exact/fingerprint dedup, and
    * `minhashLsh(routeOverCapExact = true)` runs exactly that route for
    * them, unioning the identical-set pairs back in. The dropped volume is
    * observable either way: a `graft_q25_bucket_cap` CollectMetrics row
    * (dropped_rows / dropped_groups / max_group_size, see capGroups) flows
    * to every QueryExecutionListener — GraftSession installs one that logs
    * it — and DedupSpec pins the counts against a planted mega-cluster.
    *
    * Null signatures are dropped up front (defense in depth): hash(null)
    * is a constant, so null-sig docs would all collide in every band and
    * quadratically blow up the candidate stage while contributing no
    * true pairs.
    */
  private def lshCandidates(withSig: DataFrame, bands: Int, rows: Int,
                                   minBandCollisions: Int,
                                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded0 = bandedBuckets(withSig, bands, rows)
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else capGroups(banded0, Seq("band", "bucket"), maxBucketSize,
        "graft_q25_bucket_cap")
    banded.as("a")
      .join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBandCollisions)
      .select("doc_id_a", "doc_id_b")
  }

  /** Per-band (band, bucket) keys for a signature frame — the shared
    * banding behind [[lshCandidates]] and the over-cap routing in
    * [[minhashLsh]] (one definition, so the cap filter and the router see
    * the same buckets). Null signatures are dropped up front (defense in
    * depth): hash(null) is a constant, so null-sig docs would all collide
    * in every band.
    */
  private def bandedBuckets(withSig: DataFrame, bands: Int, rows: Int): DataFrame =
    withSig.filter(col("sig").isNotNull).select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        i => hash(slice(col("sig"), i * rows + 1, lit(rows))))).as(Seq("band", "bucket")))

  /** Dedup RESOLUTION: collapse a near-dup pair list into duplicate
    * clusters — every doc labeled with the minimum doc_id of its connected
    * component (the canonical survivor). This is the union-find stage a
    * production dedup pipeline runs AFTER pair generation (q24/q25/q38/
    * q55 emit pairs; this picks who stays).
    *
    * Distributed min-label propagation: each round every node takes the
    * min of its own label and its neighbors' labels — one join + one
    * min-aggregate per round, converging in <= cluster-diameter rounds
    * (near-dup clusters are dense, diameter is small; an adversarial
    * k-node chain needs k rounds — at 100 TB with pathological graphs
    * switch to the large-star/small-star alternation, which converges in
    * O(log n) rounds with the same per-round join shape). The driver only
    * runs the loop and a per-round convergence count; labels stay
    * distributed. Deterministic: the fixed point (min id per component)
    * is unique regardless of iteration order.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          algorithm: String = "propagation",
                          checkpointDir: Option[String] = None): DataFrame =
    algorithm match {
      case "propagation" => propagationComponents(pairs, maxIters, checkpointDir)
      case "star"        => starComponents(pairs, maxIters, checkpointDir)._1
      case "contract-propagation" =>
        contractedComponents(pairs, "propagation", maxIters, checkpointDir)
      case "contract-star" =>
        contractedComponents(pairs, "star", maxIters, checkpointDir)
      case other => throw new IllegalArgumentException(
        s"unknown connected-components algorithm '$other' (propagation | " +
          "star | contract-propagation | contract-star)")
    }

  /** Contract-then-stitch connected components for GLOBAL pair graphs —
    * the blocked-first route when [[blockedComponents]]'s block-locality
    * precondition does NOT hold.
    *
    * Phase 1 hash-partitions the edges on `doc_id_a` and runs the same
    * in-task union-find [[blockedComponents]] uses over each PARTITION's
    * edge subset, emitting the local spanning forest as (node, localRoot)
    * edges. The union of per-subset spanning forests preserves
    * connectivity exactly (a classic edge-filtering result), and a node
    * touched by several partitions appears in several forests — those
    * rows ARE the cross-partition stitch edges. Phase 2 runs the chosen
    * iterative resolver on the contracted forest only: after
    * contraction every in-partition structure is depth-1, so the
    * residual diameter (and with it the round count — the dominant cost
    * of the iterative resolvers on fixture-sized graphs, ~0.2-0.3 s of
    * job latency per round) collapses: graphs whose components fit
    * single partitions stitch in the 1-2 rounds convergence detection
    * needs, and an adversarial cross-partition chain still contracts
    * every round under the star stitch.
    *
    * Memory: one task holds one edge-subset's node map, so the footprint
    * is bounded by the shuffle partitioning (`spark.sql.shuffle
    * .partitions` × maxPartitionBytes-sized slices at scale), NOT by a
    * block fence — size partitions so a partition's node count fits task
    * memory, the same contract a hash aggregate over the partition has.
    * Self-loop pairs and isolated roots survive: every node is emitted
    * (as its own root if nothing smaller reached it), and both stitch
    * resolvers label self-edges identically to the direct paths
    * (DedupSpec pins three-way equality).
    *
    * Same fixed point as [[connectedComponents]]: min doc_id per
    * component.
    */
  def contractedComponents(pairs: DataFrame, stitch: String = "star",
                           maxIters: Int = 50,
                           checkpointDir: Option[String] = None,
                           smallGraph: Long = 1L << 22): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    val edges = pairs
      .select(col("doc_id_a").cast("long"), col("doc_id_b").cast("long"))
    // Two alternating passes: by source (each node's out-star whole in one
    // task), then by the emitted local ROOT (each local tree + the chains
    // between its roots whole in one task) — the second pass stitches most
    // cross-partition chains before any iterative round runs. Eagerly
    // checkpointed so the stitch resolver's node/label joins read the
    // materialized forest (~|V| rows) instead of re-running the pair
    // generator; like the direct resolvers, the final checkpoint lives
    // until the labels are consumed.
    val forest = ckpt(
      contractOnce(contractOnce(edges, "doc_id_a"), "doc_id_b"),
      checkpointDir, eager = false)
    // Small-graph fast path: the contracted forest is |touched nodes|-ish
    // rows (16 bytes each), NOT |edges| — when it fits one task
    // comfortably, the iterative stitch's per-round job latency (joins +
    // shuffles, ~0.2-0.3 s each even on trivial data) costs more than
    // just finishing the union-find in a single pass. The count reads the
    // forest checkpoint the stitch would materialize anyway, so the
    // branch costs one count job; exactness is unchanged (the forest
    // preserves connectivity, and one task holding ALL forest rows is
    // precisely the in-task union-find's precondition — no block-locality
    // certificate needed, unlike blockedComponents). At 100 TB the forest
    // exceeds the bound and the stitch resolvers run as before; the
    // default bound (4M rows ≈ 64 MB per task) is the same order as a
    // healthy shuffle partition. smallGraph = 0 disables the branch.
    if (smallGraph > 0 && forest.count() <= smallGraph) {
      val s = forest.sparkSession
      import s.implicits._
      forest.coalesce(1).as[(Long, Long)]
        .mapPartitions(unionFindForest)
        .toDF("doc_id", "component")
    } else stitch match {
      case "star"        => starComponents(forest, maxIters, checkpointDir)._1
      case "propagation" => propagationComponents(forest, maxIters, checkpointDir)
      case other => throw new IllegalArgumentException(
        s"unknown stitch '$other' (propagation | star)")
    }
  }

  /** One contraction pass: hash-partition the (doc_id_a, doc_id_b) edge
    * frame on `key`, run the in-task union-find over each partition's
    * subset, and emit the local spanning forest as (node, localRoot) rows
    * (roots included as self-rows, so isolated and self-loop-only nodes
    * survive to the stitch).
    */
  private def contractOnce(edges: DataFrame, key: String): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.repartition(col(key))
      .as[(Long, Long)]
      .mapPartitions(unionFindForest)
      .toDF("doc_id_a", "doc_id_b")
  }

  /** The in-task min-root union-find kernel: fold an edge iterator into
    * a parent map with path compression, emit every touched node with
    * its local root (roots as self-rows, so isolated/self-loop nodes
    * survive). ONE definition behind [[contractOnce]], the small-graph
    * fast path, and [[forestEdges]] — the three consumers previously
    * carried byte-identical copies (round-16 review catch).
    */
  private def unionFindForest(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.toArray.iterator.map(id => (id, find(id)))
  }

  /** Forest contraction of an arbitrary pair list IN PLACE — no shuffle:
    * each task runs the in-task union-find over the pairs it already
    * holds (the pair generator's own output partitioning, e.g. the IVF
    * cell join's) and emits its local spanning forest as (node,
    * localRoot) rows. Connectivity is preserved exactly (per-partition
    * spanning forests union to a spanning subgraph — the
    * [[contractedComponents]] edge-filtering argument), so feeding
    * [[connectedComponents]]/[[contractedComponents]] this instead of the
    * raw pairs yields IDENTICAL labels while the resolver's first shuffle
    * moves O(touched nodes) rows instead of O(pairs) — the forest route
    * for pair generators with no identity-group structure to collapse
    * (q138's embedding pairs: all-distinct vectors, cell-partitioned
    * verified pairs).
    */
  def forestEdges(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select(col("doc_id_a").cast("long"), col("doc_id_b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(unionFindForest)
      .toDF("doc_id_a", "doc_id_b")
  }

  /** Canonical-document SELECTION after resolution: given per-doc scores
    * and a near-dup pair list, keep exactly one document per duplicate
    * cluster — the highest-scored member, ties broken by minimum doc_id —
    * plus every unclustered document (its own cluster of one). This is the
    * final stage of the dedup pipeline: pairs (q24/q25/q55) -> components
    * ([[connectedComponents]]) -> survivors.
    *
    * The argmax is ONE hash aggregate — max over (score, -doc_id) structs —
    * never a per-cluster window/sort, so no cluster (and no stratum of
    * clusters) ever funnels through a single task. `scored` must carry
    * `doc_id` and `scoreCol`; output is (cluster, doc_id, <scoreCol>,
    * n_docs) with n_docs the cluster size among scored docs.
    */
  def keepBest(scored: DataFrame, pairs: DataFrame,
               scoreCol: String = "quality",
               algorithm: String = "propagation"): DataFrame =
    keepBestLabeled(scored, connectedComponents(pairs, algorithm = algorithm),
      scoreCol)

  /** [[keepBest]]'s selection stage over an ALREADY-RESOLVED label frame
    * ((doc_id, component) — [[connectedComponents]]'s or
    * [[blockedComponents]]'s output). Lets callers pick the resolution
    * algorithm that fits their pair graph without re-deriving the argmax.
    */
  def keepBestLabeled(scored: DataFrame, labels: DataFrame,
                      scoreCol: String = "quality"): DataFrame =
    scored.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .groupBy("cluster")
      .agg(max(struct(col(scoreCol), (-col("doc_id")).as("neg_id"))).as("best"),
           count(lit(1)).as("n_docs"))
      .select(col("cluster"), (-col("best.neg_id")).as("doc_id"),
              col(s"best.$scoreCol").as(scoreCol), col("n_docs"))

  /** Connected components for a BLOCK-LOCAL pair graph — every edge's two
    * endpoints share a block (q24/q29's blocked pair generators guarantee
    * this by construction: blocks are (lang, source) or embedding
    * label/IVF-cell, and a document belongs to exactly one block). Blocks
    * are then independent subgraphs, so resolution needs NO iterative
    * rounds at all: ONE shuffle groups each block's edges into a task and
    * an in-memory union-find labels them in a single pass. Cost is one
    * job instead of [[connectedComponents]]'s per-round join+checkpoint
    * loop (measured: q138's 6-round star resolution 4.5 s → 0.3 s at
    * sf0.1).
    *
    * Memory: one task holds one block's NODE map and streams its edges —
    * so the operator is only safe when block sizes are bounded. The pair
    * GENERATOR caps are that bound (`jaccardPairs(maxBlockSize)`,
    * `minhashLsh(maxBucketSize)`) — but they default to UNCAPPED, so this
    * operator enforces its own loud `maxBlockEdges` fence (default 100 M
    * edge rows ≈ a few GB of task memory): a degenerate block fails with
    * a pointed message instead of silently straggling or OOMing one
    * executor. Production callers at 100 TB should cap the generator AND
    * size the fence; the declared fixture queries run inside it by orders
    * of magnitude.
    *
    * Same fixed point as [[connectedComponents]] (min doc_id per
    * component, unclustered docs absent — DedupSpec pins equality).
    * PRECONDITION, verified at execution: a document appears in at most
    * one block. Callers whose pairs may CROSS blocks (simhashPairs,
    * containment, decontamination overlaps, multi-probe IVF cells) must
    * keep the global iterative resolvers — here a doc labeled from two
    * blocks raises an error through the final per-doc aggregate (the
    * one-pass analog of the star resolver's star-forest certificate)
    * rather than silently duplicating the doc across clusters.
    */
  def blockedComponents(pairs: DataFrame, blockCol: String,
                        maxBlockEdges: Long = 100000000L): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val perBlock = pairs.select(col(blockCol).cast("string").as("b"),
        col("doc_id_a").as("a"), col("doc_id_b").as("k"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (blk, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        var edges = 0L
        it.foreach { case (_, a, b) =>
          edges += 1
          if (edges > maxBlockEdges) throw new IllegalStateException(
            s"blockedComponents: block '$blk' exceeds maxBlockEdges=" +
              s"$maxBlockEdges — cap the pair generator (maxBlockSize/" +
              "maxBucketSize) or resolve globally with connectedComponents")
          parent.getOrElseUpdate(a, a) // every endpoint gets labeled,
          parent.getOrElseUpdate(b, b) // self-loops included (CC parity)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by MIN root so the final label is min id
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val ids = parent.keysIterator.toArray
        ids.iterator.map(id => (id, find(id)))
      }
      .toDF("doc_id", "component")
    // disjointness certificate: a doc labeled by two blocks violates the
    // precondition — raise DURING execution (no construction-time action),
    // one doc-keyed map-side-combinable aggregate over the label frame
    perBlock.groupBy("doc_id")
      .agg(min("component").as("component"), count(lit(1)).as("__n"))
      .select(col("doc_id"),
        when(col("__n") === 1, col("component"))
          .otherwise(raise_error(concat(
            lit("blockedComponents: doc_id "), col("doc_id"),
            lit(" appears in multiple blocks — the pair graph is not " +
              "block-local; use connectedComponents"))))
          .as("component"))
  }

  /** Truncate lineage between rounds. Default is localCheckpoint — blocks
    * on the executors, freed explicitly per round, NOT executor-loss
    * tolerant. With `checkpointDir` set (the long-cluster-run mode) rounds
    * checkpoint RELIABLY to that directory instead: an executor loss
    * replays from files, not from a lineage that no longer exists. The
    * caller owns the directory's lifecycle (checkpoint files outlive the
    * loop; clean the dir when the labels are consumed).
    */
  private def ckpt(df: DataFrame, checkpointDir: Option[String],
                   eager: Boolean): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  private def propagationComponents(pairs: DataFrame, maxIters: Int,
                                    checkpointDir: Option[String]): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // Checkpoint (not persist) between rounds: an iterative loop's logical
    // plan otherwise GROWS by one round every round, and Catalyst
    // re-analyzes the whole history on each action — measured super-linear
    // round times by round 5 on the fixture. Truncating lineage keeps
    // per-round planning O(1); see `ckpt` for the local-vs-reliable
    // tradeoff (DedupSpec proves both modes label identically).
    val edges = pairs.select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val sym = ckpt(edges.union(edges.select(col("b").as("a"), col("a").as("b"))),
      checkpointDir, eager = true)
    // seed labels with the neighbor minimum — the same shuffle a plain
    // distinct() would run (groupBy on a), but it fuses the first
    // propagation round into label construction, saving one loop round
    var labels = ckpt(sym.groupBy(col("a").as("id"))
      .agg(min(least(col("a"), col("b"))).as("component")),
      checkpointDir, eager = true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val viaNeighbor = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("component"))
      // LAZY checkpoint: the changed-count below is the round's
      // materializing action — it computes next's partitions, which the
      // localCheckpoint mark persists as a side effect, so no separate
      // eager-materialization job runs per round. (Modest in wall time —
      // AQE stages dominate — but one fewer full pass over the round's
      // plan.)
      val next = ckpt(labels.select("id", "component").union(viaNeighbor)
        .groupBy("id").agg(min("component").as("component")),
        checkpointDir, eager = false)
      changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).count()
      Checkpoints.free(labels)
      labels = next
      it += 1
    }
    // unconverged labels are WRONG labels (some doc still carries an
    // intermediate id) — fail loudly, never return them
    if (changed > 0) {
      Checkpoints.free(sym); Checkpoints.free(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds ($changed " +
          "labels still moving) — the pair graph has a longer diameter than " +
          "near-dup clusters should; raise maxIters or switch to " +
          "algorithm = \"star\" (large-star/small-star, O(log n) rounds) " +
          "for adversarial chain graphs")
    }
    Checkpoints.free(sym)
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** large-star / small-star alternation — the O(log n)-round connected
    * components for ADVERSARIAL graphs (long chains), where min-label
    * propagation needs diameter rounds. Public algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", WSDM 2014): per round,
    * (1) large-star — every node re-points its LARGER neighbors at its
    * neighborhood minimum; (2) small-star — every node re-points its
    * smaller neighbors (and itself) at that minimum. Both steps preserve
    * connectivity and only ever lower a node's smallest neighbor, and the
    * joint fixed point is a star forest: every node holds exactly one edge,
    * straight to its component's minimum id. Per round this is two
    * (join + min-aggregate) passes shuffled on node id — the same shape and
    * keys as one propagation round, just twice per round for exponentially
    * fewer rounds on high-diameter graphs.
    *
    * Convergence is detected by an order-independent edge-set checksum
    * (count + sum of pair hashes) and then VERIFIED structurally — one
    * out-edge per node, no out-edge target re-pointed elsewhere — so a
    * checksum collision can fail loudly but can never return intermediate
    * labels. Returns (labels, rounds); DedupSpec pins the chain-graph round
    * count at <= ceil(log2 n) + c, and label equality with the propagation
    * path on the fixture pair graph.
    */
  private[graft] def starComponents(pairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    val nodes = pairs.select(col("doc_id_a").as("id"))
      .union(pairs.select(col("doc_id_b").as("id"))).distinct()
    // canonical directed edge list, larger endpoint -> smaller
    var edges = ckpt(pairs
      .select(col("doc_id_a").as("x"), col("doc_id_b").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct(), checkpointDir, eager = true)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = checksum(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      // large-star over the full (symmetric) neighborhood: each original
      // edge {a, b}, a < b, is emitted exactly once, from its smaller
      // endpoint's star, as (b, min(N(a) ∪ {a})) — so m < b always and the
      // larger->smaller orientation is preserved
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("m"))
        .select(col("u"), least(col("u"), col("m")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star on the directed list: per node, smaller neighbors and
      // the node itself re-point at the smallest neighbor
      val nm = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(nm, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(nm.select(col("u"), col("m").as("v")))
        .distinct()
      // lazy checkpoint: the checksum is the round's materializing action
      val next = ckpt(small, checkpointDir, eager = false)
      val nsig = checksum(next)
      Checkpoints.free(edges)
      edges = next
      converged = nsig == sig
      sig = nsig
      rounds += 1
    }
    if (!converged) {
      Checkpoints.free(edges)
      throw new IllegalStateException(
        s"starComponents did not converge in $maxIters rounds — " +
          "O(log n) rounds should far undercut this; raise maxIters")
    }
    // structural star-forest certificate: the checksum said "unchanged",
    // this PROVES "final" (labels below are only correct on a star forest).
    // Both violation classes — a node with >1 out-edge, an out-edge whose
    // target is itself re-pointed — are counted in ONE action (union of
    // two violation frames): per-round job latency dominates this
    // operator's fixture-scale cost, so the certificate pays one job, not
    // two.
    val multiViol = edges.groupBy("u").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(lit("multi").as("viol"))
    val chainViol = edges.alias("e1")
      .join(edges.alias("e2"), col("e1.v") === col("e2.u"), "left_semi")
      .select(lit("chained").as("viol"))
    val violations = multiViol.union(chainViol)
      .groupBy("viol").agg(count(lit(1)).as("n")).collect()
    if (violations.nonEmpty) {
      Checkpoints.free(edges)
      throw new IllegalStateException(
        "starComponents fixed point is not a star forest (" +
          violations.map(r => s"${r.getString(0)}: ${r.getLong(1)}").mkString(", ") +
          ") — checksum converged spuriously")
    }
    val labels = nodes.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("v"), col("id")).as("component"))
    (labels, rounds)
  }

  /** A decontamination threshold on `n_shared`, the number of a doc's
    * distinct shingles found in the eval set. [[MinShared]] is an absolute
    * count ("does this doc quote the benchmark", q57). [[MinSharedPpm]] is
    * a fraction of the doc's OWN `n_grams` distinct shingles, in integer
    * ppm so the compare is exact cross-engine. The fraction rule is the
    * one that survives eval-set growth: background overlap scales with
    * |eval|, so any fixed count eventually flags everything (the q244
    * fixture chain kept 217/217 at sf0.01 and 2/1323 at sf0.1 under count
    * >= 9, while the planted leaks sit at fraction 0.9+ against a
    * background p99 ~ 0.52). Under either rule a doc sharing nothing is
    * clean.
    */
  sealed trait DecontamRule {
    private[operators] def holds(nShared: Column, nGrams: Column): Column
  }
  final case class MinShared(n: Long) extends DecontamRule {
    private[operators] def holds(nShared: Column, nGrams: Column): Column =
      nShared >= n
  }
  final case class MinSharedPpm(ppm: Long) extends DecontamRule {
    private[operators] def holds(nShared: Column, nGrams: Column): Column =
      nShared * lit(1000000L) >= lit(ppm) * nGrams
  }

  /** Eval sets of at most this many distinct shingle hashes take
    * [[decontaminate]]'s literal route: the measured crossover of
    * docs/perf/STREAM_THROUGHPUT_r18.txt and _r19.txt.
    */
  final val DecontamLiteralCap = 65536

  private final case class DecontamSizing(literalCap: Int, bloomBits: Long)
  // 2^23 Bloom bits = 1 MiB: fpp well under 1 % at 1 M eval hashes
  private val decontamSizing = new scala.util.DynamicVariable(
    DecontamSizing(DecontamLiteralCap, 1L << 23))

  /** Runs `body` with [[decontaminate]]'s route sizing overridden: q95
    * forces the Bloom route (gated under q57's oracle), and the specs and
    * tools.StreamThroughputProbe pin either route. The route is picked
    * when the frame is BUILT, so the override must wrap the build.
    */
  private[graft] def withDecontamSizing[T](literalCap: Int,
      bloomBits: Long = decontamSizing.value.bloomBits)(body: => T): T =
    decontamSizing.withValue(DecontamSizing(literalCap, bloomBits))(body)

  /** Benchmark decontamination. Every row of `docs` (a bigint `doc_id` and
    * a string `text`, batch or streaming) gains `n_shared`, how many of its
    * distinct word `shingleSize`-gram hashes (WordGramHashes, distinct per
    * doc by construction) occur in `evalTexts`' `text`; `n_grams`, its own
    * distinct count; and the `contaminated` verdict under `rule`.
    *
    * The physical route is picked from the MEASURED eval size, by one
    * `limit(cap + 1)` collect of the distinct eval hashes:
    *  - at most [[DecontamLiteralCap]] hashes: the sorted array is one plan
    *    constant and each row counts its intersection with the
    *    SortedIntersectCount merge walk. Map-only, zero shuffle; the eval
    *    side is consumed at build time.
    *  - above it, an eval-scaled constant would ship with every task, so
    *    the eval hash frame is materialised once (localCheckpoint) and the
    *    docs go through [[bloomRoute]].
    */
  def decontaminate(docs: DataFrame, evalTexts: DataFrame, shingleSize: Int,
                    rule: DecontamRule): DataFrame = {
    val sizing = decontamSizing.value
    def hashes(text: Column): Column = coalesce(
      graft.functions.WordGramHashes.wordGramHashes(text, shingleSize),
      typedLit(Array.empty[Long]))
    val evalSh = evalTexts.select(explode(hashes(col("text"))).as("h"))
      .distinct()
    val probe = evalSh.limit(sizing.literalCap + 1).collect().map(_.getLong(0))
    val counted =
      if (probe.length <= sizing.literalCap) {
        java.util.Arrays.sort(probe)
        docs.withColumn("__sh", hashes(col("text")))
          .withColumn("n_shared", graft.functions.SortedIntersectCount
            .sortedIntersectCount(col("__sh"), lit(probe)).cast("long"))
          .withColumn("n_grams", size(col("__sh")).cast("long"))
          .drop("__sh")
      } else bloomRoute(docs, evalSh.localCheckpoint(),
        hashes(col("text")), sizing.bloomBits)
    counted.withColumn("contaminated",
      col("n_shared") > 0 && rule.holds(col("n_shared"), col("n_grams")))
  }

  /** [[decontaminate]]'s large-eval route; returns docs' columns plus
    * `n_shared` and `n_grams`. The only plan constant is a `numBits` Bloom
    * sketch of `evalSh` (Spark's runtime-filter kernels). It prunes each
    * doc's hash array before the explode, so a clean doc joins one NULL
    * row instead of one row per shingle; the survivors meet `evalSh` in an
    * exact equi-join (shuffle_hash, never broadcast), which removes the
    * Bloom false positives (false negatives are impossible, so both routes
    * decide identically). A per-doc fold re-assembles each row:
    * flatMapGroups on a batch, flatMapGroupsWithState(Append, NoTimeout)
    * on a stream, exact there because a doc's rows co-arrive in the
    * micro-batch that exploded them (each doc_id must arrive once).
    */
  private def bloomRoute(docs: DataFrame, evalSh: DataFrame,
                         sh: Column, numBits: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, GraftColumnBridge, Row}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sketch = new java.io.ByteArrayOutputStream()
    evalSh.stat.bloomFilter("h", math.max(1L, numBits / 16), numBits).writeTo(sketch)
    def mightContain(h: Column): Column = GraftColumnBridge.column(
      BloomFilterMightContain(Literal(sketch.toByteArray), GraftColumnBridge.expression(h)))
    val docCols = docs.columns.toSeq.map(col)
    val nDoc = docCols.size
    val rows = docs
      .select(docCols ++ Seq(size(sh).cast("long").as("n_grams"),
        explode_outer(filter(sh, mightContain(_))).as("__h")): _*)
      .join(evalSh.select(col("h").as("__eh")).hint("shuffle_hash"),
        col("__h") === col("__eh"), "left")
      .select(docCols ++ Seq(col("n_grams"), col("__eh").isNotNull.as("__m")): _*)
    def fold(it: Iterator[Row]): Iterator[Row] = {
      var first: Row = null
      var nShared = 0L
      it.foreach { r =>
        if (first == null) first = r
        if (r.getBoolean(nDoc + 1)) nShared += 1
      }
      Iterator.single(Row.fromSeq(
        first.toSeq.take(nDoc) ++ Seq(nShared, first.getLong(nDoc))))
    }
    val out = Encoders.row(docs.schema
      .add("n_shared", "bigint", nullable = false)
      .add("n_grams", "bigint", nullable = false))
    val byDoc = rows.groupByKey((r: Row) => r.getAs[Long]("doc_id"))(Encoders.scalaLong)
    if (rows.isStreaming)
      byDoc.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Long, it: Iterator[Row], _: GroupState[Boolean]) => fold(it))(
        Encoders.scalaBoolean, out)
    else byDoc.flatMapGroups((_: Long, it: Iterator[Row]) => fold(it))(out)
  }

  /** 4x16-bit band explode of a simhash fingerprint frame — the candidate
    * key for [[simhashPairs]] and [[admitIncremental]]. Pigeonhole: a pair
    * within Hamming distance 3 cannot differ in all 4 bands, so the band
    * join is LOSSLESS at maxHamming <= 3 (what makes both operators fully
    * oracle-checkable).
    */
  private def simhashBands(withFp: DataFrame): DataFrame =
    withFp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bucket")))

  /** SimHash near-dup pairs: 64-bit fingerprints banded into 4x16 bits;
    * candidates share a band; verification by Hamming distance <= maxHamming.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val withFp = docs.select(col("doc_id"),
      SimHash64.simhash64(col("text")).as("fp"))
    val banded = simhashBands(withFp)
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_id_b"), col("fp").as("fp_b"))
    // same trap as q38's posting lists: Catalyst sizes Generate output at
    // its INPUT bytes, so it would broadcast the banded fingerprints —
    // 4x the corpus row count, never broadcast-able at scale. Force the
    // distributed hash join on the (band, bucket) key.
    a.hint("shuffle_hash").join(b, Seq("band", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", SimHash64.hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id_a", "doc_id_b", "hamming")
  }

  /** Incremental corpus admission — the production dedup mode: a NEW batch
    * of documents is screened against the EXISTING corpus, never corpus
    * against itself. A new doc is rejected when it is an exact duplicate
    * (md5 fingerprint match) or a SimHash near-duplicate
    * (Hamming <= maxHamming) of any corpus doc; within-batch duplicates
    * are out of scope (run exact/simhashPairs on the admitted batch).
    *
    * Shapes at 100 TB: the exact screen is one hash join on 32-byte
    * fingerprints (the corpus side pre-deduped); the near screen is the
    * lossless 4x16 band join (new-side bands never broadcast — same
    * Generate-size trap as simhashPairs), distinct-verified per candidate
    * pair. Both scale linearly in candidates; neither is ever all-pairs.
    * Returns one row per new doc: (doc_id, exact_dup, n_neardup, admitted).
    */
  def admitIncremental(docs: DataFrame, isNew: Column,
                       maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming $maxHamming > 3 breaks the 4-band pigeonhole (lossy candidates)")
    // md5 of the RAW text (the exactByFingerprint contract) — NOT
    // TextFunctions.fingerprint, which lowercases and would reject
    // case-variant docs as "exact" duplicates. Callers must exclude null
    // texts (the q59 null contract: a null fingerprint never joins on the
    // Spark side while oracle SQL computes a concrete value).
    val base = docs.select(col("doc_id"), isNew.as("is_new"),
      md5(col("text")).as("xfp"),
      SimHash64.simhash64(col("text")).as("fp"))
    val newDocs = base.filter(col("is_new")).select("doc_id", "xfp", "fp")
    val corpus = base.filter(!col("is_new")).select("doc_id", "xfp", "fp")

    val exact = newDocs.join(
        corpus.select(col("xfp")).distinct().withColumn("ex", lit(true)),
        Seq("xfp"), "left")
      .select(col("doc_id"), coalesce(col("ex"), lit(false)).as("exact_dup"))

    val near = simhashBands(newDocs).hint("shuffle_hash")
      .join(simhashBands(corpus).select(col("band"), col("bucket"),
          col("doc_id").as("c_doc_id"), col("fp").as("c_fp")),
        Seq("band", "bucket"))
      .select("doc_id", "fp", "c_doc_id", "c_fp").distinct()
      .filter(SimHash64.hamming(col("fp"), col("c_fp")) <= maxHamming)
      .groupBy("doc_id").agg(count(lit(1)).as("n_neardup"))

    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
      .withColumn("admitted", !col("exact_dup") && col("n_neardup") === 0L)
  }

  private def admitBucketOf(fp: Column, b: Int): Column =
    shiftrightunsigned(fp, b * 16).bitwiseAND(lit(0xffffL))

  /** The static side of [[admitStream]], built once per corpus snapshot:
    * the exact-md5 fingerprint set plus 4 per-(band, bucket) candidate
    * maps. Each frame is O(corpus) BUT is only ever the build side of a
    * SHUFFLED hash join — admitStream never broadcasts it, so corpus size
    * is bounded by cluster disk, not driver/executor memory.
    *
    * [[Dedup.admissionIndex]] keeps the frames as in-plan aggregations
    * (recomputed per microbatch — fine for tests and one-shot batch
    * twins); [[Dedup.saveAdmissionIndex]] materializes them as BUCKETED
    * parquet tables on the join keys, so a long-running stream pays the
    * corpus-side aggregation once at build time and ZERO corpus-side
    * shuffle per microbatch (the bucketed scan already satisfies the join
    * distribution; only the microbatch's own rows shuffle).
    */
  final case class AdmissionIndex(exactSet: DataFrame, bandMaps: Seq[DataFrame])

  /** Build the [[AdmissionIndex]] as in-plan frames (no materialization). */
  def admissionIndex(corpus: DataFrame): AdmissionIndex = {
    val corpusBase = corpus.select(col("doc_id"), md5(col("text")).as("xfp"),
      SimHash64.simhash64(col("text")).as("fp"))
    val exactSet = corpusBase.select("xfp").distinct().withColumn("ex", lit(true))
    val bandMaps = (0 until 4).map { b =>
      corpusBase
        .select(admitBucketOf(col("fp"), b).as(s"bucket_$b"),
          struct(col("doc_id").as("cid"), col("fp").as("cfp")).as("c"))
        .groupBy(s"bucket_$b").agg(collect_list("c").as(s"cands_$b"))
    }
    AdmissionIndex(exactSet, bandMaps)
  }

  /** Materialize the [[AdmissionIndex]] as bucketed parquet tables
    * (`<tableBase>_exact` bucketed on xfp, `<tableBase>_band{0..3}` on
    * bucket_b) and read them back. The production shape for an unbounded
    * stream over a corpus that outgrows memory: the one-time build cost is
    * one pass over the corpus; afterwards every microbatch joins against
    * the bucketed scans with no corpus-side shuffle and no broadcast.
    */
  def saveAdmissionIndex(corpus: DataFrame, tableBase: String,
                         numBuckets: Int = 32): AdmissionIndex = {
    val s = corpus.sparkSession
    val idx = admissionIndex(corpus)
    graft.sources.Sinks.parquetBucketed(idx.exactSet, s"${tableBase}_exact",
      "xfp", numBuckets)
    idx.bandMaps.zipWithIndex.foreach { case (m, b) =>
      graft.sources.Sinks.parquetBucketed(m, s"${tableBase}_band$b",
        s"bucket_$b", numBuckets)
    }
    AdmissionIndex(s.table(s"${tableBase}_exact"),
      (0 until 4).map(b => s.table(s"${tableBase}_band$b")))
  }

  /** Rolling exact-fingerprint admission — the dedup-index LIFECYCLE
    * loop: batch k+1 is screened against everything batch ≤ k admitted,
    * not just the frozen base corpus. The corpus fingerprint set is saved
    * once as a bucketed table; each arriving batch
    *
    *  1. collapses its own duplicates (min doc_id per fingerprint — one
    *     hash-agg over the batch only),
    *  2. anti-joins the bucketed index (shuffle_hash hint: the index side
    *     never broadcasts, and being bucketed on the join key it never
    *     re-shuffles — only the batch's own rows move),
    *  3. APPENDS the admitted (doc_id, xfp) rows to the fused
    *     result+fingerprint table in one bucketed write (the q155-style
    *     bucketed append: at most one new file per touched bucket) — the
    *     rows ARE the newly-seen fingerprints, so there is no separate
    *     result-table write.
    *
    * Batches must arrive in ascending doc_id ranges: then the rolling
    * result is exactly "the first new document carrying each fingerprint
    * unseen in the corpus", a batch-split-independent statement the q157
    * oracle makes in one SQL query.
    *
    * ONE TABLE, ONE WRITE PER BATCH (round 18 — the round-17 verdict's #1
    * ask, guide §6 write-amplification): the admitted rows and the index
    * fingerprints are the SAME rows, so the lifecycle keeps them in ONE
    * bucketed table `(doc_id, xfp, epoch)` instead of a plain result
    * table plus a bucketed fingerprint table. Corpus fingerprints carry
    * doc_id NULL; the result probe filters `doc_id IS NOT NULL`, the
    * anti-join screen projects xfp only (column-pruned bucketed scan,
    * shuffle-free as before). Each batch now pays one durable write
    * (previously two, plus a persist across them — both gone), and a
    * ledger fold rewrites one table (previously two). Batch doc_ids must
    * be non-null (they are key columns everywhere this runs).
    *
    * CRASH CONSISTENCY (round 16, simplified by the fusion): a batch's
    * result rows and its index fingerprints are one epoch-tagged write,
    * committed AFTER it lands — the old between-the-writes window
    * (admitted rows whose fingerprints never reached the screen) no
    * longer exists by construction. Probes (the anti-join inside the
    * loop AND the returned result) read committed epochs only, so a
    * reader sees the pre-batch state or the fully-admitted batch, never
    * between (DedupSpec's kill-point test walks the windows via the
    * stopAfter hook).
    */
  def admitRollingExact(corpus: DataFrame, batches: Seq[DataFrame],
                        tableBase: String, numBuckets: Int = 32): DataFrame = {
    val s = corpus.sparkSession
    val idxT = s"${tableBase}_exact"
    graft.sources.IndexCommits.reset(s, tableBase)
    val e0 = graft.sources.IndexCommits.begin(s, tableBase)
    graft.sources.Sinks.parquetBucketed(
      corpus.select(md5(col("text")).as("xfp")).distinct()
        .select(lit(null).cast("bigint").as("doc_id"), col("xfp"),
          lit(e0).as("epoch")),
      idxT, "xfp", numBuckets)
    graft.sources.IndexCommits.commit(s, tableBase, e0)
    batches.foreach { b =>
      val e = admitRollingStep(b, tableBase, numBuckets, stopAfter = 1)
      graft.sources.IndexCommits.commit(s, tableBase, e)
    }
    loadAdmitted(s, tableBase)
  }

  /** Admit FURTHER batches into an existing rolling admission — the
    * steady-state continuation of [[admitRollingExact]] (which resets and
    * rebuilds; a lifecycle that ran yesterday continues HERE). Same
    * screen, same per-batch epoch protocol, same ascending-doc_id batch
    * precondition against everything already admitted.
    */
  def admitRollingMore(batches: Seq[DataFrame], tableBase: String,
                       numBuckets: Int = 32): DataFrame = {
    val s = batches.head.sparkSession
    batches.foreach { b =>
      val e = admitRollingStep(b, tableBase, numBuckets, stopAfter = 1)
      graft.sources.IndexCommits.commit(s, tableBase, e)
    }
    loadAdmitted(s, tableBase)
  }

  /** Fold a rolling admission's epoch ledger (IndexCommits.foldCommitted
    * applied to the lifecycle's one fused table): every committed epoch
    * at or below `lowWater` merges into the oldest — the table compacts
    * to one file per bucket with orphans GC'd through the committed-only
    * remap — and the folded markers drop, so a long-lived admission
    * loop's ledger (and every probe's epoch `isin`) stops growing
    * O(#batches). Since round 18 the admitted rows live IN the index
    * table, so the fold is ONE rewrite (previously index compaction plus
    * a separate result-table rewrite). Probe-visible rows are unchanged
    * by construction (fold merges only already-visible epochs); q254
    * pins that with the admission oracle across a fold + further
    * admissions.
    */
  def foldRollingAdmissions(s: org.apache.spark.sql.SparkSession,
                            tableBase: String, lowWater: Long): Option[Long] =
    graft.sources.IndexCommits.foldCommitted(s, tableBase, lowWater) { (f, t) =>
      graft.sources.Sinks.compactBucketedTableFolding(s,
        s"${tableBase}_exact", tableBase, f, t)
    }

  /** Reopen a rolling-admission result at its COMMITTED state — the view
    * [[admitRollingExact]] returns, reconstructable in a later session
    * (or after a crash: uncommitted batches invisible). Corpus
    * fingerprint rows (doc_id NULL) are not results.
    */
  def loadAdmitted(s: org.apache.spark.sql.SparkSession,
                   tableBase: String): DataFrame = {
    // a fold crashed inside the drop→rename swap leaves the table absent
    // with the replacement staged — finish the swap before probing
    graft.sources.Sinks.recoverTableSwap(s, s"${tableBase}_exact")
    s.table(s"${tableBase}_exact")
      .filter(graft.sources.IndexCommits.committedFilter(s, tableBase) &&
        col("doc_id").isNotNull)
      .select(col("doc_id"), col("xfp"))
  }

  /** Reopen a rolling-split result table at its COMMITTED state — the
    * view [[splitRollingMinhash]] returns.
    */
  def loadRollingSplits(s: org.apache.spark.sql.SparkSession,
                        tableBase: String): DataFrame =
    s.table(s"${tableBase}_splits")
      .filter(graft.sources.IndexCommits.committedFilter(s, tableBase))
      .drop("epoch")

  /** One [[admitRollingExact]] batch WITHOUT the commit — the kill-point
    * hook (stopAfter = 0: epoch begun, nothing written; >= 1: the fused
    * result+fingerprint rows written, crash before commit — the old
    * result-without-index window no longer exists, there is ONE write).
    * Returns the batch's epoch. No persist: the anti-joined batch has
    * exactly one consumer now.
    */
  private[graft] def admitRollingStep(b: DataFrame, tableBase: String,
                                      numBuckets: Int,
                                      stopAfter: Int): Long = {
    val s = b.sparkSession
    val idxT = s"${tableBase}_exact"
    val e = graft.sources.IndexCommits.begin(s, tableBase)
    val vis = graft.sources.IndexCommits.committedFilter(s, tableBase)
    if (stopAfter >= 1)
      b.select(col("doc_id"), md5(col("text")).as("xfp"))
        .groupBy("xfp").agg(min("doc_id").as("doc_id"))
        .join(s.table(idxT).filter(vis).hint("shuffle_hash"),
          Seq("xfp"), "left_anti")
        .select(col("doc_id"), col("xfp"), lit(e).as("epoch"))
        .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
        .bucketBy(numBuckets, "xfp").sortBy("xfp").saveAsTable(idxT)
    e
  }

  /** [[admitIncremental]] reshaped so the NEW side needs no aggregation —
    * which makes it run UNCHANGED on a streaming frame (append mode, no
    * watermark): the corpus pre-aggregates per-(band, bucket) candidate
    * lists once (the [[AdmissionIndex]] static side), each new doc looks
    * up its 4 buckets via 4 stream-static equi-joins, and the
    * exact-Hamming verify happens per-row inside an array filter — no
    * groupBy on the new side at all.
    *
    * Identical output to admitIncremental by construction (same exact-md5
    * screen, same lossless 4x16 banding, same Hamming verify; candidates
    * de-duped by (corpus doc, fp) before counting) — DedupSpec pins
    * batch-vs-batch and stream-vs-batch equality. Corpus-side bucket
    * lists are bounded by bucket population; a boilerplate mega-bucket
    * inflates its array the same way it inflates the band join in the
    * batch shape (same mitigation: cap/route ahead of admission, q25
    * pattern).
    *
    * Scale shape: every index join carries a shuffle_hash hint on the
    * STATIC side — the corpus is NEVER broadcast (an O(corpus) broadcast
    * is a driver/executor OOM at a billion-doc corpus; this was exactly
    * the round-5 scale-killer). Per microbatch that costs a shuffle of the
    * microbatch's own rows on each join key; the static side shuffles too
    * unless the index came from [[saveAdmissionIndex]], whose bucketed
    * layout already satisfies the join distribution.
    */
  def admitStream(newDocs: DataFrame, index: AdmissionIndex,
                  maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming $maxHamming > 3 breaks the 4-band pigeonhole (lossy candidates)")
    val emptyCands = array().cast("array<struct<cid:bigint,cfp:bigint>>")
    var s = newDocs
      .select(col("doc_id"), col("text"))
      .withColumn("xfp", md5(col("text")))
      .withColumn("fp", SimHash64.simhash64(col("text")))
      .join(index.exactSet.hint("shuffle_hash"), Seq("xfp"), "left")
    (0 until 4).foreach { b =>
      s = s.withColumn(s"bucket_$b", admitBucketOf(col("fp"), b))
        .join(index.bandMaps(b).hint("shuffle_hash"), Seq(s"bucket_$b"), "left")
    }
    s.withColumn("cands", array_distinct(flatten(array(
        (0 until 4).map(b => coalesce(col(s"cands_$b"), emptyCands)): _*))))
      .select(col("doc_id"), coalesce(col("ex"), lit(false)).as("exact_dup"),
        size(filter(col("cands"),
          c => SimHash64.hamming(col("fp"), c.getField("cfp")) <= maxHamming))
          .cast("long").as("n_neardup"))
      .withColumn("admitted", !col("exact_dup") && col("n_neardup") === 0L)
  }

  /** Convenience: build the index in-plan from a corpus frame. Long-running
    * streams should pass a [[saveAdmissionIndex]] result instead, so the
    * corpus aggregation is not replayed every microbatch.
    */
  def admitStream(newDocs: DataFrame, corpus: DataFrame,
                  maxHamming: Int = 3): DataFrame =
    admitStream(newDocs, admissionIndex(corpus), maxHamming)

  /** Static side of [[admitStreamMinhash]]: per MinHash band, the corpus
    * pre-grouped as (bucket, candidate list) where each candidate carries
    * its doc id AND its sorted hashed shingle set (the verify side needs
    * the set — unlike the SimHash index, whose 8-byte fingerprints verify
    * by Hamming). Memory per bucket row is bucket-population x set-size:
    * the same bucket-boundedness contract the q25 band join has (cap or
    * collapse boilerplate ahead of admission — [[minhashLshDistinct]]'s
    * identity grouping makes exact-duplicate clusters cost ONE entry).
    * Banding is bit-identical to [[minhashLsh]]'s `bandedBuckets`
    * (murmur3 hash of each rows-sized signature slice).
    */
  final case class MinhashAdmissionIndex(bandMaps: Seq[DataFrame],
      shingleSize: Int, numHashes: Int, bands: Int)

  def minhashAdmissionIndex(corpus: DataFrame, shingleSize: Int = 3,
                            numHashes: Int = 32, bands: Int = 8)
      : MinhashAdmissionIndex = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rows = numHashes / bands
    val withSig = corpus.select(
        col("doc_id"),
        graft.functions.WordGramHashes.wordGramHashes(col("text"), shingleSize).as("xh"))
      .withColumn("sig",
        graft.functions.MinHashSig.minhashSig(col("xh"), numHashes))
      .filter(col("sig").isNotNull)
    val maps = (0 until bands).map { b =>
      withSig
        .select(hash(slice(col("sig"), lit(b * rows + 1), lit(rows))).as(s"mbucket_$b"),
          struct(col("doc_id").as("cid"), col("xh").as("cxh")).as("c"))
        .groupBy(s"mbucket_$b").agg(collect_list("c").as(s"mcands_$b"))
    }
    MinhashAdmissionIndex(maps, shingleSize, numHashes, bands)
  }

  /** Near-dup ADMISSION by MinHash banding — the streaming twin of the
    * q25/q105 semantics, completing [[admitStream]]'s exact-md5 + SimHash
    * screens with the shingle-Jaccard screen: a new doc is rejected when
    * any corpus doc shares >= `minBandCollisions` band buckets AND passes
    * the exact Jaccard verify at `threshold` (identical formula and
    * kernels to [[minhashLsh]]'s verification — DedupSpec pins
    * batch-vs-batch and MemoryStream-vs-batch equality against the
    * [[minhashLsh]] pair list).
    *
    * Same append-mode streaming shape as [[admitStream]]: no new-side
    * aggregation at all — `bands` stream-static equi-joins pull each
    * bucket's candidate list, and collision counting + Jaccard verify run
    * per-row inside array HOFs (the collision count is quadratic in the
    * row's CANDIDATE entries — bucket-bounded, see the index scaladoc).
    * The static side is shuffle_hash-hinted and never broadcast: an
    * O(corpus) broadcast is the round-5 scale-killer, and at a
    * billion-doc corpus the band maps only fit as shuffled (or
    * pre-bucketed) build sides.
    */
  def admitStreamMinhash(newDocs: DataFrame, index: MinhashAdmissionIndex,
                         threshold: Double,
                         minBandCollisions: Int = 1): DataFrame = {
    val rows = index.numHashes / index.bands
    var s = newDocs
      .select(col("doc_id"), col("text"))
      .withColumn("xh", graft.functions.WordGramHashes
        .wordGramHashes(col("text"), index.shingleSize))
      .withColumn("sig",
        graft.functions.MinHashSig.minhashSig(col("xh"), index.numHashes))
    (0 until index.bands).foreach { b =>
      // null-sig arrivals (no shingles) get a NULL bucket — an equi-join
      // null key matches nothing, so they fall straight through to the
      // self/admit path. Mirrors the index side's .filter(sig.isNotNull)
      // (round-14 advice): without it, hash(null) is a CONSTANT, so every
      // null-sig arrival would drag one bucket's full candidate list
      // through all `bands` joins (results stayed correct — the Jaccard
      // verify nulls out — but the defense-in-depth was asymmetric).
      s = s.withColumn(s"mbucket_$b",
          when(col("sig").isNotNull,
            hash(slice(col("sig"), lit(b * rows + 1), lit(rows)))))
        .join(index.bandMaps(b).hint("shuffle_hash"), Seq(s"mbucket_$b"), "left")
    }
    val emptyCands = array().cast("array<struct<cid:bigint,cxh:array<bigint>>>")
    // one entry per (candidate, colliding band); distinct entries are one
    // per candidate (cxh is a function of cid, so struct-distinct == cid-
    // distinct)
    val all = flatten(array(
      (0 until index.bands).map(b => coalesce(col(s"mcands_$b"), emptyCands)): _*))
    def jaccardOk(c: Column): Column = {
      val ic = graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("xh"), c.getField("cxh")).cast("double")
      // the exact verify formula of minhashLsh/verifiedPairs, token for
      // token — a rearranged inequality would round differently on
      // borderline pairs and break stream==batch equality
      ic / (size(col("xh")) + size(c.getField("cxh")) - ic) >= lit(threshold)
    }
    s.withColumn("cands", array_distinct(all))
      .withColumn("near", filter(col("cands"), c =>
        c.getField("cid") =!= col("doc_id") &&
          size(filter(all, x => x.getField("cid") === c.getField("cid")))
            >= minBandCollisions &&
          jaccardOk(c)))
      .select(col("doc_id"),
        size(col("near")).cast("long").as("n_neardup"))
      .withColumn("admitted", col("n_neardup") === 0L)
  }

  /** Static side of [[splitStreamMinhash]]: [[minhashAdmissionIndex]]'s
    * band maps with each candidate additionally carrying its corpus doc's
    * RESOLVED near-dup cluster label (`ccl` — the batch q239 CC label,
    * self for unclustered docs), so an arriving doc can inherit its
    * matched cluster at admission time. Same banding, same bucket-
    * boundedness contract, same shuffle_hash / never-broadcast posture.
    */
  final case class MinhashSplitIndex(bandMaps: Seq[DataFrame],
      shingleSize: Int, numHashes: Int, bands: Int)

  /** Build the [[MinhashSplitIndex]] from a corpus frame and its resolved
    * labels ((doc_id, component) — [[connectedComponents]] family output;
    * docs absent from `labels` label themselves).
    */
  def minhashSplitIndex(corpus: DataFrame, labels: DataFrame,
                        shingleSize: Int = 3, numHashes: Int = 32,
                        bands: Int = 8): MinhashSplitIndex = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rows = numHashes / bands
    val withSig = corpus
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("ccl"),
        graft.functions.WordGramHashes.wordGramHashes(col("text"), shingleSize).as("xh"))
      .withColumn("sig",
        graft.functions.MinHashSig.minhashSig(col("xh"), numHashes))
      .filter(col("sig").isNotNull)
    val maps = (0 until bands).map { b =>
      withSig
        .select(hash(slice(col("sig"), lit(b * rows + 1), lit(rows))).as(s"mbucket_$b"),
          struct(col("doc_id").as("cid"), col("ccl"), col("xh").as("cxh")).as("c"))
        .groupBy(s"mbucket_$b").agg(collect_list("c").as(s"mcands_$b"))
    }
    MinhashSplitIndex(maps, shingleSize, numHashes, bands)
  }

  /** Near-dup-safe split assignment AT INGEST — q239's streaming twin
    * (round-13 verdict ask #7): an arriving admitted doc gets a
    * cluster-or-self label at admission time, so train/val/test
    * assignment happens in the stream instead of waiting for a batch
    * re-resolution. Same append-mode shape as [[admitStreamMinhash]]
    * (no new-side aggregation; `bands` stream-static equi-joins; verify
    * inside array HOFs; static side shuffle_hash-hinted, never
    * broadcast), with the candidate lists reused for label inheritance:
    *
    *  - EXACT tier first: candidates whose (sorted distinct) shingle-hash
    *    set equals the arrival's — jaccard 1.0, so such candidates are
    *    all mutually exact near-dups and share ONE corpus cluster, and
    *    equal sets mean equal MinHash signatures, so banding can never
    *    miss them. Inheriting min(ccl) over this tier makes the
    *    exact-pair no-straddle invariant unconditional: a doc whose
    *    word-identical copy sits in train CANNOT land in test.
    *  - else verified NEAR tier (band collision + exact Jaccard >=
    *    `threshold`, token-for-token [[admitStreamMinhash]]'s formula):
    *    min(ccl) over matches. When matches span several corpus clusters
    *    the arrival BRIDGES them — batch re-resolution would merge the
    *    clusters; the stream (which cannot relabel already-split corpus
    *    docs) deterministically picks the smallest, the standard
    *    streaming-assignment compromise. n_clusters in the output counts
    *    the matched clusters so a census can watch the bridge rate.
    *  - else SELF: an unmatched arrival is its own cluster of one,
    *    exactly q239's `coalesce(component, doc_id)`.
    *
    * Output (doc_id, cluster, n_clusters, split, <the input's other
    * columns but `text`, unchanged>) with split =
    * [[Sampling.splitAssign]](cluster) — identical assignment algebra to
    * the batch path, so stream == batch q239 splits whenever arrivals
    * don't bridge and don't undercut their matched cluster's min id
    * (ascending doc_ids — the [[admitRollingExact]] arrival contract).
    * DedupSpec pins batch-vs-stream equality and the no-straddle
    * invariant on the fixture.
    */
  def splitStreamMinhash(newDocs: DataFrame, index: MinhashSplitIndex,
                         threshold: Double,
                         minBandCollisions: Int = 1,
                         trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val rows = index.numHashes / index.bands
    val carried = newDocs.columns.toSeq.filterNot(Set("doc_id", "text"))
    var s = newDocs
      .withColumn("xh", graft.functions.WordGramHashes
        .wordGramHashes(col("text"), index.shingleSize))
      .withColumn("sig",
        graft.functions.MinHashSig.minhashSig(col("xh"), index.numHashes))
    (0 until index.bands).foreach { b =>
      // null-sig arrivals (no shingles) get a NULL bucket — an equi-join
      // null key matches nothing, so they fall straight through to the
      // self/admit path. Mirrors the index side's .filter(sig.isNotNull)
      // (round-14 advice): without it, hash(null) is a CONSTANT, so every
      // null-sig arrival would drag one bucket's full candidate list
      // through all `bands` joins (results stayed correct — the Jaccard
      // verify nulls out — but the defense-in-depth was asymmetric).
      s = s.withColumn(s"mbucket_$b",
          when(col("sig").isNotNull,
            hash(slice(col("sig"), lit(b * rows + 1), lit(rows)))))
        .join(index.bandMaps(b).hint("shuffle_hash"), Seq(s"mbucket_$b"), "left")
    }
    val emptyCands = array()
      .cast("array<struct<cid:bigint,ccl:bigint,cxh:array<bigint>>>")
    val all = flatten(array(
      (0 until index.bands).map(b => coalesce(col(s"mcands_$b"), emptyCands)): _*))
    def jaccardOk(c: Column): Column = {
      val ic = graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("xh"), c.getField("cxh")).cast("double")
      ic / (size(col("xh")) + size(c.getField("cxh")) - ic) >= lit(threshold)
    }
    s.withColumn("cands", array_distinct(all))
      .withColumn("near", filter(col("cands"), c =>
        c.getField("cid") =!= col("doc_id") &&
          size(filter(all, x => x.getField("cid") === c.getField("cid")))
            >= minBandCollisions &&
          jaccardOk(c)))
      // wordGramHashes output is SORTED DISTINCT, so array equality IS
      // set equality — the exact tier needs no per-element comparison
      .withColumn("exact_tier", filter(col("near"), c =>
        c.getField("cxh") === col("xh")))
      .withColumn("cluster", coalesce(
        array_min(transform(col("exact_tier"), c => c.getField("ccl"))),
        array_min(transform(col("near"), c => c.getField("ccl"))),
        col("doc_id")))
      .select(Seq(col("doc_id"), col("cluster"),
        size(array_distinct(transform(col("near"), c => c.getField("ccl"))))
          .cast("long").as("n_clusters"),
        graft.operators.Sampling.splitAssign(col("cluster"),
          trainPct, valPct).as("split")) ++ carried.map(col): _*)
  }

  /** [[splitStreamMinhash]]'s ROLLING lifecycle — the variant that also
    * resolves arrival-to-arrival duplicate relations, which a frozen
    * corpus-only index structurally cannot (the static twin labels such
    * arrivals self; this one labels them like batch q239 does):
    *
    *  1. The index is a FLAT posting table ((band, mbucket) → cid, ccl,
    *    cxh), bucketed on mbucket, seeded from the corpus + its resolved
    *    labels. Flat (unlike [[minhashAdmissionIndex]]'s grouped lists)
    *    because a rolling index must APPEND — a bucketed append adds at
    *    most one file per touched bucket (the [[admitRollingExact]]
    *    shape), whereas appended list rows would double up the
    *    one-row-per-bucket lookup.
    *  2. Per batch: candidates = batch postings ⋈ index postings on
    *    (band, mbucket) — one row per colliding band — then a
    *    batch-sized groupBy counts collisions per (doc, candidate) and
    *    the exact-Jaccard verify (identical formula) keeps true
    *    near-dups; per doc, inherit min(ccl) (exact-set tier first —
    *    the [[splitStreamMinhash]] rule).
    *  3. WITHIN-batch near-dup pairs ([[minhashLsh]] over the batch
    *    alone — microbatch-sized, the same banded semantics) resolve via
    *    [[contractedComponents]] (the small-graph fast path makes this a
    *    single extra pass at microbatch scale), and each component takes
    *    the MIN over its members' inherited-or-self labels — plain
    *    min-propagation, which is exactly batch q239's fixed point over
    *    the arrivals (tier priority stays per-doc; across a component
    *    the smaller label wins, as a batch re-resolution would decide).
    *  4. The batch's postings append to the index CARRYING the resolved
    *    labels, so later batches inherit through earlier arrivals
    *    (multi-hop chains close across batches); results append to
    *    `<tableBase>_splits`.
    *
    * Batches must arrive in ascending doc_id ranges (the
    * [[admitRollingExact]] contract): then an arrival can never undercut
    * an already-assigned cluster's min id, and the rolling assignment
    * equals batch q239 over the same banded pair semantics except where
    * an arrival BRIDGES clusters split in different lifecycles — the
    * irreducible streaming compromise, asserted-and-explained in
    * DedupSpec. Scale shape: index side bucketed (no re-shuffle, never
    * broadcast, shuffle_hash-hinted); per batch the work is batch-sized
    * joins + one tiny CC; the index grows by |batch| × bands rows per
    * batch.
    */
  def splitRollingMinhash(corpus: DataFrame, labels: DataFrame,
                          batches: Seq[DataFrame], tableBase: String,
                          threshold: Double,
                          minBandCollisions: Int = 1,
                          shingleSize: Int = 3, numHashes: Int = 32,
                          bands: Int = 8, numBuckets: Int = 32,
                          trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val s = corpus.sparkSession
    val postT = s"${tableBase}_post"
    val resT = s"${tableBase}_splits"

    // CRASH CONSISTENCY (round 16): each batch's split rows (resT) and
    // its label-carrying postings (postT) share one IndexCommits epoch,
    // committed after both writes — a crash between them previously left
    // split assignments whose clusters the index never learned, so a
    // later arrival could not inherit them. Lookups and the returned
    // result read committed epochs only.
    graft.sources.IndexCommits.reset(s, tableBase)
    val e0 = graft.sources.IndexCommits.begin(s, tableBase)
    graft.sources.Sinks.parquetBucketed(
      splitRollingPostings(
        corpus.join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("component"), col("doc_id")).as("ccl0")),
        col("ccl0"), shingleSize, numHashes, bands)
        .withColumn("epoch", lit(e0)),
      postT, "mbucket", numBuckets)
    graft.sources.Sinks.reclaimOrphanTableLocation(s, resT)
    s.sql(s"DROP TABLE IF EXISTS $resT")
    graft.sources.IndexCommits.commit(s, tableBase, e0)

    batches.foreach { b0 =>
      val e = splitRollingStep(b0, tableBase, threshold, minBandCollisions,
        shingleSize, numHashes, bands, numBuckets, trainPct, valPct,
        stopAfter = 2)
      graft.sources.IndexCommits.commit(s, tableBase, e)
    }
    s.table(resT)
      .filter(graft.sources.IndexCommits.committedFilter(s, tableBase))
      .drop("epoch")
  }

  /** The (mbucket, cid, ccl, cxh) posting stream behind
    * [[splitRollingMinhash]] — the band index FOLDS into the bucket key
    * (hash(band, slice)), so the lookup is a single-key join on the
    * table's one bucket column: the bucketed layout satisfies the join
    * distribution with zero index-side shuffle. A cross-band hash
    * collision can only ADD a candidate, which the exact verify then
    * rejects — lossless.
    */
  private def splitRollingPostings(docs: DataFrame, ccl: Column,
                                   shingleSize: Int, numHashes: Int,
                                   bands: Int): DataFrame = {
    val rows = numHashes / bands
    val withSig = docs
      .select(col("doc_id"), ccl.as("ccl"),
        graft.functions.WordGramHashes
          .wordGramHashes(col("text"), shingleSize).as("xh"))
      .withColumn("sig",
        graft.functions.MinHashSig.minhashSig(col("xh"), numHashes))
      .filter(col("sig").isNotNull)
    withSig.select(col("doc_id").as("cid"), col("ccl"), col("xh").as("cxh"),
      explode(array((0 until bands).map(b =>
        hash(lit(b), slice(col("sig"), lit(b * rows + 1), lit(rows)))): _*))
        .as("mbucket"))
      .select(col("mbucket"), col("cid"), col("ccl"), col("cxh"))
  }

  /** One [[splitRollingMinhash]] batch WITHOUT the commit — the
    * kill-point hook (stopAfter = 1: split rows only; 2: + postings,
    * crash before commit). Returns the batch's epoch.
    */
  private[graft] def splitRollingStep(b0: DataFrame, tableBase: String,
                                      threshold: Double,
                                      minBandCollisions: Int,
                                      shingleSize: Int, numHashes: Int,
                                      bands: Int, numBuckets: Int,
                                      trainPct: Int, valPct: Int,
                                      stopAfter: Int): Long = {
    val s = b0.sparkSession
    val postT = s"${tableBase}_post"
    val resT = s"${tableBase}_splits"
    val e = graft.sources.IndexCommits.begin(s, tableBase)
    val vis = graft.sources.IndexCommits.committedFilter(s, tableBase)
    val b = b0.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (2) index lookup: one row per colliding band, then batch-sized
      // aggregation — the index side is bucketed on the join key
      val bp = splitRollingPostings(b, col("doc_id"), shingleSize,
          numHashes, bands)
        .select(col("mbucket"), col("cid").as("doc_id"),
          col("cxh").as("xh"))
      val cand = bp
        .join(s.table(postT).filter(vis).drop("epoch").hint("shuffle_hash"),
          Seq("mbucket"))
        .filter(col("cid") =!= col("doc_id"))
        .groupBy("doc_id", "cid")
        .agg(count(lit(1)).as("n_coll"), first("xh").as("xh"),
          first("ccl").as("ccl"), first("cxh").as("cxh"))
        .filter(col("n_coll") >= minBandCollisions)
      val ic = graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("xh"), col("cxh")).cast("double")
      val verified = cand
        .filter(ic / (size(col("xh")) + size(col("cxh")) - ic)
          >= lit(threshold))
      val inherited = verified
        .groupBy("doc_id")
        .agg(min(when(col("cxh") === col("xh"), col("ccl"))).as("exactMin"),
          min(col("ccl")).as("nearMin"))
        .select(col("doc_id"),
          coalesce(col("exactMin"), col("nearMin")).as("inh"))
      // (3) within-batch resolution: banded pairs over the batch alone,
      // min-propagation over (inherited-or-self) labels per component
      val own = b.select(col("doc_id"))
        .join(inherited, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("inh"), col("doc_id")).as("lbl"))
      val comp = contractedComponents(
        minhashLsh(b, shingleSize, numHashes, bands, threshold)
          .select("doc_id_a", "doc_id_b"))
      val labeled = own
        .join(comp, Seq("doc_id"), "left")
        .withColumn("comp", coalesce(col("component"), col("doc_id")))
      val finalLbl = labeled
        .groupBy("comp").agg(min("lbl").as("cluster"))
      val out = labeled.join(finalLbl, Seq("comp"))
        .select(col("doc_id"), col("cluster"),
          graft.operators.Sampling.splitAssign(col("cluster"),
            trainPct, valPct).as("split"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.withColumn("epoch", lit(e))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(resT)
      // (4) postings carry the RESOLVED labels into the index
      if (stopAfter >= 2)
        splitRollingPostings(
            b.join(out.select(col("doc_id"), col("cluster")), "doc_id"),
            col("cluster"), shingleSize, numHashes, bands)
          .withColumn("epoch", lit(e))
          .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
          .bucketBy(numBuckets, "mbucket").sortBy("mbucket")
          .saveAsTable(postT)
      out.unpersist(blocking = false)
    } finally b.unpersist(blocking = false)
    e
  }

  /** Embedding-cosine near-dup pairs, blocked by label — the exact,
    * oracle-checkable companion to [[embeddingNearDupsCells]] (the same
    * exact-vs-approximate split as jaccardPairs vs minhashLsh): O(block²)
    * BY DESIGN, which is affordable only while blocks are dimension-sized.
    * The block-size contract is code, not prose: with `maxBlockSize` set,
    * blocks above the cap are dropped from the join with an observed,
    * logged count (`graft_q29_block_cap` — capGroups' dropped_rows /
    * dropped_groups / max_group_size) instead of silently melting the
    * stage into n²/blocks dot products. At 100 TB the blocked-exact walk
    * is the sampled-slice AUDIT; the production pair generator is the
    * quantizer-cell-blocked variant below.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        maxBlockSize: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorFunctions._
    val v0 = emb.select(col("label"), col("vec_id"),
      toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e"))) // once per vector, not per pair
    val v =
      if (maxBlockSize == Int.MaxValue) v0
      else capGroups(v0, Seq("label"), maxBlockSize, "graft_q29_block_cap")
    val a = v.select(col("label"), col("vec_id").as("vec_id_a"),
      col("e").as("e_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("label"), col("vec_id").as("vec_id_b"),
      col("e").as("e_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos", dot(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("vec_id_a"), col("vec_id_b"),
              round(col("cos"), 6).as("cos_sim"))
  }

  /** [[embeddingNearDups]]' exact PAIR COUNT without materializing the
    * pair list (round-17 verdict ask #7 — q234's banded gate needs only
    * the count, and the sparse-sf1 soak spent ~53 s building 20.0 M rows
    * to take a count(*)): the [[jaccardPairsForest]] identity-group
    * device applied to embeddings. Bit-identical embedding rows within a
    * label (keyed on xxhash64 of the doubled vector — the repo-wide
    * 2⁻⁶⁴ hash-set contract) have pairwise cosine computed by the SAME
    * kernel expression as every cross pair, and identical cosine against
    * every other vector — so the exact count is pure algebra over one
    * representative per group: within-group C(k,2) gated by the kernel's
    * own rep-vs-rep verdict (never assumed 1.0 — zero vectors divide to
    * NaN and follow the engine's NaN-comparison semantics wherever they
    * land), plus k_a·k_b per qualifying representative pair. The rep²
    * walk replaces the member² walk; output is one row (n_pairs),
    * count-identical to `embeddingNearDups(emb, t).count()` (DedupSpec
    * pins it; q234 ships it under the unchanged hash-checked oracle).
    */
  def embeddingNearDupCount(emb: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val groups = emb
      .filter(col("label").isNotNull) // NULL labels never equi-join in the walk
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
      .withColumn("eh", xxhash64(col("e")))
      .groupBy("label", "eh")
      .agg(min(col("vec_id")).as("rep"), first(col("e")).as("e"),
        first(col("nrm")).as("nrm"), count(lit(1)).as("k"))
    // ONE self-join, ONE aggregate (round 18): the within-group C(k,2)
    // term previously ran as a separate aggregation crossJoined onto the
    // rep-pair walk, so the `groups` subtree above computed THREE times
    // per action (within + both join branches). The rep_a <= rep_b join
    // hits each group paired with ITSELF exactly once — e_a and e_b are
    // then the same array, so the kernel expression reproduces the old
    // self-cosine gate bit-for-bit (NaN semantics included) — and the
    // within term folds into the same sum. groups now computes twice
    // (the join branches), one aggregate chain instead of two + a
    // crossJoin stitch. Count-identical by construction; DedupSpec pins
    // it against the materialized walk.
    val a = groups.select(col("label"), col("rep").as("rep_a"),
      col("e").as("e_a"), col("nrm").as("nrm_a"), col("k").as("k_a"))
    val b = groups.select(col("label"), col("rep").as("rep_b"),
      col("e").as("e_b"), col("nrm").as("nrm_b"), col("k").as("k_b"))
    a.join(b, Seq("label"))
      .filter(col("rep_a") <= col("rep_b"))
      .filter(dot(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b")) >= threshold)
      .agg(coalesce(sum(when(col("rep_a") === col("rep_b"),
          expr("(k_a * (k_a - 1)) DIV 2"))
        .otherwise(col("k_a") * col("k_b"))), lit(0L)).as("n_pairs"))
  }

  /** Embedding-cosine near-dup pairs blocked on COARSE-QUANTIZER CELLS —
    * the SemDeDup shape that actually survives 100 TB, replacing the
    * fixture `label` (whose cardinality is fixed at 10, so pairs grow as
    * n²/10) with an IVF cell key whose cardinality `nList` is a TUNABLE:
    * size nList ∝ corpus/targetBlock and per-block work stays bounded
    * regardless of corpus growth, with [[capGroups]]' loud
    * `graft_q29_cell_cap` fence (dropped_rows / dropped_groups /
    * max_group_size) tripping observably when a cell outgrows
    * `maxBlockSize` instead of melting the join.
    *
    * Quantizer = Similarity.ivfTopK's deterministic device (centroids are
    * the first-nList vectors, assignment by cosine with the smaller-cid
    * tie-break) so a DuckDB oracle replays assignment exactly. MULTI-PROBE
    * assignment (each vector joins its `nProbe` nearest cells) is what
    * makes the recall honest on non-clustered embeddings: a near-dup pair
    * straddling two rank-1 cells still meets in a shared lower-rank cell.
    * Measured against the label-blocked exact walk at threshold 0.3
    * (nList=16, nProbe=4): recall 0.95 / 0.98 / 0.90 at sf0.001/0.01/0.1
    * — gated ≥ 0.8 as q234's banded boolean, the q105 device.
    *
    * Per-vector cell ranking is ONE hash aggregate (BoundedTopK over the
    * broadcast-centroid cross join — O(nProbe) state per vector, no
    * window, no per-vector sort task); the pair walk partitions the
    * assignment on cid once, checkpoints it at that partitioning, and
    * self-joins the checkpoint exchange-free (both sides already
    * hash(cid)-distributed); duplicate emissions (a pair meets in up to
    * nProbe shared cells, bit-identical cosine each time) collapse in
    * one DISTINCT over the surviving output pairs.
    * Output (vec_id_a, vec_id_b, cos_sim) — NO block column: multi-probe
    * pairs are not block-local, so downstream resolution must use the
    * global resolvers ([[contractedComponents]] — see
    * [[blockedComponents]]' precondition note), which q138 does.
    *
    * `nSuper > 0` routes the cell ranking through
    * Similarity.rankCellsTwoLevel — only √nList-ish super-centroids
    * broadcast, the centroid table itself never does — which is the
    * posture once nList tracks corpus/targetBlock (the round-13 verdict's
    * one remaining 100-TB assumption, now a parameter q234 gates on).
    */
  def embeddingNearDupsCells(emb: DataFrame, threshold: Double,
                             nList: Int = 16, nProbe: Int = 4,
                             maxBlockSize: Int = Int.MaxValue,
                             nSuper: Int = 0, cSuper: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions._
    require(nProbe >= 1 && nProbe <= nList,
      s"nProbe must be in [1, nList=$nList], got $nProbe")
    val v = emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val cents = v.filter(col("vec_id") < nList)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"))
    // top-nProbe cells per vector: hash-agg heap, never a window sort.
    // __probes (the vector's full probe list, nProbe ints) rides along so
    // the pair walk can elect a canonical shared cell below.
    val ranked =
      if (nSuper <= 0) Similarity.rankCellsFlat(v, cents, nProbe)
      else Similarity.rankCellsTwoLevel(v, cents, nSuper, cSuper, nProbe)
    val assigned0 = ranked
      .select(col("vec_id"), col("e"), col("nrm"),
        explode(col("cells.cid")).as("cid"))
    // COMPUTE-ONCE, CO-PARTITIONED pair walk (round 18 — the round-17
    // verdict's #3 ask). The previous shape self-joined the LAZY exploded
    // assignment on cid, computing the whole ranking pipeline (centroid
    // cross join → BoundedTopK agg → explode → cap window + a probe-list
    // re-derivation window) once per branch — Catalyst/AQE exchange
    // reuse provably never unified the branches (OPTIMIZATION_r17.md:
    // CollectMetrics + differing projections + broadcast joins in the
    // subtree break canonical equality). Now the assignment is
    // partitioned ON cid exactly once (an explicit repartition, which the
    // cap fence's window reuses) and CHECKPOINTED at that partitioning, so:
    //   1. the ranking pipeline executes exactly once, and
    //   2. the a/b self-join reads BOTH sides from the checkpoint already
    //      hash(cid)-distributed — EnsureRequirements elides both join
    //      exchanges; the join costs sorts, not shuffles.
    // Pair dedup (a pair meets in up to nProbe shared cells, with
    // bit-identical cosine each time) moved from the pre-join probe-list
    // election — whose per-vector probe arrays cost a second window
    // under the cap fence — to one DISTINCT over the SURVIVING pairs
    // (post-threshold, output-sized): it shuffles only what the walk
    // emits. Net plan: three exchanges total (BoundedTopK agg, the one
    // cid partitioning, the dedup) where the old shape paid the pipeline
    // twice plus two windows. The checkpoint holds nProbe × corpus rows
    // with the 64-dim vector (MEMORY_AND_DISK, spills; Checkpoints has its
    // lifetime) — the same bytes the old shape re-shuffled through its
    // second cid exchange.
    // The cap's window is checkpointed with the cells and its fence reads
    // the checkpoint, so the graft_q29_cell_cap observation lands in the
    // caller's query, where the checkpoint's own query would hide it.
    val byCell = Checkpoints.hashed(assigned0, "cid")
    val cells =
      if (maxBlockSize == Int.MaxValue) Checkpoints.local(byCell)
      else fenceGroups(Checkpoints.local(groupSized(byCell, Seq("cid"))),
        maxBlockSize, "graft_q29_cell_cap")
    val a = cells.select(col("cid"), col("vec_id").as("vec_id_a"),
      col("e").as("e_a"), col("nrm").as("nrm_a"))
    val b = cells.select(col("cid"), col("vec_id").as("vec_id_b"),
      col("e").as("e_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cid"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos", dot(col("e_a"), col("e_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), round(col("cos"), 6).as("cos_sim"))
      .distinct()
  }

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): find every maximal token span
    * whose k-grams ALL repeat elsewhere in the corpus — the spans the
    * published suffix-array method would excise. The reference family's
    * whole-doc dedup ([[exact]]) and shingle near-dup ([[jaccardPairs]])
    * miss exactly this case: a unique document embedding a boilerplate
    * paragraph copied across thousands of docs.
    *
    * Positional-k-gram anchoring instead of a suffix array (which is
    * single-machine): a repeated substring of >= k tokens contains only
    * repeated k-grams, so k-grams occurring >= 2 times in the corpus
    * (counting positions — within-doc repeats are repeats, as in the
    * suffix-array formulation) are anchors, and merging anchors closer
    * than k positions reconstructs the maximal repeated spans. Spans
    * shorter than k tokens are below the detector's resolution, exactly
    * as published (k is minMatchLen).
    *
    * Distributed shape — never all-pairs, never a suffix array's global
    * sort: (1) map-only positional gram explode, hashing each gram to a
    * 64-bit key so the shuffle carries 8-byte keys, not k-token strings
    * (the q64/q38 hash-set==string-set contract; collisions only ever ADD
    * an anchor, and q219's oracle gates the SPANS against the string
    * formulation); (2) one groupBy(h) occurrence count; (3) join the
    * postings back on the same key (exchange reused, aggregated side
    * built — the q64 shuffle_hash shape); (4) anchor→span islands via a
    * window partitioned BY DOC — a document's anchors always fit one
    * task, whatever the corpus size.
    *
    * Returns (doc_id, span_start, span_len, n_anchors): 1-based token
    * position, token length, and the anchor count inside the span.
    */
  def substringSpans(docs: DataFrame, k: Int = 8,
                     textCol: String = "text",
                     idCol: String = "doc_id",
                     saltBuckets: Int = 1): DataFrame =
    substringSpansImpl(docs, k, textCol, idCol, keepFirst = false,
      saltBuckets = saltBuckets)

  /** [[substringSpans]] with the KEEP-ONE-COPY election: the corpus-first
    * occurrence of each repeated k-gram — min (doc_id, pos), a total
    * order both engines agree on — is NOT an anchor, so the earliest copy
    * of a repeated span keeps its text and only the later copies are
    * flagged for removal. This is the other published ExactSubstr
    * convention (dedup the data, keep one exemplar); [[substringSpans]]
    * is the remove-every-copy default. Costs one extra field in the
    * per-gram aggregate (min struct rides the same groupBy(h) exchange) —
    * the shape is otherwise identical.
    */
  def substringSpansKeepFirst(docs: DataFrame, k: Int = 8,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              saltBuckets: Int = 1): DataFrame =
    substringSpansImpl(docs, k, textCol, idCol, keepFirst = true,
      saltBuckets = saltBuckets)

  /** Positional k-gram posting list: one row per (doc, 1-based position),
    * keyed by the 64-bit xxhash of the k-token gram string — the shared
    * kernel of the substring family ([[substringSpans]] span detection,
    * [[substrContamination]] screening, [[gramIndexFrame]] index build).
    *
    * Gram hashes are computed as an ARRAY in the same Project that holds
    * __toks, then posexploded: __toks is referenced twice there (sequence
    * bound + lambda slice), which stops CollapseProject from inlining the
    * split() into the lambda — inlined, the doc would re-tokenize once
    * PER POSITION (the q72 13x HOF trap, StratifiedSelect.scala).
    * sequence(1, n-k+1) REQUIRES n >= k: Spark's sequence steps -1 when
    * start > stop, so short docs are filtered, not clamped.
    */
  private[graft] def gramPosting(docs: DataFrame, k: Int,
                                 textCol: String, idCol: String): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2, got $k")
    val toks = col("__toks")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .filter(size(toks) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => xxhash64(array_join(slice(toks, i, lit(k)), " ")))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
  }

  private def substringSpansImpl(docs: DataFrame, k: Int,
                                 textCol: String, idCol: String,
                                 keepFirst: Boolean,
                                 saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val posting = gramPosting(docs, k, textCol, idCol)
    // postings never broadcast (Generate-size trap, as in q38/q64); the
    // aggregated repeated-gram side builds, riding its own groupBy(h)
    // exchange. HOT-GRAM SKEW: a boilerplate gram repeated 10^6x lands
    // every posting row on ONE reducer of this join. That task streams
    // (one output row per input row — no blowup), so the default path is
    // fine until a single gram's postings outgrow a partition
    // (~10^7 rows / 256 MB), where AQE's skew split handles the
    // sort-merge plan; saltBuckets > 1 is the EXPLICIT route
    // (Skew.saltedJoin: postings salt deterministically on (doc, pos),
    // the aggregated side replicates saltBuckets x), bounding any gram's
    // per-task rows to postings/saltBuckets at the price of a
    // saltBuckets-x larger build side — identical spans either way
    // (DedupSpec pins equality under a planted hot gram).
    def joinRepeated(repeated: DataFrame): DataFrame =
      if (saltBuckets == 1) posting.join(repeated.hint("shuffle_hash"), "h")
      else Skew.saltedJoin(posting, repeated, "h",
        saltSrc = struct(col(idCol), col("pos")), saltBuckets = saltBuckets)
    val anchors =
      if (!keepFirst) {
        val repeated = posting.groupBy("h").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
        joinRepeated(repeated)
          .select(col(idCol), col("pos"))
      } else {
        // min(struct) = lexicographic (doc_id, pos) min — the canonical
        // occurrence; every OTHER occurrence of a repeated gram anchors
        val repeated = posting.groupBy("h").agg(count(lit(1)).as("cnt"),
            min(struct(col(idCol), col("pos"))).as("__first"))
          .filter(col("cnt") >= 2)
        joinRepeated(repeated)
          .filter(!(col(s"__first.$idCol") === col(idCol) &&
            col("__first.pos") === col("pos")))
          .select(col(idCol), col("pos"))
      }
    // anchors -> maximal spans: per-DOC islands (anchors <= k apart chain
    // into one span). The window partitions by doc id — bounded by doc
    // length, never corpus-sized.
    val w = Window.partitionBy(col(idCol)).orderBy("pos")
    anchors
      .withColumn("__brk",
        when(col("pos") > lag("pos", 1).over(w) + k, 1L).otherwise(0L))
      .withColumn("__island", sum("__brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + k).as("span_len"),
        count(lit(1)).as("n_anchors"))
      .select(col(idCol), col("span_start"), col("span_len"), col("n_anchors"))
  }

  /** Distinct k-gram hash set of a corpus — the substring-contamination
    * index [[substrContamination]] probes: "which k-token phrases does
    * the corpus already contain". One hash-aggregate over the positional
    * posting (positions dropped — membership is the signal); 8-byte keys,
    * ~|tokens|/1 rows before dedup, never the documents themselves.
    */
  def gramIndexFrame(corpus: DataFrame, k: Int = 8,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    gramPosting(corpus, k, textCol, idCol).select("h").distinct()

  /** [[gramIndexFrame]] materialized as a parquet table BUCKETED on the
    * gram hash (the saveAdmissionIndex device): a long-running screening
    * pipeline pays the corpus scan once at build time, and every later
    * batch probe shuffles only its own grams — the bucketed scan already
    * satisfies the join distribution. Readers in other sessions must
    * refreshTable after appends, as with the other bucketed indexes.
    */
  def saveGramIndex(corpus: DataFrame, tableBase: String, k: Int = 8,
                    numBuckets: Int = 32): DataFrame = {
    val s = corpus.sparkSession
    graft.sources.IndexCommits.reset(s, tableBase)
    val e = graft.sources.IndexCommits.begin(s, tableBase)
    graft.sources.Sinks.parquetBucketed(
      gramIndexFrame(corpus, k).withColumn("epoch", lit(e)),
      s"${tableBase}_grams", "h", numBuckets)
    graft.sources.IndexCommits.commit(s, tableBase, e)
    loadGramIndex(s, tableBase)
  }

  /** Admit a new batch's grams into a persisted gram index: only the
    * batch's OWN distinct gram hashes append (one new file per touched
    * bucket), under a fresh epoch committed after the write. A gram
    * already indexed may append again from a later batch — the index is
    * a SET probed through a left-join hit flag, so duplicate hash rows
    * change bytes, not answers (compact on the usual bucketed cadence).
    */
  def appendGramIndex(newDocs: DataFrame, tableBase: String, k: Int = 8,
                      numBuckets: Int = 32): DataFrame = {
    val s = newDocs.sparkSession
    val e = appendGramIndexPartial(newDocs, tableBase, k, numBuckets)
    graft.sources.IndexCommits.commit(s, tableBase, e)
    loadGramIndex(s, tableBase)
  }

  /** [[appendGramIndex]] without the commit — the kill-point hook. */
  private[graft] def appendGramIndexPartial(newDocs: DataFrame,
                                            tableBase: String, k: Int = 8,
                                            numBuckets: Int = 32): Long = {
    val s = newDocs.sparkSession
    val e = graft.sources.IndexCommits.begin(s, tableBase)
    gramIndexFrame(newDocs, k).withColumn("epoch", lit(e))
      .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, "h").sortBy("h")
      .saveAsTable(s"${tableBase}_grams")
    e
  }

  /** The gram index at its COMMITTED state (IndexCommits) — crashed
    * admissions' orphan rows invisible to [[substrContamination]].
    */
  def loadGramIndex(s: org.apache.spark.sql.SparkSession,
                    tableBase: String): DataFrame =
    s.table(s"${tableBase}_grams")
      .filter(graft.sources.IndexCommits.committedFilter(s, tableBase))
      .drop("epoch")

  /** Substring-level contamination screen — for each NEW document, how
    * much of it the corpus has already seen: n_grams (its k-gram count),
    * n_hit (grams present in the corpus index), and contam_ppm
    * (n_hit/n_grams in integer parts-per-million — engine-exact, no float
    * ratio). This is [[decontaminate]]'s posture pointed the other way:
    * decontamination screens the corpus against an eval set (a plan
    * constant when small), this screens an arriving batch against the WHOLE corpus
    * (bucketed index join — the index is corpus-sized and must never
    * broadcast). The admission rule a curation pipeline derives from it
    * (reject contam_ppm above a threshold) composes with the
    * exact/SimHash/MinHash admission screens, which only see whole-doc or
    * near-whole-doc duplication — a fresh document quoting a corpus
    * paragraph passes all three and is exactly what this catches.
    *
    * Shape: the batch's positional posting LEFT-joins the index on the
    * 8-byte gram hash (shuffled hash join, index side built — its
    * bucketed layout, when [[saveGramIndex]] made it, already sits on the
    * key), then one per-doc hash-aggregate. Batch-only shuffles; corpus
    * never moves.
    */
  def substrContamination(newDocs: DataFrame, gramIndex: DataFrame,
                          k: Int = 8, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame =
    gramPosting(newDocs, k, textCol, idCol)
      .join(gramIndex.withColumn("__hit", lit(true)).hint("shuffle_hash"),
        Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
      .withColumn("contam_ppm", expr("(n_hit * 1000000) DIV n_grams"))

  /** Apply [[substringSpans]] removals: rebuild each document's text with
    * every flagged span excised (plus kept/removed token counts). Removes
    * ALL occurrences of a repeated span — the Lee et al. tool's default
    * (each flagged gram occurred >= 2 times corpus-wide; removing every
    * copy leaves the corpus free of >= k-token repeats, up to sub-k
    * remnants). For keep-one-copy semantics, feed this operator the
    * spans from [[substringSpansKeepFirst]] instead — it performs the
    * canonical-occurrence election (the globally first occurrence of
    * each repeated gram survives) and q222 gates exactly that
    * composition.
    *
    * Shape: spans group per doc (bounded by doc length), one equi-join on
    * the doc id back to the corpus, then a PER-ROW HOF rebuild —
    * filter-with-index over the token array testing coverage against the
    * doc's own span list (tokens x spans per doc, both doc-bounded). No
    * UDF, no window, one shuffle on the id. Docs with no spans pass
    * through verbatim via the left join (a NULL span list means "covered
    * by nothing", folded by the coalesce around exists). Tokenization
    * round-trips exactly: split-on-space then join-with-space preserves
    * empty tokens, so untouched text is byte-identical.
    */
  def applySpanRemovals(docs: DataFrame, spans: DataFrame,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val sp = spans.groupBy(col(idCol)).agg(
      collect_list(struct(col("span_start"), col("span_len"))).as("__spans"))
    val covered: (Column, Column) => Column = (tok, i) =>
      coalesce(
        exists(col("__spans"), s =>
          (i + 1) >= s.getField("span_start") &&
            (i + 1) < s.getField("span_start") + s.getField("span_len")),
        lit(false))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .join(sp, Seq(idCol), "left")
      .withColumn("__kept", filter(col("__toks"), (t, i) => !covered(t, i)))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }
}
