package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality — the family beyond connected components
  * (Dedup.blockedComponents / contractedComponents resolve WHO is linked;
  * PageRank ranks HOW central each node is). Drives corpus-side link
  * analysis: domain authority for crawl prioritization, citation weight
  * for source mixing, seed scoring for quality-propagation schemes.
  *
  * Engine-parity contract (the q118/q166 pattern): classic PageRank is a
  * float fixed point, and float accumulation order is not reproducible
  * across engines — so this operator defines FIXED-POINT integer
  * semantics and makes them the contract:
  *
  *   pr_0(v)     = SCALE DIV n
  *   pr_{k+1}(v) = (3*SCALE) DIV (20*n)
  *                 + (17 * sum over in-edges (u,v) of pr_k(u) DIV outdeg(u)) DIV 20
  *
  * damping 0.85 = 17/20 and teleport 0.15 = 3/20 are exact rationals;
  * every operation is integer division/multiplication on BIGINTs, so any
  * engine reproduces the trajectory bit-for-bit (DuckDB replays it as an
  * unrolled CTE chain under the q167 gate; GraphSpec pins a plain-Scala
  * reference). Rank error vs float PageRank is bounded by the DIV
  * truncations: < 1 ulp of SCALE per term, ~1e-12 relative at the
  * default SCALE — far below any ranking consumer's resolution.
  */
object Graph {

  val DefaultScale: Long = 1000000000000L // 1e12: n and outdeg up to ~1e6 keep 6+ digits

  /** Fixed-point PageRank over a directed edge list `(src, dst)`.
    *
    * Requirements: edges distinct; every node appears as BOTH a src and
    * a dst (a symmetrized edge set satisfies this; for genuinely directed
    * graphs, pre-drop sources/sinks or symmetrize). Returns one row per
    * node: (id, pr) after `iterations` rounds.
    *
    * Scale shape: the out-degree is joined onto the edge list ONCE
    * (static across rounds) and the decorated edges are checkpointed for
    * all rounds, so each round is exactly
    *
    *   edges ⋈ rank-frame (keyed src) → per-dst contribution aggregation
    *   (map-side combined) → teleport + damping arithmetic
    *
    * — ONE join and ONE exchange per round, nothing node-count-sized
    * ever funnels through a single task. With `broadcastRanks = true`
    * (default) the |V|-sized rank frame broadcasts and the checkpointed
    * edges never re-shuffle — right while ranks fit an executor (up to
    * ~10^8 nodes); for billion-node graphs pass `broadcastRanks = false`
    * and the join keys on src as co-partitioned shuffles — the canonical
    * distributed PageRank step. The node count n enters the teleport
    * term as a driver-side literal from one bounded count — the
    * boundary-array/centroid pattern (StratifiedSelect.scala:35) — and
    * that one eager action also stores the edge checkpoint on a PLAIN
    * job path: left to the caller's terminal action, the edges would
    * first materialize inside a nested BroadcastExchange job (driver-side
    * thread, AQE re-planning per nesting level), measured ~3x slower for
    * the same work. The rounds themselves stay LAZY and fuse into the
    * caller's action (per-round checkpointing was measured and rejected:
    * each round's separate job re-pays broadcast-build latency). The
    * edge checkpoint lives as long as the returned frame (Checkpoints).
    */
  def fixedPointPageRank(edges: DataFrame, iterations: Int,
                         scale: Long = DefaultScale,
                         broadcastRanks: Boolean = true): DataFrame = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    require(iterations <= 64,
      s"$iterations unrolled iterations would build an unreasonably deep " +
        "plan; fixed-point PageRank is meant for small fixed round counts")
    val e0 = edges.select(col("src"), col("dst"))
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // outdeg is static: decorate the edges once, not once per round.
    // PARTITION-ONCE-ITERATE-MANY (round 18, guide §2.4): the checkpointed
    // edges are hash-partitioned on dst BEFORE the checkpoint, so each round's
    // per-dst contribution aggregation finds its input already
    // distributed on its key (the broadcast rank join preserves the
    // streamed side's partitioning, and the dst→id alias is
    // partitioning-aware) — EnsureRequirements elides the per-round
    // exchange. One upfront edge shuffle replaces `iterations`
    // contribution-sized shuffles; per round the plan is broadcast join
    // + map-side + final agg with NO exchange.
    val eJoined = e0.join(deg, "src")
    val e = Checkpoints.local(Checkpoints.hashed(eJoined, "dst"))
    // one bounded driver-side action: |V| for the teleport literal (and,
    // as a deliberate side effect, the edge checkpoint's materialization)
    val n = e.select(col("src")).distinct().count()
    require(n > 0, "PageRank over an empty edge list")
    val teleport = (3 * scale) / (20 * n)
    def bc(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var pr = deg.select(col("src").as("id"), lit(scale / n).as("pr"))
    for (_ <- 1 to iterations) {
      pr = e
        .join(bc(pr.withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), expr("pr DIV outdeg").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("insum"))
        .select(col("id"),
          (lit(teleport) + expr("(17 * insum) DIV 20")).as("pr"))
    }
    pr
  }

  /** WEIGHTED PageRank — rank mass flows along edge weights instead of
    * uniformly over out-edges (trade volume, link counts, citation
    * frequency): the realistic edge model. Same integer fixed-point
    * contract as [[fixedPointPageRank]], with the per-edge contribution
    *
    *   contrib(u→v) = (pr(u) · w(u,v)) DIV wsum(u)
    *
    * Input `(src, dst, w)` with w ≥ 1; the weight-sum decoration replaces
    * the out-degree one (static, joined once, checkpointed for all rounds) —
    * identical plan shape, one join + one map-side-combined agg per
    * round. Overflow bound: pr·w must fit int64 — pr stays ≤ ~2·SCALE,
    * so w ≤ ~4.6e6 at the default scale; rescale for heavier weights.
    */
  def weightedPageRank(edges: DataFrame, iterations: Int,
                       scale: Long = DefaultScale,
                       broadcastRanks: Boolean = true): DataFrame = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    require(iterations <= 64, "fixed-point PageRank wants small fixed round counts")
    val e0 = edges.select(col("src"), col("dst"), col("w"))
    val ws = e0.groupBy("src").agg(sum("w").as("wsum"))
    // partition-once-iterate-many: see fixedPointPageRank — hash(dst)
    // before the checkpoint elides every round's contribution exchange
    val e = Checkpoints.local(Checkpoints.hashed(e0.join(ws, "src"), "dst"))
    val n = e.select(col("src")).distinct().count() // bounded; plain-path checkpoint build
    require(n > 0, "PageRank over an empty edge list")
    val teleport = (3 * scale) / (20 * n)
    def bc(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var pr = ws.select(col("src").as("id"), lit(scale / n).as("pr"))
    for (_ <- 1 to iterations) {
      pr = e
        .join(bc(pr.withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), expr("(pr * w) DIV wsum").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("insum"))
        .select(col("id"),
          (lit(teleport) + expr("(17 * insum) DIV 20")).as("pr"))
    }
    pr
  }

  /** Personalized PageRank: teleport mass restricted to a SEED set —
    * authority flows outward from trusted nodes (seed-domain quality
    * propagation, citation weighting from curated sources). Same integer
    * fixed-point contract as [[fixedPointPageRank]], with the teleport
    * term per node:
    *
    *   base(v)     = v ∈ S ? (3*SCALE) DIV (20*|S|) : 0
    *   pr_0(v)     = v ∈ S ? SCALE DIV |S| : 0
    *   pr_{k+1}(v) = base(v) + (17 * sum of pr_k(u) DIV outdeg(u)) DIV 20
    *
    * `seeds` is one `id` column; seeds outside the node set are ignored
    * (|S| counts the intersection). Same requirements and plan shape as
    * the uniform variant, with one twist that keeps it at ONE join per
    * round: the per-DST base term is decorated onto the edge list at
    * build time (base is static, like outdeg), so each round's
    * aggregation carries it out via min() — constant per dst — instead of
    * re-joining a node-base frame every round.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int,
                           scale: Long = DefaultScale,
                           broadcastRanks: Boolean = true): DataFrame = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    require(iterations <= 64, "fixed-point PageRank wants small fixed round counts")
    val e0 = edges.select(col("src"), col("dst"))
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val seedIds = seeds.select(col("id")).distinct()
    val nodes = deg.select(col("src").as("id"))
    val nSeeds = nodes.join(seedIds, "id").count() // bounded driver count
    require(nSeeds > 0, "no seed intersects the node set")
    val base = (3 * scale) / (20 * nSeeds)
    val seedFlag = broadcast(seedIds.withColumn("is_seed", lit(true)))
    // decorate outdeg(src) AND base(dst) onto the edges once; both static
    val decorated = e0
      .join(deg, "src")
      .join(seedFlag.select(col("id").as("dst"), col("is_seed")), Seq("dst"), "left")
      .withColumn("dst_base",
        when(col("is_seed"), lit(base)).otherwise(lit(0L)))
      .drop("is_seed")
    // partition-once-iterate-many: see fixedPointPageRank — hash(dst)
    // before the checkpoint elides every round's contribution exchange
    val e = Checkpoints.local(Checkpoints.hashed(decorated, "dst"))
    e.count() // plain-path checkpoint materialization (fixedPointPageRank's note)
    def bc(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var pr = nodes.join(seedFlag, Seq("id"), "left")
      .select(col("id"),
        when(col("is_seed"), lit(scale / nSeeds)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iterations) {
      pr = e
        .join(bc(pr.withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), expr("pr DIV outdeg").as("contrib"),
          col("dst_base"))
        .groupBy("id")
        .agg(sum("contrib").as("insum"), min("dst_base").as("b"))
        .select(col("id"),
          (col("b") + expr("(17 * insum) DIV 20")).as("pr"))
    }
    pr
  }

  case class Hits(hubs: DataFrame, authorities: DataFrame)

  /** Per-node triangle counts over an UNDIRECTED distinct edge list
    * `(x, y)` with `x < y` — the building block behind local clustering
    * coefficients and community-density signals (co-purchase triads,
    * co-citation cliques, link-farm detection on crawl graphs).
    *
    * Algorithm: degree-ordered orientation (the classic compact-forward
    * scheme). Every edge is directed from its lower-(degree, id) endpoint
    * to its higher one, turning the graph into a DAG in which each
    * triangle {u,v,w} appears EXACTLY once as the wedge u→v, u→w
    * (v before w in the order) closed by the oriented edge v→w. The
    * wedge join's fan-out is bounded by the ORIENTED out-degree, which
    * the degree ordering caps at O(√m) for any graph — total wedge work
    * O(m^1.5) instead of Σdeg² (quadratic in the hubs' degrees, the thing
    * that kills naive triangle counting on skewed graphs at scale).
    *
    * Plan shape: one degree aggregation, two (broadcastable) degree
    * decorations, then wedge-join ⋈ closing-edge-join — all keyed
    * hash joins, nothing cartesian. The oriented edge list is a
    * checkpoint (it drives three join sides), stored eagerly so those
    * joins see its measured size; the edge and degree frames it is built
    * from are lazy checkpoints.
    *
    * Returns one row per node that closes ≥1 triangle:
    * `(id, deg, tri)` with `deg` the UNDIRECTED degree. Nodes in no
    * triangle are omitted (join back to a node frame for zeros).
    *
    * `broadcastDegrees = true` (default) broadcasts the |V|-sized degree
    * frame into both decorations — right while nodes fit an executor;
    * pass false for billion-node graphs to key both as shuffles.
    */
  def triangleStats(edges: DataFrame,
                    broadcastDegrees: Boolean = true): DataFrame = {
    // The edge list feeds the degree agg (twice, via the endpoint union),
    // both degree decorations, and the closing-edge side; the degree
    // frame feeds two decorations plus the final join. Without checkpoints
    // the whole upstream edge DERIVATION (often a self-join + support
    // filter, as in q172) would replay once per consumer — measured as a
    // ~6x-replicated subtree in the physical plan.
    val e0 = Checkpoints.local(edges.select(col("x"), col("y")))
    val deg = Checkpoints.local(e0.select(col("x").as("n"))
      .unionAll(e0.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")))
    def bc(df: DataFrame): DataFrame = if (broadcastDegrees) broadcast(df) else df
    val dec = e0
      .join(bc(deg.select(col("n").as("x"), col("d").as("dx"))), "x")
      .join(bc(deg.select(col("n").as("y"), col("d").as("dy"))), "y")
    val fwd = col("dx") < col("dy") ||
      (col("dx") === col("dy") && col("x") < col("y"))
    // NOT pre-partitioned on src (round 18 A/B): hash(src)-before-cache
    // would elide the wedge join's two exchanges, but measured +47 % at
    // sf0.1 — the upfront shuffle + shuffled cache build costs more
    // than the elision saves here, because the closing join re-shuffles
    // the wedges on (v, w) regardless. Eager: its final stage joins, and
    // the wedge and closing joins broadcast it only on its measured size.
    val oriented = Checkpoints.local(dec.select(
        when(fwd, col("x")).otherwise(col("y")).as("src"),
        when(fwd, col("y")).otherwise(col("x")).as("dst"),
        when(fwd, col("dy")).otherwise(col("dx")).as("dstd")), eager = true)
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dstd").as("vd"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dstd").as("wd"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("vd") < col("wd") ||
        (col("vd") === col("wd") && col("v") < col("w")))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val perNode = tri.select(col("u").as("n"))
      .unionAll(tri.select(col("v").as("n")))
      .unionAll(tri.select(col("w").as("n")))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    perNode.join(bc(deg), "n")
      .select(col("n").as("id"), col("d").as("deg"), col("tri"))
  }

  /** Multi-source BFS: minimum hop distance from a SEED set over a
    * directed edge list `(src, dst)`, cut off at `maxLevel` hops — the
    * reachability scorer behind crawl-frontier expansion and
    * quality-neighborhood queries ("everything within k links of the
    * curated seeds").
    *
    * Frontier-at-a-time iteration, integer-exact by construction: level
    * 0 is the seed set; each round joins ONLY the previous frontier
    * against the edges, dedups the targets, and anti-joins the
    * already-visited set, so a node's level is the round that first
    * reaches it — exactly min-hops. Per round that is one keyed join +
    * one distinct + one anti join; no node-count-sized state ever
    * funnels through a single task. Each frontier is a lazy checkpoint
    * (it is read by the next round's join, every later anti-join and the
    * final union), stored by the next round's broadcast; `maxLevel` is
    * fenced small
    * because each round adds plan depth, the right regime for the
    * bounded-neighborhood queries this targets (unbounded BFS wants the
    * checkpointed-loop style of Dedup.propagateComponents instead).
    *
    * Returns `(id, lvl)` — one row per node reached within `maxLevel`
    * hops; unreached nodes are absent. `broadcastFrontier = true`
    * (default) broadcasts the frontier/visited sides of the joins —
    * right while the reached set fits an executor; pass false to key
    * them as shuffles.
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxLevel: Int,
                broadcastFrontier: Boolean = true): DataFrame = {
    require(maxLevel >= 1, s"need >= 1 level, got $maxLevel")
    require(maxLevel <= 8,
      s"$maxLevel unrolled BFS rounds would build an unreasonably deep " +
        "plan; bfsLevels is meant for bounded-neighborhood queries")
    // partition-once-iterate-many (round 18, guide §2.4): edges checkpointed
    // hash(dst) so each round's frontier-target `distinct` (keyed on the
    // dst→id alias) finds its input already distributed on its key and
    // the per-round exchange elides; the frontier/visited joins stay
    // broadcast. One upfront edge shuffle replaces maxLevel per-round
    // target shuffles.
    val e = Checkpoints.local(Checkpoints.hashed(edges.select(col("src"), col("dst")), "dst"))
    def bc(df: DataFrame): DataFrame = if (broadcastFrontier) broadcast(df) else df
    val level0 = Checkpoints.local(seeds.select(col("id")).distinct()
      .select(col("id"), lit(0).as("lvl")))
    var visited = level0
    var frontier = level0
    for (k <- 1 to maxLevel) {
      val next = Checkpoints.local(e
        .join(bc(frontier.select(col("id").as("src"))), "src")
        .select(col("dst").as("id")).distinct()
        .join(bc(visited.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), lit(k).as("lvl")))
      visited = visited.unionAll(next)
      frontier = next
    }
    visited
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list — unlike the
    * PageRank pair, no symmetrization: the two roles are the point
    * (on a supplier→customer graph, hub score ranks suppliers by the
    * breadth×quality of the customers they reach; authority score ranks
    * customers by the hubs that reach them).
    *
    * Integer contract (the PageRank device, with normalization made
    * integer-exact by MAX-QUANTIZATION instead of a ratio):
    *
    *   h_0(v)    = SCALE
    *   per round:
    *     a_raw(v) = sum over in-edges (u,v) of h(u)
    *     a(v)     = a_raw(v) DIV max(1, max_w a_raw(w) DIV SCALE)
    *     h_raw(v) = sum over out-edges (v,w) of a(w)
    *     h(v)     = h_raw(v) DIV max(1, max_w h_raw(w) DIV SCALE)
    *
    * The quantized normalizer keeps every value ≤ ~2·SCALE with pure
    * BIGINT ops (a ratio normalizer would need 128-bit intermediates),
    * at ≤ 1-ulp-of-SCALE relative error per round — both engines replay
    * the trajectory bit-for-bit (q171's oracle; GraphSpec reference).
    * Overflow bound: in-degree × 2·SCALE must fit int64 — at the default
    * SCALE that is ~4.6e6 in-edges per node; pick a smaller scale for
    * denser graphs.
    *
    * Plan shape per half-round: one edge join + one map-side-combined
    * aggregation, checkpointed, then its max read back as a 1-row driver
    * scalar. Scores broadcast by default (|V|-sized);
    * `broadcastScores = false` keys them as co-partitioned shuffles.
    * `edges` is read twice in all, once per checkpointed distribution.
    * Each returned frame reads its own half-round checkpoint, so hubs and
    * authorities can be consumed in separate actions.
    */
  def hits(edges: DataFrame, iterations: Int,
           scale: Long = DefaultScale,
           broadcastScores: Boolean = true): Hits = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    require(iterations <= 64, "HITS wants small fixed round counts")
    // partition-once-iterate-many (round 18, guide §2.4): the two
    // half-rounds aggregate on OPPOSITE keys (auth groups by dst, hub by
    // src), so the edge list is checkpointed twice, once per distribution —
    // each half-round's aggregation then finds its input already
    // hash-partitioned on its key and the per-half-round exchange
    // elides. Two upfront edge shuffles replace 2×iterations of them.
    val e0 = edges.select(col("src"), col("dst"))
    val eDst = Checkpoints.local(Checkpoints.hashed(e0, "dst"))
    val eSrc = Checkpoints.local(Checkpoints.hashed(e0, "src"))
    def bc(df: DataFrame): DataFrame = if (broadcastScores) broadcast(df) else df
    // Each half-round CHECKPOINTS its raw sums and reads the normalizer max
    // back as a 1-row driver scalar (the Profile.eagerOneRow contract).
    // The previous formulation — crossJoin(broadcast(raw.agg(max))) —
    // consumed every raw subtree TWICE (main plan + broadcast build), so
    // round k's lazy plan carried 2^k copies of the early rounds, the
    // max scan ran on the broadcast-build thread pool, and q171's two
    // rounds cost 2.0 s at sf0.1 (6.3 s under host load). The checkpoint
    // cuts the plan at each half-round. The one from two half-rounds back
    // is read by nothing once the newest is stored, and is freed then; the
    // last two stay, read by the returned frames.
    var held = List.empty[DataFrame] // the newest half-round first
    def quantNorm(raw0: DataFrame): DataFrame = {
      val raw = Checkpoints.local(raw0)
      val r = raw.agg(max("raw")).head() // stores the checkpoint on a plain job path
      val m = if (r.isNullAt(0)) 0L else r.getLong(0)
      held.drop(1).foreach(Checkpoints.free)
      held = raw :: held.take(1)
      val g = math.max(1L, m / scale)
      raw.select(col("id"), expr(s"raw DIV $g").as("s"))
    }
    var hub = eSrc.select(col("src").as("id")).distinct()
      .select(col("id"), lit(scale).as("s"))
    var auth: DataFrame = hub.limit(0)
    for (_ <- 1 to iterations) {
      auth = quantNorm(
        eDst.join(bc(hub.withColumnRenamed("id", "src")), "src")
          .groupBy("dst").agg(sum("s").as("raw"))
          .withColumnRenamed("dst", "id"))
      hub = quantNorm(
        eSrc.join(bc(auth.withColumnRenamed("id", "dst")), "dst")
          .groupBy("src").agg(sum("s").as("raw"))
          .withColumnRenamed("src", "id"))
    }
    // every half-round is stored: nothing reads the edge checkpoints now
    Checkpoints.free(eDst); Checkpoints.free(eSrc)
    Hits(hub, auth)
  }
}
