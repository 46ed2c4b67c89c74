package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-structure analytics beyond centrality (Signals.scala's
  * q167/q170/q171 rank nodes; these measure LOCAL structure and
  * REACHABILITY): triangle counting / clustering coefficients over the
  * part co-purchase graph, and bounded multi-source BFS over the trade
  * graph. Both are integer-exact end-to-end, so DuckDB replays them
  * bit-for-bit under the hash gate — no banding needed.
  */
object Graphs {

  /** q172: triangle counts + local clustering coefficients over the part
    * CO-PURCHASE graph — nodes are parts, an edge links two parts that
    * appear together in ≥2 distinct orders (the market-basket support
    * threshold: a support-1 edge is co-occurrence noise, and pruning it
    * is also what keeps the graph sparse — at sf0.1 support≥2 keeps
    * ~3.6k of 1.2M co-occurring pairs). Triads of mutually co-purchased
    * parts are the classic basket-affinity signal.
    *
    * Scale: pair generation fans out per order as basket², fenced by
    * `maxBasket` (oversized baskets are DROPPED, mirrored exactly by the
    * oracle's HAVING — the Dedup.maxBlockSize device); the triangle join
    * itself runs on degree-ORIENTED edges, bounding wedge fan-out at
    * O(√m) per node / O(m^1.5) total (operators.Graph.triangleStats).
    * cc_ppm = 2·tri·10⁶ DIV deg·(deg−1) — pure BIGINT, engine-exact.
    *
    * The edge list reads from a materialized-per-dir parquet twin
    * (CoPurchaseEdges — the TradeGraphPairs device): an invocation pays
    * orientation + wedges, not basket pair generation (3.6s → ~0.6s at
    * sf0.1; the derivation replays fully inside the oracle either way).
    */
  def q172Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = s.read.parquet(CoPurchaseEdges.ensure(s, dir)).select("x", "y")
    graft.operators.Graph.triangleStats(edges)
      .select(col("id").as("part"), col("deg"), col("tri"),
        expr("(2000000 * tri) DIV (deg * (deg - 1))").as("cc_ppm"))
      .orderBy(col("tri").desc, col("part"))
      .limit(20)
  }

  /** q173: bounded multi-source BFS over the symmetrized trade graph —
    * minimum hop distance from the nation-0-4 suppliers (the trusted-seed
    * set), cut at 3 hops: "how much of the marketplace sits within k
    * links of the curated sellers". Levels alternate supplier/customer
    * parity on the bipartite graph. Frontier-at-a-time min-hop is
    * integer-exact (operators.Graph.bfsLevels); the oracle replays it as
    * a recursive CTE with MIN(lvl). Output is the per-level census
    * (count + id-sum/min/max — discriminative without being row-heavy).
    */
  def q173BfsLevels(s: SparkSession, dir: String): DataFrame = {
    val sc = s.read.parquet(TradeGraphPairs.ensure(s, dir))
    val edges = sc.select(col("sk").as("src"), col("ck").as("dst"))
      .union(sc.select(col("ck").as("src"), col("sk").as("dst")))
    val seeds = Tables.supplier(s, dir).filter(col("s_nationkey") < 5)
      .select((col("s_suppkey").cast("long") * 2).as("id"))
    graft.operators.Graph.bfsLevels(edges, seeds, maxLevel = 3)
      .groupBy("lvl")
      .agg(count(lit(1)).as("n_nodes"), sum("id").as("sum_id"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("lvl")
  }

  /** q188: association rules over the co-purchase pairs — the level-2
    * Apriori slice (frequent pairs with confidence and lift), the classic
    * market-basket output. Everything integer-ppm:
    *
    *   conf(x→y) = support·10⁶ DIV cnt(x)
    *   lift·10⁶  = support·n_orders·10⁶ DIV (cnt(x)·cnt(y))
    *
    * Scale: pair supports come from the materialized CoPurchaseEdges
    * table (already support-pruned — the Apriori downward-closure step
    * that keeps level 2 sparse); per-item counts are one map-side agg;
    * the basket census is one bounded count. The top-20 is TakeOrdered.
    * Lift overflow bound: support·n·10⁶ at int64 needs support·n <
    * 9.2e12 — support ≤ basket co-occurrence counts (≤ orders), so fine
    * through ~3M orders; past that, rescale the ppm factor.
    */
  def q188AssocRules(s: SparkSession, dir: String): DataFrame = {
    val pairs = s.read.parquet(CoPurchaseEdges.ensure(s, dir))
    val items = s.read.parquet(CoPurchaseEdges.itemsPath(s, dir))
    val counts = items.groupBy("p").agg(count(lit(1)).as("cnt"))
    val nOrders = items.select("o").distinct().count() // bounded driver count
    pairs
      .join(broadcast(counts.select(col("p").as("x"), col("cnt").as("cnt_x"))), "x")
      .join(broadcast(counts.select(col("p").as("y"), col("cnt").as("cnt_y"))), "y")
      .select(col("x"), col("y"), col("support"), col("cnt_x"), col("cnt_y"),
        lit(nOrders).as("n_orders"),
        expr("(support * 1000000) DIV cnt_x").as("conf_xy_ppm"),
        expr("(support * 1000000) DIV cnt_y").as("conf_yx_ppm"),
        expr(s"(support * $nOrders * 1000000) DIV (cnt_x * cnt_y)").as("lift_ppm"))
      .orderBy(col("support").desc, col("x"), col("y"))
      .limit(20)
  }

  /** q189: WEIGHTED PageRank over the trade graph — edge weight = the
    * number of distinct orders linking a supplier↔customer pair, so rank
    * mass follows trade VOLUME, not mere adjacency (q167's uniform twin).
    * Same integer fixed-point contract (operators.Graph.weightedPageRank);
    * the oracle replays all 3 weighted rounds as an unrolled CTE chain.
    * The weighted pair table materializes once per dir (the
    * TradeGraphPairs device).
    */
  def q189WeightedPr(s: SparkSession, dir: String): DataFrame = {
    val tw = s.read.parquet(TradeGraphWeights.ensure(s, dir))
    val edges = tw.select(col("sk").as("src"), col("ck").as("dst"), col("w"))
      .union(tw.select(col("ck").as("src"), col("sk").as("dst"), col("w")))
    graft.operators.Graph.weightedPageRank(edges, iterations = 3)
      .orderBy(col("pr").desc, col("id"))
      .limit(20)
      .select(
        when(col("id") % 2 === 0, concat(lit("S"), expr("id DIV 2")))
          .otherwise(concat(lit("C"), expr("id DIV 2")))
          .as("id"),
        col("pr"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_triangles"  -> (q172Triangles _),
    "q173_bfs_levels" -> (q173BfsLevels _),
    "q188_assoc_rules" -> (q188AssocRules _),
    "q189_weighted_pr" -> (q189WeightedPr _))

  /** q189's weighted pair table: distinct-order counts per
    * supplier↔customer relation, materialized once per (warehouse,
    * sf-dir) — same contract as TradeGraphPairs.
    */
  private object TradeGraphWeights {
    def ensure(s: SparkSession, dir: String): String = synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_trade_weights_$tag")
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("l_suppkey").cast("long") * 2).as("sk"),
            (col("o_custkey").cast("long") * 2 + 1).as("ck"))
          .agg(countDistinct(col("l_orderkey")).as("w"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path.toString)
      }
      path.toString
    }
  }

  /** q172/q188's co-purchase edge table — basket-fenced (≤ 32 distinct
    * parts per order) support-≥2 part pairs WITH their support counts,
    * materialized once per (warehouse, sf-dir). Same dir-hash naming +
    * _SUCCESS completeness contract as TradeGraphPairs; content
    * deterministic from the source dir, so Overwrite repair is safe.
    * (v2 suffix: the table gained the support column — a stale v1 dir
    * must not satisfy the existence check.)
    */
  private[queries] object CoPurchaseEdges {
    /** Pair table path; also materializes the fenced (order, part) item
      * sidecar ([[itemsPath]]) in the same guarded build — q188's item
      * counts and basket census then read a small parquet instead of
      * re-deriving the fence (distinct + basket window over the fact
      * table) per invocation (measured 2.1 s → ~0.6 s at sf0.1).
      */
    def ensure(s: SparkSession, dir: String): String = synchronized {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_copurchase_v2_$tag")
      val items = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_copurchase_items_$tag")
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) ||
          !fs.exists(new org.apache.hadoop.fs.Path(items, "_SUCCESS"))) {
        val fenced = graft.operators.Checkpoints.local(Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
          .distinct()
          .withColumn("bsz", count(lit(1)).over(Window.partitionBy("o")))
          .filter(col("bsz") <= 32)
          .select(col("o"), col("p")))
        try {
          fenced.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(items.toString)
          fenced.as("a")
            .join(fenced.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
            .groupBy(col("a.p").as("x"), col("b.p").as("y"))
            .agg(count(lit(1)).as("support"))
            .filter(col("support") >= 2)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path.toString)
        } finally graft.operators.Checkpoints.free(fenced)
      }
      path.toString
    }

    def itemsPath(s: SparkSession, dir: String): String = {
      ensure(s, dir)
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), s"graft_copurchase_items_$tag")
        .toString
    }
  }

  /** One unrolled WEIGHTED PageRank round over `prev` —
    * Graph.weightedPageRank's integer recurrence verbatim. */
  private def weightedRoundSql(prev: String): String =
    s"""SELECT e.dst AS id,
      |  CAST((3 * 1000000000000) // (20 * nn.n)
      |    + (17 * CAST(SUM((p.pr * e.w) // s.wsum) AS BIGINT)) // 20
      |    AS BIGINT) AS pr
      |FROM edges e JOIN $prev p ON p.id = e.src
      |  JOIN ws s ON s.src = e.src, nn
      |GROUP BY e.dst, nn.n""".stripMargin

  val oracles: Map[String, String] = Map(
    "q189_weighted_pr" ->
      s"""WITH tw AS (
        |  SELECT CAST(l_suppkey AS BIGINT) * 2 AS sk,
        |    CAST(o_custkey AS BIGINT) * 2 + 1 AS ck,
        |    COUNT(DISTINCT l_orderkey) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT sk AS src, ck AS dst, w FROM tw
        |          UNION ALL SELECT ck, sk, w FROM tw),
        |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum
        |       FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |pr0 AS (SELECT id, CAST(1000000000000 // nn.n AS BIGINT) AS pr
        |        FROM nodes, nn),
        |it1 AS (${weightedRoundSql("pr0")}),
        |it2 AS (${weightedRoundSql("it1")}),
        |it3 AS (${weightedRoundSql("it2")}),
        |top AS (SELECT id, pr FROM it3 ORDER BY pr DESC, id LIMIT 20)
        |SELECT CASE WHEN id % 2 = 0 THEN 'S' || (id // 2)
        |            ELSE 'C' || (id // 2) END AS id, pr
        |FROM top""".stripMargin,
    // full replay: basket fence -> support>=2 edges -> degree-ordered
    // orientation -> wedge close -> per-node counts -> cc_ppm
    "q172_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
        |  FROM lineitem),
        |ok AS (SELECT o FROM items GROUP BY o HAVING COUNT(*) <= 32),
        |it AS (SELECT i.o, i.p FROM items i JOIN ok USING (o)),
        |e AS (
        |  SELECT a.p AS x, b.p AS y FROM it a JOIN it b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS d
        |  FROM (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e) t
        |  GROUP BY n),
        |o2 AS (
        |  SELECT
        |    CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |      THEN e.x ELSE e.y END AS src,
        |    CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |      THEN e.y ELSE e.x END AS dst,
        |    CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |      THEN dy.d ELSE dx.d END AS dstd
        |  FROM e JOIN deg dx ON dx.n = e.x JOIN deg dy ON dy.n = e.y),
        |tri AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM o2 e1 JOIN o2 e2 ON e1.src = e2.src
        |    AND (e1.dstd < e2.dstd OR (e1.dstd = e2.dstd AND e1.dst < e2.dst))
        |  JOIN o2 e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |pn AS (
        |  SELECT n, COUNT(*) AS tri
        |  FROM (SELECT u AS n FROM tri UNION ALL SELECT v FROM tri
        |        UNION ALL SELECT w FROM tri) t
        |  GROUP BY n)
        |SELECT pn.n AS part, deg.d AS deg, pn.tri,
        |  (2000000 * pn.tri) // (deg.d * (deg.d - 1)) AS cc_ppm
        |FROM pn JOIN deg ON deg.n = pn.n
        |ORDER BY pn.tri DESC, part LIMIT 20""".stripMargin,
    "q188_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
        |  FROM lineitem),
        |ok AS (SELECT o FROM items GROUP BY o HAVING COUNT(*) <= 32),
        |it AS (SELECT i.o, i.p FROM items i JOIN ok USING (o)),
        |e AS (
        |  SELECT a.p AS x, b.p AS y, COUNT(*) AS support
        |  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |c AS (SELECT p, COUNT(*) AS cnt FROM it GROUP BY p),
        |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM it)
        |SELECT e.x, e.y, e.support, cx.cnt AS cnt_x, cy.cnt AS cnt_y,
        |  n.n_orders,
        |  (e.support * 1000000) // cx.cnt AS conf_xy_ppm,
        |  (e.support * 1000000) // cy.cnt AS conf_yx_ppm,
        |  (e.support * n.n_orders * 1000000) // (cx.cnt * cy.cnt) AS lift_ppm
        |FROM e JOIN c cx ON cx.p = e.x JOIN c cy ON cy.p = e.y, n
        |ORDER BY e.support DESC, e.x, e.y LIMIT 20""".stripMargin,
    "q173_bfs_levels" ->
      """WITH RECURSIVE sc AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS sk,
        |    CAST(o_custkey AS BIGINT) * 2 + 1 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT sk AS src, ck AS dst FROM sc
        |      UNION ALL SELECT ck, sk FROM sc),
        |seeds AS (
        |  SELECT DISTINCT CAST(s_suppkey AS BIGINT) * 2 AS id
        |  FROM supplier WHERE s_nationkey < 5),
        |bfs(id, lvl) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, b.lvl + 1 FROM bfs b JOIN e ON e.src = b.id
        |  WHERE b.lvl < 3),
        |d AS (SELECT id, MIN(lvl) AS lvl FROM bfs GROUP BY id)
        |SELECT lvl, COUNT(*) AS n_nodes, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM d GROUP BY lvl ORDER BY lvl""".stripMargin)
}
