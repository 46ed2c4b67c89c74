package graft.operators

import graft.IntermediateLifetime
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class GraphSpec extends IntermediateLifetime {
  import spark.implicits._

  /** Independent reference: the integer recurrence computed with plain
    * Scala maps — no Spark, no SQL. */
  private def referencePr(edges: Seq[(String, String)], iterations: Int,
                          scale: Long = Graph.DefaultScale): Map[String, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = out.size.toLong
    var pr = out.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to iterations) {
      val ins = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        val c = pr(u) / vs.size
        vs.foreach(v => ins(v) += c)
      }
      pr = out.keys.map(v => v -> ((3 * scale) / (20 * n) + 17 * ins(v) / 20)).toMap
    }
    pr
  }

  test("fixedPointPageRank matches the plain-Scala recurrence on a planted graph") {
    // a triangle plus a pendant pair: asymmetric degrees, full coverage
    val planted = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "c" -> "d", "d" -> "c")
    val got = Graph.fixedPointPageRank(
        planted.toDF("src", "dst"), iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == referencePr(planted, 4))
    // more-linked-to c must outrank the pendant d
    assert(got("c") > got("d"))
  }

  test("q167's trade graph reproduces the reference trajectory at sf0.001") {
    val sc = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(spark, Sf0001)
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("s"),
        concat(lit("C"), col("o_custkey")).as("c"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val sym = sc.toSeq ++ sc.map { case (s, c) => (c, s) }
    val want = referencePr(sym, 3)
    val got = Graph.fixedPointPageRank(
        sym.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    // every node ranked exactly once; probability mass stays bounded by
    // SCALE (teleport truncation only ever loses mass, never creates it)
    assert(got.keySet == sym.map(_._1).toSet)
    assert(got.values.sum <= Graph.DefaultScale)
  }

  /** Personalized variant of [[referencePr]]: teleport only on seeds. */
  private def referencePpr(edges: Seq[(String, String)], seeds: Set[String],
                           iterations: Int,
                           scale: Long = Graph.DefaultScale): Map[String, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val s = seeds.intersect(out.keySet)
    val k = s.size.toLong
    var pr = out.keys.map(v => v -> (if (s(v)) scale / k else 0L)).toMap
    for (_ <- 1 to iterations) {
      val ins = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        val c = pr(u) / vs.size
        vs.foreach(v => ins(v) += c)
      }
      pr = out.keys.map(v => v ->
        ((if (s(v)) (3 * scale) / (20 * k) else 0L) + 17 * ins(v) / 20)).toMap
    }
    pr
  }

  test("personalizedPageRank matches the reference; authority stays near seeds") {
    val planted = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "c" -> "d", "d" -> "c")
    val seeds = Seq("a").toDF("id")
    val got = Graph.personalizedPageRank(planted.toDF("src", "dst"), seeds, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == referencePpr(planted, Set("a"), 4))
    // the thrice-linked hub c (fed directly by the seed) dominates the
    // non-seed field; the seed itself keeps its teleport mass
    assert(got("c") > got("b") && got("c") > got("d") && got("a") > 0L)
    // seeds outside the node set are ignored, not mass sinks
    val got2 = Graph.personalizedPageRank(planted.toDF("src", "dst"),
        Seq("a", "zz").toDF("id"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == referencePpr(planted, Set("a"), 2))
  }

  test("q170's seeded trade graph reproduces the reference trajectory at sf0.001") {
    val sc = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(spark, Sf0001)
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("s"),
        concat(lit("C"), col("o_custkey")).as("c"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val sym = sc.toSeq ++ sc.map { case (s, c) => (c, s) }
    val seedSet = graft.Tables.supplier(spark, Sf0001)
      .filter(col("s_nationkey") < 5)
      .select(concat(lit("S"), col("s_suppkey")))
      .collect().map(_.getString(0)).toSet
    val want = referencePpr(sym, seedSet, 3)
    val got = Graph.personalizedPageRank(sym.toDF("src", "dst"),
        seedSet.toSeq.toDF("id"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  /** Plain-Scala HITS with the max-quantized normalization. */
  private def referenceHits(edges: Seq[(String, String)], iterations: Int,
                            scale: Long = Graph.DefaultScale)
      : (Map[String, Long], Map[String, Long]) = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var hub = out.keys.map(_ -> scale).toMap
    var auth = Map.empty[String, Long]
    for (_ <- 1 to iterations) {
      val araw = in.view.mapValues(_.map(hub).sum).toMap
      val ga = math.max(1L, araw.values.max / scale)
      auth = araw.view.mapValues(_ / ga).toMap
      val hraw = out.view.mapValues(_.map(auth).sum).toMap
      val gh = math.max(1L, hraw.values.max / scale)
      hub = hraw.view.mapValues(_ / gh).toMap
    }
    (hub, auth)
  }

  test("hits matches the reference on planted and fixture graphs; roles are disjoint") {
    // two hubs, three authorities; x reaches everything (best hub),
    // m is reached by both hubs (best authority)
    val planted = Seq("x" -> "m", "x" -> "n", "x" -> "o", "y" -> "m")
    val got = Graph.hits(planted.toDF("src", "dst"), iterations = 2)
    val gh = got.hubs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ga = got.authorities.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (wh, wa) = referenceHits(planted, 2)
    assert(gh == wh && ga == wa)
    assert(gh("x") > gh("y") && ga("m") > ga("n"))
    // fixture graph (directed, no symmetrization)
    val sc = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(spark, Sf0001)
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("s"),
        concat(lit("C"), col("o_custkey")).as("c"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val fx = Graph.hits(sc.toDF("src", "dst"), iterations = 2)
    val (fwh, fwa) = referenceHits(sc, 2)
    assert(fx.hubs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == fwh)
    assert(fx.authorities.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == fwa)
    // bipartite roles never mix
    assert(fwh.keySet.forall(_.startsWith("S")) &&
      fwa.keySet.forall(_.startsWith("C")))
  }

  /** Weighted variant of [[referencePr]]: contribution pr·w DIV wsum. */
  private def referenceWpr(edges: Seq[(String, String, Long)], iterations: Int,
                           scale: Long = Graph.DefaultScale): Map[String, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(es => es.map(e => (e._2, e._3))).toMap
    val wsum = out.view.mapValues(_.map(_._2).sum).toMap
    val n = out.size.toLong
    var pr = out.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to iterations) {
      val ins = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      out.foreach { case (u, vs) =>
        vs.foreach { case (v, w) => ins(v) += pr(u) * w / wsum(u) }
      }
      pr = out.keys.map(v => v -> ((3 * scale) / (20 * n) + 17 * ins(v) / 20)).toMap
    }
    pr
  }

  test("weightedPageRank matches the reference; heavy edges carry more rank") {
    // b receives a weight-9 edge, c a weight-1 edge from the same hub;
    // back-edges make every node a source
    val planted = Seq(("a", "b", 9L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val got = Graph.weightedPageRank(planted.toDF("src", "dst", "w"),
        iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == referenceWpr(planted, 4))
    assert(got("b") > got("c"))
    // uniform weights must reproduce the unweighted recurrence exactly
    val uni = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L), ("a", "c", 1L),
      ("c", "d", 1L), ("d", "c", 1L))
    val w1 = Graph.weightedPageRank(uni.toDF("src", "dst", "w"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val u1 = Graph.fixedPointPageRank(
        uni.map(e => (e._1, e._2)).toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 == u1)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Independent reference: brute-force triangle enumeration over all
    * node triples — no orientation trick, no Spark. */
  private def referenceTriangles(edges: Seq[(Long, Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val nodes = adj.keys.toSeq.sorted
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      u <- nodes; v <- nodes if u < v && adj(u)(v)
      w <- nodes if v < w && adj(u)(w) && adj(v)(w)
    } { tri(u) += 1; tri(v) += 1; tri(w) += 1 }
    (tri.toMap, deg)
  }

  test("triangleStats matches brute-force enumeration on a planted graph") {
    // two triangles sharing edge (2,3), a pendant, an isolated edge:
    // mixed degrees so the orientation tie-breaks both ways
    val planted = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L))
    val got = Graph.triangleStats(planted.toDF("x", "y"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (wantTri, wantDeg) = referenceTriangles(planted)
    assert(got == wantTri.map { case (n, t) => n -> (wantDeg(n), t) })
    // the shared edge's endpoints close two triangles each
    assert(got(2L) == (3L, 2L) && got(3L) == (3L, 2L))
    // pendant and isolated-edge nodes are absent (no triangle)
    assert(!got.contains(5L) && !got.contains(6L))
  }

  test("triangleStats matches brute force on the sf0.001 co-purchase graph") {
    val items = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val edges = items.as("a")
      .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("x"), col("b.p").as("y"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select("x", "y")
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (wantTri, wantDeg) = referenceTriangles(pairs)
    val got = Graph.triangleStats(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == wantTri.map { case (n, t) => n -> (wantDeg(n), t) })
    assert(got.nonEmpty) // fixture graph actually has triangles
  }

  /** Independent reference: plain-Scala frontier BFS. */
  private def referenceBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                           maxLevel: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lvl = seeds.map(_ -> 0).toMap
    var frontier = seeds
    for (k <- 1 to maxLevel) {
      val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .diff(lvl.keySet)
      lvl = lvl ++ next.map(_ -> k)
      frontier = next
    }
    lvl
  }

  test("bfsLevels matches the plain-Scala frontier walk") {
    // a chain past the cutoff, a cycle back into the seed, a side branch
    val planted = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 1L), (2L, 7L))
    val got = Graph.bfsLevels(planted.toDF("src", "dst"),
        Seq(1L).toDF("id"), maxLevel = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == referenceBfs(planted, Set(1L), 3))
    // node 5 is 4 hops out: absent at maxLevel 3
    assert(!got.contains(5L) && got(4L) == 3 && got(7L) == 2)
  }

  test("bfsLevels matches the reference on the sf0.001 trade graph") {
    val sc = graft.Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(spark, Sf0001)
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey").cast("long") * 2).as("sk"),
        (col("o_custkey").cast("long") * 2 + 1).as("ck"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sym = sc ++ sc.map(_.swap)
    val seeds = graft.Tables.supplier(spark, Sf0001)
      .filter(col("s_nationkey") < 5)
      .select((col("s_suppkey").cast("long") * 2).as("id"))
      .collect().map(_.getLong(0)).toSet
    val got = Graph.bfsLevels(sym.toDF("src", "dst"),
        seeds.toSeq.toDF("id"), maxLevel = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == referenceBfs(sym, seeds, 3))
  }

  test("triangleStats and bfsLevels release their caches after consumption") {
    assert(leavesNothing("triangleStats") {
      Graph.triangleStats(Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("x", "y"))
    } == Seq(3L))
    assert(leavesNothing("bfsLevels") {
      Graph.bfsLevels(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L).toDF("id"), maxLevel = 2)
    } == Seq(2L))
  }

  test("pageRank releases its intra-operator caches after consumption") {
    val planted = Seq("a" -> "b", "b" -> "a")
    assert(leavesNothing("fixedPointPageRank") {
      Graph.fixedPointPageRank(planted.toDF("src", "dst"), iterations = 1)
    } == Seq(2L))
    assert(leavesNothing("weightedPageRank") {
      Graph.weightedPageRank(Seq(("a", "b", 2L), ("b", "a", 1L)).toDF("src", "dst", "w"),
        iterations = 2)
    } == Seq(2L))
    assert(leavesNothing("personalizedPageRank") {
      Graph.personalizedPageRank(planted.toDF("src", "dst"), Seq("a").toDF("id"),
        iterations = 2)
    } == Seq(2L))
    assert(leavesNothing("hits") {
      val h = Graph.hits(planted.toDF("src", "dst"), iterations = 2)
      h.hubs.unionByName(h.authorities)
    } == Seq(4L))
  }

  test("pageRank's rounds read the dst-partitioned edge checkpoint with no exchange") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c").toDF("src", "dst")
    def exchanges(iterations: Int): Int = {
      val pr = Graph.fixedPointPageRank(edges, iterations)
      pr.collect()
      executedNodes(pr).count(_.isInstanceOf[ShuffleExchangeExec])
    }
    // what shuffles is the degree frame, built once whatever the round count
    assert(exchanges(1) == exchanges(4), s"1 round: ${exchanges(1)}, 4 rounds: ${exchanges(4)}")
  }

  test("hits serves authorities after hubs were consumed without reading the edges") {
    val planted = Seq("x" -> "m", "x" -> "n", "x" -> "o", "y" -> "m")
    val dir = java.nio.file.Files.createTempDirectory("hits-edges").resolve("e").toString
    planted.toDF("src", "dst").write.parquet(dir)
    val got = Graph.hits(spark.read.parquet(dir), iterations = 2)
    val gh = got.hubs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // no cache entry may serve the second action, not even one released
    // asynchronously after the first
    eventually(timeout(org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      assert(spark.sharedState.cacheManager.isEmpty)
    }
    // a separate action on the other side reads its own half-round
    // checkpoint: no scan of the source edges, and the reference values
    val auth = got.authorities
    val ga = auth.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scans = executedNodes(auth)
      .filter(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans.isEmpty, s"authorities re-read the edges:\n${auth.queryExecution.executedPlan}")
    assert((gh, ga) == referenceHits(planted, 2))
  }
}
