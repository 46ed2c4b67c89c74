package graft.operators

import graft.SparkSpecBase
import graft.functions.{SimHash64, TextFunctions}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "text", "lang", "source")

  test("exact dedup keeps min id and counts copies") {
    val docs = docsDF(Seq(
      (1L, "alpha beta gamma", "en", "s0"),
      (2L, "alpha beta gamma", "en", "s0"),
      (3L, "wholly different text", "en", "s0")))
    val out = Dedup.exact(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      ("alpha beta gamma", 1L, 2L),
      ("wholly different text", 3L, 1L)))
  }

  test("exactByFingerprint agrees with full-text exact dedup") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val byText = Dedup.exact(docs).select("keep_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byFp = Dedup.exactByFingerprint(docs).select("keep_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byText == byFp)
  }

  test("jaccardPairs finds planted near-dups within blocks only") {
    val docs = docsDF(Seq(
      (1L, "a b c d e f g h i j", "en", "s0"),
      (2L, "a b c d e f g h i k", "en", "s0"),   // jaccard 9/11 = 0.818
      (3L, "a b c d e f g h i j", "en", "s1"),   // identical but other block
      (4L, "z y x w v u t s r q", "en", "s0")))  // unrelated
    val pairs = Dedup.jaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  /** The operator's whole claim is recall 1.0 — so the spec is literal
    * equality against the brute-force all-pairs scan, corpus-global (no
    * source slice), at two thresholds to exercise different prefix
    * lengths. sf0.001's 50 docs make brute force cheap here while the
    * declared q124 leaves the quadratic to the DuckDB oracle.
    */
  test("prefixJaccardPairs equals brute-force all-pairs exactly") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val sets = docs.filter(col("text").isNotNull).select(
      col("doc_id"),
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("ts"))
    for (t <- Seq(0.7, 0.9)) {
      val brute = sets.select(col("doc_id").as("doc_id_a"), col("ts").as("ta"))
        .crossJoin(sets.select(col("doc_id").as("doc_id_b"), col("ts").as("tb")))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .withColumn("ic", graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("ta"), col("tb")))
        .withColumn("jaccard", col("ic").cast("double") /
          (size(col("ta")) + size(col("tb")) - col("ic")))
        .filter(col("jaccard") >= t)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = Dedup.prefixJaccardPairs(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pruned == brute,
        s"t=$t missed=${brute -- pruned} extra=${pruned -- brute}")
      assert(brute.nonEmpty, s"fixture must plant pairs at t=$t")
    }
  }

  test("prefixJaccardPairs plan has no cartesian and joins on prefix tokens only") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val q = Dedup.prefixJaccardPairs(docs, 0.9)
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not all-pairs:\n$plan")
    // prefix exposure must be a strict subset of the full posting index
    val sets = docs.filter(col("text").isNotNull).select(
      graft.functions.WordGramHashes.wordGramHashes(col("text"), 1).as("ts"))
    val allPostings = sets.select(explode(col("ts"))).count()
    val exposed = sets
      .withColumn("n", size(col("ts")))
      .select((col("n") - ceil(col("n") * 0.9 - 1e-9) + 1).as("p"))
      .agg(sum("p")).head().getLong(0)
    assert(exposed < allPostings / 3,
      s"prefix must prune the posting index: $exposed vs $allPostings")
  }

  test("containmentPairs catches quote inclusion that jaccard misses") {
    val docs = docsDF(Seq(
      // doc 1's 5 tokens all appear in doc 2's 20 -> containment_a = 1.0
      // but jaccard = 5/20 = 0.25
      (1L, "a b c d e", "en", "s0"),
      (2L, "a b c d e f g h i j k l m n o p q r s t", "en", "s0"),
      (3L, "z y x w v", "en", "s0"),          // disjoint from both
      (4L, "a b c d e", "en", "s1")))          // contained but other block
    val out = Dedup.containmentPairs(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    val (_, _, ca, cb) = out.head
    assert(ca == 1.0 && approx(cb, 0.25))
    assert(Dedup.jaccardPairs(docs, 0.9).collect().isEmpty)
  }

  test("minhashLsh finds planted 3-gram near-dups with exact jaccard attached") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val others = (1 to 30).map(i =>
      (100L + i, (1 to 40).map(j => s"w${i}_$j").mkString(" "), "en", "s0"))
    val docs = docsDF(Seq(
      (1L, base, "en", "s0"), (2L, nearDup, "en", "s0")) ++ others)
    val out = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val jac = out.head.getDouble(2)
    // 38 shared of 41 distinct shingles
    assert(approx(jac, 35.0 / 41.0, 0.2) && jac > 0.5)
  }

  test("maxBucketSize prunes a boilerplate mega-cluster but keeps normal near-dups") {
    // 60 identical boilerplate docs form one oversized bucket in EVERY
    // band; a distinct planted near-dup pair lives in small buckets.
    val boiler = (1 to 60).map(i =>
      (200L + i, "same same same boilerplate text here", "en", "s0"))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val docs = docsDF(Seq((1L, base, "en", "s0"), (2L, nearDup, "en", "s0")) ++ boiler)
    val capped = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5, maxBucketSize = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted pair survives; the 60x59/2 boilerplate pairs are pruned
    assert(capped == Set((1L, 2L)))
    // uncapped control: the mega-cluster's pairs are all emitted
    val uncapped = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 60 * 59 / 2 + 1)
  }

  test("maxBucketSize drop volume surfaces via the graft_q25_bucket_cap observation") {
    val boiler = (1 to 60).map(i =>
      (200L + i, "same same same boilerplate text here", "en", "s0"))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val docs = docsDF(Seq((1L, base, "en", "s0"), (2L, nearDup, "en", "s0")) ++ boiler)
    val df = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5, maxBucketSize = 50)
    df.collect()
    val m = df.queryExecution.observedMetrics("graft_q25_bucket_cap")
    // 60 identical docs share one over-cap bucket in EVERY band: 8 bands
    // x 60 doc-slots dropped, 8 distinct buckets, max size 60
    assert(m.getAs[Long]("dropped_rows") == 8L * 60)
    assert(m.getAs[Double]("dropped_groups") == 8.0)
    assert(m.getAs[Long]("max_group_size") == 60L)
  }

  test("routeOverCapExact recovers the boilerplate cluster's pairs via the fingerprint route") {
    val boiler = (1 to 60).map(i =>
      (200L + i, "same same same boilerplate text here", "en", "s0"))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val docs = docsDF(Seq((1L, base, "en", "s0"), (2L, nearDup, "en", "s0")) ++ boiler)
    val routed = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5, maxBucketSize = 50, routeOverCapExact = true)
    val rows = routed.collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // all 60*59/2 identical-set pairs come back through the exact route,
    // the planted near-dup still comes through LSH — nothing duplicated
    assert(rows.length == 60 * 59 / 2 + 1)
    assert(pairs.count { case (a, b) => a > 200L && b > 200L } == 60 * 59 / 2)
    assert(pairs.contains((1L, 2L)))
    // routed pairs carry their true jaccard: identical sets = exactly 1.0
    rows.filter(r => r.getLong(0) > 200L).foreach(r => assert(r.getDouble(2) == 1.0))
    // the cap metrics still observe the dropped candidate volume
    val m = routed.queryExecution.observedMetrics("graft_q25_bucket_cap")
    assert(m.getAs[Long]("dropped_rows") == 8L * 60)
  }

  test("jaccardPairs maxBlockSize drops oversized blocks with observed counts") {
    val mega = (1 to 30).map(i =>
      (100L + i, "common words shared by all docs here", "en", "s0"))
    val docs = docsDF(mega ++ Seq(
      (1L, "a b c d e f g h i j", "en", "s1"),
      (2L, "a b c d e f g h i k", "en", "s1")))
    val df = Dedup.jaccardPairs(docs, 0.8, maxBlockSize = 10)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the pathological block's 30x29/2 pairs vanish; the sane block survives
    assert(pairs == Set((1L, 2L)))
    val m = df.queryExecution.observedMetrics("graft_q24_block_cap")
    assert(m.getAs[Long]("dropped_rows") == 30L)
    assert(m.getAs[Double]("dropped_groups") == 1.0)
    assert(m.getAs[Long]("max_group_size") == 30L)
    // uncapped control: the mega-block melts the walk with 435 jaccard-1 pairs
    val uncapped = Dedup.jaccardPairs(docs, 0.8).collect()
    assert(uncapped.length == 30 * 29 / 2 + 1)
  }

  test("ngramJaccard maxDf drops only high-df postings; a loose cap changes nothing") {
    import graft.queries.Extensions
    val uncapped = Extensions.q38NgramJaccard(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped.nonEmpty)
    // cap above every df: identical rows AND zero observed drops
    val loose = Extensions.ngramJaccard(spark, Sf0001, Some(1000000))
    val looseRows = loose.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(looseRows == uncapped)
    assert(loose.queryExecution.observedMetrics("graft_q38_df_cap")
      .getAs[Long]("dropped_rows") == 0L)
    // cap=2 drops the fixture's df=3 shingles (measured: df distribution
    // at sf0.001 is {1: 26524, 2: 185, 3: 3}) while df=2-backed pairs keep
    // the output nonempty — with an EMPTY result AQE's empty-relation
    // propagation would erase the CollectMetrics node along with the rest
    // of the plan, which is also why the degenerate cap=1 (no pair can
    // ever form) is not used here. Surviving pairs can only be a subset:
    // their intersection mass shrank, set sizes did not.
    val tight = Extensions.ngramJaccard(spark, Sf0001, Some(2))
    val tightPairs = tight.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tightPairs.nonEmpty)
    val m = tight.queryExecution.observedMetrics("graft_q38_df_cap")
    assert(m.getAs[Long]("dropped_rows") > 0L)
    assert(m.getAs[Double]("dropped_groups") > 0.0)
    assert(m.getAs[Long]("max_group_size") == 3L)
    assert(tightPairs.subsetOf(uncapped.map(t => (t._1, t._2))))
  }

  test("connectedComponents labels chains and separate clusters with min ids") {
    // a 4-node chain (diameter 3 — forces multiple propagation rounds)
    // plus a disjoint pair
    val pairs = Seq((2L, 5L), (5L, 9L), (9L, 11L), (20L, 21L))
      .toDF("doc_id_a", "doc_id_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 2L,
                      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents frees checkpoint blocks and fails loudly when unconverged") {
    val chain = (0L until 10L).sliding(2).map(s => (s.head, s.last)).toSeq
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.connectedComponents(chain.toDF("doc_id_a", "doc_id_b"))
    assert(out.collect().map(_.getLong(1)).toSet == Set(0L)) // one chain, min id 0
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the returned result may stay checkpointed; per-round blocks are freed
    assert(after <= before + 1, s"leaked checkpoint blocks: $before -> $after")
    // a 10-node chain needs ~9 propagation rounds; 3 must fail LOUDLY,
    // never return intermediate (wrong) labels
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("doc_id_a", "doc_id_b"), maxIters = 3)
    }
  }

  test("star components label chains and clusters identically to propagation") {
    val pairs = Seq((2L, 5L), (5L, 9L), (9L, 11L), (20L, 21L))
      .toDF("doc_id_a", "doc_id_b")
    val out = Dedup.connectedComponents(pairs, algorithm = "star").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 2L,
                      20L -> 20L, 21L -> 20L))
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, algorithm = "nope")
    }
  }

  test("star components converge in O(log n) rounds on the adversarial chain") {
    // the exact shape propagation's exception message punts on: a 256-node
    // chain (diameter 255 — propagation would need 255 rounds)
    val n = 256L
    val chain = (0L until n).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_id_a", "doc_id_b")
    val (labels, rounds) = Dedup.starComponents(chain)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n && out.forall(_._2 == 0L))
    // ceil(log2 256) = 8, + slack for seeding and the stability-detection
    // round (the loop needs one extra pass to observe "unchanged")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 4
    assert(rounds <= bound, s"star took $rounds rounds on a $n-chain (bound $bound)")
    // propagation at the same maxIters budget fails loudly on this graph
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = bound)
    }
  }

  test("reliable-checkpoint mode labels identically for both algorithms") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((2L, 5L), (5L, 9L), (9L, 11L), (20L, 21L))
      .toDF("doc_id_a", "doc_id_b")
    val expect = Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 2L,
                     20L -> 20L, 21L -> 20L)
    for (algo <- Seq("propagation", "star")) {
      val out = Dedup.connectedComponents(pairs, algorithm = algo,
        checkpointDir = Some(dir)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out == expect, s"$algo with reliable checkpoint")
    }
    // rounds really checkpointed to the reliable dir (files on disk)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(files > 0, "no reliable checkpoint files were written")
  }

  test("decontaminate flags train docs sharing enough shingles with the eval slice") {
    val docs = docsDF(Seq(
      (1L, "a b c d e f", "en", "src0"),   // eval: trigrams {abc,bcd,cde,def}
      (2L, "a b c d e zz", "en", "src1"),  // shares 3 -> contaminated
      (3L, "a b c x y z", "en", "src1"),   // shares 1 -> clean at minShared=3
      (4L, "p q r s t u", "en", "src1")))  // shares 0
    val out = Dedup.decontaminate(docs.filter($"source" =!= "src0"),
        docs.filter($"source" === "src0"), shingleSize = 3, Dedup.MinShared(3L))
      .filter($"contaminated").select("doc_id", "n_shared")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 3L)))
  }

  test("repetitionStats: duplicate trigrams raise the ratio, short docs are safe") {
    import graft.queries.Extensions
    val docs = docsDF(Seq(
      (1L, "a a a a a", "en", "s"),    // 3 grams, 1 distinct -> 2/3
      (2L, "a b c d e", "en", "s"),    // 3 grams, all distinct -> 0
      (3L, "hi", "en", "s")))          // <3 tokens: whole text, ratio 0
    val out = Extensions.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3, 1, 1.0 - 1.0 / 3.0)))
    assert(out(2L) == ((3, 3, 0.0)))
    assert(out(3L) == ((1, 1, 0.0)))
  }

  test("minhashLsh recall vs exact jaccard on the en fixture slice") {
    val docs = graft.Tables.documents(spark, Sf0001).filter($"lang" === "en")
    val exactPairs = Dedup.jaccardPairs(
        docs.withColumn("source", lit("all")), 0.9)
      .select("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.minhashLsh(docs, shingleSize = 1, numHashes = 32,
        bands = 8, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "fixture should contain >=0.9 unigram-jaccard pairs")
    val recall = lshPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exactPairs.size} true pairs")
    // no false positives: every emitted pair carries verified jaccard >= t
    assert(lshPairs.subsetOf(exactPairs))
  }

  test("minhashLshDistinct is row-identical to the uncapped doc-level walk") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // q25's parameters over the full fixture corpus (jaccard compared as
    // raw doubles: both walks compute the identical ic/(a+b-ic) division)
    val docs = graft.Tables.documents(spark, Sf0001)
    val doc = canon(Dedup.minhashLsh(docs, shingleSize = 1, numHashes = 32,
      bands = 8, threshold = 0.8, minBandCollisions = 2))
    val dis = canon(Dedup.minhashLshDistinct(docs, shingleSize = 1,
      numHashes = 32, bands = 8, threshold = 0.8, minBandCollisions = 2))
    assert(doc.nonEmpty, "fixture corpus should produce pairs at 0.8")
    assert(dis === doc)
    // planted adversary: identical-text cluster + a near-dup pair + null
    // and empty texts (no signature exists for them — neither walk may
    // pair them)
    val boiler = (1 to 12).map(i =>
      (200L + i, "same same same boilerplate text here", "en", "s0"))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val planted = docsDF(Seq(
      (1L, base, "en", "s0"), (2L, nearDup, "en", "s0"),
      (3L, null, "en", "s0"), (4L, null, "en", "s0"),
      (5L, "", "en", "s0"), (6L, "", "en", "s0")) ++ boiler)
    val docP = canon(Dedup.minhashLsh(planted, shingleSize = 3,
      numHashes = 32, bands = 8, threshold = 0.5))
    val disP = canon(Dedup.minhashLshDistinct(planted, shingleSize = 3,
      numHashes = 32, bands = 8, threshold = 0.5))
    // cluster pairs + the planted pair + the empty-text pair ("" still
    // yields one shingle, so (5,6) is a legitimate identical-set pair on
    // BOTH walks; null texts yield no set and never pair)
    assert(docP.size == 12 * 11 / 2 + 2, s"got ${docP.size}")
    assert(disP === docP)
    assert(!docP.exists { case (a, b, _) => a == 3L || b == 3L || a == 4L || b == 4L },
      "null-text docs must never pair")
    // degenerate settings where the doc walk returns NOTHING: within-group
    // expansion must not leak identical pairs past them
    assert(canon(Dedup.minhashLshDistinct(planted, shingleSize = 3,
      numHashes = 32, bands = 8, threshold = 1.5)).isEmpty,
      "threshold > 1.0 admits no pair on either walk")
    assert(canon(Dedup.minhashLshDistinct(planted, shingleSize = 3,
      numHashes = 32, bands = 8, threshold = 0.5, minBandCollisions = 9)).isEmpty,
      "minBandCollisions > bands admits no pair on either walk")
  }

  test("forest pair modes: spanning components identical, pair count exact") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id_a", "doc_id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def labels(edges: org.apache.spark.sql.DataFrame) =
      Dedup.contractedComponents(edges.select("doc_id_a", "doc_id_b"),
        stitch = "star").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixture = graft.Tables.documents(spark, Sf0001)
    val boiler = (1 to 12).map(i =>
      (200L + i, "same same same boilerplate text here", "en", "s0"))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val planted = docsDF(Seq(
      (1L, base, "en", "s0"), (2L, nearDup, "en", "s0"),
      (3L, null, "en", "s0"), (5L, "", "en", "s0"),
      (6L, "", "en", "s0")) ++ boiler)
    for (docs <- Seq(fixture, planted)) {
      // LSH walk: forest vs all (q25's parameters)
      val all = Dedup.minhashLshDistinct(docs, shingleSize = 1,
        numHashes = 32, bands = 8, threshold = 0.8, minBandCollisions = 2)
      val forest = Dedup.minhashLshDistinct(docs, shingleSize = 1,
        numHashes = 32, bands = 8, threshold = 0.8, minBandCollisions = 2,
        pairsMode = "forest")
      val allSet = pairSet(all)
      assert(pairSet(forest).subsetOf(allSet),
        "every forest edge must be a true pair of the full walk")
      assert(forest.agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("n_pairs"),
          org.apache.spark.sql.functions.lit(0L)))
        .collect()(0).getLong(0) == allSet.size.toLong,
        "sum(n_pairs) must equal the full walk's pair count")
      if (allSet.nonEmpty) assert(labels(forest) === labels(all),
        "forest edges must resolve to identical components")
      // exact walk: jaccardPairsForest vs jaccardPairs
      val allJ = Dedup.jaccardPairs(docs, 0.8)
      val forJ = Dedup.jaccardPairsForest(docs, 0.8)
      val allJSet = pairSet(allJ)
      assert(pairSet(forJ).subsetOf(allJSet))
      assert(forJ.agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("n_pairs"),
          org.apache.spark.sql.functions.lit(0L)))
        .collect()(0).getLong(0) == allJSet.size.toLong)
      if (allJSet.nonEmpty) assert(labels(forJ) === labels(allJ))
    }
    // degenerate settings: star emission obeys the same guards as the
    // full walk's within-group expansion
    assert(Dedup.minhashLshDistinct(planted, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 1.5, pairsMode = "forest").count() == 0,
      "threshold > 1.0 admits no forest edge")
    assert(Dedup.minhashLshDistinct(planted, shingleSize = 3, numHashes = 32,
      bands = 8, threshold = 0.5, minBandCollisions = 9,
      pairsMode = "forest").count() == 0,
      "minBandCollisions > bands admits no forest edge")
  }

  test("containment + prefix forest modes: components identical, pair count exact") {
    def labels(edges: org.apache.spark.sql.DataFrame) =
      Dedup.contractedComponents(edges.select("doc_id_a", "doc_id_b"),
        stitch = "star").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def sumPairs(df: org.apache.spark.sql.DataFrame) =
      df.agg(coalesce(sum("n_pairs"), lit(0L))).collect()(0).getLong(0)
    // planted quote-inclusion corpus: a short doc quoted wholesale inside
    // two long ones (containment ~1, jaccard low), duplicated verbatim
    // (identity groups), plus noise, nulls, and an other-block twin
    val quote = "alpha beta gamma delta epsilon"
    val long1 = quote + " " + (1 to 20).map(i => s"fill$i").mkString(" ")
    val long2 = quote + " " + (1 to 20).map(i => s"pad$i").mkString(" ")
    val planted = docsDF(Seq(
      (1L, quote, "en", "s0"), (2L, quote, "en", "s0"), (3L, quote, "en", "s0"),
      (4L, long1, "en", "s0"), (5L, long1, "en", "s0"),
      (6L, long2, "en", "s0"),
      (7L, quote, "en", "s1"),                       // other block
      (8L, "unrelated words entirely here", "en", "s0"),
      (9L, null, "en", "s0"), (10L, "", "en", "s0"), (11L, "", "en", "s0"),
      (12L, quote, null, "s0")))                     // NULL block key
    val fixture = graft.Tables.documents(spark, Sf0001)
    for (docs <- Seq(planted, fixture)) {
      // containment walk
      val allC = Dedup.containmentPairs(docs, 0.9)
      val forC = Dedup.containmentPairs(docs, 0.9, pairsMode = "forest")
      val allCSet = allC.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val forCSet = forC.select("doc_id_a", "doc_id_b", "containment_a",
          "containment_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(forCSet.subsetOf(allCSet),
        s"forest edges must be true containment pairs: ${forCSet -- allCSet}")
      assert(sumPairs(forC) == allCSet.size.toLong,
        "sum(n_pairs) must equal the full containment walk's pair count")
      if (allCSet.nonEmpty) assert(labels(forC) === labels(allC),
        "containment forest must resolve to identical components")
      // prefix-filtered exact-jaccard walk
      val allP = Dedup.prefixJaccardPairs(docs, 0.7)
      val forP = Dedup.prefixJaccardPairs(docs, 0.7, pairsMode = "forest")
      val allPSet = allP.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val forPSet = forP.select("doc_id_a", "doc_id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(forPSet.subsetOf(allPSet),
        s"forest edges must be true prefix-join pairs: ${forPSet -- allPSet}")
      assert(sumPairs(forP) == allPSet.size.toLong,
        "sum(n_pairs) must equal the full prefix walk's pair count")
      if (allPSet.nonEmpty) assert(labels(forP) === labels(allP),
        "prefix forest must resolve to identical components")
    }
    // the planted corpus must actually exercise the collapse: identity
    // groups of size 3 (quote) and 2 (long1), and the quote⊂long edges
    val forC = Dedup.containmentPairs(planted, 0.9, pairsMode = "forest")
    assert(labels(forC).count(_._2 == 1L) == 6,
      "quote + both supersets + their dups must resolve into one cluster")
  }

  test("embeddingNearDupCount equals the materialized walk's count; labeled cells equal the membership join") {
    def countOf(df: org.apache.spark.sql.DataFrame) =
      df.collect()(0).getLong(0)
    // planted: identity groups (identical vectors), zero vectors (NaN
    // cosine — follows the engine's NaN semantics through BOTH paths),
    // a NULL embedding, cross-label twins that must NOT pair
    val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Array(0.9f, 0.1f, 0.0f, 0.0f)   // cos(vA,vB) ~ 0.994
    val vC = Array(0.0f, 0.0f, 1.0f, 0.0f)   // orthogonal to vA/vB
    val z = Array(0.0f, 0.0f, 0.0f, 0.0f)
    val planted = Seq(
      (1L, vA, 0L), (2L, vA, 0L), (3L, vA, 0L),  // identity group k=3
      (4L, vB, 0L), (5L, vB, 0L),                // identity group k=2
      (6L, vC, 0L),
      (7L, vA, 1L),                              // other label
      (8L, z, 0L), (9L, z, 0L),                  // zero vectors
      (10L, null.asInstanceOf[Array[Float]], 0L))
      .toDF("vec_id", "embedding", "label")
    val fixture = graft.Tables.embeddings(spark, Sf0001)
    for ((emb, t) <- Seq((planted, 0.3), (planted, 0.9999),
                         (fixture, 0.3), (fixture, 0.95))) {
      val walk = Dedup.embeddingNearDups(emb, threshold = t).count()
      val algebra = countOf(Dedup.embeddingNearDupCount(emb, threshold = t))
      assert(algebra == walk,
        s"identity-group algebra diverged from the walk at t=$t: $algebra vs $walk")
    }
    // n_found: same-label cells pairs == the old exact-join membership
    // count (the cells walk verifies with the exact walk's own kernel)
    val emb = fixture
    val cells = Dedup.embeddingNearDupsCells(emb, threshold = 0.3,
      nList = 16, nProbe = 4, nSuper = 4, cSuper = 3)
    val exact = Dedup.embeddingNearDups(emb, threshold = 0.3)
      .select("vec_id_a", "vec_id_b")
    val oldFound = exact.join(cells.select(col("vec_id_a"), col("vec_id_b"),
        lit(1).as("__f")), Seq("vec_id_a", "vec_id_b"), "left_outer")
      .agg(count(col("__f"))).collect()(0).getLong(0)
    val lbl = emb.select(col("vec_id"), col("label"))
    val newFound = cells
      .join(lbl.select(col("vec_id").as("vec_id_a"), col("label").as("__la")),
        Seq("vec_id_a"))
      .join(lbl.select(col("vec_id").as("vec_id_b"), col("label").as("__lb")),
        Seq("vec_id_b"))
      .filter(col("__la") === col("__lb")).count()
    assert(newFound == oldFound,
      s"same-label cells count must equal the membership join: $newFound vs $oldFound")
  }

  test("rolling-admission fold: probe invariant through every crash window, ledger bounded") {
    import graft.sources.{IndexCommits, Sinks}
    val base = s"graft_rollfold_spec_${System.identityHashCode(this)}"
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${base}_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    IndexCommits.invalidate(spark, base)
    Seq(s"${base}_exact", s"${base}_admitted").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Sinks.reclaimOrphanTableLocation(spark, t)
    }
    val corpus = docsDF(Seq((1L, "seen text one", "en", "s0"),
      (2L, "seen text two", "en", "s0")))
    val batches = Seq(
      docsDF(Seq((10L, "fresh a", "en", "s0"), (11L, "seen text one", "en", "s0"))),
      docsDF(Seq((20L, "fresh b", "en", "s0"), (21L, "fresh a", "en", "s0"))),
      docsDF(Seq((30L, "fresh c", "en", "s0")))).map(_.select("doc_id", "text"))
    def probe() = Dedup.loadAdmitted(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    Dedup.admitRollingExact(corpus, batches, base).count()
    val before = probe()
    assert(before.map(_._1) == Set(10L, 20L, 30L),
      "rolling screen must admit first-new fingerprints only")
    // crash window: index rewritten+folded, result table NOT yet — the
    // ledger must keep its markers and the probe must read identically
    val boom = intercept[RuntimeException] {
      IndexCommits.foldCommitted(spark, base, Long.MaxValue) { (f, t) =>
        Sinks.compactBucketedTableFolding(spark, s"${base}_exact", base, f, t)
        throw new RuntimeException("crash between table rewrites")
      }
    }
    assert(boom.getMessage.contains("crash between"))
    assert(probe() == before,
      "a fold crash after a PREFIX of the table rewrites must not change the probe")
    assert(IndexCommits.committed(spark, base).size == 4,
      "markers must survive a crashed fold (rewrite-before-ledger ordering)")
    // retry completes; probe unchanged; ledger folded to one marker
    val tgt = Dedup.foldRollingAdmissions(spark, base, Long.MaxValue)
    assert(tgt.isDefined)
    assert(probe() == before, "a completed fold must not change the probe")
    assert(IndexCommits.committed(spark, base) == Seq(tgt.get))
    // the lifecycle continues: a post-fold batch screens against the
    // folded index and allocates above the recorded high-water
    val e = IndexCommits.begin(spark, base)
    assert(e >= 4, s"post-fold epoch $e must clear the folded allocations")
    fs.delete(new org.apache.hadoop.fs.Path(dir, s"v$e"), true)
    IndexCommits.invalidate(spark, base)
    Dedup.admitRollingMore(Seq(
      docsDF(Seq((40L, "fresh d", "en", "s0"), (41L, "fresh b", "en", "s0")))
        .select("doc_id", "text")), base).count()
    assert(probe().map(_._1) == Set(10L, 20L, 30L, 40L),
      "post-fold admission must add exactly the new fingerprint's first doc " +
        "(41 duplicates 20's admitted text and must screen out)")
    Seq(s"${base}_exact", s"${base}_admitted").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(dir, true)
    IndexCommits.invalidate(spark, base)
  }

  test("rolling admission is one fused table, one write job per batch") {
    import graft.sources.IndexCommits
    val base = s"graft_rollfuse_spec_${System.identityHashCode(this)}"
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${base}_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    IndexCommits.invalidate(spark, base)
    spark.sql(s"DROP TABLE IF EXISTS ${base}_exact")
    graft.sources.Sinks.reclaimOrphanTableLocation(spark, s"${base}_exact")
    val corpus = docsDF(Seq((1L, "seen text one", "en", "s0")))
    val b1 = docsDF(Seq((10L, "fresh a", "en", "s0"),
      (11L, "seen text one", "en", "s0"))).select("doc_id", "text")
    Dedup.admitRollingExact(corpus, Seq(b1), base).count()
    // the lifecycle writes NO separate result table any more (round 18)
    assert(!spark.catalog.tableExists(s"${base}_admitted"),
      "fused lifecycle must not create a separate result table")
    // corpus fingerprints ride the same table with doc_id NULL and are
    // invisible to the result probe
    val raw = spark.table(s"${base}_exact")
    assert(raw.filter(col("doc_id").isNull).count() == 1,
      "corpus fingerprint rows carry doc_id NULL")
    assert(Dedup.loadAdmitted(spark, base).collect()
      .map(_.getLong(0)).toSet == Set(10L))
    // one batch step = ONE durable write (the fused append). Total Spark
    // jobs include AQE shuffle-stage jobs (batch agg + anti-join), so the
    // bound is <= 3; the pre-fusion shape ran 4 (two writes + stages) and
    // persisted the batch across them.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val b2 = docsDF(Seq((20L, "fresh b", "en", "s0")))
        .select("doc_id", "text")
      Thread.sleep(300) // drain pending listener events
      jobs.set(0)
      val e = Dedup.admitRollingStep(b2, base, numBuckets = 32, stopAfter = 1)
      Thread.sleep(300) // listener events are async
      assert(jobs.get() <= 3,
        s"a fused batch step must run at most 3 jobs (1 write + AQE " +
          s"stages), ran ${jobs.get()}")
      IndexCommits.commit(spark, base, e)
      assert(Dedup.loadAdmitted(spark, base).collect()
        .map(_.getLong(0)).toSet == Set(10L, 20L))
    } finally spark.sparkContext.removeSparkListener(listener)
    spark.sql(s"DROP TABLE IF EXISTS ${base}_exact")
    fs.delete(dir, true)
    IndexCommits.invalidate(spark, base)
  }

  test("forestEdges contracts pairs in place with identical components") {
    def labelSet(edges: org.apache.spark.sql.DataFrame) =
      Dedup.contractedComponents(edges, stitch = "star")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = Dedup.jaccardPairs(graft.Tables.documents(spark, Sf0001), 0.8)
      .select("doc_id_a", "doc_id_b")
    val contracted = Dedup.forestEdges(pairs)
    assert(contracted.count() <= pairs.count() * 2,
      "forest is node-bounded, never super-quadratic")
    assert(labelSet(contracted) === labelSet(pairs))
    // a chain split across partitions must survive the local contraction
    val chain = spark.range(0, 50).selectExpr("id AS doc_id_a", "id + 1 AS doc_id_b")
      .repartition(8)
    assert(labelSet(Dedup.forestEdges(chain)) === labelSet(chain))
  }

  test("contractedComponents equals direct resolvers, handles chains and self-loops") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture pair graph: both stitches must match the direct resolvers
    val pairs = Dedup.jaccardPairs(graft.Tables.documents(spark, Sf0001), 0.8)
      .select("doc_id_a", "doc_id_b")
    val direct = canon(Dedup.connectedComponents(pairs))
    for (stitch <- Seq("propagation", "star")) {
      // default: fixture forests are under the smallGraph bound, so this
      // exercises the single-task fast path
      assert(canon(Dedup.contractedComponents(pairs, stitch)) == direct,
        s"contract+$stitch (fast path) diverges from direct propagation")
      // smallGraph = 0 forces the iterative stitch — same fixed point
      assert(canon(Dedup.contractedComponents(pairs, stitch,
        smallGraph = 0L)) == direct,
        s"contract+$stitch (forced stitch) diverges from direct propagation")
      assert(canon(Dedup.connectedComponents(pairs,
        algorithm = s"contract-$stitch")) == direct)
    }
    // adversarial 256-node chain: the contraction must leave a residual
    // the star stitch still resolves (and collapse most of the diameter)
    // — forced past the fast path, which would hide the stitch entirely
    val chain = (0L until 256L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_id_a", "doc_id_b")
    val out = Dedup.contractedComponents(chain, "star", smallGraph = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 256 && out.forall(_._2 == 0L))
    // the fast path resolves the same chain through the one-task walk
    val outFast = Dedup.contractedComponents(chain, "star").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(outFast.length == 256 && outFast.forall(_._2 == 0L))
    // a self-loop-only node must keep its own label (direct-path parity),
    // on both sides of the smallGraph branch
    val selfy = Seq((7L, 7L), (1L, 2L)).toDF("doc_id_a", "doc_id_b")
    for (stitch <- Seq("propagation", "star"); sg <- Seq(1L << 22, 0L))
      assert(canon(Dedup.contractedComponents(selfy, stitch, smallGraph = sg)) ==
        Set((7L, 7L), (1L, 1L), (2L, 1L)), s"self-loop under $stitch sg=$sg")
  }

  test("blockedComponents equals the iterative resolvers on block-local graphs") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture: embedding near-dup pairs are label-local by construction
    val emb = graft.Tables.embeddings(spark, Sf0001)
    val pairs = Dedup.embeddingNearDups(emb, 0.3)
      .select($"label", $"vec_id_a".as("doc_id_a"), $"vec_id_b".as("doc_id_b"))
    val blocked = canon(Dedup.blockedComponents(pairs, "label"))
    val global = canon(Dedup.connectedComponents(
      pairs.select("doc_id_a", "doc_id_b")))
    val star = canon(Dedup.connectedComponents(
      pairs.select("doc_id_a", "doc_id_b"), algorithm = "star"))
    assert(blocked.nonEmpty && blocked === global && blocked === star)
    // planted adversary: a CHAIN inside one block (the worst case for
    // propagation) + a separate clique + an isolated pair in another block
    val planted = Seq(
      ("b0", 1L, 2L), ("b0", 2L, 3L), ("b0", 3L, 4L), ("b0", 4L, 5L),
      ("b0", 10L, 11L), ("b0", 10L, 12L), ("b0", 11L, 12L),
      ("b1", 20L, 21L))
      .toDF("blk", "doc_id_a", "doc_id_b")
    val got = canon(Dedup.blockedComponents(planted, "blk"))
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("blockedComponents guards: cross-block docs and edge caps fail loudly") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // doc 2 bridges b0 and b1 — the precondition violation must raise,
    // never silently duplicate the doc across clusters
    val bridged = Seq(("b0", 1L, 2L), ("b1", 2L, 3L))
      .toDF("blk", "doc_id_a", "doc_id_b")
    val e1 = intercept[Exception](
      Dedup.blockedComponents(bridged, "blk").collect())
    assert(messages(e1).contains("multiple blocks"), messages(e1).take(300))
    // a block over the edge fence must name the fence, not OOM quietly
    val big = Seq(("b0", 1L, 2L), ("b0", 2L, 3L))
      .toDF("blk", "doc_id_a", "doc_id_b")
    val e2 = intercept[Exception](
      Dedup.blockedComponents(big, "blk", maxBlockEdges = 1L).collect())
    assert(messages(e2).contains("maxBlockEdges"), messages(e2).take(300))
  }

  test("simhash expression is deterministic and near-dups have small hamming") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy cat again and again"
    val df = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
      .select($"doc_id", SimHash64.simhash64($"text").as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L)) // identical text, identical fingerprint
    assert(fps(1L) == SimHash64.compute(a)) // engine matches scala kernel
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(2L)) <= 16)
  }

  test("simhashPairs surfaces planted near-identical docs") {
    val base = (1 to 50).map(i => s"token$i").mkString(" ")
    val nearDup = base + " extra"
    val others = (1 to 20).map(i =>
      (100L + i, (1 to 50).map(j => s"u${i}x$j").mkString(" "), "en", "s0"))
    val docs = docsDF(Seq((1L, base, "en", "s0"), (2L, nearDup, "en", "s0")) ++ others)
    val out = Dedup.simhashPairs(docs, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
  }

  test("embedding near-dups agree with a driver-side exact computation") {
    val emb = graft.Tables.embeddings(spark, Sf0001)
    val out = Dedup.embeddingNearDups(emb, 0.3).collect()
    assert(out.nonEmpty)
    // spot-check one pair exactly
    val r = out.head
    val (ida, idb) = (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))
    val vecs = emb.filter($"vec_id".isin(ida, idb))
      .collect().map(x => x.getLong(0) -> x.getSeq[Float](1).map(_.toDouble)).toMap
    val (va, vb) = (vecs(ida), vecs(idb))
    val cos = va.zip(vb).map(p => p._1 * p._2).sum /
      (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    assert(approx(r.getAs[Double]("cos_sim"), cos, 1e-4))
  }

  test("embeddingNearDupsCells: multi-probe catches a planted cross-cell near-dup") {
    // centroids are the first-nList vectors (c0 = x-axis, c1 = y-axis);
    // vecs 2 and 3 are near-identical but land in DIFFERENT rank-1 cells
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(1f, 0.99f)), (3L, Seq(0.99f, 1f)))
      .toDF("vec_id", "embedding")
    // single-probe loses the straddling pair — the failure mode multi-probe exists for
    val p1 = Dedup.embeddingNearDupsCells(vecs, threshold = 0.9,
      nList = 2, nProbe = 1).collect()
    assert(p1.isEmpty)
    // 2-probe: the pair meets in both shared cells yet is emitted ONCE
    val out = Dedup.embeddingNearDupsCells(vecs, threshold = 0.9,
      nList = 2, nProbe = 2).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    assert(out.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("embeddingNearDupsCells maxBlockSize drops an over-cap cell with observed counts") {
    val mega = (10 to 19).map(i => (i.toLong, Seq(1f, 0.001f * i)))
    val sane = Seq((30L, Seq(0.01f, 1f)), (31L, Seq(0.012f, 1f)))
    val vecs = (Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))) ++ mega ++ sane)
      .toDF("vec_id", "embedding")
    val df = Dedup.embeddingNearDupsCells(vecs, threshold = 0.9, nList = 2,
      nProbe = 1, maxBlockSize = 5)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cell c0's 11 members (centroid + 10 near-copies) trip the fence and
    // vanish; cell c1's sane trio survives
    assert(pairs == Set((1L, 30L), (1L, 31L), (30L, 31L)))
    val m = df.queryExecution.observedMetrics("graft_q29_cell_cap")
    assert(m.getAs[Long]("dropped_rows") == 11L)
    assert(m.getAs[Double]("dropped_groups") == 1.0)
    assert(m.getAs[Long]("max_group_size") == 11L)
  }

  test("embeddingNearDups maxBlockSize drops an over-cap label block with observed counts") {
    val mega = (1 to 12).map(i => (100L + i, Seq(1f, 0.001f * i), "big"))
    val sane = Seq((1L, Seq(0f, 1f), "small"), (2L, Seq(0.01f, 1f), "small"))
    val emb = (mega ++ sane).toDF("vec_id", "embedding", "label")
    val df = Dedup.embeddingNearDups(emb, threshold = 0.9, maxBlockSize = 5)
    val pairs = df.collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
    val m = df.queryExecution.observedMetrics("graft_q29_block_cap")
    assert(m.getAs[Long]("dropped_rows") == 12L)
    assert(m.getAs[Double]("dropped_groups") == 1.0)
    assert(m.getAs[Long]("max_group_size") == 12L)
  }

  test("cell-blocked near-dups recover >= 80% of the exact label-blocked pairs") {
    // q234's gate at spec level: the quantizer-cell blocking that replaces
    // the fixture label at scale must keep recall against the exact walk
    val emb = graft.Tables.embeddings(spark, Sf0001)
    val exact = Dedup.embeddingNearDups(emb, 0.3).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    val cellRows = Dedup.embeddingNearDupsCells(emb, 0.3).collect()
    val cells = cellRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // multi-probe never duplicates a pair
    assert(cellRows.length == cells.size)
    assert(exact.nonEmpty)
    val found = exact.count(cells.contains)
    assert(found * 10 >= exact.size * 8, s"recall $found/${exact.size}")
  }

  /** Every (doc_id -> n_shared, n_grams, contaminated) row of a result. */
  private def verdicts(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_shared", "n_grams", "contaminated").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap

  /** The largest array literal in `df`'s analyzed plan. */
  private def maxArrayLiteral(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.ArrayType
    var mx = 0
    df.queryExecution.analyzed.foreach(_.expressions.foreach(_.foreach {
      case l: Literal if l.dataType.isInstanceOf[ArrayType] && l.value != null =>
        mx = math.max(mx, l.value.asInstanceOf[ArrayData].numElements())
      case _ => ()
    }))
    mx
  }

  test("decontaminate: both routes x both rules x batch and stream agree") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001)
    val train = docs.filter($"source" =!= "src0").select("doc_id", "text")
    val eval = docs.filter($"source" === "src0")
    val trainRows = train.collect().map(r => (r.getLong(0), r.getString(1)))
    // literal, Bloom at the default size, and a deliberately tiny 512-bit
    // Bloom filter: false positives flood the prescreen, the exact join
    // must still kill them
    val routes = Seq(("literal", Dedup.DecontamLiteralCap, 1L << 23),
      ("bloom", 0, 1L << 23), ("bloom512", 0, 512L))
    for ((rule, ri) <- Seq(Dedup.MinShared(3L), Dedup.MinSharedPpm(600000L))
                         .zipWithIndex) {
      val expect = verdicts(Dedup.decontaminate(train, eval, 3, rule))
      assert(expect.size == trainRows.length)
      assert(expect.values.exists(_._3), s"$rule flags nothing on the fixture")
      for ((route, cap, bits) <- routes) {
        def pinned(in: org.apache.spark.sql.DataFrame) =
          Dedup.withDecontamSizing(cap, bits)(Dedup.decontaminate(in, eval, 3, rule))
        val batch = pinned(train)
        assert(verdicts(batch) == expect, s"$route batch, $rule")
        if (route != "literal") {
          // plan hygiene: no array literal that scales with the eval set
          // (the fixed-size Bloom BINARY constant is the only big one)
          assert(maxArrayLiteral(batch) <= 8,
            s"eval-scaled array literal leaked into the $route plan")
          assert(batch.queryExecution.analyzed.toString.contains("might_contain"),
            s"Bloom prescreen missing from the $route plan")
        }
        val input = MemoryStream[(Long, String)]
        val name = s"decontam_${route}_$ri"
        val q = pinned(input.toDF().toDF("doc_id", "text"))
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          val (a, b) = trainRows.splitAt(trainRows.length / 2)
          input.addData(a.toSeq); q.processAllAvailable()
          input.addData(b.toSeq); q.processAllAvailable()
          assert(verdicts(spark.table(name)) == expect, s"$route stream, $rule")
        } finally q.stop()
      }
    }
  }

  test("decontaminate routes by the eval size: cap hashes literal, cap + 1 Bloom") {
    // n tokens make n - 2 distinct trigram hashes
    def evalOf(nHashes: Int) =
      Seq((0 until nHashes + 2).map(i => s"t$i").mkString(" ")).toDF("text")
    val train = Seq(
      (1L, "t0 t1 t2 t3 t4"),    // 3 grams, all in the eval set
      (2L, "t0 t1 t2 x y z"),    // 1 of 4 grams shared
      (3L, "p q r s")).toDF("doc_id", "text")
    val cap = Dedup.DecontamLiteralCap
    val atCap = Dedup.decontaminate(train, evalOf(cap), 3, Dedup.MinShared(2L))
    val overCap = Dedup.decontaminate(train, evalOf(cap + 1), 3, Dedup.MinShared(2L))
    assert(maxArrayLiteral(atCap) == cap, "cap hashes must take the literal route")
    assert(!atCap.queryExecution.analyzed.toString.contains("might_contain"))
    assert(maxArrayLiteral(overCap) <= 8, "cap + 1 hashes must take the Bloom route")
    assert(overCap.queryExecution.analyzed.toString.contains("might_contain"))
    val expect = Map(1L -> ((3L, 3L, true)), 2L -> ((1L, 4L, false)),
      3L -> ((0L, 2L, false)))
    assert(verdicts(atCap) == expect)
    assert(verdicts(overCap) == expect)
  }

  test("admitStream equals admitIncremental on batch AND on a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 10 === 0
    val expect = Dedup.admitIncremental(docs, isNew)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap

    val corpus = docs.filter(!isNew)
    val newDocs = docs.filter(isNew).select("doc_id", "text")
    // batch-on-batch equality
    val batch = Dedup.admitStream(newDocs, corpus)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(batch == expect)

    // the SAME operator over a MemoryStream, fed in two batches
    val input = MemoryStream[(Long, String)]
    val q = Dedup.admitStream(input.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("admit_stream").start()
    try {
      val rows = newDocs.collect().map(r => (r.getLong(0), r.getString(1)))
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      val streamed = spark.table("admit_stream")
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(streamed == expect)
    } finally q.stop()
  }

  test("admitStreamMinhash equals the minhashLsh pair list, batch and MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 5 === 0
    // ground truth: the batch q25 walk over the whole corpus, restricted
    // to (new x corpus) pairs -> expected near-dup count per new doc
    val newIds = docs.filter(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pairCounts = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
        bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (n, c) => newIds.contains(n) && !newIds.contains(c) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expect = newIds.map(id => id -> pairCounts.getOrElse(id, 0L)).toMap

    val idx = Dedup.minhashAdmissionIndex(docs.filter(!isNew),
      shingleSize = 3, numHashes = 32, bands = 8)
    val newDocs = docs.filter(isNew).select("doc_id", "text")
    val batch = Dedup.admitStreamMinhash(newDocs, idx, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == expect)
    assert(expect.values.exists(_ > 0L), "fixture planted no cross near-dups")
    assert(expect.values.exists(_ == 0L), "every new doc rejected — degenerate")

    // the SAME operator over a MemoryStream, fed in two batches
    val input = MemoryStream[(Long, String)]
    val q = Dedup.admitStreamMinhash(input.toDF().toDF("doc_id", "text"),
        idx, threshold = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("admit_minhash_stream").start()
    try {
      val rowsIn = newDocs.collect().map(r => (r.getLong(0), r.getString(1)))
      val (a, b) = rowsIn.splitAt(rowsIn.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      val streamed = spark.table("admit_minhash_stream")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == expect)
    } finally q.stop()
  }

  test("splitStreamMinhash: stream splits equal batch q239 assignment, no straddle") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val thr = 0.5
    val docs0 = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    // arrivals = the TOP id range: the ascending-doc_id arrival contract
    // (admitRollingExact's), under which an arrival can never undercut
    // its matched cluster's min id. Doc 9000 is a PLANTED word-identical
    // copy of a corpus doc — the equal-shingle-set tier (which banding
    // can never miss) must route it into its copy's cluster
    // unconditionally.
    val plantedSrc = docs0.filter(col("doc_id") === 42L)
      .select(lit(9000L).as("doc_id"), col("text"),
        col("lang"), col("source"))
    val docs = docs0.select("doc_id", "text", "lang", "source")
      .unionByName(plantedSrc)
    val isNew = col("doc_id") >= 400
    val corpus = docs.filter(!isNew)
    val arrivals = docs.filter(isNew).select("doc_id", "text")

    // ground truth #1 (the operator's CONTRACT, computed independently
    // driver-side): expected cluster = min corpus-CC label over the
    // arrival's equal-set (j == 1.0) verified partners, else over all
    // verified partners, else self — from the SAME banded pair semantics
    // the stream screens by (minhashLsh: band collision + exact Jaccard
    // verify). The exact jaccardPairs walk would disagree wherever
    // banding misses a borderline pair (j ~ 0.5 collides with p ~ 0.4 at
    // 8x4 banding) — that recall is q105's gate, not this spec's subject.
    val lshPairs = Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32,
        bands = 8, threshold = thr)
      .select("doc_id_a", "doc_id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val corpusLabels = Dedup.contractedComponents(
      Dedup.minhashLsh(corpus, shingleSize = 3, numHashes = 32, bands = 8,
        threshold = thr).select("doc_id_a", "doc_id_b"))
    val cclMap = corpusLabels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val arrivalIds = arrivals.select("doc_id").collect().map(_.getLong(0)).toSet
    val partnersOf = lshPairs
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (n, c, _) => arrivalIds.contains(n) && !arrivalIds.contains(c) }
      .groupBy(_._1).view
      .mapValues(_.map { case (_, c, j) => (cclMap.getOrElse(c, c), j) }).toMap
    def expectedCluster(a: Long): Long = partnersOf.get(a) match {
      case None => a
      case Some(ps) =>
        val exact = ps.filter(_._2 == 1.0)
        if (exact.nonEmpty) exact.map(_._1).min else ps.map(_._1).min
    }

    val idx = Dedup.minhashSplitIndex(corpus, corpusLabels)
    val batch = Dedup.splitStreamMinhash(arrivals, idx, threshold = thr)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(batch.keySet == arrivalIds)
    batch.foreach { case (id, (cl, _, _)) =>
      assert(cl == expectedCluster(id),
        s"arrival $id: stream cluster $cl != contract ${expectedCluster(id)}")
    }
    assert(batch.exists { case (id, (cl, _, _)) => cl != id },
      "fixture planted no inherited cluster — the inheritance path is untested")
    assert(batch.exists { case (id, (cl, _, _)) => cl == id },
      "every arrival matched — the self path is untested")
    // the planted copy inherited its source doc's cluster (tier-1), so a
    // word-identical test copy of a train doc is impossible by
    // construction
    assert(batch(9000L)._1 == cclMap.getOrElse(42L, 42L),
      "planted exact copy did not inherit its source's cluster")

    // ground truth #2 (batch q239 over the full graph, same pair
    // semantics): equality holds on the static twin's declared domain —
    // arrivals whose duplicate relations route through the corpus. Every
    // divergent arrival must be EXPLAINED: its full-graph component
    // either contains no corpus doc (arrival-only cluster — batch sees
    // the arrival-arrival link, a corpus-only index cannot) or spans >=2
    // corpus clusters (an arrival BRIDGES them; batch re-resolution
    // merges, the stream cannot relabel already-split corpus docs).
    val fullLabels = Dedup.contractedComponents(
        Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32, bands = 8,
          threshold = thr).select("doc_id_a", "doc_id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val compMembers = fullLabels.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    val divergent = arrivalIds.filter(id =>
      batch(id)._1 != fullLabels.getOrElse(id, id))
    divergent.foreach { id =>
      val comp = compMembers(fullLabels(id))
      val corpusClusters = comp.filterNot(arrivalIds).map(c => cclMap.getOrElse(c, c))
      assert(corpusClusters.isEmpty || corpusClusters.size >= 2,
        s"arrival $id diverges from batch q239 without an arrival-only or " +
          s"bridged component to explain it (corpus clusters: $corpusClusters)")
    }
    assert((arrivalIds -- divergent).exists(id => batch(id)._1 != id),
      "no corpus-routed arrival actually inherited — the domain equality is vacuous")

    // no-straddle invariant: an arrival with a single matched corpus
    // cluster (n_clusters <= 1 — everything except explicit bridges)
    // never lands in a different split than any verified corpus partner;
    // for word-identical copies the equal-set tier makes this
    // unconditional even for bridging arrivals.
    def splitOf(cl: Long): String = {
      import spark.implicits._
      Seq(cl).toDF("c")
        .select(graft.operators.Sampling.splitAssign(col("c")))
        .head().getString(0)
    }
    val crossPairs = lshPairs
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (n, c, _) => arrivalIds.contains(n) && !arrivalIds.contains(c) }
    assert(crossPairs.nonEmpty, "fixture planted no cross pairs")
    crossPairs.foreach { case (a, c, j) =>
      if (batch(a)._2 <= 1L || j == 1.0) {
        val partnerSplit = splitOf(cclMap.getOrElse(c, c))
        assert(batch(a)._3 == partnerSplit,
          s"arrival $a split ${batch(a)._3} straddles corpus partner $c ($partnerSplit)")
      }
    }

    // the SAME operator over a MemoryStream, fed in two batches
    val input = MemoryStream[(Long, String)]
    val q = Dedup.splitStreamMinhash(input.toDF().toDF("doc_id", "text"),
        idx, threshold = thr)
      .writeStream.outputMode("append")
      .format("memory").queryName("split_stream").start()
    try {
      val rowsIn = arrivals.collect().map(r => (r.getLong(0), r.getString(1)))
      val (a, b) = rowsIn.splitAt(rowsIn.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      val streamed = spark.table("split_stream")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("splitRollingMinhash resolves arrival-arrival relations the static twin cannot") {
    import spark.implicits._
    val thr = 0.5
    val base = "graft_test_rollsplit"
    Seq(s"${base}_post", s"${base}_splits")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
      val isNew = col("doc_id") >= 400
      val corpus = docs.filter(!isNew)
      val arrivals = docs.filter(isNew).select("doc_id", "text")

      // batch ground truth: q239 over the full graph, SAME banded pair
      // semantics (splitStreamMinhash spec's device)
      val fullLabels = Dedup.contractedComponents(
          Dedup.minhashLsh(docs, shingleSize = 3, numHashes = 32, bands = 8,
            threshold = thr).select("doc_id_a", "doc_id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val corpusLabels = Dedup.contractedComponents(
        Dedup.minhashLsh(corpus, shingleSize = 3, numHashes = 32, bands = 8,
          threshold = thr).select("doc_id_a", "doc_id_b"))
      val cclMap = corpusLabels.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val arrivalIds = arrivals.select("doc_id").collect()
        .map(_.getLong(0)).toSet

      // two ascending batches — the rolling contract
      val rowsIn = arrivals.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      val (lo, hi) = rowsIn.partition(_._1 < 460)
      val got = Dedup.splitRollingMinhash(corpus, corpusLabels,
          Seq(lo.toSeq.toDF("doc_id", "text"), hi.toSeq.toDF("doc_id", "text")),
          base, threshold = thr)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .toMap
      assert(got.keySet == arrivalIds)

      // every arrival matches batch q239 UNLESS a bridge explains it:
      // its full component spans >= 2 corpus clusters, or chains through
      // an arrival assigned in an earlier lifecycle than its partner
      val compMembers = fullLabels.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
      val divergent = arrivalIds.filter(id =>
        got(id)._1 != fullLabels.getOrElse(id, id))
      divergent.foreach { id =>
        val comp = compMembers(fullLabels(id))
        val corpusClusters = comp.filterNot(arrivalIds).map(c => cclMap.getOrElse(c, c))
        assert(corpusClusters.size >= 2,
          s"arrival $id: rolling ${got(id)._1} != batch ${fullLabels(id)} " +
            s"without a bridged component (corpus clusters $corpusClusters)")
      }
      // the arrival-only components the STATIC twin self-labels must now
      // match batch exactly — this is the lifecycle's whole point
      val arrivalOnly = arrivalIds.filter { id =>
        fullLabels.contains(id) &&
          compMembers(fullLabels(id)).forall(arrivalIds)
      }
      assert(arrivalOnly.nonEmpty,
        "fixture lost its arrival-only components — slice needs re-picking")
      arrivalOnly.foreach { id =>
        assert(got(id)._1 == fullLabels(id),
          s"arrival-only member $id: rolling ${got(id)._1} != batch ${fullLabels(id)}")
      }
      // and cluster-mates always share a split (the no-straddle shape)
      got.groupBy(_._2._1).values.foreach { members =>
        assert(members.map(_._2._2).toSet.size == 1)
      }
    } finally Seq(s"${base}_post", s"${base}_splits")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("splitStreamMinhash never broadcasts the corpus-derived index") {
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 5 === 0
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairs(corpus, 0.5).select("doc_id_a", "doc_id_b"))
    val out = Dedup.splitStreamMinhash(
      docs.filter(isNew).select("doc_id", "text"),
      Dedup.minhashSplitIndex(corpus, labels), threshold = 0.5)
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"corpus broadcast in plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"corpus broadcast join in plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }

  test("splitStreamMinhash carries its input's other columns unchanged") {
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 5 === 0
    val corpus = docs.filter(!isNew)
    val labels = Dedup.contractedComponents(
      Dedup.jaccardPairs(corpus, 0.5).select("doc_id_a", "doc_id_b"))
    val idx = Dedup.minhashSplitIndex(corpus, labels)
    val arrivals = docs.filter(isNew)
      .select(col("doc_id"), col("text"), concat(lit("tag-"), col("doc_id")).as("tag"))
    def splitOf(in: org.apache.spark.sql.DataFrame) =
      Dedup.splitStreamMinhash(in, idx, threshold = 0.5)
    val plain = splitOf(arrivals.select("doc_id", "text"))
    val tagged = splitOf(arrivals)
    assert(plain.columns.toSeq == Seq("doc_id", "cluster", "n_clusters", "split"))
    assert(tagged.columns.toSeq == plain.columns.toSeq :+ "tag")
    val got = tagged.collect().map(r => r.getLong(0) -> r).toMap
    val want = plain.collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == want.size && got.size > 0)
    assert(got.values.exists(r => r.getLong(1) != r.getLong(0)),
      "no arrival inherited a cluster — the carried column met no band match")
    want.foreach { case (id, w) =>
      val g = got(id)
      assert(g.toSeq.take(4) == w.toSeq, s"arrival $id: $g != $w")
      assert(g.getString(4) == s"tag-$id", s"arrival $id carried ${g.get(4)}")
    }
  }

  test("admitStreamMinhash never broadcasts the corpus-derived index") {
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 5 === 0
    val out = Dedup.admitStreamMinhash(
      docs.filter(isNew).select("doc_id", "text"),
      Dedup.minhashAdmissionIndex(docs.filter(!isNew)), threshold = 0.5)
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"corpus broadcast in plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"corpus broadcast join in plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }

  test("admitStream never broadcasts the corpus-derived index") {
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 10 === 0
    val out = Dedup.admitStream(
      docs.filter(isNew).select("doc_id", "text"), docs.filter(!isNew))
    // pre-AQE physical plan: the round-5 scale-killer was an explicit
    // broadcast() of the band maps — O(corpus) driver/executor memory.
    // The shuffle_hash-hinted index joins must plan with zero broadcasts
    // of ANY corpus-derived frame.
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"corpus broadcast in plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"corpus broadcast join in plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }

  test("saveAdmissionIndex: bucketed static side joins without corpus-side shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.Tables.documents(spark, Sf0001).filter(col("text").isNotNull)
    val isNew = col("doc_id") % 10 === 0
    val expect = Dedup.admitIncremental(docs, isNew)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap
    try {
      val idx = Dedup.saveAdmissionIndex(docs.filter(!isNew), "graft_admidx",
        numBuckets = 8)
      val out = Dedup.admitStream(docs.filter(isNew).select("doc_id", "text"),
        idx, maxHamming = 3)
      val got = out.collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(got == expect)
      val plan = out.queryExecution.sparkPlan
      assert(!plan.toString.contains("BroadcastExchange"),
        s"corpus broadcast in plan:\n$plan")
      // a shuffle whose ENTIRE subtree is an index-table scan would mean
      // the bucketed layout failed to satisfy the join distribution — the
      // per-microbatch corpus-side shuffle the bucketing exists to remove
      val staticShuffles = plan.collect {
        case e: ShuffleExchangeExec =>
          val leaves = e.child.collectLeaves()
          leaves.nonEmpty && leaves.forall {
            case f: FileSourceScanExec =>
              f.tableIdentifier.exists(_.table.startsWith("graft_admidx"))
            case _ => false
          }
      }.count(identity)
      assert(staticShuffles == 0,
        s"bucketed index side must not re-shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_admidx_exact")
      (0 until 4).foreach(b =>
        spark.sql(s"DROP TABLE IF EXISTS graft_admidx_band$b"))
    }
  }

  test("admitRollingExact screens later batches against earlier admissions") {
    import spark.implicits._
    val base = "graft_test_rolladm"
    Seq(s"${base}_exact", s"${base}_admitted", s"${base}1_exact",
        s"${base}1_admitted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val corpus = Seq((1L, "c1")).toDF("doc_id", "text")
      // planted adversaries: within-batch dup (10/11), corpus dup (12),
      // cross-batch dup (20 repeats batch 1's "x"), fresh (21)
      val b1 = Seq((10L, "x"), (11L, "x"), (12L, "c1")).toDF("doc_id", "text")
      val b2 = Seq((20L, "x"), (21L, "y")).toDF("doc_id", "text")
      val got = Dedup.admitRollingExact(corpus, Seq(b1, b2), base, numBuckets = 4)
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(10L, 21L),
        s"expected only first-unseen docs 10 and 21, got $got")
      // batch-split independence: one batch covering everything agrees
      val one = Dedup.admitRollingExact(
        corpus, Seq(b1.union(b2)), s"${base}1", numBuckets = 4)
        .collect().map(_.getLong(0)).toSet
      assert(one == got)
    } finally Seq(s"${base}_exact", s"${base}_admitted", s"${base}1_exact",
        s"${base}1_admitted")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("substringSpans finds exactly the planted repeated span, 1-based and maximal") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val boiler = words("b", 12) // the 12-token span planted in both docs
    // doc 1: 5 unique tokens, boilerplate, 6 unique tokens
    // doc 2: 3 unique tokens, boilerplate, 2 unique tokens
    // doc 3: all unique -- must produce NO span
    val docs = Seq(
      (1L, s"${words("u", 5)} $boiler ${words("v", 6)}"),
      (2L, s"${words("w", 3)} $boiler ${words("x", 2)}"),
      (3L, words("z", 40))
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // k=8 anchors: only grams fully inside the 12-token boilerplate repeat
    // -> anchors at boiler positions 1..5 (12-8+1), i.e. doc positions
    // offset+1..offset+5; the merged span covers exactly the boilerplate.
    // doc 1: boiler starts at token 6; doc 2: at token 4.
    assert(got == Set((1L, 6L, 12L, 5L), (2L, 4L, 12L, 5L)))
  }

  test("substringSpans hot-gram salting: identical spans, bounded per-task rows") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    // the hot gram: one doc of 100k identical tokens — every one of its
    // ~10^5 positions posts the SAME 64-bit gram key, so the unsalted
    // posting⋈repeated join funnels all of them through one reducer
    val hot = (1 to 100000).map(_ => "b").mkString(" ")
    val boiler = words("s", 12)
    val docs = Seq(
      (1L, hot),
      (2L, s"${words("u", 5)} $boiler ${words("v", 6)}"),
      (3L, s"${words("w", 3)} $boiler ${words("x", 2)}")
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val plain = canon(Dedup.substringSpans(docs, k = 8))
    val salted = canon(Dedup.substringSpans(docs, k = 8, saltBuckets = 8))
    // the hot doc is one giant span (all positions anchored); the planted
    // boilerplate pair is found either way — salting changes the shuffle
    // layout, never the spans
    assert(plain == salted)
    assert(plain == Set((1L, 1L, 100000L, 99993L),
      (2L, 6L, 12L, 5L), (3L, 4L, 12L, 5L)))
    // mechanism bound: under the deterministic (doc, pos) salt, no
    // (gram, salt) shuffle group carries more than ~2x the ideal
    // hot/saltBuckets share — the property that caps per-task rows
    val maxGroup = Dedup.gramPosting(docs, 8, "text", "doc_id")
      .withColumn("__salt", Skew.saltFor(struct($"doc_id", $"pos"), 8))
      .groupBy("h", "__salt").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxGroup <= 2L * 99993L / 8L, s"max salted group $maxGroup")
    // keepFirst routes through the same salted join: equality there too
    val kfPlain = canon(Dedup.substringSpansKeepFirst(docs, k = 8))
    val kfSalted = canon(Dedup.substringSpansKeepFirst(docs, k = 8,
      saltBuckets = 8))
    assert(kfPlain == kfSalted && kfPlain.nonEmpty)
  }

  test("substringSpans merges adjacent repeats and counts within-doc repetition") {
    import spark.implicits._
    // one doc repeating the same 8-token phrase twice back-to-back: gram
    // at pos 1 equals gram at pos 9; the seam grams 2..8 are all unique
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val docs = Seq((1L, s"$phrase $phrase")).toDF("doc_id", "text")
    val got = Dedup.substringSpans(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // anchors at pos 1 and 9 (gap 8 == k -> same island): one span 1..16
    assert(got == Set((1L, 1L, 16L, 2L)))
  }

  test("applySpanRemovals excises exactly the flagged spans, byte-exact elsewhere") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val boiler = words("b", 12)
    val docs = Seq(
      (1L, s"${words("u", 5)} $boiler ${words("v", 6)}"),
      (2L, boiler),                     // pure boilerplate -> scrubbed empty
      (3L, "a  double x"),              // short: untouched, double space kept
      (4L, null.asInstanceOf[String])   // null text: dropped like substringSpans
    ).toDF("doc_id", "text")
    val got = Dedup.applySpanRemovals(docs, Dedup.substringSpans(docs, k = 8))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((s"${words("u", 5)} ${words("v", 6)}", 11L, 12L)))
    assert(got(2L) == (("", 0L, 12L)))
    // split-on-space keeps the empty token: "a","","double","x" round-trips
    assert(got(3L) == (("a  double x", 4L, 0L)))
    assert(!got.contains(4L) && got.size == 3)
  }

  test("substringSpansKeepFirst: the corpus-first copy survives, later copies scrub") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val boiler = words("b", 12)
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"${words("u", 5)} $boiler"),  // canonical copy: untouched
      (2L, s"${words("w", 3)} $boiler"),  // later copy: boiler removed
      (3L, s"$phrase $phrase")            // within-doc: second half removed
    ).toDF("doc_id", "text")
    val got = Dedup.applySpanRemovals(docs, Dedup.substringSpansKeepFirst(docs, k = 8))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((s"${words("u", 5)} $boiler", 17L, 0L)))
    assert(got(2L) == ((words("w", 3), 3L, 12L)))
    assert(got(3L) == ((phrase, 8L, 8L)))
  }

  test("substringSpans plans no cartesian and keeps the posting join shuffled") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val q = Dedup.substringSpans(docs, k = 8)
    assert(q.count() > 0, "fixture must contain repeated spans")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not all-pairs:\n$plan")
    // the posting side must never broadcast (Generate-size trap): the one
    // join keyed on the gram hash is the hinted shuffled hash join
    assert(plan.contains("ShuffledHashJoin"),
      s"posting join must be the shuffled hash join:\n$plan")
  }

  test("substrContamination: quote-level contamination caught; saved index and stream equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val corpus = Seq(
      (100L, words("a", 20)),
      (101L, words("b", 12))
    ).toDF("doc_id", "text")
    // n1 QUOTES 10 tokens of corpus doc 100 inside fresh text; n2 fresh;
    // n3 is a verbatim copy of corpus doc 101
    val quote = (3 to 12).map(i => s"a$i").mkString(" ")
    val fresh = Seq(
      (1L, s"${words("f", 5)} $quote ${words("g", 5)}"),
      (2L, words("z", 10)),
      (3L, words("b", 12))
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = canon(Dedup.substrContamination(
      fresh, Dedup.gramIndexFrame(corpus, k = 8), k = 8))
    // n1: 20 tokens -> 13 grams; only grams fully inside the quote hit
    // (10-token quote -> 3 grams); 3e6 DIV 13 = 230769
    assert(batch == Map(
      1L -> ((13L, 3L, 230769L)),
      2L -> ((3L, 0L, 0L)),
      3L -> ((5L, 5L, 1000000L))))
    val base = "graft_test_gramidx"
    spark.sql(s"DROP TABLE IF EXISTS ${base}_grams")
    try {
      val saved = Dedup.saveGramIndex(corpus, base, k = 8)
      assert(canon(Dedup.substrContamination(fresh, saved, k = 8)) == batch,
        "saved bucketed index diverged from the in-plan frame")
      // streaming twin: each micro-batch screens against the saved index
      val rows = fresh.collect().map(r => (r.getLong(0), r.getString(1)))
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val idx = b.sparkSession.table(s"${base}_grams")
            got.synchronized {
              got ++= canon(Dedup.substrContamination(b, idx, k = 8))
            }
          }
          ()
        }.start()
      try {
        val (x, y) = rows.splitAt(2)
        input.addData(x); q.processAllAvailable()
        input.addData(y); q.processAllAvailable()
      } finally q.stop()
      assert(got.toMap == batch, "streamed screen diverged from batch")
    } finally spark.sql(s"DROP TABLE IF EXISTS ${base}_grams")
  }

  test("substringSpans: docs shorter than k and null texts contribute nothing") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]),
      (3L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.substringSpans(docs, k = 8).count() == 0)
  }

}
