package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark.{edgeDF, fixtures}

class TriangleCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def relational(edges: Seq[(Long, Long)]): Long =
    TriangleCount.countPairs(edgeDF(edges)).first().getLong(0)

  private def adjacency(edges: Seq[(Long, Long)]): Long =
    TriangleCount.countPairsAdjacency(spark, edgeDF(edges)).first().getLong(0)

  test("tri1 fixture: 1 triangle (reference test.cpp:16,19)") {
    assert(relational(fixtures.tri1) === 1L)
    assert(adjacency(fixtures.tri1) === 1L)
  }

  test("nvgraph8 fixture: 3 triangles (reference test.cpp:27)") {
    assert(relational(fixtures.nvgraph8) === 3L)
    assert(adjacency(fixtures.nvgraph8) === 3L)
  }

  test("duplicate multi-edges dedup to 1 triangle (reference dead fixture test_zero_degree.bin)") {
    assert(relational(fixtures.dupEdges) === 1L)
    assert(adjacency(fixtures.dupEdges) === 1L)
  }

  test("self-loops dropped (reference TrCountingGraph.cpp:298)") {
    assert(relational(fixtures.selfLoop) === 1L)
    assert(adjacency(fixtures.selfLoop) === 1L)
  }

  test("count invariant under edge permutation, direction flips, and duplication") {
    val base = fixtures.nvgraph8
    val variants = Seq(
      base.reverse,
      base.map { case (u, v) => (v, u) },
      scala.util.Random.shuffle(base) ++ base.take(3), // dups
      base ++ base)
    variants.foreach { es =>
      assert(relational(es) === 3L)
      assert(adjacency(es) === 3L)
    }
  }

  test("per-vertex counts on nvgraph8: (0,1,2,3,2,1)") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val got = TriangleCount.perVertex(canonical, oriented)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  test("empty graph counts zero on all paths (relational, adjacency, sharded)") {
    val empty = Seq.empty[(Long, Long)]
    assert(relational(empty) === 0L)
    assert(adjacency(empty) === 0L)
    assert(sharded(empty, 3) === 0L)
    val canonical = GraphCore.clean(edgeDF(empty))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val pv = TriangleCount.perVertexAdjacencySharded(
      spark, canonical, oriented, GraphCore.adjacency(oriented), 3)
    assert(pv.count() === 0L)
    CacheTracker.release(spark)
  }

  test("triangle-free graph (star) counts zero") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    assert(relational(star) === 0L)
    assert(adjacency(star) === 0L)
  }

  test("relational and adjacency paths agree on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    assert(relational(es) === adjacency(es))
  }

  private def sharded(edges: Seq[(Long, Long)], shards: Int): Long = {
    val oriented = GraphCore.orientClean(edgeDF(edges))
    TriangleCount.globalAdjacencySharded(
      spark, oriented, GraphCore.adjacency(oriented), shards)
      .first().getLong(0)
  }

  test("sharded-broadcast (out-of-core) path equals broadcast path on all fixtures") {
    for {
      (name, es) <- Seq("tri1" -> fixtures.tri1, "nvgraph8" -> fixtures.nvgraph8,
        "dupEdges" -> fixtures.dupEdges, "selfLoop" -> fixtures.selfLoop)
      k <- Seq(1, 2, 3)
    } assert(sharded(es, k) === fixtures.goldenTriangles(name), s"$name @ $k shards")
  }

  test("sharded path equals broadcast path on seeded random graphs") {
    for (seed <- Seq(7, 42); k <- Seq(3, 5)) {
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(500)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      assert(sharded(es, k) === adjacency(es), s"seed $seed @ $k shards")
    }
  }

  test("concurrent pair-job pool yields the same count as the sequential loop") {
    val rnd = new scala.util.Random(9)
    val es = Seq.fill(500)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
    val oriented = GraphCore.orientClean(edgeDF(es))
    val adj = GraphCore.adjacency(oriented)
    val seq = TriangleCount.globalAdjacencySharded(spark, oriented, adj, 4)
      .first().getLong(0)
    val conc = TriangleCount.globalAdjacencySharded(spark, oriented, adj, 4, concurrency = 3)
      .first().getLong(0)
    assert(conc === seq)
    assert(seq === adjacency(es))
    CacheTracker.release(spark)
  }

  test("sharded per-vertex counts equal the broadcast per-vertex form") {
    for ((name, es) <- Seq("nvgraph8" -> fixtures.nvgraph8, "selfLoop" -> fixtures.selfLoop)) {
      val canonical = GraphCore.clean(edgeDF(es))
      val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
      val adj = GraphCore.adjacency(oriented)
      val want = TriangleCount.perVertexAdjacency(canonical, oriented, adj)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (k <- Seq(1, 3)) {
        val got = TriangleCount.perVertexAdjacencySharded(spark, canonical, oriented, adj, k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === want, s"$name @ $k shards")
      }
    }
    val rnd = new scala.util.Random(21)
    val es = Seq.fill(500)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
    val canonical = GraphCore.clean(edgeDF(es))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    val want = TriangleCount.perVertexAdjacency(canonical, oriented, adj)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = TriangleCount.perVertexAdjacencySharded(spark, canonical, oriented, adj, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    CacheTracker.release(spark)
  }

  test("pooled per-vertex sharded merge equals sequential and broadcast forms") {
    val rnd = new scala.util.Random(33)
    val es = Seq.fill(500)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
    val canonical = GraphCore.clean(edgeDF(es))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    val want = TriangleCount.perVertexAdjacency(canonical, oriented, adj)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pooled = TriangleCount.perVertexAdjacencySharded(
        spark, canonical, oriented, adj, 4, concurrency = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pooled === want, "associative credit merge must be order-independent")
    CacheTracker.release(spark)
  }

  test("CreditAccumulator: fanIn 1/2/16 all equal one flat union+groupBy; empty → None") {
    // unit-level: the merge logic itself, no pair jobs. 7 partials with
    // overlapping keys — fanIn 1 merges per add (the old behavior), 2 forces
    // three mid-run flushes + a final one, 16 defers to a single final merge.
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val partials = Seq.tabulate(7)(p =>
      Seq.fill(20)((rnd.nextInt(9).toLong, rnd.nextLong(100L)))
        .toDF("v", "cnt").groupBy("v").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .localCheckpoint(true))
    val want = partials.reduce(_ unionAll _)
      .groupBy("v").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (fanIn <- Seq(1, 2, 16)) {
      val accum = new TriangleCount.CreditAccumulator(Seq("v"), fanIn)
      partials.foreach(accum.add)
      val got = accum.result().get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"fanIn $fanIn")
    }
    assert(new TriangleCount.CreditAccumulator(Seq("v"), 4).result().isEmpty)
  }

  test("merge fan-in end-to-end: flush-forcing fanIn equals the broadcast forms") {
    // one sharded run per kernel at the default fanIn 8 (3 shards → up to 9
    // pairs → a mid-run flush once all 9 are present); vertex-keyed AND
    // edge-keyed credits
    val rnd = new scala.util.Random(58)
    val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val canonical = GraphCore.clean(edgeDF(es))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    val wantV = TriangleCount.perVertexAdjacency(canonical, oriented, adj)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantE = TriangleCount.edgeTriangleCounts(spark, oriented, adj)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotV = TriangleCount.perVertexAdjacencySharded(
        spark, canonical, oriented, adj, 3, concurrency = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotV === wantV, "per-vertex @ fanIn 8")
    val gotE = TriangleCount.edgeTriangleCountsSharded(
        spark, oriented, adj, 3, concurrency = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotE === wantE, "edge credits @ fanIn 8")
    CacheTracker.release(spark)
  }

  test("runPairJobs: a failing pair job propagates its own exception and drops queued jobs") {
    val executed = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new IllegalStateException("pair job failed")
    val jobs: Seq[() => Unit] =
      (() => { executed.incrementAndGet(); throw boom }) +:
        Seq.fill(40)(() => { Thread.sleep(5); executed.incrementAndGet(): Unit })
    val got = intercept[IllegalStateException] {
      TriangleCount.runPairJobs(spark, 2, jobs)
    }
    assert(got eq boom, "the original cause, not an ExecutionException wrapper")
    assert(executed.get() < 41, "queued jobs after the failure must be dropped")
  }

  test("broadcast budget: explicit > session conf > derived-with-cap") {
    // explicit argument wins
    assert(TriangleCount.resolveMaxBroadcastBytes(spark, 123L) === 123L)
    // session conf (size string) overrides the derivation
    spark.conf.set("spark.graft.maxBroadcastBytes", "512m")
    try assert(TriangleCount.resolveMaxBroadcastBytes(spark, TriangleCount.AutoBroadcastBytes)
      === 512L * 1024 * 1024)
    finally spark.conf.unset("spark.graft.maxBroadcastBytes")
    // no conf, no executor sizing (local mode): the basis is the ACTUAL runtime
    // heap (× memory.fraction / 4), never above the 2 GiB cap (a fixed 2 GiB
    // floor inside an 8 GiB JVM is the round-5 OOM this derivation replaces)
    // and never above 3/4 of driver.maxResultSize (the broadcast build collects
    // the relation to the driver — round 5 measured the abort past that limit)
    val derived = TriangleCount.resolveMaxBroadcastBytes(spark, TriangleCount.AutoBroadcastBytes)
    val sc = spark.sparkContext.getConf
    val frac = sc.getDouble("spark.memory.fraction", 0.6)
    val maxResult = sc.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val resultCap = if (maxResult > 0L) maxResult * 3 / 4 else Long.MaxValue
    assert(derived === math.min(math.min(TriangleCount.defaultMaxBroadcastBytes, resultCap),
      (Runtime.getRuntime.maxMemory * frac / 4).toLong))
    assert(derived > 0L)
    // pool width: conf override > constant default
    assert(TriangleCount.resolvePairConcurrency(spark) === TriangleCount.defaultPairConcurrency)
    spark.conf.set("spark.graft.pairConcurrency", "7")
    try assert(TriangleCount.resolvePairConcurrency(spark) === 7)
    finally spark.conf.unset("spark.graft.pairConcurrency")
  }

  test("a configured small budget flips auto-select to the sharded path") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    spark.conf.set("spark.graft.maxBroadcastBytes", "1")
    try {
      val df = TriangleCount.globalAdjacency(spark, oriented, adj)
      // the sharded form reduces on the driver: its result plan is a local
      // relation with no joins — the broadcast form would be an agg over joins
      assert(df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
        "tiny configured budget must route through globalAdjacencySharded")
      assert(df.first().getLong(0) === 3L)
    } finally {
      spark.conf.unset("spark.graft.maxBroadcastBytes")
      CacheTracker.release(spark)
    }
  }

  test("autoShards: caps at maxShards and sizes blocks to the budget below it") {
    assert(TriangleCount.autoShards(10L << 30, 2L << 30) === 10)
    assert(TriangleCount.autoShards(100L, 2L << 30) === 2) // floor of 2
    assert(TriangleCount.autoShards(Long.MaxValue / 4, 2L << 30) === 1024) // capped + warns
  }

  test("shard budget shrinks with pool width: concurrency×2 blocks stay within the derived heap share") {
    // broadcast-mode budget assumes 2 resident copies; a pool holds conc×2
    // blocks, so the per-pair block budget divides by conc/2 (round-5 OOM:
    // 3 shards × 4 pool jobs = 8 live blocks against a /4-derived budget)
    val b = 1L << 30
    assert(TriangleCount.resolveShardBudget(b, 1) === b)
    assert(TriangleCount.resolveShardBudget(b, 2) === b)
    assert(TriangleCount.resolveShardBudget(b, 4) === b / 2)
    assert(TriangleCount.resolveShardBudget(b, 8) === b / 4)
    // odd pool widths round UP (round-5 advice: floor let concurrency 3 keep
    // the whole budget — ~3× the documented ≤2× resident invariant)
    assert(TriangleCount.resolveShardBudget(b, 3) === b / 2)
    assert(TriangleCount.resolveShardBudget(b, 7) === b / 4)
    // end-to-end: shards sized against budget/(conc/2), so resident bytes
    // (conc × 2 × bytes/shards) never exceed 2× the broadcast-mode budget —
    // the same heap share two full broadcast copies would have used
    val bytes = 10L << 30
    val conc = 4
    val shards = TriangleCount.autoShards(bytes, TriangleCount.resolveShardBudget(b, conc))
    assert(conc * 2 * (bytes / shards) <= 2 * b)
  }

  test("edge support: per-edge counts on nvgraph8, zero rows kept, sum equals the global count") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val sup = TriangleCount.edgeSupport(spark, oriented, adj)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup.size === oriented.count()) // every oriented edge has a row
    assert(sup.values.sum === 3L)         // Σ support = triangle total
    assert(sup.values.exists(_ === 0L), "support-0 edges must keep their rows")
    // seeded random graph: Σ support == relational global count
    val rnd = new scala.util.Random(17)
    val es = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val o2 = GraphCore.orientClean(edgeDF(es))
    val total = TriangleCount.globalRelational(o2).first().getLong(0)
    val sum2 = TriangleCount.edgeSupport(spark, o2, GraphCore.adjacency(o2))
      .agg(org.apache.spark.sql.functions.sum("support")).first().getLong(0)
    assert(sum2 === total)
  }

  test("edge support: sharded twin equals the broadcast form; forced budget auto-selects it") {
    def supMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val want = supMap(TriangleCount.edgeSupport(spark, oriented, adj))
    assert(supMap(TriangleCount.edgeSupportSharded(spark, oriented, adj, 3, concurrency = 2)) === want)
    // a 1-byte budget must route through the sharded form, rows unchanged
    assert(supMap(TriangleCount.edgeSupport(spark, oriented, adj, maxBroadcastBytes = 1L)) === want)
    // seeded random differential, pooled
    val rnd = new scala.util.Random(53)
    val o2 = GraphCore.orientClean(edgeDF(
      Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))))
    val adj2 = GraphCore.adjacency(o2)
    assert(supMap(TriangleCount.edgeSupportSharded(spark, o2, adj2, 4, concurrency = 3))
      === supMap(TriangleCount.edgeSupport(spark, o2, adj2)))
    CacheTracker.release(spark)
  }

  test("edge membership: sharded twin equals the broadcast form (cross-pair credits re-aggregate)") {
    def cntMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val want = cntMap(TriangleCount.edgeTriangleCounts(spark, oriented, adj))
    assert(cntMap(TriangleCount.edgeTriangleCountsSharded(spark, oriented, adj, 3, concurrency = 2)) === want)
    assert(cntMap(TriangleCount.edgeTriangleCounts(spark, oriented, adj, maxBroadcastBytes = 1L)) === want)
    val rnd = new scala.util.Random(59)
    val o2 = GraphCore.orientClean(edgeDF(
      Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))))
    val adj2 = GraphCore.adjacency(o2)
    assert(cntMap(TriangleCount.edgeTriangleCountsSharded(spark, o2, adj2, 4, concurrency = 3))
      === cntMap(TriangleCount.edgeTriangleCounts(spark, o2, adj2)))
    CacheTracker.release(spark)
  }

  test("k-truss inherits the out-of-core escape: forced tiny budget, same surviving edges") {
    val rnd = new scala.util.Random(61)
    val oriented = GraphCore.orientClean(edgeDF(
      Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)))).localCheckpoint(true)
    val want = TriangleCount.ktrussEdges(spark, oriented, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.maxBroadcastBytes", "1")
    spark.conf.set("spark.graft.pairConcurrency", "2")
    try {
      val forced = TriangleCount.ktrussEdges(spark, oriented, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(forced === want, "every peel round must survive the sharded path")
    } finally {
      spark.conf.unset("spark.graft.maxBroadcastBytes")
      spark.conf.unset("spark.graft.pairConcurrency")
      CacheTracker.release(spark)
    }
  }

  test("k-truss peel releases round-scoped caches: tracked frames stay O(1) over a 5+-round peel") {
    // deterministic 30-vertex hash-rule graph whose k=5 peel converges only
    // after 9+ changing rounds (pinned by the maxRounds=4 differential below);
    // round-6 verdict #5: per-round persists (withW + adjacency) must be
    // released when the round's survivor set materializes, not accumulate
    // toward CacheTracker's eviction bound across a deep peel
    val es = for { i <- 0 until 30; j <- i + 1 until 30; if (i * 31 + j * 17) % 10 < 4 }
      yield (i.toLong, j.toLong)
    val oriented = GraphCore.orientClean(edgeDF(es)).localCheckpoint(true)
    val before = CacheTracker.trackedCount(spark)
    val perRound = scala.collection.mutable.ArrayBuffer.empty[Int]
    val full = TriangleCount.ktrussEdges(spark, oriented, 5,
        onRoundEnd = _ => perRound += CacheTracker.trackedCount(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(perRound.size >= 5, s"peel must run 5+ rounds, ran ${perRound.size}")
    assert(perRound.forall(_ == before),
      s"round-scoped frames must be released at end of round: $perRound (baseline $before)")
    val capped = TriangleCount.ktrussEdges(spark, oriented, 5, maxRounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped !== full, "the peel must still be in motion after 4 rounds")
    assert(full.subsetOf(capped), "later rounds only remove edges")
    CacheTracker.release(spark)
  }

  test("edge triangle membership: every triangle credits its three edges (sum = 3x total)") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val cnts = TriangleCount.edgeTriangleCounts(spark, oriented, GraphCore.adjacency(oriented))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cnts.size === oriented.count())
    assert(cnts.values.sum === 9L) // 3 triangles × 3 edges
    CacheTracker.release(spark)
  }

  test("k-truss fixpoint equals in-memory brute-force peel on fixtures and random graphs") {
    def brute(edges: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var e = edges
      var changed = true
      while (changed && e.nonEmpty) {
        val bySrc = e.groupBy(_._1)
        val cnt = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
        for {
          (a, b) <- e
          (_, c) <- bySrc.getOrElse(b, Set.empty)
          if e((a, c))
        } { cnt((a, b)) += 1; cnt((b, c)) += 1; cnt((a, c)) += 1 }
        val next = e.filter(cnt(_) >= k - 2)
        changed = next != e
        e = next
      }
      e
    }
    def run(es: Seq[(Long, Long)], k: Int): Unit = {
      val oriented = GraphCore.orientClean(edgeDF(es))
      val want = brute(
        oriented.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, k)
      val got = TriangleCount.ktrussEdges(spark, oriented, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"k=$k")
      CacheTracker.release(spark)
    }
    run(fixtures.nvgraph8, 3)
    run(fixtures.nvgraph8, 4)
    val rnd = new scala.util.Random(29)
    val es = Seq.fill(500)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    run(es, 3); run(es, 4); run(es, 5)
  }

  test("truss hierarchy nests: (k+1)-truss edges are a subset of k-truss edges") {
    val rnd = new scala.util.Random(41)
    val es = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val oriented = GraphCore.orientClean(edgeDF(es)).localCheckpoint(true)
    val byK = (3 to 6).map { k =>
      k -> TriangleCount.ktrussEdges(spark, oriented, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    (3 to 5).foreach { k =>
      assert(byK(k + 1).subsetOf(byK(k)), s"${k + 1}-truss must nest inside $k-truss")
    }
    assert(byK(3).nonEmpty, "dense random graph must retain a 3-truss")
    CacheTracker.release(spark)
  }

  test("globalAdjacency auto-selects the sharded path above the broadcast threshold") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    // threshold of 1 byte forces the out-of-core path; result must be unchanged
    val got = TriangleCount.globalAdjacency(spark, oriented, adj,
      maxBroadcastBytes = 1L).first().getLong(0)
    assert(got === 3L)
  }

  test("perVertexAdjacency auto-selects the sharded path above the broadcast threshold") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    val got = TriangleCount.perVertexAdjacency(canonical, oriented, adj,
        maxBroadcastBytes = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    CacheTracker.release(spark)
  }

  test("sharded pair jobs use broadcast hash joins — no sort-merge join of array payloads") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val blocks = GraphCore.csrBlocks(adj, 2).select(col("v"), col("block"))
    val adjB = adj.join(blocks, "v").select(col("v"), col("nbrs"), col("block"))
    val eB = oriented
      .join(blocks.select(col("v").as("src"), col("block").as("bs")), "src")
      .join(blocks.select(col("v").as("dst"), col("block").as("bd")), "dst")
      .select(col("src"), col("dst"), col("bs"), col("bd"))
    graft.expr.SortedIntersectCount.register(spark)
    val plan = TriangleCount.triangleSum(TriangleCount.pairProbe(eB, adjB, 0L, 0L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"array payload must never sort-merge:\n$plan")
    CacheTracker.release(spark)
  }

  test("one block pair's per-vertex credits run the probe once: exactly two broadcast hash joins") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val (eB, adjB) = TriangleCount.blockTagged(oriented, GraphCore.adjacency(oriented), 2)
    val plan = TriangleCount.vertexCredits(TriangleCount.pairProbe(eB, adjB, 0L, 0L))
      .queryExecution.sparkPlan
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size === 2, s"endpoint and witness credits must share one probe:\n$plan")
    CacheTracker.release(spark)
  }

  test("every adjacency output announces a forced sharded placement in the benchmark's format") {
    // perfbench/run.py reads placement.shards from this line with this pattern
    val placementLine = """auto-selecting the (?:per-vertex )?sharded kernel \((\d+) shards""".r
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    val outputs = Seq[(String, () => Unit)](
      "global" -> (() => TriangleCount.globalAdjacency(spark, oriented, adj, maxBroadcastBytes = 1L)),
      "per-vertex" -> (() => TriangleCount.perVertexAdjacency(canonical, oriented, adj, maxBroadcastBytes = 1L)),
      "edge-support" -> (() => TriangleCount.edgeSupport(spark, oriented, adj, maxBroadcastBytes = 1L)),
      "edge-membership" -> (() => TriangleCount.edgeTriangleCounts(spark, oriented, adj, maxBroadcastBytes = 1L)))
    for ((output, run) <- outputs) {
      val err = new java.io.ByteArrayOutputStream()
      Console.withErr(err)(run())
      val lines = err.toString("UTF-8").linesIterator.filter(placementLine.findFirstIn(_).nonEmpty).toSeq
      assert(lines.size === 1, s"$output: one decision line, got $lines")
      assert(lines.head.startsWith(s"[TriangleCount] $output: "), lines.head)
      val placementLine(shards) = placementLine.findFirstIn(lines.head).get
      assert(shards.toInt >= 2, lines.head)
    }
    CacheTracker.release(spark)
  }
}

class GraphCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("clean: canonical src<dst, no loops, no dups") {
    val out = GraphCore.clean(edgeDF(fixtures.dupEdges ++ Seq((7L, 7L)))).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.length === 3)
  }

  test("orientation: every cleaned edge appears exactly once, low-degree to high-degree, id tie-break (report.md:7)") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val deg = GraphCore.degrees(canonical)
    val oriented = GraphCore.orient(canonical, deg)
    assert(oriented.count() === canonical.count())
    // undirected closure identical
    val a = canonical.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = oriented.collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(a === b)
    // rule: deg(src) < deg(dst) or (equal and src < dst)
    val d = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    oriented.collect().foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(d(u) < d(v) || (d(u) == d(v) && u < v), s"bad orientation ($u,$v)")
    }
  }

  test("adjacency: sorted ascending, deg = |nbrs|, out-degree bounded") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    GraphCore.adjacency(oriented).collect().foreach { r =>
      val nbrs = r.getSeq[Long](2)
      assert(nbrs == nbrs.sorted)
      assert(r.getLong(1) === nbrs.length.toLong)
    }
  }

  test("csrPartitioned: vertex-contiguous ordered partitions, content preserved") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val adj = GraphCore.adjacency(GraphCore.orientClean(edgeDF(es)))
    val csr = GraphCore.csrPartitioned(adj, 4)
    import org.apache.spark.sql.functions.spark_partition_id
    val rows = csr.select(spark_partition_id().as("pid"), org.apache.spark.sql.functions.col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // within each partition ids are sorted, and partition ranges do not overlap
    val byPid = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    byPid.values.foreach(vs => assert(vs == vs.sorted))
    val ranges = byPid.toSeq.sortBy(_._1).map { case (_, vs) => (vs.min, vs.max) }
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
    assert(csr.count() === adj.count())
  }

  test("degrees match hand-computed values on nvgraph8") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val got = GraphCore.degrees(canonical).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 5L -> 2L))
  }

  test("globalPerKey: per-key isolation, zero rows kept for triangle-free keys") {
    val s = spark
    import s.implicits._
    // day A closes {1,2,3}; day B has (1,2),(2,3) — a triangle ONLY if day A's
    // (1,3) leaked across the key boundary; day C is a lone edge
    val keyed = Seq(
      ("A", 1L, 2L), ("A", 2L, 3L), ("A", 1L, 3L), ("A", 3L, 9L),
      ("B", 1L, 2L), ("B", 2L, 3L),
      ("C", 7L, 8L)).toDF("day", "src", "dst")
    val got = TriangleCount.globalPerKey(keyed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 1L, "B" -> 0L, "C" -> 0L))
  }

  test("edgesFromEventsDaily: lag stream resets at day boundaries (two-day fixture)") {
    val s = spark
    import s.implicits._
    val ts = (x: String) => java.sql.Timestamp.valueOf(x)
    // one event_type stream spanning two days; users 1,2,3,1 on day 1 close a
    // triangle, users 4,5,6 on day 2 form a path. The day-1→day-2 boundary pair
    // (1,4) must NOT become an edge — the per-day window resets the stream.
    val events = Seq(
      (10L, ts("2024-01-01 10:00:00"), 1L, "t"),
      (11L, ts("2024-01-01 10:01:00"), 2L, "t"),
      (12L, ts("2024-01-01 10:02:00"), 3L, "t"),
      (13L, ts("2024-01-01 10:03:00"), 1L, "t"),
      (20L, ts("2024-01-02 09:00:00"), 4L, "t"),
      (21L, ts("2024-01-02 09:01:00"), 5L, "t"),
      (22L, ts("2024-01-02 09:02:00"), 6L, "t"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft-daily").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val edges = Ingest.edgesFromEventsDaily(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(edges === Set(
      ("2024-01-01", 1L, 2L), ("2024-01-01", 2L, 3L), ("2024-01-01", 1L, 3L),
      ("2024-01-02", 4L, 5L), ("2024-01-02", 5L, 6L)))
    val tri = TriangleCount.globalPerKey(Ingest.edgesFromEventsDaily(spark, dir))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(tri === Map("2024-01-01" -> 1L, "2024-01-02" -> 0L))
  }
}
