package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Graph analytics (ops/Graph.scala): the integer-micro-unit PageRank
  * must match a sequential driver replay BIT-FOR-BIT (same floor
  * divisions, any partitioning), and the structural sanity results
  * (hubs rank highest, mass is conserved up to floor loss) must hold. */
class GraphSpec extends SparkSpec {

  /** Sequential replay of Graph.pageRank's exact integer contract:
    * rank0 = 10^12; share = rank div deg; rank' = 0.15·10^12 +
    * (85·Σshares) div 100. Floor divisions in the same places. */
  private def brute(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[Long, Long] = deg.keys.map(_ -> 1000000000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = deg.keys.map { n =>
        n -> (150000000000L + (85L * contrib.getOrElse(n, 0L)) / 100L)
      }.toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 1): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    Graph.pageRank(df, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def symmetrize(e: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (e ++ e.map(_.swap)).distinct

  /** Spark jobs started while `body` runs (the PartnerTagSpec listener
    * pattern), with the listener bus drained on both sides so the count
    * holds exactly this body's jobs. */
  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; TestBus.drain(sc) } finally sc.removeSparkListener(listener)
    n.get
  }

  test("pageRank matches the sequential integer replay exactly on a random graph") {
    // deterministic pseudo-random graph (seeded randomness is banned in
    // the ENGINE, not in test fixtures driving it)
    val rnd = new scala.util.Random(42)
    val edges = symmetrize(
      Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b })
    for (iters <- Seq(1, 3)) {
      assert(run(edges, iters) == brute(edges, iters),
        s"distributed pageRank diverged from the sequential replay at iters=$iters")
    }
  }

  test("pageRank is bit-identical under repartitioning") {
    val rnd = new scala.util.Random(7)
    val edges = symmetrize(
      Seq.fill(80)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter { case (a, b) => a != b })
    assert(run(edges, 3, parts = 1) == run(edges, 3, parts = 7),
      "integer floor-division ranks must not depend on partitioning")
  }

  test("labelPropagation matches the sequential min-tie-break replay") {
    import spark.implicits._
    def bruteLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nbrs = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
      var lab = nbrs.keys.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lab = nbrs.map { case (n, ns) =>
          val counts = ns.groupBy(lab).map { case (l, xs) => l -> xs.size }
          val topN = counts.values.max
          n -> counts.filter(_._2 == topN).keys.min
        }
      }
      lab
    }
    val rnd = new scala.util.Random(23)
    val edges = symmetrize(
      Seq.fill(90)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
        .filter { case (a, b) => a != b })
    val df = edges.toDF("src", "dst")
    def toMap(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(toMap(Graph.labelPropagation(df, 3).collect()) == bruteLpa(edges, 3),
      "distributed LPA diverged from the sequential min-tie-break replay")
  }

  test("every loop's broadcast and shuffle arms agree, fixed and converge") {
    // the size-adaptive dispatch (broadcastMaxNodes) must be a pure
    // execution-shape choice: a zero threshold forces the large-graph
    // shuffle arm, compared row for row against the broadcast arm
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val g = symmetrize(
      Seq.fill(100)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }).toDF("src", "dst")
    // converge runs need graphs that reach their integer fixed point in a
    // few rounds: a triangle (uniform or all-seeded mass is already
    // fixed) and two triangles joined by a bridge (LPA)
    val tri = symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L))).toDF("src", "dst")
    val two = symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))).toDF("src", "dst")
    val seeds = Some(Seq(0L, 5L).toDF("node"))
    val all = Some(Seq(0L, 1L, 2L).toDF("node"))
    val runs: Seq[(String, Long => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (b => Graph.pageRank(g, 3, broadcastMaxNodes = b)),
      "pageRank converge" -> (b => Graph.pageRank(tri, 3, converge = true,
        maxIters = 10, broadcastMaxNodes = b)),
      "ppr" -> (b => Graph.pageRank(g, 3, seeds = seeds, broadcastMaxNodes = b)),
      "ppr converge" -> (b => Graph.pageRank(tri, 3, converge = true,
        maxIters = 10, seeds = all, broadcastMaxNodes = b)),
      "lpa" -> (b => Graph.labelPropagation(g, 3, broadcastMaxNodes = b)),
      "lpa converge" -> (b => Graph.labelPropagation(two, 3, converge = true,
        maxIters = 20, broadcastMaxNodes = b)))
    for ((name, run) <- runs) {
      def rows(b: Long) = run(b).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val broadcastArm = rows(Graph.BroadcastMaxNodes)
      assert(broadcastArm.nonEmpty, name)
      assert(rows(0L) == broadcastArm,
        s"$name: execution-shape dispatch changed the integer results")
    }
  }

  test("job budget: no graph call runs more Spark jobs than its pinned count") {
    // jobs per call are deterministic on a fixed input, while wall time
    // is not; the budgets are the counts the per-algorithm loops ran
    // before they shared one round driver, so a round that starts paying
    // an extra job fails here
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val g = symmetrize(
      Seq.fill(60)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter { case (a, b) => a != b }).toDF("src", "dst")
    val weighted = g.withColumn("w", (col("src") + col("dst")) % 7 + 1)
    val seeds = Seq(0L, 5L).toDF("node")
    val tri = symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L))).toDF("src", "dst")
    val two = symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))).toDF("src", "dst")
    val core = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 100L), (100L, 101L), (101L, 102L), (102L, 103L)).toDF("a", "b")
    val budgets: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("pageRank", 13, () => graft.Graft.pageRank(g, 3)),
      ("personalizedPageRank", 16, () => graft.Graft.personalizedPageRank(g, seeds, 3)),
      ("labelPropagation", 11, () => graft.Graft.labelPropagation(g, 3)),
      ("bfs", 19, () => graft.Graft.bfs(g, seeds, 4)),
      ("sssp", 15, () => graft.Graft.sssp(weighted, seeds, 4)),
      ("kCorePeel", 10, () => Graph.kCorePeel(core, 2, 3)),
      ("kCore", 28, () => graft.Graft.kCore(core, 2, src = "a", dst = "b")),
      ("pageRank converge", 12,
        () => graft.Graft.pageRank(tri, converge = true, maxIters = 10)),
      ("personalizedPageRank converge", 16,
        () => graft.Graft.personalizedPageRank(tri, Seq(0L, 1L, 2L).toDF("node"),
          converge = true, maxIters = 10)),
      ("labelPropagation converge", 26,
        () => graft.Graft.labelPropagation(two, converge = true, maxIters = 20)),
      // the shuffle arms (broadcastMaxNodes = 0), the 100 TB shape
      ("pageRank shuffle arm", 21, () => Graph.pageRank(g, 3, broadcastMaxNodes = 0L)),
      ("personalizedPageRank shuffle arm", 26,
        () => Graph.pageRank(g, 3, seeds = Some(seeds), broadcastMaxNodes = 0L)),
      ("labelPropagation shuffle arm", 11,
        () => Graph.labelPropagation(g, 3, broadcastMaxNodes = 0L)))
    for ((name, budget, call) <- budgets) {
      val jobs = jobsOf(call().collect())
      assert(jobs <= budget, s"$name ran $jobs jobs; its budget is $budget")
    }
  }

  test("the hub of a star graph gets the highest rank; mass is conserved up to floor loss") {
    // star: node 0 ↔ nodes 1..10
    val edges = symmetrize((1L to 10L).map(i => (0L, i)))
    val ranks = run(edges, 3)
    val hub = ranks(0L)
    assert((1L to 10L).forall(i => ranks(i) < hub),
      s"star hub must dominate: $ranks")
    // every iteration floors at most 1 micro-unit per (edge share, node
    // restart) term; after 3 rounds total mass stays within that loss
    val total = ranks.values.sum
    val ideal = 11L * 1000000000000L
    assert(total <= ideal && total > ideal - 3L * (edges.size + 11L) * 2L,
      s"mass not conserved: $total vs $ideal")
  }

  test("pageRank rejects an unbounded iteration request") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { Graph.pageRank(df, 0) }
    intercept[IllegalArgumentException] { Graph.pageRank(df, 21) }
  }

  /** All triangles of an undirected edge set, the O(n³) way. */
  private def bruteTriangles(edges: Set[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val und = edges ++ edges.map { case (a, b) => (b, a) }
    val nodes = und.map(_._1).toSeq.sorted
    for {
      i <- nodes; j <- nodes if j > i && und((i, j))
      k <- nodes if k > j && und((i, k)) && und((j, k))
    } yield (i, j, k)
  }

  test("triangleCounts matches brute force on random graphs, at any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 25 + trial * 5
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.15
      } yield (a, b)).toSet
      val expected = bruteTriangles(edges)
        .flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      // feed MESSY input: duplicates, both orientations, self-loops —
      // the facade must canonicalize all of it away
      val messy = edges.toSeq.flatMap { case (a, b) =>
        Seq((a, b), (b, a), (a, b)) } ++ Seq((3L, 3L))
      for (parts <- Seq(1, 7)) {
        val got = graft.Graft
          .triangleCounts(messy.toDF("src", "dst").repartition(parts))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected,
          s"trial $trial parts $parts: $got vs $expected")
      }
    }
  }

  test("pageRank(converge) equals a long fixed-round run, and the fixed point is stable") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val raw = (for {
      a <- 0L until 24; b <- (a + 1) until 24 if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    val edges = symmetrize(raw).toDF("src", "dst")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val convDf = graft.Graft.pageRank(edges, converge = true,
      maxIters = 300).localCheckpoint(true)
    val conv = toMap(convDf)
    // exact-fixed-point identity: one more step of the SAME integer map
    // changes nothing. The map is deterministic with a unique
    // trajectory and an absorbing fixed point, so this identity is
    // equivalent to bit-equality with EVERY fixed-round run long
    // enough to have converged (damping 0.85 needs ~170 rounds to mix
    // down to the 10^-12 integer grain — past the fixed-round mode's
    // unrolled-plan cap, which is exactly why converge mode exists)
    val stepped = toMap(Graph.pageRankStep(edges, convDf))
    assert(stepped == conv, "converged vector is not a fixed point")
    // and five more steps stay put — the "long fixed-round run
    // continued past convergence" replay
    val chain = (1 to 5).foldLeft(convDf)((r, _) =>
      Graph.pageRankStep(edges, r).localCheckpoint(true))
    assert(toMap(chain) == conv)
    // determinism: an independent converge run lands identically
    val again = toMap(graft.Graft.pageRank(edges, converge = true,
      maxIters = 300))
    assert(again == conv)
  }

  test("labelPropagation(converge) reaches the fixed-round fixed point") {
    import spark.implicits._
    // two triangles joined by one bridge edge — converges in a few
    // rounds to the min-label communities
    val raw = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
    val edges = symmetrize(raw).toDF("src", "dst")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val conv = toMap(graft.Graft.labelPropagation(edges, converge = true,
      maxIters = 50))
    val fixed = toMap(graft.Graft.labelPropagation(edges, iters = 12))
    assert(conv == fixed)
  }

  test("kCore convergence equals a deep fixed-round peel and is the true core") {
    import spark.implicits._
    // a triangle (the 2-core) with a pendant PATH: at k = 2 the path
    // interior nodes all start at degree 2, so the peel removes only
    // the current endpoint each round — a genuine multi-round cascade
    // (4 rounds deep), not a single-shot filter
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val path = Seq((2L, 100L), (100L, 101L), (101L, 102L), (102L, 103L))
    val edges = (tri ++ path).toDF("a", "b")
    val conv = graft.Graft.kCore(edges, k = 2, src = "a", dst = "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == Map(0L -> 2L, 1L -> 2L, 2L -> 2L),
      s"2-core must be exactly the triangle: $conv")
    val fixedRound = Graph.kCorePeel(edges, k = 2, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == fixedRound)
  }

  test("orientEdges' broadcast and shuffle degree-attach arms agree exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (for {
      a <- 0L until 30; b <- (a + 1) until 30 if rnd.nextDouble() < 0.2
    } yield (a, b)).toDF("a", "b")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // broadcastMaxNodes = 0 forces the shuffle-join arm on the same
    // input — the 100 TB path must orient every edge identically
    val small = canon(Graph.orientEdges(edges))
    val large = canon(Graph.orientEdges(edges, broadcastMaxNodes = 0L))
    assert(small == large, s"dispatch arms diverge: $small vs $large")
    assert(small.nonEmpty)
  }

  /** sequential BFS replay: min hops from any seed, capped at maxHops */
  private def bruteBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (r <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- dist.keySet
      dist ++= next.map(_ -> r.toLong)
      frontier = next
    }
    dist
  }

  private def runBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int, parts: Int = 1): Map[Long, Long] = {
    import spark.implicits._
    Graph.bfs(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("node"), maxHops).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs matches the sequential replay, respects the horizon, exits early") {
    val path = symmetrize(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (10L, 11L))) // a 6-path plus an unreachable pair
    assert(runBfs(path, Seq(0L), 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // horizon caps distance...
    assert(runBfs(path, Seq(0L), 2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // ...and hops beyond the diameter change nothing (early exit keeps
    // the full-coverage answer identical at any larger horizon)
    val full = Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L)
    assert(runBfs(path, Seq(0L), 5) == full)
    assert(runBfs(path, Seq(0L), 16) == full)
  }

  /** Sequential replay of personalized pageRank's integer contract: r0 = 10^12
    * on seeds else 0; share = rank div deg; rank' = (seed ? 0.15·10^12
    * : 0) + (85·Σshares) div 100. */
  private def brutePpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[Long, Long] =
      deg.keys.map(n => n -> (if (seeds(n)) 1000000000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = deg.keys.map { n =>
        n -> ((if (seeds(n)) 150000000000L else 0L) +
          (85L * contrib.getOrElse(n, 0L)) / 100L)
      }.toMap
    }
    rank
  }

  test("personalized PageRank matches the sequential replay and confines restart to seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = symmetrize(
      Seq.fill(100)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b })
    val seeds = Seq(0L, 5L)
    def run(parts: Int) = Graph.pageRank(
        edges.toDF("src", "dst").repartition(parts), iters = 3,
        seeds = Some(seeds.toDF("node"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = brutePpr(edges, seeds.toSet, 3)
    assert(run(1) == want,
      "distributed personalized PageRank diverged from the sequential replay")
    assert(run(7) == want, "PPR must not depend on partitioning")
    // restart bias: a far-from-seed node must rank strictly below a seed
    assert(want(0L) > 0L && want.values.sum > 0L)
  }

  test("personalized PageRank(converge): exact fixed point, loud exhaustion, loud 2-cycle") {
    import spark.implicits._
    def toMap(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // triangle with ALL nodes seeded: perfectly symmetric mass, so the
    // exact fixed point (every rank = 10^12) lands in one round — this
    // pins the converge mechanics without paying the ~170-round mixing
    // a generic graph needs to reach the integer grain
    val tri = symmetrize(Seq((0L, 1L), (1L, 2L), (0L, 2L))).toDF("src", "dst")
    val all = Seq(0L, 1L, 2L).toDF("node")
    val convDf = graft.Graft.personalizedPageRank(tri, all,
      converge = true, maxIters = 5).localCheckpoint(true)
    val conv = toMap(convDf)
    assert(conv == Map(0L -> 1000000000000L, 1L -> 1000000000000L,
      2L -> 1000000000000L))
    // step identity: one more application of the same integer map
    // changes nothing (equivalent to equality with every long-enough
    // fixed-round run — the pageRank converge argument)
    assert(toMap(Graph.pprStep(tri, all, convDf)) == conv,
      "converged PPR vector is not a fixed point")
    // loud exhaustion: a single-seed run cannot mix to the integer
    // grain in 2 rounds — the converge mode must raise, not return a
    // half-mixed vector
    val e = intercept[RuntimeException] {
      graft.Graft.personalizedPageRank(tri, Seq(0L).toDF("node"),
        converge = true, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not reach"), e.getMessage)
  }

  test("personalized PageRank(converge) detects an integer-grain 2-cycle and raises") {
    import spark.implicits._
    // this 5-node graph with seed {0} enters a period-2 oscillation at
    // the integer grain ~round 42 (found by sequential search over the
    // exact integer map; the floor map is not monotone) — converge
    // mode must detect it AT ONSET and raise the documented error,
    // not burn maxIters rounds or return an arbitrary phase
    val edges = symmetrize(Seq((0L, 1L), (0L, 2L), (0L, 4L), (1L, 2L),
      (1L, 4L), (2L, 3L), (2L, 4L))).toDF("src", "dst")
    val e = intercept[RuntimeException] {
      graft.Graft.personalizedPageRank(edges, Seq(0L).toDF("node"),
        converge = true, maxIters = 100).collect()
    }
    assert(e.getMessage.contains("oscillates with period 2"), e.getMessage)
  }

  test("bfs multi-source takes the NEAREST seed and is partitioning-invariant") {
    val rnd = new scala.util.Random(11)
    val edges = symmetrize(
      Seq.fill(90)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b })
    val seeds = Seq(0L, 7L, 19L)
    val want = bruteBfs(edges, seeds.toSet, 3)
    assert(runBfs(edges, seeds, 3) == want,
      "distributed BFS diverged from the sequential replay")
    assert(runBfs(edges, seeds, 3, parts = 7) == want,
      "BFS distances must not depend on partitioning")
  }

  /** Sequential Bellman-Ford replay of [[Graph.sssp]]'s contract:
    * after r rounds, the cheapest cost over paths of ≤ r edges. */
  private def bruteSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (s, t, w) =>
        dist.get(s).map(d => t -> (d + w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  private def runSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int, parts: Int = 1): Map[Long, Long] = {
    import spark.implicits._
    Graph.sssp(edges.toDF("src", "dst", "w").repartition(parts),
        seeds.toDF("node"), rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("sssp matches the Bellman-Ford replay and prefers cheap detours") {
    // 0→1→2 costs 1+1=2, beating the direct 0→2 edge of cost 5; node
    // 3 is reachable only via the expensive edge; 10–11 is unreachable
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 5L),
      (2L, 3L, 7L), (10L, 11L, 1L))
    val want = bruteSssp(edges, Set(0L), 4)
    assert(want(2L) == 2L && want(3L) == 9L) // fixture sanity
    assert(runSssp(edges, Seq(0L), 4) == want,
      "distributed SSSP diverged from the Bellman-Ford replay")
    assert(runSssp(edges, Seq(0L), 4, parts = 5) == want,
      "SSSP costs must not depend on partitioning")
    // one round only reaches 1-edge paths: the direct 0→2 edge wins
    assert(runSssp(edges, Seq(0L), 1) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 5L))
  }
}
