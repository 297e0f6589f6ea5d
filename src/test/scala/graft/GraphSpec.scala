package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Weighted-PageRank contracts: hand-checkable structure, probability
  * conservation, dangling redistribution, and exact agreement with a
  * driver-side reference that mirrors the operator's documented
  * src-ordered fold (the cross-engine-determinism convention q117's
  * oracle rides on).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Int, Int, Long)], nodes: Seq[Int],
                      iters: Int): Map[Int, Double] =
    Graph.pageRank(
        edges.toDF("src", "dst", "w"),
        nodes.toDF("node"), iters)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** Driver-side reference with the SAME arithmetic shape: teleport
    * precomputed as (1-d)/N, contributions summed in src order from a
    * 0.0 seed, dangling mass summed in node order. */
  private def reference(edges: Seq[(Int, Int, Long)], nodes: Seq[Int],
                        iters: Int, d: Double = 0.85): Map[Int, Double] = {
    val n = nodes.size.toDouble
    val teleport = (1.0 - d) / n
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dang = nodes.sorted.filterNot(wout.contains)
        .foldLeft(0.0)((acc, u) => acc + rank(u))
      rank = nodes.map { v =>
        val inflow = edges.filter(_._2 == v).sortBy(_._1)
          .foldLeft(0.0) { case (acc, (u, _, w)) =>
            acc + rank(u) * (w.toDouble / wout(u).toDouble)
          }
        v -> (teleport + d * (inflow + dang / n))
      }.toMap
    }
    rank
  }

  test("two-node cycle: symmetric ranks, mass conserved") {
    val r = ranksOf(Seq((1, 2, 5L), (2, 1, 3L)), Seq(1, 2), iters = 4)
    r(1) shouldBe r(2) // symmetry: weights only scale out-edges, both route 100%
    (r(1) + r(2)) shouldBe 1.0 +- 1e-12
  }

  test("weighted star: heavier edge earns proportionally more rank") {
    // hub 0 routes 3/4 of its mass to 1, 1/4 to 2; leaves return to hub
    val edges = Seq((0, 1, 3L), (0, 2, 1L), (1, 0, 1L), (2, 0, 1L))
    val r = ranksOf(edges, Seq(0, 1, 2), iters = 8)
    r(1) should be > r(2)
    // conditional on leaving the hub, rank beyond teleport splits 3:1
    val t = 0.15 / 3
    ((r(1) - t) / (r(2) - t)) shouldBe 3.0 +- 1e-6
    (r(0) + r(1) + r(2)) shouldBe 1.0 +- 1e-12
  }

  test("dangling node redistributes mass uniformly; total stays 1") {
    // 3 absorbs from 1 and emits nothing — without redistribution the
    // total would leak every iteration
    val edges = Seq((1, 2, 1L), (1, 3, 1L), (2, 1, 1L))
    val r = ranksOf(edges, Seq(1, 2, 3), iters = 6)
    r.values.sum shouldBe 1.0 +- 1e-12
    r(1) should be > r(3) // 3 only receives; 1 is the graph's center
  }

  test("isolated node (in no edge at all) keeps teleport + dangling share") {
    val edges = Seq((1, 2, 1L), (2, 1, 1L))
    val r = ranksOf(edges, Seq(1, 2, 9), iters = 3)
    r.keySet shouldBe Set(1, 2, 9)
    r.values.sum shouldBe 1.0 +- 1e-12
    r(9) should be < r(1)
  }

  test("bit-exact agreement with the src-ordered driver reference") {
    val edges = Seq((0, 1, 7L), (0, 2, 2L), (1, 2, 4L), (2, 0, 1L),
      (3, 0, 5L), (1, 3, 9L))
    val nodes = Seq(0, 1, 2, 3, 4) // 4 is isolated+dangling
    val got = ranksOf(edges, nodes, iters = 3)
    val want = reference(edges, nodes, iters = 3)
    nodes.foreach { v => got(v) shouldBe want(v) } // EXACT doubles, no tolerance
  }

  test("zero iterations returns the uniform prior") {
    val r = ranksOf(Seq((1, 2, 1L)), Seq(1, 2, 3, 4), iters = 0)
    r.values.toSet shouldBe Set(0.25)
  }

  test("property: random graphs agree bit-exactly with the reference and conserve mass") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgesGen: Gen[List[(Int, Int, Long)]] = for {
      nEdges <- Gen.choose(0, 12)
      edges <- Gen.listOfN(nEdges, for {
        s <- Gen.choose(0, 5)
        t <- Gen.choose(0, 5)
        w <- Gen.choose(1L, 9L)
      } yield (s, t, w))
    } yield edges
      // pre-aggregate parallel edges (the operator's documented contract)
      .groupBy(e => (e._1, e._2)).map { case ((s, t), es) => (s, t, es.map(_._3).sum) }
      .toList
    val prop = Prop.forAll(edgesGen) { edges =>
      val nodes = (0 to 5).toList
      val got = ranksOf(edges, nodes, iters = 2)
      // each run persists its iteration chain; drop the entries so the
      // shared test JVM's cache manager doesn't accumulate plan trees
      // across samples (observed OOM at ~15 retained runs)
      spark.sharedState.cacheManager.clearCache()
      val want = reference(edges, nodes, iters = 2)
      val exact = nodes.forall(v => got(v) == want(v)) // EXACT doubles
      val conserved = math.abs(got.values.sum - 1.0) < 1e-9
      exact && conserved
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, s"pagerank-vs-reference: ${res.status}")
  }

  // ------------------------------------------------------------- HITS

  private def hitsOf(edges: Seq[(Int, Int, Long)], nodes: Seq[Int],
                     iters: Int): Map[Int, (Double, Double)] =
    Graph.hits(edges.toDF("src", "dst", "w"), nodes.toDF("node"), iters)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  test("hits: star pointing at one node makes it the sole authority; " +
      "pointers share hub mass by weight; both scores are L1-normalized") {
    // 1,2,3 all point at 0; 3's edge is twice as heavy
    val got = hitsOf(Seq((1, 0, 1L), (2, 0, 1L), (3, 0, 2L)), Seq(0, 1, 2, 3), iters = 2)
    spark.sharedState.cacheManager.clearCache()
    got(0)._2 shouldBe 1.0 // all authority mass on the hub target
    got(0)._1 shouldBe 0.0 // and it points at nothing
    got(3)._1 shouldBe 0.5 // weight-2 pointer carries 2/(1+1+2) of hub mass
    got(1)._1 shouldBe 0.25
    got(1)._2 shouldBe 0.0
    math.abs(got.values.map(_._1).sum - 1.0) should be < 1e-12
    math.abs(got.values.map(_._2).sum - 1.0) should be < 1e-12
  }

  test("hits: driver reference agreement, exact doubles, on a mixed graph") {
    val edges = Seq((0, 1, 3L), (0, 2, 1L), (1, 2, 2L), (2, 0, 1L), (3, 2, 5L))
    val nodes = Seq(0, 1, 2, 3, 4) // 4 isolated
    val got = hitsOf(edges, nodes, iters = 2)
    spark.sharedState.cacheManager.clearCache()
    // driver reference with the same ordered folds + L1 normalizers
    var hub = nodes.map(_ -> 1.0 / nodes.size).toMap
    var auth = Map.empty[Int, Double]
    for (_ <- 0 until 2) {
      val aRaw = nodes.map { v =>
        v -> edges.filter(_._2 == v).sortBy(_._1)
          .foldLeft(0.0) { case (acc, (u, _, w)) => acc + hub(u) * w.toDouble }
      }.toMap
      val aTot = nodes.sorted.foldLeft(0.0)((acc, v) => acc + aRaw(v))
      auth = aRaw.map { case (v, x) => v -> x / aTot }
      val hRaw = nodes.map { u =>
        u -> edges.filter(_._1 == u).sortBy(_._2)
          .foldLeft(0.0) { case (acc, (_, v, w)) => acc + auth(v) * w.toDouble }
      }.toMap
      val hTot = nodes.sorted.foldLeft(0.0)((acc, v) => acc + hRaw(v))
      hub = hRaw.map { case (u, x) => u -> x / hTot }
    }
    nodes.foreach { v =>
      got(v)._1 shouldBe hub(v)  // EXACT
      got(v)._2 shouldBe auth(v)
    }
    // isolated node carries no mass in either role
    got(4) shouldBe ((0.0, 0.0))
  }

  private def triStats(edges: Seq[(Int, Int)]): (Long, Long, Long, Long, Double) = {
    val r = Graph.triangleStats(edges.toDF("src", "dst")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("triangleStats: hand-checkable census; direction/dups/self-loops normalized") {
    // K4 on {1,2,3,4}: 6 edges, 4 triangles, 12 wedges, clustering 1.0
    val k4 = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a, b)
    triStats(k4) shouldBe ((4L, 6L, 12L, 4L, 1.0))
    // triangle + pendant: 1-2-3 closed, 4 hangs off 1.
    // wedges: deg(1)=3 -> 3, deg(2)=deg(3)=2 -> 1 each, deg(4)=1 -> 0; W=5
    triStats(Seq((1, 2), (2, 3), (3, 1), (1, 4))) shouldBe
      ((4L, 4L, 5L, 1L, 3.0 / 5.0))
    // reversed duplicates + self-loops collapse to the same graph
    triStats(Seq((1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 4), (4, 1), (2, 2))) shouldBe
      ((4L, 4L, 5L, 1L, 3.0 / 5.0))
    // hot-hub star: many wedges, zero closure
    val star = (2 to 40).map(b => (1, b))
    val (n, e, w, t, _) = triStats(star)
    (n, e, t) shouldBe ((40L, 39L, 0L))
    w shouldBe 39L * 38L / 2L
  }

  // ---------------- label propagation + modularity (q183 kernels)

  private def lpaOf(edges: Seq[(Int, Int, Long)], nodes: Seq[Int],
                    iters: Int): Map[Int, Int] =
    Graph.labelPropagation(edges.toDF("src", "dst", "w"),
        nodes.toDF("node"), iters)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

  private def modOf(edges: Seq[(Int, Int, Long)], labels: Map[Int, Int]): Double =
    Graph.modularity(edges.toDF("src", "dst", "w"),
        labels.toSeq.toDF("node", "community"))
      .collect().head.getDouble(1)

  test("labelPropagation: two weighted cliques joined by a weak bridge split into the cliques") {
    val cliqueA = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a, b, 10L)
    val cliqueB = for (a <- 5 to 8; b <- 5 to 8 if a < b) yield (a, b, 10L)
    val edges = cliqueA ++ cliqueB :+ ((4, 5, 1L))
    val got = lpaOf(edges, 1 to 8, iters = 4)
    // each clique collapses to its min label; the weak bridge doesn't merge them
    (1 to 4).foreach(v => got(v) shouldBe 1)
    (5 to 8).foreach(v => got(v) shouldBe 5)
    // modularity of the found split beats the all-one-community split
    // (which is exactly 0 by the formula) and the singleton split
    val q = modOf(edges, got)
    q should be > modOf(edges, (1 to 8).map(_ -> 1).toMap)
    q should be > modOf(edges, (1 to 8).map(v => v -> v).toMap)
    modOf(edges, (1 to 8).map(_ -> 1).toMap) shouldBe 0.0
  }

  test("labelPropagation: deterministic tie-break (smallest label) and partition independence") {
    // perfect symmetry: a 4-cycle with equal weights — every node sees
    // two equally-weighted neighbor labels each round; the smallest
    // must win identically everywhere
    val square = Seq((1, 2, 5L), (2, 3, 5L), (3, 4, 5L), (4, 1, 5L))
    val a = lpaOf(square, 1 to 4, iters = 3)
    val b = Graph.labelPropagation(
        square.toDF("src", "dst", "w").repartition(7),
        (1 to 4).toDF("node").repartition(3), iters = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    b shouldBe a
    // isolated node keeps its own label
    val c = lpaOf(square, 1 to 5, iters = 3)
    c(5) shouldBe 5
    // zero iterations = identity labeling
    lpaOf(square, 1 to 4, iters = 0) shouldBe (1 to 4).map(v => v -> v).toMap
  }

  test("labelPropagation: hot-node star two-cycles deterministically; direction and dup edges don't matter") {
    // wave-2 hot-node shape: hub 1 with 39 spokes. A star is bipartite,
    // so SYNCHRONOUS updates two-cycle (hub and spokes swap labels each
    // round) — the documented reason the operator runs a FIXED
    // iteration count that the oracle unrolls identically. Pin the
    // cycle itself: odd-round states equal, and the label set stays
    // bounded at {hub-side, spoke-side} — never divergent, never
    // nondeterministic.
    val star = (2 to 40).map(b => (1, b, 3L))
    val s1 = lpaOf(star, 1 to 40, iters = 1)
    val s3 = lpaOf(star, 1 to 40, iters = 3)
    s3 shouldBe s1
    s1.values.toSet.size shouldBe 2 // all 39 spokes unified, hub apart
    (2 to 40).map(s1).toSet.size shouldBe 1
    // reversed duplicates and self-loops normalize away to the same state
    val messy = star ++ star.map { case (a, b, w) => (b, a, w) } :+ ((1, 1, 99L))
    lpaOf(messy, 1 to 40, iters = 3) shouldBe s3
  }

  test("kCore: hand-checked peeling depths, empty core, idempotence") {
    // triangle {1,2,3} — chain 3-4-5 — bridge 5-6 — 4-clique {6,7,8,9}
    val edges = Seq((1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6),
      (6, 7), (6, 8), (6, 9), (7, 8), (7, 9), (8, 9)).toDF("a", "b")
    def coreSet(k: Int) = {
      val e = Graph.kCore(edges, k).collect().map(r => (r.getInt(0), r.getInt(1)))
      (e.flatMap(p => Seq(p._1, p._2)).toSet, e.length)
    }
    // every node has degree >= 2 -> the 2-core is the whole graph
    coreSet(2) shouldBe ((1 to 9).toSet, 12)
    // k=3 peels the triangle (cascades down the chain): only the
    // clique survives — and peeling needs the CASCADE (deg-2 nodes 1,2
    // fall first, THEN 3, 4, 5 in turn), pinning multi-round behavior
    coreSet(3) shouldBe (Set(6, 7, 8, 9), 6)
    // k above the max core degree empties the graph
    coreSet(5) shouldBe (Set.empty[Int], 0)
    // idempotence: the core of the core is the core
    val c3 = Graph.kCore(edges, 3)
    Graph.kCore(c3, 3).collect().toSet shouldBe c3.collect().toSet
  }

  test("bfs: hand-checked multi-source distances, early exit, undirected") {
    // path 1-2-3-4-5-6, branch 3-7, island {8,9}
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (3, 7), (8, 9))
      .toDF("a", "b")
    def distsFrom(seeds: Seq[Int], hops: Int) =
      Graph.bfs(edges, seeds.toDF("node"), hops).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toMap
    // single source, enough hops to exhaust the component — early exit
    // (5 hops needed, 10 allowed) and the island stays unreached
    distsFrom(Seq(1), 10) shouldBe Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 3,
      5 -> 4, 6 -> 5, 7 -> 3)
    // hop bound truncates the reach
    distsFrom(Seq(1), 2) shouldBe Map(1 -> 0, 2 -> 1, 3 -> 2)
    // multi-source: MIN distance over seeds; edges traverse BOTH ways
    // (6 reaches 5 against the edge direction)
    distsFrom(Seq(1, 6), 2) shouldBe Map(1 -> 0, 6 -> 0, 2 -> 1, 5 -> 1,
      3 -> 2, 4 -> 2)
    // a seed absent from the graph is still reported at distance 0
    distsFrom(Seq(8, 99), 1) shouldBe Map(8 -> 0, 99 -> 0, 9 -> 1)
  }

  test("driver twin ≡ distributed loop, bit-exact, for pageRank/hits/LPA (r16 gate)") {
    // pseudo-random-ish graph, deterministic: 40 int nodes, ~300 edges
    // incl. parallel-free aggregated weights, dangling nodes (36..39
    // have no out-edges), an isolated node (39). Every public operator
    // takes its driver twin on a graph this small; each `*Distributed`
    // body is the loop it replaces.
    val nodes = (0 until 40).toSeq
    val edges = (for (i <- 0 until 36; j <- 0 until 40
                      if i != j && (i * 7 + j * 13) % 5 == 0)
      yield (i, j, ((i * 31 + j * 17) % 9 + 1).toLong)).toSeq
    val (e, n) = (edges.toDF("src", "dst", "w"), nodes.toDF("node"))
    def prOf(df: DataFrame) = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    prOf(Graph.pageRank(e, n, iters = 3)) shouldBe      // EXACT double equality
      prOf(Graph.pageRankDistributed(e, n, iters = 3))
    def hitsOf(df: DataFrame) =
      df.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    hitsOf(Graph.hits(e, n, iters = 2)) shouldBe hitsOf(Graph.hitsDistributed(e, n, iters = 2))
    def lpaOf(df: DataFrame) = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    lpaOf(Graph.labelPropagation(e, n, 4)) shouldBe
      lpaOf(Graph.labelPropagationDistributed(e, n, 4))
    val und = edges.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }
      .distinct.filter(t => t._1 != t._2).toDF("a", "b")
    def kcoreOf(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    kcoreOf(Graph.kCore(und, k = 3)) shouldBe kcoreOf(Graph.kCoreDistributed(und, k = 3))
    val seeds = Seq(0, 39).toDF("node")
    def bfsOf(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    bfsOf(Graph.bfs(und, seeds, maxHops = 3)) shouldBe
      bfsOf(Graph.bfsDistributed(und, seeds, maxHops = 3))
    val srcDst = e.drop("w")
    Graph.triangleStats(srcDst).collect()(0).toSeq shouldBe
      Graph.triangleStatsDistributed(srcDst).collect()(0).toSeq
    // string node ids take the UTF8-binary fold order path
    val sNodes = (0 until 12).map(i => s"s$i").toDF("node")
    val sEdges = (for (i <- 0 until 12; j <- 0 until 12
                       if i != j && (i + j) % 3 == 0)
      yield (s"s$i", s"s$j", (i + j + 1).toLong)).toSeq.toDF("src", "dst", "w")
    def sprOf(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    sprOf(Graph.pageRank(sEdges, sNodes, 3)) shouldBe
      sprOf(Graph.pageRankDistributed(sEdges, sNodes, 3))
    def slpaOf(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    slpaOf(Graph.labelPropagation(sEdges, sNodes, 3)) shouldBe
      slpaOf(Graph.labelPropagationDistributed(sEdges, sNodes, 3))
    // modularity twin (r16): exact doubles, incl. unlabeled-endpoint
    // edges (dropped by the inner join on both paths) and an empty graph
    def modTwin(lbls: Seq[(Int, Int)], es: Seq[(Int, Int, Long)]) = {
      val (me, ml) = (es.toDF("src", "dst", "w"), lbls.toDF("node", "community"))
      Graph.modularity(me, ml).collect()(0).toSeq shouldBe
        Graph.modularityDistributed(me, ml).collect()(0).toSeq
    }
    val full = nodes.map(n => (n, n % 3))
    val partial = nodes.filter(_ % 4 != 0).map(n => (n, n % 3))
    modTwin(full, edges)
    modTwin(partial, edges)
    modTwin(full, Seq.empty[(Int, Int, Long)])
  }

  test("modularity: exact hand-checked value on the two-triangle dumbbell") {
    // two triangles {1,2,3}, {4,5,6} + bridge (3,4), unit weights.
    // 2m = 14; per community: in = 6, tot = 7 → Q = 2·(6·14 − 49)/196
    val edges = Seq((1, 2, 1L), (2, 3, 1L), (3, 1, 1L),
      (4, 5, 1L), (5, 6, 1L), (6, 4, 1L), (3, 4, 1L))
    val labels = Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 4, 6 -> 4)
    modOf(edges, labels) shouldBe (2.0 * (6.0 * 14.0 - 49.0) / 196.0)
  }
}
