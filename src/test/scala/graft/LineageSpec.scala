package graft

import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Pins for the lineage-cut modes (VERDICT r8 item 6): both modes
  * materialize the same values, both truncate the plan to a leaf, and
  * the iterative operators built on [[Lineage.cut]] produce identical
  * results under either mode — the executor-loss-safe `reliable`
  * variant is a pure durability trade, never a semantics one. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption(Lineage.ConfKey)
    spark.conf.set(Lineage.ConfKey, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Lineage.ConfKey, v)
      case None => spark.conf.unset(Lineage.ConfKey)
    }
  }

  test("cut preserves values exactly in both modes") {
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") * 3 % 17).as("k"))
      .groupBy("k").agg(sum("id").as("s"))
    val expected = df.orderBy("k").collect()
    withMode("local") {
      Lineage.cut(df).orderBy("k").collect() shouldBe expected
    }
    withMode("reliable") {
      Lineage.cut(df).orderBy("k").collect() shouldBe expected
    }
  }

  test("cut truncates the plan to a leaf in both modes") {
    val df = spark.range(0, 100).select((col("id") + 1).as("v"))
      .join(spark.range(0, 100).select(col("id").as("v")), "v")
    for (mode <- Seq("local", "reliable")) withMode(mode) {
      val cut = Lineage.cut(df)
      // the logical plan must be a scan leaf, not the join tree
      cut.queryExecution.analyzed.collectLeaves().size shouldBe 1
      cut.queryExecution.analyzed.children shouldBe Nil
    }
  }

  test("reliable mode auto-configures a checkpoint dir when unset") {
    withMode("reliable") {
      Lineage.cut(spark.range(3).toDF()).count() shouldBe 3L
      spark.sparkContext.getCheckpointDir.isDefined shouldBe true
    }
  }

  test("nearDupClusters distributed path: reliable == local, cluster for cluster") {
    import graft.dedup.Dedup
    // chain + triangle + isolated pair, through the distributed
    // label-propagation path both times
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val local = withMode("local") {
      Dedup.nearDupClustersDistributed(pairs).orderBy("doc_id").collect()
    }
    val reliable = withMode("reliable") {
      Dedup.nearDupClustersDistributed(pairs).orderBy("doc_id").collect()
    }
    reliable shouldBe local
    local.map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
  }

  test("labelPropagation leaves nothing registered in the cache manager") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (4L, 5L, 3L))
      .toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val before = spark.sharedState.cacheManager.isEmpty
    val out = Graph.labelPropagation(edges, nodes, iters = 3).collect()
    out.length shouldBe 5
    // helper persists were dropped before return; no leaked entries
    if (before) spark.sharedState.cacheManager.isEmpty shouldBe true
  }

  test("modularity returns materialized 1-row result, no leaked persists") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (4L, 5L, 5L))
      .toDF("src", "dst", "w")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("node", "community")
    val before = spark.sharedState.cacheManager.isEmpty
    val q = Graph.modularity(edges, labels)
    // already materialized: collecting twice is stable and leaf-planned
    q.queryExecution.analyzed.children shouldBe Nil
    val r = q.collect()(0)
    r.getAs[Long]("two_m") shouldBe 16L
    // all edges intra-community => positive modularity
    r.getAs[Double]("modularity") should be > 0.0
    if (before) spark.sharedState.cacheManager.isEmpty shouldBe true
  }
  test("bfs in reliable mode with pruning on: multi-chain cuts never delete live checkpoints (ADVICE r10)") {
    withMode("reliable") {
      // the DISTRIBUTED loop (this test exists to exercise the cut
      // chains; the r16 driver twin would bypass them). A 5-hop chain
      // forces >= 4 rounds, each reading the previous round's frontier
      // AND visited checkpoints — the pre-fix shared prune slot deleted
      // them mid-loop (FileNotFoundException)
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
      val out = graft.ops.Graph.bfsDistributed(edges, Seq(1L).toDF("node"), maxHops = 5)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getInt(1)))
      out shouldBe Array((1L, 0), (2L, 1), (3L, 2), (4L, 3), (5L, 4), (6L, 5))
    }
  }

  test("back-to-back reliable loops: a retained result survives a later loop's cuts") {
    withMode("reliable") {
      // the DISTRIBUTED loops (chain behavior is the subject)
      val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
      val core = graft.ops.Graph.kCoreDistributed(tri, k = 2) // the triangle survives
      core.count() shouldBe 3L
      // a second iterative loop (its own chain) must not prune the
      // retained frame's final checkpoint
      graft.ops.Graph.labelPropagationDistributed(
        Seq((1L, 2L, 1L)).toDF("src", "dst", "w"), Seq(1L, 2L).toDF("node"), 3).collect()
      core.count() shouldBe 3L // re-reads the checkpoint files
    }
  }
}
