package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry

/** Physical-plan contracts for the scale posture the operators claim —
  * these are the properties that decide whether a plan survives 100 TB,
  * asserted so they cannot silently regress:
  *   - filters/projections reach the parquet scan (PushedFilters /
  *     ReadSchema), so a 2-column projection never reads all columns;
  *   - small dimensions broadcast (no shuffle join for region/nation);
  *   - IVF cell assignment is a narrow projection — NO Exchange between
  *     the corpus scan and the search join (the round-1 plan shuffled
  *     |corpus|·nCells rows here).
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q02 filter/projection push down to the parquet scan") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sf0001)
    val scan = planString(df)
    scan should include("PushedFilters")
    // the pushed filter set must be non-empty (prefix filter reaches the scan)
    scan should include regex "PushedFilters: \\[.*(StringStartsWith|IsNotNull).*\\]"
    // column pruning: lineitem is ~16 columns; the read schema must not be all of them
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(scan).map(_.group(1)).toSeq
    readSchemas should not be empty
    all(readSchemas.map(_.split(",").length)) should be <= 8
  }

  test("q22 star join broadcasts every dimension (no shuffle join on dims)") {
    val df = SparkEntry.queries("q22_star_join_revenue")(spark, sf0001)
    df.collect() // AQE finalizes the adaptive plan
    val plan = planString(df)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q47 IVF corpus assignment is narrow: no Exchange below the search join's corpus side") {
    val df = SparkEntry.queries("q47_ann_ivf_topk")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // find the broadcast hash join; its STREAMED (corpus) side must
    // contain no Exchange — scan → filter → project(cell) → join
    val bhj = collectFirst(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    bhj should be (defined)
    val streamed = bhj.get.left // BuildRight: left is the streamed corpus side
    val exchangesBelow = collect(streamed) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    exchangesBelow shouldBe empty
  }

  test("q117 PageRank: dimension joins broadcast; iteration frames never shuffle the fact table again") {
    // r16: the nation-graph iteration takes the driver-gated twin, so
    // the final frame is a gate-bounded LOCAL relation joined to the
    // nation dim — no lineitem scan, no iteration exchanges at all
    val df = SparkEntry.queries("q117_trade_pagerank")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val fileScans = collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    fileScans.map(_.toString).filter(_.contains("lineitem")) shouldBe empty
    planString(df) should include("LocalTableScan")
    // the DISTRIBUTED loop keeps the r13 contract: final frame rides
    // the persisted iteration chain (cache reads, no lineitem re-scan),
    // dims broadcast into the edge build
    val dd = graft.queries.ExtendedCoreQueries.q117With(spark, sf0001,
      graft.ops.Graph.pageRankDistributed(_, _, _))
    dd.collect()
    val dplan = dd.queryExecution.executedPlan
    planString(dd) should include("InMemoryTableScan")
    collect(dplan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.toString).filter(_.contains("lineitem")) shouldBe empty
    planString(dd) should include("BroadcastHashJoin")
  }

  test("q120 session co-occurrence: ONE user-keyed window shuffle; pair expansion is a narrow transform") {
    val df = SparkEntry.queries("q120_session_cooccurrence")(spark, sf0001)
    df.collect()
    val plan = planString(df)
    // sessionization = the single events-wide exchange (user_id);
    // everything after the per-session set collapse is tiny
    "hashpartitioning\\(user_id".r.findAllMatchIn(plan).size should be >= 1
    // no self-join for pair generation (the oracle's formulation):
    // pairs come from a per-row higher-order transform instead
    plan should not include "SortMergeJoin"
    // singles/pair-support dimension joins broadcast
    plan should include("BroadcastHashJoin")
  }

  test("q116 bigram LM: no ranking window; vocab join is a hash join on the bigram hash") {
    val df = SparkEntry.queries("q116_bigram_lm")(spark, sf0001)
    df.collect()
    val plan = planString(df)
    (plan should not).include("Window")
    // text never joins — only the 8-byte hash column does
    plan should include("bh")
  }

  test("q23 exact-dedup aggregation has map-side partial aggregation (two HashAggregates)") {
    val df = SparkEntry.queries("q23_dedup_exact")(spark, sf0001)
    df.collect()
    val plan = planString(df)
    // partial + final pairs: the shuffle carries combined partials,
    // not raw rows
    "HashAggregate".r.findAllIn(plan).size should be >= 2
  }

  test("contamination: benchmark grams broadcast; the corpus side never shuffles by gram") {
    val df = SparkEntry.queries("q74_decontaminate")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the gram-hash semi-join must be broadcast with the corpus streamed:
    // its streamed side may contain the signature Exchange ONLY on doc_id
    // (from the final stats join), never on gh
    val semi = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    semi should not be empty
    val streamedExchanges = collect(semi.head.left) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the r16 narrow-input spread may add a parallelism exchange on
    // the streamed side (doc_id / round-robin) — the contract is that
    // the corpus never shuffles BY GRAM
    streamedExchanges.filter(e => e.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "gh"))
      case _ => false
    }) shouldBe empty
  }

  test("mergeUpsert: one hash shuffle total — the max(struct) aggregate combines map-side") {
    import org.apache.spark.sql.functions._
    val o = Tables.load(spark, sf0001, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val chg = o.where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U1").as("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("v"), lit("U").as("op"))
    val df = graft.ops.RelationalOps.mergeUpsert(o, chg, "o_orderkey", "v", "op")
    df.collect()
    val plan = df.queryExecution.executedPlan
    collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size shouldBe 1
    // a struct max plans as Sort/ObjectHashAggregate, still with a
    // partial + final pair so the shuffle carries combined rows
    "(HashAggregate|ObjectHashAggregate|SortAggregate)".r
      .findAllIn(plan.toString).size should be >= 2
  }

  test("PQ: encode is narrow and the ADC scan side of the search has no Exchange") {
    val e = Tables.embeddings(spark, sf0001)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    val cb = pq.codebookOf(e)
    // encode alone: zero exchanges — pure projection
    val enc = pq.encode(e, cb)
    collect(enc.queryExecution.executedPlan) {
      case ex: org.apache.spark.sql.execution.exchange.Exchange => ex
    } shouldBe empty
    // search: the corpus (streamed) side of the broadcast join carries
    // no Exchange either — only the top-k window shuffles scored rows
    val res = pq.searchAdc(enc, e.where(org.apache.spark.sql.functions.col("vec_id") < 3), 5, cb)
    res.collect()
    val bnl = collectFirst(res.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    bnl should be (defined)
    collect(bnl.get.left) {
      case ex: org.apache.spark.sql.execution.exchange.Exchange => ex
    } shouldBe empty
  }

  test("query-final sorts are single-pass: no RangePartitioning (whose boundary " +
      "sampling would re-execute the subtree) in the oracled dedup outputs") {
    for (name <- Seq("q29_minhash_lsh_pairs", "q58_cosine_neardup", "q23_dedup_exact")) {
      val df = graft.SparkEntry.queries(name)(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan") {
        plan.contains("rangepartitioning") shouldBe false
        plan.contains("RangePartitioning") shouldBe false
      }
    }
  }

  test("q92 hybrid retrieval: both arms plan top-k as TakeOrderedAndProject — " +
      "no global sort shuffle before the 30-row rank windows") {
    val df = graft.SparkEntry.queries("q92_hybrid_rrf")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // one TakeOrderedAndProject per arm
      "TakeOrderedAndProject".r.findAllIn(plan).size should be >= 2
      plan.contains("RangePartitioning") shouldBe false
    }
  }

  test("q97 epoch shuffle: shard assignment is a narrow projection — exactly one " +
      "exchange (the shard aggregation), no global rank window") {
    val df = graft.SparkEntry.queries("q97_epoch_shuffle")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val str = plan.toString
    withClue(str) {
      // no window operator anywhere: the shuffled order needs no global rank
      str.contains("Window") shouldBe false
      str.contains("RangePartitioning") shouldBe false
      // shuffles: the groupBy(shard) hash exchange + the sortedOut
      // single-partition exchange — nothing else
      collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size should be <= 2
    }
  }

  test("q98 z-order stats: the z-value interleave stays in whole-stage codegen " +
      "over the pruned lineitem scan") {
    val df = graft.SparkEntry.queries("q98_zorder_stats")(spark, sf0001)
    df.collect() // finalize the adaptive plan so codegen spans materialize
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      // the '*(n)' prefix is executedPlan.toString's rendering of a
      // WholeStageCodegen span — the interleave Project must carry one
      plan should include regex "\\*\\(\\d+\\) Project"
      // column pruning: only the two key columns leave the scan
      val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
      readSchemas should not be empty
      all(readSchemas.map(_.split(",").length)) should be <= 2
    }
  }

  test("IVF-PQ: cell-gated ADC probes via a broadcast hash join; the corpus code " +
      "side carries no Exchange (assign + encode stay narrow)") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf0001)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    val res = pq.annTopKIvf(e, e.where(col("vec_id") < 3), 5,
      new graft.sim.IvfIndex(nCells = 16, nProbe = 4))
    res.collect()
    // probe join = broadcast hash join on cell (query side exploded
    // probes broadcast), corpus side: scan → assign → encode, narrow
    val bhj = collectFirst(res.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    bhj should be (defined)
    val streamed = if (bhj.get.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight)
      bhj.get.left else bhj.get.right
    collect(streamed) {
      case ex: org.apache.spark.sql.execution.exchange.Exchange => ex
    } shouldBe empty
  }

  test("q134 intra-doc dedup is narrow: the only exchange is the output-sort's — " +
      "no hash-partition shuffle anywhere (the operator runs at scan speed)") {
    val df = graft.SparkEntry.queries("q134_intradoc_dedup")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val hashExchanges = collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    withClue(plan.toString)(hashExchanges shouldBe empty)
  }
  test("q256 skew advisor oracled: its salt factor caps the heaviest key at the uniform 32-way budget (VERDICT r10 #5)") {
    // (1) fixture keys: the advisor's factor-1 verdicts must mean
    // "already under budget" — max_mass <= ceil(total/32) exactly
    val advised = SparkEntry.queries("q256_join_skew_advisor")(spark, sf0001).collect()
    advised should not be empty
    advised.foreach { r =>
      val (total, maxMass, factor) =
        (r.getAs[Long]("n_rows"), r.getAs[Long]("max_mass"), r.getAs[Long]("salt_factor"))
      factor shouldBe (maxMass * 32 + total - 1) / total
      if (factor == 1L) maxMass should be <= (total + 31) / 32
    }
    // (2) a genuinely skewed key (one user owns half the rows): apply
    // the advisor's formula, salt round-robin by its factor, and verify
    // the max (key, salt) group mass lands at/below the uniform budget
    import spark.implicits._
    val skewed = ((1L to 500L).map(i => (42L, i)) ++
      (1L to 500L).map(i => (i % 100 + 1000L, i))).toDF("user_id", "event_id")
    val census = skewed.groupBy("user_id").count()
      .agg(F.sum("count").as("total"), F.max("count").as("max_mass")).collect()(0)
    val (total, maxMass) = (census.getLong(0), census.getLong(1))
    maxMass shouldBe 500L
    val factor = (maxMass * 32 + total - 1) / total // the q256 formula
    factor should be > 1L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val maxSalted = skewed
      .withColumn("salt", F.pmod(F.row_number().over(w).cast("long"), F.lit(factor)))
      .groupBy("user_id", "salt").count()
      .agg(F.max("count")).collect()(0).getLong(0)
    maxSalted shouldBe (maxMass + factor - 1) / factor
    maxSalted should be <= (total + 31) / 32
    maxSalted should be < maxMass
  }

  test("q264 broadcast advisor oracled: planner broadcasts what it marks broadcastable, not what it doesn't (VERDICT r10 #5)") {
    val adv = SparkEntry.queries("q264_broadcast_advisor")(spark, sf0001).collect()
      .map(r => r.getAs[String]("tbl") ->
        (r.getAs[Boolean]("broadcastable"), r.getAs[Long]("bytes"))).toMap
    // at fixture scale every audited dim fits the 10 MiB budget…
    adv.values.map(_._1) should contain only true
    // …and joining each against its fact WITHOUT a hint must plan a
    // broadcast join under the default 10 MiB autoBroadcast threshold
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val joins = Seq(
      Tables.orders(spark, sf0001).join(
        Tables.customer(spark, sf0001), F.col("o_custkey") === F.col("c_custkey")),
      Tables.lineitem(spark, sf0001).join(
        Tables.supplier(spark, sf0001), F.col("l_suppkey") === F.col("s_suppkey")),
      Tables.lineitem(spark, sf0001).join(
        Tables.part(spark, sf0001), F.col("l_partkey") === F.col("p_partkey")))
    joins.foreach { j =>
      val plan = finalPlan(j)
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
    }
    // negative direction: the same size proxy on a frame inflated past
    // 10 MiB says NOT broadcastable, and the planner agrees (no
    // broadcast side, neither static nor via AQE's runtime flip)
    val cust = Tables.customer(spark, sf0001)
    val proxyPerRow = F.lit(8 + 4 + 8) +
      F.length(F.col("c_name")) +
      F.length(F.col("c_mktsegment"))
    val inflated = cust.crossJoin(spark.range(2000).select(F.col("id").as("rep")))
      .withColumn("big_key", F.col("c_custkey") * 2000 + F.col("rep"))
    val proxyBytes = inflated.agg(F.sum(proxyPerRow.cast("long"))).collect()(0).getLong(0)
    proxyBytes should be > 10485760L // the advisor's rule flags it
    // both sides over-threshold (the planner broadcasts the SMALLER
    // side of a mixed join, which would be correct and uninteresting):
    // a self-join of the inflated frame must fall back to a shuffle join
    val other = inflated.select(F.col("big_key").as("rk"), F.col("c_name").as("rn"))
    val plan = finalPlan(inflated.join(other, F.col("big_key") === F.col("rk")))
    (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")) shouldBe true
    plan should not include "BroadcastHashJoin"
  }
}
