package graft.ops

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames.
  *
  * Complements the dedup stack's graph pieces (union-find connected
  * components in [[graft.dedup.Dedup]], degree histograms in
  * TextQueries q95) with a centrality measure: weighted PageRank —
  * "which domains/sources sit at the center of the duplication /
  * citation / trade graph", the standard importance prior a curation
  * pipeline mixes into quality scores.
  *
  * Scale shape: one power-iteration step is
  * edges ⋈ ranks (hash join on src) → groupBy(dst) — a shuffle bounded
  * by |edges| that AQE coalesces as ranks converge to |nodes| rows.
  * Nothing is ever collected to the driver; the rank frame stays
  * distributed, and each iteration's plan is cut with a persist so the
  * lineage doesn't stack exponentially across iterations.
  *
  * Cross-engine determinism: a double sum's value depends on the fold
  * order, so every per-node inflow (and the dangling-mass total) is
  * summed by an ORDERED sequential fold — `aggregate(array_sort(
  * collect_list(struct(src, c))), 0.0, acc + c)` — which a SQL oracle
  * reproduces verbatim with `list_sum(list(c ORDER BY src))` (the same
  * convention the cosine oracles pin; 0.0-init folds equal first-element
  * folds exactly for finite non-negative contributions). That makes a
  * 3-iteration PageRank hash-comparable across engines down to the last
  * bit — the property every rank value in CORRECTNESS rides on.
  */
object Graph {

  /** Sum `valueCol` per `keyCols` group in `src`-ascending order — the
    * deterministic double-sum building block. */
  private def orderedSum(pairs: Column): Column =
    aggregate(array_sort(pairs), lit(0.0),
      (acc, x) => acc + x.getField("c"))

  // ---- driver twins (r16 optimization) ----------------------------
  //
  // Every operator below except [[symmetrized]] has an exact driver
  // twin next to its distributed loop, chosen by [[DriverTwin]] from
  // counts taken at run time (the caps and the reasoning live there).
  // The twins use THE IDENTICAL fold orders (sort contributions by the
  // same struct key, foldLeft from the same 0.0 init) or all-integer
  // arithmetic, so results are bit-equal to the distributed loop's —
  // GraphSpec pins twin ≡ `*Distributed` for each operator, and the
  // DuckDB oracles (q117/q136/q183) hash the values end-to-end.

  /** Catalyst-identical ordering for collected node ids: numerics by
    * value, strings by BINARY (UTF-8) order — `array_sort` over a
    * struct whose first field is a string sorts UTF8String-binary,
    * which differs from java.lang.String's UTF-16 order for
    * supplementary characters. */
  private val anyOrd: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Short, y: Short) => java.lang.Short.compare(x, y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      case _ => throw new IllegalArgumentException(
        s"unsupported node id type for driver graph twin: ${a.getClass}")
    }
  }

  /** (node, double) result frame with the node column keeping the
    * input frame's exact field type/nullability. */
  private def smallResult(spark: org.apache.spark.sql.SparkSession,
                          nodeField: org.apache.spark.sql.types.StructField,
                          cols: Seq[(String, Array[Double])],
                          nodesInOrder: Array[Any]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val schema = StructType(nodeField.copy(name = "node") +:
      cols.map { case (name, _) => StructField(name, DoubleType, nullable = false) })
    val rows = nodesInOrder.indices.map { i =>
      org.apache.spark.sql.Row.fromSeq(
        nodesInOrder(i) +: cols.map(_._2(i)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Weighted PageRank with uniform teleport and uniform dangling-mass
    * redistribution:
    *
    *   r₀(v)    = 1/N
    *   rₜ₊₁(v) = (1−d)/N + d·( Σ_{u→v} rₜ(u)·w(u,v)/wout(u) + dangₜ/N )
    *
    * where dangₜ = Σ rₜ(u) over nodes with no out-edges.
    *
    * @param edges (src, dst, w) — w a positive integer weight; parallel
    *              edges should be pre-aggregated
    * @param nodes single-column frame of all node ids (nodes absent
    *              from `edges.src` are dangling; absent from both are
    *              isolated and still ranked)
    * @param iters power-iteration steps (each = one bounded shuffle)
    * @return (node, rank)
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    val (n, edges0, e, nNodes) = rankInputs(edges, nodes, iters)
    // driver twin: identical fold orders, bit-equal ranks, ~20 query
    // stages saved
    if (DriverTwin.graphFits(nNodes.toLong, edges0)) {
      val teleport = (1.0 - damping) / nNodes
      val nodeField = n.schema.fields(0)
      val nodeVals = n.collect().map(_.get(0))
      // integral weights (the documented contract): collect the RAW
      // aggregated edges and normalize locally — integer out-strength
      // sums are order-free and w/wout is the identical double, so this
      // skips the distributed wout aggregate + join stages entirely.
      // A non-integral w falls back to collecting the normalized frame.
      val wIntegral = edges0.schema("w").dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => true
        case _ => false
      }
      val eRows: Array[(Any, Any, Double)] = if (wIntegral) {
        val raw = edges0.collect().map(r =>
          (r.get(0), r.get(1), r.get(2).asInstanceOf[Number].longValue))
        val wout = raw.groupBy(_._1).map { case (s, a) => s -> a.map(_._3).sum }
        raw.map(t => (t._1, t._2, t._3.toDouble / wout(t._1).toDouble))
      } else {
        e.select(col("src"), col("dst"), col("frac")).collect()
          .map(r => (r.get(0), r.get(1), r.getDouble(2)))
      }
      edges0.unpersist(blocking = false)
      e.unpersist(blocking = false)
      n.unpersist(blocking = false)
      val rankSet = nodeVals.toSet
      // in-edges per dst, sorted by (src, frac): rank(src) > 0 always
      // (teleport > 0), so (src, rank·frac) order ≡ (src, frac) order —
      // the same total order array_sort(struct(src, c)) folds in
      val inEdges: Map[Any, Array[(Any, Double)]] = eRows
        .filter(t => rankSet.contains(t._1))
        .groupBy(_._2)
        .map { case (dst, arr) =>
          dst -> arr.map(t => (t._1, t._3))
            .sortBy(identity)(Ordering.Tuple2(anyOrd, Ordering.Double.TotalOrdering))
        }
      val hasOut = eRows.iterator.map(_._1).toSet
      val dangling = nodeVals.filter(v => !hasOut.contains(v)).sorted(anyOrd)
      var rank: Map[Any, Double] =
        nodeVals.iterator.map(v => v -> 1.0 / nNodes).toMap
      for (_ <- 0 until iters) {
        val dang = dangling.foldLeft(0.0)((acc, v) => acc + rank(v))
        val cur = rank
        rank = nodeVals.iterator.map { v =>
          val inflow = inEdges.get(v) match {
            case Some(cs) => cs.foldLeft(0.0)((acc, sc) => acc + cur(sc._1) * sc._2)
            case None => 0.0
          }
          v -> (teleport + damping * (inflow + dang / nNodes))
        }.toMap
      }
      smallResult(edges.sparkSession, nodeField,
        Seq("rank" -> nodeVals.map(rank)), nodeVals)
    } else pageRankLoop(n, edges0, e, nNodes, iters, damping)
  }

  /** [[pageRank]]'s persisted inputs: node ids, the caller's aggregated
    * edge list, the normalized (src, dst, frac) list, and |V|. */
  private def rankInputs(edges: DataFrame, nodes: DataFrame, iters: Int)
      : (DataFrame, DataFrame, DataFrame, Double) = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    // persist the (already-aggregated, ≤|V|² row) edge list FIRST: it
    // feeds both the out-strength aggregate and the normalization join
    // below — unpersisted, the caller's fact-table join pipeline would
    // execute twice before `e` ever materializes
    val (n, edges0, nNodes) = nodesAndEdges(nodes, edges)
    // out-strength per source, joined once onto the tiny edge list so
    // iterations reuse one persisted (src, dst, frac) frame
    val wout = edges0.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = edges0.join(wout, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("frac"))
      .persistT
    (n, edges0, e, nNodes)
  }

  /** The node ids (as `node`) and an edge frame, both persisted, plus
    * |V| — the count every 1/N init and the graph gate read. */
  private def nodesAndEdges(nodes: DataFrame, edges: DataFrame)
      : (DataFrame, DataFrame, Double) = {
    val n = nodes.select(col(nodes.columns.head).as("node")).persistT
    val e = edges.persistT
    (n, e, n.count().toDouble)
  }

  /** [[pageRank]]'s distributed loop, whatever the graph's size. */
  private[graft] def pageRankDistributed(edges: DataFrame, nodes: DataFrame,
                                         iters: Int, damping: Double = 0.85): DataFrame = {
    val (n, edges0, e, nNodes) = rankInputs(edges, nodes, iters)
    pageRankLoop(n, edges0, e, nNodes, iters, damping)
  }

  private def pageRankLoop(n: DataFrame, edges0: DataFrame, e: DataFrame,
                           nNodes: Double, iters: Int, damping: Double): DataFrame = {
    val teleport = (1.0 - damping) / nNodes
    // the dangling SET is iteration-invariant (only its mass changes):
    // resolve it once instead of re-running the src-distinct shuffle
    // plus anti-join inside every iteration
    val dangNodes = n.join(e.select("src").distinct(),
        n("node") === col("src"), "left_anti")
      .select("node").persistT

    // Each level is persisted (it is read twice by the next level:
    // dangling + inflow) but NOT eagerly materialized: an eager
    // count() per iteration costs a full scheduler round-trip of
    // barrier jobs — measured ~2 s of pure job overhead on a 25-node
    // graph. ONE final action (below, after the loop) materializes the
    // whole chain, populating each level's cache the first time it is
    // reached — after which every intermediate level and helper frame
    // is unpersisted so repeated calls in a long-lived session don't
    // accumulate cached plans (ADVICE r6 #2). For deep iteration
    // counts (≥ ~20) callers should localCheckpoint every few levels
    // to cap lineage/analysis depth; at the 3-10 steps PageRank needs,
    // the chain is shallow.
    val levels = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var ranks = n.select(col("node"), (lit(1.0) / lit(nNodes)).as("rank")).persistT
    for (_ <- 0 until iters) {
      levels += ranks
      // dangling mass: ordered fold over node id — ONE row, broadcast back
      val dang = ranks.join(dangNodes, Seq("node"), "left_semi")
        .agg(orderedSum(collect_list(struct(col("node").as("src"),
          col("rank").as("c")))).as("dang"))
      // NOTE on the ordered-fold formulation: collect_list materializes
      // one in-memory struct array per dst node, sized by its IN-DEGREE.
      // That is the price of bit-exact cross-engine determinism (the
      // oracle folds in the same src order). It assumes max in-degree ≪
      // executor heap — true for the |V|≤25 nation graph here and fine
      // up to ~10⁷ in-edges per node; a web/citation-scale hub graph
      // needs a hierarchical ordered combine (fold within salted
      // sub-buckets in src order, then fold the sub-sums in bucket
      // order) or plain float sum if exact reproducibility is waived
      // (ADVICE r6 #3).
      val inflow = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), col("src"), (col("rank") * col("frac")).as("c"))
        .groupBy(col("dst"))
        .agg(orderedSum(collect_list(struct(col("src"), col("c")))).as("inflow"))
      val next = n
        .join(inflow, n("node") === inflow("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(teleport) + lit(damping) *
            (coalesce(col("inflow"), lit(0.0)) + col("dang") / lit(nNodes)))
            .as("rank"))
        .persistT
      ranks = next
    }
    // One eager action fills the final level's cache through the whole
    // persisted chain; everything superseded is then released. Callers
    // triggering their own action afterwards read the final cache, so
    // this costs one job, not a recompute.
    ranks.count()
    levels.foreach(_.unpersist(blocking = false))
    edges0.unpersist(blocking = false)
    e.unpersist(blocking = false)
    n.unpersist(blocking = false)
    dangNodes.unpersist(blocking = false)
    ranks
  }

  /** HITS hubs & authorities (Kleinberg) with L1 normalization:
    *
    *   h₀(u)   = 1/N
    *   aᵣ(v)   = Σ_{u→v} hₜ(u)·w(u,v);   aₜ₊₁ = aᵣ / Σ_v aᵣ(v)
    *   hᵣ(u)   = Σ_{u→v} aₜ₊₁(v)·w(u,v); hₜ₊₁ = hᵣ / Σ_u hᵣ(u)
    *
    * The directed-graph complement to [[pageRank]]: "which sources
    * POINT AT the good stuff" (hubs — link farms, aggregator domains)
    * vs "which sources the good stuff points at" (authorities) — the
    * pair of priors a citation/link-graph curation mix wants next to
    * PageRank's single score. L1 (sum) normalization replaces the
    * classical L2: same fixpoint direction, but every normalizer is a
    * plain ordered SUM — bit-reproducible cross-engine without sqrt
    * ordering concerns, and the scores read as probability masses.
    *
    * Scale shape mirrors [[pageRank]] exactly: each half-step is one
    * hash join on the (≤|V|²-row, pre-aggregated) edge list plus a
    * groupBy bounded by |edges|; each normalizer is ONE row broadcast
    * back; every level persists, ONE final action materializes the
    * chain, then all intermediates unpersist. The same ordered-fold
    * in-degree memory bound as pageRank's applies (hub-heavy graphs
    * need a hierarchical ordered combine).
    *
    * @param edges (src, dst, w) — positive weights, parallel edges
    *              pre-aggregated
    * @param nodes single-column frame of all node ids
    * @param iters full auth+hub rounds (≥1)
    * @return (node, hub, auth) — each column L1-normalized over nodes
    */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    val (n, e, nNodes) = hitsInputs(edges, nodes, iters)
    // driver twin: identical fold orders, bit-equal hub/auth scores
    if (DriverTwin.graphFits(nNodes.toLong, e)) {
      val nodeField = n.schema.fields(0)
      val nodeVals = n.collect().map(_.get(0))
      val eRows = e.collect().map(r => (r.get(0), r.get(1), r.getDouble(2)))
      e.unpersist(blocking = false)
      n.unpersist(blocking = false)
      val nodeSet = nodeVals.toSet
      val nodesAsc = nodeVals.sorted(anyOrd)
      val tupOrd = Ordering.Tuple2(anyOrd, Ordering.Double.TotalOrdering)
      // scores are ≥ 0 throughout (w > 0 contract, init 1/N > 0), so
      // (key, score·w) sorts as (key, w) — equal keys with equal w give
      // identical contributions and the fold is permutation-safe
      val inBySrcKey: Map[Any, Array[(Any, Double)]] = eRows
        .filter(t => nodeSet.contains(t._1))
        .groupBy(_._2).map { case (dst, arr) =>
          dst -> arr.map(t => (t._1, t._3)).sortBy(identity)(tupOrd) }
      val outByDstKey: Map[Any, Array[(Any, Double)]] = eRows
        .filter(t => nodeSet.contains(t._2))
        .groupBy(_._1).map { case (src, arr) =>
          src -> arr.map(t => (t._2, t._3)).sortBy(identity)(tupOrd) }
      var hub: Map[Any, Double] = nodeVals.iterator.map(v => v -> 1.0 / nNodes).toMap
      var auth: Map[Any, Double] = null
      for (_ <- 0 until iters) {
        val h = hub
        val authRaw = nodeVals.iterator.map { v =>
          v -> (inBySrcKey.get(v) match {
            case Some(cs) => cs.foldLeft(0.0)((acc, sw) => acc + h(sw._1) * sw._2)
            case None => 0.0
          })
        }.toMap
        val aTot = nodesAsc.foldLeft(0.0)((acc, v) => acc + authRaw(v))
        auth = nodeVals.iterator.map(v => v -> authRaw(v) / aTot).toMap
        val a = auth
        val hubRaw = nodeVals.iterator.map { v =>
          v -> (outByDstKey.get(v) match {
            case Some(cs) => cs.foldLeft(0.0)((acc, dw) => acc + a(dw._1) * dw._2)
            case None => 0.0
          })
        }.toMap
        val hTot = nodesAsc.foldLeft(0.0)((acc, v) => acc + hubRaw(v))
        hub = nodeVals.iterator.map(v => v -> hubRaw(v) / hTot).toMap
      }
      val (hc, ac) = (hub, auth)
      smallResult(edges.sparkSession, nodeField,
        Seq("hub" -> nodeVals.map(hc), "auth" -> nodeVals.map(ac)), nodeVals)
    } else hitsLoop(n, e, nNodes, iters)
  }

  private def hitsInputs(edges: DataFrame, nodes: DataFrame, iters: Int)
      : (DataFrame, DataFrame, Double) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    nodesAndEdges(nodes,
      edges.select(col("src"), col("dst"), col("w").cast("double").as("w")))
  }

  /** [[hits]]'s distributed loop, whatever the graph's size. */
  private[graft] def hitsDistributed(edges: DataFrame, nodes: DataFrame,
                                     iters: Int): DataFrame = {
    val (n, e, nNodes) = hitsInputs(edges, nodes, iters)
    hitsLoop(n, e, nNodes, iters)
  }

  private def hitsLoop(n: DataFrame, e: DataFrame, nNodes: Double,
                       iters: Int): DataFrame = {
    val levels = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var hub = n.select(col("node"), (lit(1.0) / lit(nNodes)).as("hub")).persistT
    levels += hub
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      // authority half-step: inflow of hub mass, ordered fold by src
      val authRaw = e.join(hub, e("src") === hub("node"))
        .select(col("dst"), col("src"), (col("hub") * col("w")).as("c"))
        .groupBy(col("dst"))
        .agg(orderedSum(collect_list(struct(col("src"), col("c")))).as("raw"))
      val authAll = n.join(authRaw, n("node") === authRaw("dst"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
      val aTot = authAll.agg(orderedSum(collect_list(
        struct(col("node").as("src"), col("raw").as("c")))).as("tot"))
      auth = authAll.crossJoin(broadcast(aTot))
        .select(col("node"), (col("raw") / col("tot")).as("auth")).persistT
      levels += auth
      // hub half-step: outflow toward authoritative dsts, ordered fold by dst
      val hubRaw = e.join(auth, e("dst") === auth("node"))
        .select(col("src"), col("dst"), (col("auth") * col("w")).as("c"))
        .groupBy(col("src"))
        .agg(orderedSum(collect_list(
          struct(col("dst").as("src"), col("c")))).as("raw"))
      val hubAll = n.join(hubRaw, n("node") === hubRaw("src"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0.0)).as("raw"))
      val hTot = hubAll.agg(orderedSum(collect_list(
        struct(col("node").as("src"), col("raw").as("c")))).as("tot"))
      hub = hubAll.crossJoin(broadcast(hTot))
        .select(col("node"), (col("raw") / col("tot")).as("hub")).persistT
      levels += hub
    }
    val out = hub.join(auth, Seq("node")).persistT
    out.count()
    levels.foreach(_.unpersist(blocking = false))
    e.unpersist(blocking = false)
    n.unpersist(blocking = false)
    out
  }

  /** Exact triangle census + global clustering coefficient — the
    * cohesion statistic next to the centrality pair (PageRank q117,
    * HITS q136): how much of the graph's wedge structure closes into
    * triangles. On a link/citation graph this separates organic
    * communities (high closure) from spam farms and hub-spoke
    * syndication shapes (many wedges, few closures).
    *
    * Scale shape — the Schank/Wagner degree-ordered orientation:
    * every undirected edge is oriented from its (degree, id)-smaller
    * endpoint to the larger, which bounds each node's ORIENTED
    * out-degree by O(√|E|) regardless of how hot a hub is. Wedges are
    * generated by the self-join on the oriented source (per-pivot work
    * C(outdeg,2), so a 10⁶-degree hub costs what a √E-degree node
    * does, not 10¹²), and each triangle is counted exactly once at its
    * lowest-rank vertex. Everything is counts — no doubles anywhere
    * until the final clustering division, so the output is exact
    * cross-engine.
    *
    * @param edges (src, dst) — direction, multiplicity and self-loops
    *              are normalized away
    * @return 1 row: (n_nodes, n_edges, n_wedges, n_triangles,
    *         clustering = 3T/W; nodes = endpoints of ≥1 edge)
    */
  def triangleStats(edges: DataFrame): DataFrame =
    // driver twin: the census is all integers (exact regardless of
    // execution order); the distributed path costs 3 persists + a
    // wedge join — ~10 query stages for a dimension-sized graph. Same
    // degree-ordered orientation, so the driver does the identical
    // O(Σ C(outdeg,2)) wedge work, just single-threaded.
    DriverTwin.persistCount(undirectedPairs(edges), DriverTwin.MaxEdges) { undC =>
      val arr = undC.collect().map(r => (r.get(0), r.get(1)))
      val nE = arr.length.toLong
      // dense int ids so the hot loops are primitive-array work
      // (the first HashSet-of-tuples formulation was SLOWER than the
      // distributed join on clique-heavy near-dup graphs)
      val id = scala.collection.mutable.HashMap.empty[Any, Int]
      def idOf(v: Any): Int = id.getOrElseUpdate(v, id.size)
      val ea = new Array[Int](arr.length); val eb = new Array[Int](arr.length)
      var x = 0
      while (x < arr.length) { ea(x) = idOf(arr(x)._1); eb(x) = idOf(arr(x)._2); x += 1 }
      val nN = id.size
      val nodeVal = new Array[Any](nN)
      id.foreach { case (v, i) => nodeVal(i) = v }
      val deg = new Array[Long](nN)
      x = 0; while (x < arr.length) { deg(ea(x)) += 1; deg(eb(x)) += 1; x += 1 }
      // orient (deg, id)-smaller → larger; triangle count = Σ over
      // oriented edges (a,b) of |out(a) ∩ out(b)| — each triangle
      // counted once at its lowest-rank vertex (the same orientation
      // the distributed wedge join uses), all integer arithmetic
      def fwd(a: Int, b: Int): Boolean =
        deg(a) < deg(b) || (deg(a) == deg(b) && anyOrd.lt(nodeVal(a), nodeVal(b)))
      val outDeg = new Array[Int](nN)
      x = 0
      while (x < arr.length) {
        if (fwd(ea(x), eb(x))) outDeg(ea(x)) += 1 else outDeg(eb(x)) += 1
        x += 1
      }
      val outAdj = Array.tabulate(nN)(i => new Array[Int](outDeg(i)))
      val fill = new Array[Int](nN)
      x = 0
      while (x < arr.length) {
        val (a, b) = if (fwd(ea(x), eb(x))) (ea(x), eb(x)) else (eb(x), ea(x))
        outAdj(a)(fill(a)) = b; fill(a) += 1
        x += 1
      }
      var i0 = 0
      while (i0 < nN) { java.util.Arrays.sort(outAdj(i0)); i0 += 1 }
      var tri = 0L
      x = 0
      while (x < arr.length) {
        val (a, b) = if (fwd(ea(x), eb(x))) (ea(x), eb(x)) else (eb(x), ea(x))
        val (oa, ob) = (outAdj(a), outAdj(b))
        var i = 0; var j = 0
        while (i < oa.length && j < ob.length) {
          if (oa(i) == ob(j)) { tri += 1; i += 1; j += 1 }
          else if (oa(i) < ob(j)) i += 1
          else j += 1
        }
        x += 1
      }
      val nNodes = nN.toLong
      val nWedges = deg.iterator.map(d => d * (d - 1) / 2).sum
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("n_nodes", LongType, nullable = false),
        StructField("n_edges", LongType, nullable = false),
        StructField("n_wedges", LongType, nullable = true),
        StructField("n_triangles", LongType, nullable = false),
        StructField("clustering", DoubleType, nullable = true)))
      val row = org.apache.spark.sql.Row(nNodes, nE, nWedges, tri,
        tri.toDouble * 3.0 / nWedges.toDouble)
      edges.sparkSession.createDataFrame(java.util.Arrays.asList(row), schema)
    }(triangleLoop)

  /** [[triangleStats]]' input: distinct undirected (u < v) pairs. */
  private def undirectedPairs(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** [[triangleStats]]' distributed census, whatever the graph's size. */
  private[graft] def triangleStatsDistributed(edges: DataFrame): DataFrame =
    triangleLoop(undirectedPairs(edges).persistT)

  /** `und` must be persisted: it feeds the degree pass AND the
    * orientation join. */
  private def triangleLoop(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persistT // feeds both endpoint joins + the wedge total
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg
      .select(when(fwd, struct(col("u").as("a"), col("v").as("b"), col("dv").as("db")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"), col("du").as("db"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db"))
      .persistT // two wedge sides + the closure probe
    val w1 = oriented.select(col("a"), col("b").as("b1"), col("db").as("d1"))
    val w2 = oriented.select(col("a"), col("b").as("b2"), col("db").as("d2"))
    val wedges = w1.join(w2, "a")
      .where(col("d1") < col("d2") || (col("d1") === col("d2") && col("b1") < col("b2")))
    val closed = wedges.join(oriented.select(col("a").as("b1"), col("b").as("b2")),
      Seq("b1", "b2"), "left_semi")
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("deg") * (col("deg") - 1)) / lit(2)).cast("long").as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        (col("n_triangles").cast("double") * 3.0 / col("n_wedges").cast("double"))
          .as("clustering"))
  }

  /** Symmetrized, self-loop-free, parallel-edge-merged adjacency of an
    * integer-weighted edge list — the shared input shape for
    * [[labelPropagation]] and [[modularity]] (each (u,v) undirected
    * edge appears as BOTH directed rows, weights summed). */
  def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .where(col("src") =!= col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("w").cast("long").as("w")).where(col("src") =!= col("dst")))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))

  /** Community detection by DETERMINISTIC synchronous weighted label
    * propagation (Raghavan et al. 2007, made reproducible): every node
    * starts as its own label; each round, a node adopts the label with
    * the LARGEST total incident edge weight among its neighbors'
    * current labels, ties broken by the SMALLEST label. Weights stay
    * INTEGERS through the argmax, so the whole fixpoint is exact and
    * an unrolled SQL oracle replays it bit-for-bit — no fp anywhere
    * (the fully-deterministic variant of the usual
    * random-order/random-tie LPA, which is unreproducible by design).
    * Isolated nodes keep their own label.
    *
    * Scale shape mirrors [[pageRank]]: one round = one hash join of
    * the (pre-aggregated) adjacency against the |V|-row label frame +
    * one groupBy bounded by |E| + one per-node argmax (max_by over an
    * integer struct — combines map-side, no window, no sort); each
    * round ends in a [[Lineage.cut]] so depth never grows the plan
    * and nothing stays registered in the cache manager after return
    * (the ADVICE r8 leak fix — a persisted final frame would pin
    * storage-pool blocks for the session's lifetime).
    * Synchronous updates can two-cycle on bipartite-ish structure —
    * run a FIXED iteration count (the oracle unrolls the same count)
    * rather than testing convergence.
    *
    * @param edges (src, dst, w) — positive integer weights; direction
    *              ignored (symmetrized internally); self-loops dropped
    * @param nodes single-column frame of all node ids
    * @param iters synchronous rounds (each = one bounded shuffle)
    * @return (node, community) — community = the converged label
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    val (n, e, nNodes) = lpaInputs(edges, nodes, iters)
    // driver twin: all-integer weight sums + (weight desc, label asc)
    // argmax — order-free arithmetic, so equality with the distributed
    // loop is exact by construction.
    if (DriverTwin.graphFits(nNodes.toLong, e)) {
      val nodeField = n.schema.fields(0)
      val nodeVals = n.collect().map(_.get(0))
      val eRows = e.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
      e.unpersist(blocking = false)
      n.unpersist(blocking = false)
      val nodeSet = nodeVals.toSet
      // incident (src, w) per dst, srcs restricted to labeled nodes the
      // way the distributed join restricts to the labels frame
      val inEdges: Map[Any, Array[(Any, Long)]] = eRows
        .filter(t => nodeSet.contains(t._1))
        .groupBy(_._2).map { case (dst, arr) => dst -> arr.map(t => (t._1, t._3)) }
      var lbl: Map[Any, Any] = nodeVals.iterator.map(v => v -> v).toMap
      for (_ <- 0 until iters) {
        val cur = lbl
        lbl = nodeVals.iterator.map { v =>
          val s = scala.collection.mutable.HashMap.empty[Any, Long]
          inEdges.getOrElse(v, Array.empty).foreach { case (src, w) =>
            val l = cur(src); s.update(l, s.getOrElse(l, 0L) + w)
          }
          if (s.isEmpty) v -> v
          else v -> s.iterator.reduceLeft { (a, b) =>
            // min struct(-s, lbl): larger weight wins, ties to the
            // Catalyst-smaller label
            if (b._2 > a._2 || (b._2 == a._2 && anyOrd.lt(b._1, a._1))) b else a
          }._1
        }.toMap
      }
      import org.apache.spark.sql.types.{StructField, StructType}
      val schema = StructType(Seq(nodeField.copy(name = "node"),
        nodeField.copy(name = "community")))
      val rows = nodeVals.map(v => org.apache.spark.sql.Row(v, lbl(v)))
      edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } else lpaLoop(n, e, iters)
  }

  private def lpaInputs(edges: DataFrame, nodes: DataFrame, iters: Int)
      : (DataFrame, DataFrame, Double) = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    nodesAndEdges(nodes, symmetrized(edges))
  }

  /** [[labelPropagation]]'s distributed loop, whatever the graph's size. */
  private[graft] def labelPropagationDistributed(edges: DataFrame, nodes: DataFrame,
                                                 iters: Int): DataFrame = {
    val (n, e, _) = lpaInputs(edges, nodes, iters)
    lpaLoop(n, e, iters)
  }

  private def lpaLoop(n: DataFrame, e: DataFrame, iters: Int): DataFrame = {
    val chain = Lineage.newChain("lpa")
    // try/finally (ADVICE r11): a mid-loop failure must still close the
    // chain's bookkeeping (a strong SparkSession ref) and drop the
    // helper persists — otherwise they leak until a later reliable-mode
    // cut sweeps stopped sessions
    try {
      var labels = Lineage.cut(n.select(col("node"), col("node").as("lbl")), chain)
      for (_ <- 0 until iters) {
        // per-neighbor-label incident weight, then argmax by
        // (weight desc, label asc) via min over an integer struct —
        // deterministic, map-side combinable, window-free
        val nb = e.join(labels, e("src") === labels("node"))
          .groupBy(col("dst"), col("lbl")).agg(sum(col("w")).as("s"))
        val best = nb.groupBy(col("dst"))
          .agg(min(struct(negate(col("s")).as("ns"), col("lbl").as("l"))).as("b"))
          .select(col("dst"), col("b.l").as("new_lbl"))
        labels = Lineage.cut(n.join(best, n("node") === best("dst"), "left")
          .select(col("node"), coalesce(col("new_lbl"), col("node")).as("lbl")), chain)
      }
      labels.select(col("node"), col("lbl").as("community"))
    } finally {
      e.unpersist(blocking = false)
      n.unpersist(blocking = false)
      Lineage.endChain(e.sparkSession, chain, deleteLast = false)
    }
  }

  /** Weighted Newman modularity of a node→community assignment,
    * computed EXACTLY: with A the symmetrized integer adjacency,
    * 2m = ΣA, s(u) = Σ_v A(u,v), in(c) = Σ_{u,v ∈ c} A(u,v) and
    * tot(c) = Σ_{u ∈ c} s(u),
    *
    *   Q = Σ_c [ in(c)·2m − tot(c)² ] / (2m)²
    *
    * The numerator accumulates as DECIMAL(38,0) products of exact
    * integers (order-independent), so both engines produce the
    * identical Q double — no fp until the single final division.
    *
    * @param edges  (src, dst, w) — same contract as [[labelPropagation]]
    * @param labels (node, community) — ONE row per node (every in-repo
    *               producer — labelPropagation, the community rollups —
    *               satisfies this). A duplicated node would make the
    *               twin and the distributed path diverge: the inner
    *               join multiplies the edge weight per duplicate while
    *               the driver map keeps one entry (ADVICE r16 #3) —
    *               dedupe upstream before calling with dirty labels.
    * @return 1 row: (two_m, modularity)
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = symmetrized(edges).persistT
    // driver twin: all the arithmetic is order-free — Long sums,
    // DECIMAL(38,0) products of exact integers, one final double
    // division — so the twin is exact by construction. The distributed
    // path on a dimension-keyed graph is ~6 query stages (two persists,
    // two rollup exchanges, two 1-row collects) for microseconds of math.
    // Gate order (ADVICE r16 #2): e.count() first — e is persisted and
    // the distributed path reads it anyway, while labels.count() is a
    // full extra materialization of the (possibly LPA-deep) labels
    // lineage; short-circuit so it only runs once the edge cap passed.
    if (e.count() <= DriverTwin.MaxEdges && labels.count() <= DriverTwin.MaxNodes) {
      val eRows = e.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
      e.unpersist(blocking = false)
      val lab: Map[Any, Any] =
        labels.collect().map(r => (r.get(0), r.get(1))).toMap
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val schema = StructType(Seq(
        StructField("two_m", LongType), StructField("modularity", DoubleType)))
      val out: org.apache.spark.sql.Row = if (eRows.isEmpty) {
        // distributed: sum over an empty frame is NULL for both
        org.apache.spark.sql.Row(null, null)
      } else {
        var twoM = 0L
        eRows.foreach(t => twoM += t._3) // Long wrap semantics = sum(long)
        // joined = e INNER JOIN labels on both endpoints
        val totC = scala.collection.mutable.HashMap.empty[Any, Long]
        val inC = scala.collection.mutable.HashMap.empty[Any, Long]
        eRows.foreach { case (s0, d0, w) =>
          (lab.get(s0), lab.get(d0)) match {
            case (Some(ca), Some(cb)) =>
              totC.update(ca, totC.getOrElse(ca, 0L) + w)
              if (ca == cb) inC.update(ca, inC.getOrElse(ca, 0L) + w)
            case _ => // unlabeled endpoint: inner join drops the edge
          }
        }
        if (totC.isEmpty) org.apache.spark.sql.Row(twoM, null)
        else {
          val twoMB = BigInt(twoM)
          var numer = BigInt(0)
          totC.foreach { case (c, tot) =>
            numer += BigInt(inC.getOrElse(c, 0L)) * twoMB - BigInt(tot) * BigInt(tot)
          }
          // Decimal(38,0) -> double is BigDecimal.doubleValue; the
          // divide chain mirrors cast(numer)/(cast(2m)*cast(2m))
          val q = new java.math.BigDecimal(numer.bigInteger).doubleValue() /
            (twoM.toDouble * twoM.toDouble)
          org.apache.spark.sql.Row(twoM, q)
        }
      }
      e.sparkSession.createDataFrame(java.util.Arrays.asList(out), schema)
    } else modularityLoop(e, labels)
  }

  /** [[modularity]]'s distributed rollups, whatever the graph's size. */
  private[graft] def modularityDistributed(edges: DataFrame, labels: DataFrame): DataFrame =
    modularityLoop(symmetrized(edges).persistT, labels)

  /** `e` = the persisted [[symmetrized]] adjacency, unpersisted here. */
  private def modularityLoop(e: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("src"), col("community").as("ca"))
    val lb = labels.select(col("node").as("dst"), col("community").as("cb"))
    val twoM = e.agg(sum(col("w")).as("two_m"))
    val joined = e.join(la, "src").join(lb, "dst").persistT
    val inC = joined.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(sum(col("w")).as("in_c"))
    val totC = joined.groupBy(col("ca").as("c")).agg(sum(col("w")).as("tot_c"))
    val numer = totC.join(inC, Seq("c"), "left")
      .crossJoin(broadcast(twoM))
      .select((coalesce(col("in_c"), lit(0L)).cast(DecimalType38) * col("two_m").cast(DecimalType38)
        - col("tot_c").cast(DecimalType38) * col("tot_c").cast(DecimalType38)).as("num"))
      .agg(sum(col("num")).as("numer"))
    val lazyOut = twoM.crossJoin(broadcast(numer))
      .select(col("two_m"),
        (col("numer").cast("double") /
          (col("two_m").cast("double") * col("two_m").cast("double"))).as("modularity"))
    // materialize the 1-row result so the helper persists can be
    // dropped BEFORE returning — a lazy return would leak e/joined in
    // the cache manager forever (ADVICE r8 #4)
    val row = lazyOut.collect()
    e.unpersist(blocking = false)
    joined.unpersist(blocking = false)
    lazyOut.sparkSession.createDataFrame(
      java.util.Arrays.asList(row: _*), lazyOut.schema)
  }

  /** k-core of an undirected graph by iterative peeling: repeatedly
    * drop every node with degree < k (degree = number of DISTINCT
    * neighbors) until no node changes — the classic cohesive-subgraph
    * extraction (Seidman 1983) that sits beside the union-find
    * components and LPA communities: components say "connected", the
    * k-core says "densely mutually connected", the filter a link-graph
    * curation pass uses to find the spam clique / the load-bearing
    * trade backbone.
    *
    * Scale shape per round: ONE |E|-bounded degree aggregate (map-side
    * combinable) plus two hash joins of the edge list against the
    * surviving-node set — no windows, no driver data. The edge frame
    * only ever SHRINKS, and each round re-plans against a
    * [[Lineage.cut]] leaf so R rounds cost R bounded shuffles, not an
    * R-deep plan. Convergence is detected from the cut frame's edge
    * count (already materialized by the cut — the count is free).
    * Deterministic: a fixpoint of monotone set shrinkage — execution
    * order cannot change the result.
    *
    * @param edges undirected edge list (a, b), each edge stored once,
    *              a != b, no parallel edges (pre-`distinct` them)
    * @param k     minimum degree to survive
    * @param maxRounds safety bound; the fixpoint is normally reached in
    *              O(peeling depth) rounds (require-failure past it —
    *              a graph needing more rounds than this is a signal,
    *              not a silent truncation)
    * @return the surviving edge list (a, b)
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    kCoreInputs(edges, k) { (e, nE, chain) =>
      // driver twin: the peeling fixpoint is monotone integer set
      // shrinkage — execution order cannot change it — and the edge
      // count the gate reads is the count the loop takes anyway. R
      // distributed rounds = ~4R query stages; the twin is one collect.
      if (nE <= DriverTwin.MaxEdges) {
        var arr = e.collect().map(r => (r.get(0), r.get(1)))
        var rounds = 0
        var converged = arr.length == 0
        while (!converged) {
          require(rounds < maxRounds,
            s"kCore did not converge within $maxRounds rounds (edges=${arr.length})")
          val deg = scala.collection.mutable.HashMap.empty[Any, Long]
          arr.foreach { t =>
            deg.update(t._1, deg.getOrElse(t._1, 0L) + 1L)
            deg.update(t._2, deg.getOrElse(t._2, 0L) + 1L)
          }
          val next = arr.filter(t => deg(t._1) >= k && deg(t._2) >= k)
          converged = next.length == arr.length
          arr = next
          rounds += 1
        }
        val rows = arr.map(t => org.apache.spark.sql.Row(t._1, t._2))
        edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), e.schema)
      } else kCoreLoop(e, nE, k, maxRounds, chain)
    }

  /** [[kCore]]'s distributed peeling, whatever the graph's size. */
  private[graft] def kCoreDistributed(edges: DataFrame, k: Int,
                                      maxRounds: Int = 50): DataFrame =
    kCoreInputs(edges, k)(kCoreLoop(_, _, k, maxRounds, _))

  /** Run `body` over the edge list cut onto a fresh "kcore" chain,
    * with its (free — the cut materialized it) edge count. */
  private def kCoreInputs(edges: DataFrame, k: Int)(
      body: (DataFrame, Long, String) => DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val chain = Lineage.newChain("kcore")
    try {
      val e = Lineage.cut(edges.select(col("a"), col("b")), chain)
      body(e, e.count(), chain)
    } finally Lineage.endChain(edges.sparkSession, chain, deleteLast = false)
  }

  private def kCoreLoop(e0: DataFrame, nE: Long, k: Int, maxRounds: Int,
                        chain: String): DataFrame = {
    var e = e0
    var prev = nE
    var rounds = 0
    var converged = prev == 0L
    while (!converged) {
      require(rounds < maxRounds,
        s"kCore did not converge within $maxRounds rounds (edges=$prev)")
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select(col("node"))
      val next = Lineage.cut(
        e.join(keep.select(col("node").as("a")), Seq("a"))
          .join(keep.select(col("node").as("b")), Seq("b"))
          .select(col("a"), col("b")), chain)
      val cnt = next.count()
      converged = cnt == prev
      prev = cnt
      e = next
      rounds += 1
    }
    e
  }

  /** Multi-source breadth-first search: exact minimum hop distance
    * from ANY seed to every node reachable within `maxHops`, over the
    * UNDIRECTED view of the edge list. The remaining graph primitive
    * next to pageRank/hits (importance), labelPropagation (community),
    * triangleStats (closure), and kCore (density): REACH — "how far is
    * everything from this set", the kernel of crawl-frontier planning,
    * seed-expansion audits, and contamination-spread analysis.
    *
    * Frontier algorithm, hop-synchronous: round r joins the previous
    * frontier to the adjacency list and anti-joins the visited set, so
    * each round is two hash joins bounded by |E| and the visited set
    * never re-expands (a node's FIRST discovery is its minimum
    * distance — BFS invariant). Exactly `maxHops` rounds, each behind
    * a [[Lineage.cut]] so the plan never grows; nothing on the driver
    * but the per-round count that early-exits on an exhausted
    * frontier.
    *
    * @param edges   (a, b) edge list; symmetrized internally
    * @param seeds   single-column frame of seed node ids (dist 0);
    *                ids absent from the graph are still reported at 0
    * @param maxHops rounds to expand (inclusive distance bound)
    * @return (node, dist) with dist in [0, maxHops], one row per
    *         reached node
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val (adj, nAdj, seed0) = bfsInputs(edges, seeds, maxHops)
    // driver twin: BFS distances are integers from a deterministic
    // frontier fixpoint — order-free. Gated on the adjacency count the
    // loop materializes anyway; type-guarded so a seed/edge type
    // mismatch falls through to the distributed union (which coerces).
    if (nAdj <= DriverTwin.MaxEdges &&
        adj.schema.fields(0).dataType == seed0.schema.fields(0).dataType) {
      val adjMap = adj.collect().map(r => (r.get(0), r.get(1)))
        .groupBy(_._1).map { case (a, arr) => a -> arr.map(_._2) }
      val seedVals = seed0.collect().map(_.get(0))
      adj.unpersist(blocking = false)
      val visited = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
      seedVals.foreach(v => visited.update(v, 0))
      var frontier: Iterable[Any] = seedVals.toSeq
      var r = 1
      while (r <= maxHops && frontier.nonEmpty) {
        val next = frontier.iterator
          .flatMap(v => adjMap.getOrElse(v, Array.empty[Any]))
          .filter(!visited.contains(_)).toSet
        next.foreach(v => visited.update(v, r))
        frontier = next
        r += 1
      }
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val schema = StructType(Seq(seed0.schema.fields(0).copy(name = "node"),
        StructField("dist", IntegerType, nullable = false)))
      val rows = visited.toSeq.map { case (v, d) => org.apache.spark.sql.Row(v, d) }
      edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } else bfsLoop(adj, seed0, maxHops)
  }

  /** Undirected, self-loop-free, deduplicated adjacency (unweighted —
    * [[symmetrized]] is the weighted variant for LPA/modularity),
    * persisted and counted once (every round probes it), plus the
    * distinct seeds. */
  private def bfsInputs(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : (DataFrame, Long, DataFrame) = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val adj = edges.select(col("a"), col("b"))
      .where(col("a") =!= col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b"))
        .where(col("a") =!= col("b")))
      .distinct().persist()
    (adj, adj.count(), seeds.toDF("node").distinct())
  }

  /** [[bfs]]'s distributed frontier loop, whatever the graph's size. */
  private[graft] def bfsDistributed(edges: DataFrame, seeds: DataFrame,
                                    maxHops: Int): DataFrame = {
    val (adj, _, seed0) = bfsInputs(edges, seeds, maxHops)
    bfsLoop(adj, seed0, maxHops)
  }

  /** `adj` is unpersisted here. */
  private def bfsLoop(adj: DataFrame, seed0: DataFrame, maxHops: Int): DataFrame = {
    // TWO live frames per round (frontier + visited) → two distinct
    // cut-chains, unique per invocation, so reliable-mode pruning only
    // ever deletes a checkpoint this loop has finished reading
    // (ADVICE r10: on the shared chain, cut(visited ∪ next) deleted the
    // still-referenced frontier checkpoint — round 2+ read deleted
    // files). The next-chain's final dir is an intermediate and is
    // deleted at exit; the visited-chain's final dir IS the result.
    val visChain = Lineage.newChain("bfs-visited")
    val nextChain = Lineage.newChain("bfs-next")
    val spark = adj.sparkSession
    try {
      var visited = Lineage.cut(seed0.select(col("node"), lit(0).as("dist")), visChain)
      var frontier = visited
      var r = 1
      var exhausted = false
      while (r <= maxHops && !exhausted) {
        val next = Lineage.cut(
          adj.join(frontier.select(col("node").as("a")).distinct(), Seq("a"))
            .select(col("b").as("node")).distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .select(col("node"), lit(r).as("dist")), nextChain)
        exhausted = next.isEmpty
        if (!exhausted) {
          visited = Lineage.cut(visited.unionAll(next), visChain)
          frontier = next
        }
        r += 1
      }
      visited
    } finally {
      adj.unpersist(blocking = false)
      Lineage.endChain(spark, nextChain, deleteLast = true)
      Lineage.endChain(spark, visChain, deleteLast = false)
    }
  }

  private val DecimalType38 = org.apache.spark.sql.types.DecimalType(38, 0)
}
