package perfbench

/** Per-layer metrics of a traced run. Every metric is emitted for every
  * workload; a layer a workload does not call reads 0. */
object Layers {
  val Generic: Seq[String] = Seq("ref", "ops", "streaming", "text", "dedup", "sim")

  /** Per-call timings, as (metric, op name, scale to the unit). The median
    * over the measured passes' calls of that op. */
  val Timed: Seq[(String, String, Double)] = Seq(
    ("ref.icpe_enrich_s", "ref.icpe_enrich", 1e-9),
    ("ref.icpe_stats_s", "ref.icpe_stats", 1e-9),
    ("ref.publish_s", "ref.publish", 1e-9),
    ("ref.write_corpus_s", "ref.write_corpus", 1e-9),
    ("ops.keep_latest_s", "ops.keep_latest", 1e-9),
    ("ops.asof_join_s", "ops.asof_join", 1e-9),
    ("ops.interval_join_s", "ops.interval_join", 1e-9),
    ("ops.merge_upsert_s", "ops.merge_upsert", 1e-9),
    ("ops.scd2_s", "ops.scd2", 1e-9),
    ("streaming.sessionize_s", "streaming.sessionize", 1e-9),
    ("streaming.hourly_s", "streaming.hourly", 1e-9),
    ("text.features_s", "text.features", 1e-9),
    ("text.repetition_s", "text.repetition", 1e-9),
    ("dedup.exact_s", "dedup.exact", 1e-9),
    ("dedup.minhash_s", "dedup.minhash", 1e-9),
    ("dedup.candidates_s", "dedup.candidates", 1e-9),
    ("dedup.cluster_s", "dedup.cluster", 1e-9),
    ("dedup.span_scrub_s", "dedup.span_scrub", 1e-9),
    ("sim.semantic_pairs_s", "sim.semantic_pairs", 1e-9))

  /** Counts a workload reports itself (0 where it has none). */
  val Counted: Seq[String] = Seq("dedup.candidate_pairs", "dedup.verified_pairs",
    "dedup.pair_yield", "ops.tracked_cache_pending")

  def metrics(ctx: Ctx, passes: Seq[Int], untracedNs: Long): Map[String, Double] = {
    val t = ctx.tracer
    val ps = passes.toSet
    val n = math.max(1, passes.size).toDouble
    val spans = t.spans.filter(s => ps.contains(s.pass))
    val self = t.selfNsByLayer(ps)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (l <- Generic) {
      val ls = spans.filter(_.layer == l)
      val cs = ls.flatMap(s => t.countsOf.get(s.id))
      out(s"$l.busy_s") = self.getOrElse(l, 0L) / 1e9 / n
      out(s"$l.calls") = ls.size / n
      out(s"$l.shuffle_mb") = cs.map(_.shuffleBytes).sum / 1e6 / n
      out(s"$l.spill_mb") = cs.map(_.spillBytes).sum / 1e6 / n
      out(s"$l.task_wait_s") = cs.map(_.waitNs).sum / 1e9 / n
      out(s"$l.gc_s") = cs.map(_.gcMs).sum / 1e3 / n
    }
    val all = spans.flatMap(s => t.countsOf.get(s.id))
    out("ref.write_mb") = spans.filter(_.layer == "ref")
      .flatMap(s => t.countsOf.get(s.id)).map(_.outputBytes).sum / 1e6 / n
    val queries = all.map(_.queries).sum
    out("plans.plan_ms") = if (queries == 0) 0.0 else all.map(_.planMs).sum / queries
    out("plans.graft_rewrites") = all.map(_.graftNodes).sum / n
    for ((metric, op, scale) <- Timed) {
      val xs = ctx.ops.filter(o => o.name == op && ps.contains(o.pass)).map(_.ns * scale).toSeq
      out(metric) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    for (c <- Counted) out(c) = ctx.layerValues.getOrElse(c, 0.0)
    val passNs = passes.map(t.passNs)
    out("trace.overhead_ratio") =
      if (untracedNs <= 0) 0.0 else Stats.median(passNs.map(_.toDouble)) / untracedNs
    val opSelf = self.filter(_._1 != "pass").values.sum
    out("trace.layer_cover") = if (passNs.sum == 0) 0.0 else opSelf.toDouble / passNs.sum
    out.toMap
  }
}
