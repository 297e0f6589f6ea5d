package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.RelationalOps

/** Pins the agreed semantics of every SURVEY.md §2 operator helper —
  * especially the pandas-NaN edge cases made explicit in §2.2/§2.8:
  * NULL-is-invalid (P8), three-valued dict map (F7), NaN-propagating
  * concat then fill (F1+F3), no-match regex → NULL (F4).
  */
class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("keepFirst: deterministic keep-first per key under any input order") {
    val df = Seq(
      ("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"),
      ("k2", 9, "z")).toDF("k", "ord", "v")
    val out = RelationalOps.keepFirst(df, Seq("k"), Seq(col("ord")))
      .orderBy("k").collect()
    out.map(r => (r.getString(0), r.getInt(1), r.getString(2))) shouldBe
      Array(("k1", 1, "a"), ("k2", 9, "z"))
  }

  test("keepLatest: keep-last per key = reference sort+groupby.last") {
    val df = Seq(
      ("c1", "2019", "s_old"), ("c1", "2021", "s_new"), ("c1", "2020", "s_mid"),
      ("c2", "2018", "s_only")).toDF("code", "annee", "siret")
    val out = RelationalOps.keepLatest(df, Seq("code"), Seq(col("annee")))
      .orderBy("code").collect()
    out.map(r => (r.getString(0), r.getString(2))) shouldBe
      Array(("c1", "s_new"), ("c2", "s_only"))
  }

  test("mergeUpsert: last version wins, deletes drop keys, inserts land") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "st", "pr")
    val changes = Seq(
      (1L, Some("a1"), Some(11.0), 1L, "U"),  // update
      (1L, Some("a2"), Some(12.0), 2L, "U"),  // later update wins over v1
      (2L, None, None, 1L, "D"),              // delete
      (3L, Some("c1"), Some(31.0), 1L, "U"),
      (3L, None, None, 2L, "D"),              // delete overrides update
      (9L, Some("new"), Some(90.0), 1L, "U")) // insert under a fresh key
      .toDF("k", "st", "pr", "version", "op")
    val out = RelationalOps.mergeUpsert(base, changes, "k", "version", "op")
      .orderBy("k").collect()
    out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
      Array((1L, "a2", 12.0), (9L, "new", 90.0))
  }

  test("mergeUpsert: no changes returns the base unchanged") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "st", "pr")
    val none = Seq.empty[(Long, String, Double, Long, String)]
      .toDF("k", "st", "pr", "version", "op")
    RelationalOps.mergeUpsert(base, none, "k", "version", "op")
      .orderBy("k").collect().map(_.getString(1)) shouldBe Array("a", "b")
  }

  test("mergeUpsert: result is stable under change-row order and partitioning") {
    val base = Seq((1L, "a", 10.0)).toDF("k", "st", "pr")
    val changes = Seq((1L, "x", 1.0, 5L, "U"), (1L, "y", 2.0, 3L, "U"),
        (1L, "z", 3.0, 4L, "U"))
      .toDF("k", "st", "pr", "version", "op")
    val a = RelationalOps.mergeUpsert(base, changes, "k", "version", "op").collect()
    val b = RelationalOps.mergeUpsert(base, changes.orderBy(col("version").desc).repartition(7),
      "k", "version", "op").collect()
    a shouldBe b
    a.head.getString(1) shouldBe "x"
  }

  test("skewReport: ratio is the hot key's multiple of the mean; ties break to highest key") {
    val df = (Seq.fill(8)("hot") ++ Seq("a", "b", "c", "d")).toDF("k")
    val r = graft.ops.Diagnostics.skewReport(df, "k").collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)) shouldBe (5L, 12L, 8L, "hot")
    r.getDouble(4) shouldBe (8.0 * 5 / 12) +- 1e-12
    // tie on counts resolves to the highest key (struct-max order)
    val tie = Seq("x", "y").toDF("k")
    graft.ops.Diagnostics.skewReport(tie, "k").collect()(0).getString(3) shouldBe "y"
  }

  test("profile: per-column null/distinct/min-max report in one pass; all-null and typed columns") {
    val df = Seq(
      (1L, Some("a"), Option.empty[String]),
      (2L, Some("b"), None),
      (3L, None, None),
      (3L, Some("a"), None)).toDF("id", "s", "dead")
    val out = graft.ops.Diagnostics.profile(df, Seq("id", "s", "dead"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))
    out(0) shouldBe (("dead", 4L, 4L, 0L, None, None))
    out(1) shouldBe (("id", 4L, 0L, 3L, Some("1"), Some("3")))
    out(2) shouldBe (("s", 4L, 1L, 2L, Some("a"), Some("b")))
  }

  test("latestByAgg: agg-based keep-last matches the window variant") {
    val df = Seq(
      ("c1", "2019", "s_old"), ("c1", "2021", "s_new"),
      ("c2", "2018", "s_only")).toDF("code", "annee", "siret")
    val out = RelationalOps.latestByAgg(df, Seq("code"),
        Seq(col("annee")), Seq(col("siret")))
      .select(col("code"), col("m.siret").as("siret"))
      .orderBy("code").collect()
    out.map(r => (r.getString(0), r.getString(1))) shouldBe
      Array(("c1", "s_new"), ("c2", "s_only"))
  }

  test("labelMap: NULL→NULL, known→label, unknown→'' (F7 three-valued)") {
    val df = Seq(Some("S"), Some("XX"), None).toDF("code")
    val out = df.select(RelationalOps.labelMap(col("code"),
        Map("S" -> "Seveso seuil haut")).as("label"))
      .collect().map(r => Option(r.getString(0)))
    out shouldBe Array(Some("Seveso seuil haut"), Some(""), None)
  }

  test("coalesceValid: invalid (short or NULL) replaced only by valid candidate (P8)") {
    val df = Seq(
      ("12345678901234", "99999999999999"), // valid orig -> kept
      ("123", "99999999999999"),            // short orig, valid cand -> replaced
      ("123", "9"),                         // short orig, short cand -> kept
      (null, "99999999999999"),             // null orig (pandas len('nan')=3), valid cand -> replaced
      (null, null)                          // null orig, null cand -> stays null
    ).toDF("orig", "cand")
    val out = df.select(RelationalOps.coalesceValid(col("orig"), col("cand")).as("r"))
      .collect().map(r => Option(r.getString(0)))
    out shouldBe Array(Some("12345678901234"), Some("99999999999999"),
      Some("123"), Some("99999999999999"), None)
  }

  test("isValidId: NULL is not valid (length(NULL)=NULL → filtered)") {
    val df = Seq(Some("12345678901234"), Some("123"), None).toDF("id")
    df.where(RelationalOps.isValidId(col("id"))).count() shouldBe 1
  }

  test("membershipFlag: left join flag, members deduped (J5)") {
    val df = Seq("a", "b", "c").toDF("siret")
    val members = Seq("b", "b", "z").toDF("siret")
    val out = RelationalOps.membershipFlag(df, "siret", members, "siret", "non_diffusible")
      .orderBy("siret").collect()
    out.map(r => (r.getString(0), Option(r.getString(1)))) shouldBe
      Array(("a", None), ("b", Some("oui")), ("c", None))
    // dedup: no fan-out from duplicate member keys
    out.length shouldBe 3
  }

  test("extractPostalCode: no-match → NULL, not '' (F4 pandas parity)") {
    val df = Seq("12 RUE X 75011 PARIS", "NO POSTAL HERE").toDF("address")
    val out = df.select(RelationalOps.extractPostalCode(col("address")).as("cp"))
      .collect().map(r => Option(r.getString(0)))
    out shouldBe Array(Some("75011"), None)
  }

  test("concatOrEmpty: NULL side propagates then fills '' (F1+F3)") {
    val df = Seq(("2710", Some("1")), ("2720", None)).toDF("rubrique", "alinea")
    val out = df.select(RelationalOps.concatOrEmpty("_", col("rubrique"), col("alinea")).as("r"))
      .collect().map(_.getString(0))
    out shouldBe Array("2710_1", "")
  }

  test("keepFirst is idempotent (SURVEY §5 property)") {
    val df = Seq(("k", 2, "b"), ("k", 1, "a"), ("j", 1, "x")).toDF("k", "ord", "v")
    val once  = RelationalOps.keepFirst(df, Seq("k"), Seq(col("ord")))
    val twice = RelationalOps.keepFirst(once, Seq("k"), Seq(col("ord")))
    twice.orderBy("k").collect() shouldBe once.orderBy("k").collect()
  }

  test("charGrams: distinct 3-grams, short-string fallback") {
    val out = Seq("abcd", "ab").toDF("s")
      .select(RelationalOps.charGrams(col("s")).as("g"))
      .collect().map(_.getSeq[String](0).toSeq)
    out(0) shouldBe Seq("abc", "bcd")
    out(1) shouldBe Seq("ab")
  }

  test("similarityJoin: near-matching names pair up, unrelated ones don't, no cross join") {
    val l = Seq((1L, "acme corporation"), (2L, "zeta systems gmbh"))
      .toDF("id", "name")
    val r = Seq((10L, "acme corp"), (20L, "omega holdings llc"))
      .toDF("id", "name")
    val out = RelationalOps.similarityJoin(
        l, "id", "name", r, "id", "name", minJaccard = 0.45)
      .collect()
    out.map(x => (x.getLong(0), x.getLong(1))).toSeq shouldBe Seq((1L, 10L))
    // "acme corp"'s 7 grams all appear in "acme corporation"'s 14:
    // jaccard = 7 / (14 + 7 - 7) = 0.5 exactly
    out.head.getDouble(2) shouldBe 0.5 +- 1e-12
  }

  test("mergeAggState: any split, merged in any association, equals from-scratch") {
    val rows = (1L to 60L).map(i => (i % 7, i, i.toDouble / 3)).toDF("k", "v", "x")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("x").as("mn"), max("x").as("mx"))
    val measures = Seq(("n", "sum"), ("sv", "sum"), ("mn", "min"), ("mx", "max"))
    val full = partial(rows).orderBy("k").collect().toSeq
    // three uneven slices, merged left-assoc and right-assoc
    val (a, b, c) = (rows.where(col("v") <= 10), rows.where(col("v") > 10 && col("v") <= 45),
      rows.where(col("v") > 45))
    val leftAssoc = RelationalOps.mergeAggState(
      RelationalOps.mergeAggState(partial(a), partial(b), Seq("k"), measures),
      partial(c), Seq("k"), measures).orderBy("k").collect().toSeq
    val rightAssoc = RelationalOps.mergeAggState(partial(a),
      RelationalOps.mergeAggState(partial(b), partial(c), Seq("k"), measures),
      Seq("k"), measures).orderBy("k").collect().toSeq
    leftAssoc shouldBe full
    rightAssoc shouldBe full
    // a key absent from one side must pass through unchanged
    val lone = RelationalOps.mergeAggState(partial(rows.where(col("k") === 0)),
      partial(rows.where(col("k") === 1)), Seq("k"), measures)
    lone.count() shouldBe 2
    an[IllegalArgumentException] should be thrownBy
      RelationalOps.mergeAggState(partial(a), partial(b), Seq("k"), Seq(("n", "avg")))
  }

  test("mergeAggState hll combiner: merged sketch estimates the union's distincts") {
    // users 1..40 seen in overlapping halves: state merge must not
    // double-count the overlap the way a "sum" of counts would
    val rows = (1L to 40L).map(u => (1L, u)).toDF("k", "u")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(hll_sketch_agg(col("u")).as("users"))
    val merged = RelationalOps.mergeAggState(
      partial(rows.where(col("u") <= 25)), partial(rows.where(col("u") >= 20)),
      Seq("k"), Seq(("users", "hll")))
    val est = merged.select(hll_sketch_estimate(col("users"))).head().getLong(0)
    est shouldBe 40L +- 2L // HLL at default lgk is exact-ish at n=40
  }

  test("scd2: collapses no-op changes, half-open intervals, current flag") {
    val log = Seq(
      // user 1: A at t=10, duplicate A at t=20 (collapses), B at t=30
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"), (1L, 30L, 102L, "B"),
      // user 2: flip-flops A->B->A: every entry is a change
      (2L, 10L, 200L, "A"), (2L, 20L, 201L, "B"), (2L, 30L, 202L, "A"),
      // user 3: equal-ts tie broken by event_id: B (id 301) wins as latest
      (3L, 10L, 300L, "A"), (3L, 10L, 301L, "B"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = RelationalOps.scd2(log, Seq("user_id"), "ts",
        Seq("event_type"), tieBreak = Seq("event_id"))
      .orderBy("user_id", "version")
      .select("user_id", "version", "event_type", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
    out.toSeq shouldBe Seq(
      (1L, 1, "A", 10L, 30L, false), // duplicate A at t=20 collapsed away
      (1L, 2, "B", 30L, -1L, true),
      (2L, 1, "A", 10L, 20L, false),
      (2L, 2, "B", 20L, 30L, false),
      (2L, 3, "A", 30L, -1L, true),
      (3L, 1, "A", 10L, 10L, false), // zero-width interval: superseded same instant
      (3L, 2, "B", 10L, -1L, true))
  }

  test("scd2: one Exchange total - both windows share partitioning and sort") {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val log = Seq((1L, 10L, 100L, "A")).toDF("user_id", "ts", "event_id", "event_type")
    val df = RelationalOps.scd2(log, Seq("user_id"), "ts",
      Seq("event_type"), tieBreak = Seq("event_id"))
    df.collect() // finalize the adaptive plan
    val exchanges = helper.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    exchanges.length shouldBe 1
    // and a single sort feeding both windows
    val sorts = helper.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    sorts.length shouldBe 1
  }

  test("similarityJoin: gramCap drops ubiquitous grams (skew guard semantics)") {
    // every row shares the 'aaaa' prefix; the frequency count unions
    // BOTH join sides, so in a self-join each row contributes a gram
    // twice — cap 4 keeps grams in <=2 rows and stoplists the shared
    // prefix (in all 3 rows, count 6)
    val l = Seq((1L, "aaaa-tail1"), (2L, "aaaa-tail2"), (3L, "aaaa-zzzz")).toDF("id", "name")
    val out = RelationalOps.similarityJoin(
        l, "id", "name", l, "id", "name", minJaccard = 0.5, gramCap = 4)
      .where(col("l_id") < col("r_id")).collect()
    // tail1 vs tail2 share surviving grams ('a-t','-ta','tai','ail'):
    // j = 4/(5+5-4) = 2/3; zzzz shares nothing surviving
    out.map(x => (x.getLong(0), x.getLong(1))).toSeq shouldBe Seq((1L, 2L))
  }

  test("funnelSteps: order-sensitivity, ties, broken chains, layout independence") {
    val evs = Seq(
      // u1: clean view(10) -> click(20) -> purchase(30)
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2: purchase BEFORE any view must not count; no purchase after
      (2L, 5L, "purchase"), (2L, 10L, "view"), (2L, 20L, "click"),
      // u3: click before view doesn't count, later click does; tie
      //     purchase at the same key as the click counts (>=)
      (3L, 8L, "click"), (3L, 10L, "view"), (3L, 15L, "click"),
      (3L, 15L, "purchase"),
      // u4: steps out of order entirely -> only the view counts
      (4L, 30L, "view"), (4L, 10L, "click"), (4L, 5L, "purchase"),
      // u5: no view at all -> step 0, but the row is present
      (5L, 10L, "click"), (5L, 20L, "purchase"),
      // u6: non-step events only -> filtered out, NO row
      (6L, 10L, "signup")
    ).toDF("u", "k", "typ")
    def run(df: org.apache.spark.sql.DataFrame) =
      RelationalOps.funnelSteps(df, col("u"), col("k"), col("typ"),
          Seq("view", "click", "purchase"))
        .collect().map(r => (r.getLong(0),
          (Option(r.get(1)), Option(r.get(2)), Option(r.get(3))),
          r.getInt(4))).sortBy(_._1).toSeq
    val out = run(evs)
    out shouldBe Seq(
      (1L, (Some(10L), Some(20L), Some(30L)), 3),
      (2L, (Some(10L), Some(20L), None), 2),
      (3L, (Some(10L), Some(15L), Some(15L)), 3),
      (4L, (Some(30L), None, None), 1),
      (5L, (None, None, None), 0))
    run(evs.repartition(7).sortWithinPartitions(desc("k"))) shouldBe out
  }

  test("snapshotDiff: all four statuses; key appears exactly once; layout independent") {
    import spark.implicits._
    val v1 = Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("id", "fp")
    val v2 = Seq((1L, 100L), (2L, 999L), (4L, 400L)).toDF("id", "fp")
    def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      RelationalOps.snapshotDiff(a, b, "id", "fp")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(1L -> "unchanged", 2L -> "modified", 3L -> "removed", 4L -> "added")
    diff(v1, v2) shouldBe want
    diff(v1.repartition(5), v2.repartition(3)) shouldBe want
    // direction matters: swapping versions swaps added/removed
    diff(v2, v1) shouldBe Map(1L -> "unchanged", 2L -> "modified",
      3L -> "added", 4L -> "removed")
  }

  test("globalRowNumber: equals the window formulation, stable under repartition") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"),
      (3L, "c2")).toDF("k", "v")
    val order = Seq(col("k").asc, col("v").asc)
    val want = df.withColumn("rn", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def got(d: org.apache.spark.sql.DataFrame) =
      RelationalOps.globalRowNumber(d, order)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    got(df) shouldBe want
    got(df.repartition(7)) shouldBe want
    // ranks are a contiguous 1..n permutation even with few partitions
    RelationalOps.globalRowNumber(df.repartition(2), order, partitions = 3)
      .select("rn").collect().map(_.getLong(0)).sorted shouldBe (1L to 6L).toArray
    // empty input: no rows, no failure
    RelationalOps.globalRowNumber(df.limit(0), order).count() shouldBe 0L
  }

  test("globalRowNumber: knownRows driver gate equals the distributed path on both gate sides") {
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"),
      (3L, "c2")).toDF("k", "v")
    val order = Seq(col("k").desc, col("v").asc)
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val distributed = asMap(RelationalOps.globalRowNumberDistributed(df, order))
    // without knownRows the public operator takes the distributed path
    asMap(RelationalOps.globalRowNumber(df, order)) shouldBe distributed
    // gate TRIPS: knownRows = exact count, below the cap
    asMap(RelationalOps.globalRowNumber(df, order, knownRows = 6L)) shouldBe distributed
    // the distributed path over few range partitions agrees too
    asMap(RelationalOps.globalRowNumberDistributed(df, order, partitions = 2)) shouldBe
      distributed
    // gated path on an empty frame: no rows, no failure
    RelationalOps.globalRowNumber(df.limit(0), order, knownRows = 0L).count() shouldBe 0L
  }
  test("globalLead1: a null-headed partition yields NULL, not a later head (ADVICE r10)") {
    // values null exactly where a range partition is likely to start;
    // the contract check is vs the single-partition window lead(), so
    // it holds wherever the sampled boundaries land
    val df = (1 to 40).map { i =>
      (i.toLong, if (i >= 15 && i <= 28) None else Some(i.toLong * 10))
    }.toDF("i", "v")
    val got = RelationalOps.globalLead1(df, Seq(col("i")), "v", "nxt", partitions = 5)
      .orderBy("i").collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("i"))
    val expected = df.withColumn("nxt", lead(col("v"), 1).over(w))
      .orderBy("i").collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
    got shouldBe expected
    // the specific regression shape: the last non-null row before the
    // null run must see NULL (its lead is null), not skip to row 29's value
    got.find(_._1 == 14L).get._2 shouldBe None
  }
}
