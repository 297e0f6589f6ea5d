package graft

import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.{Diagnostics, RelationalOps}
import graft.sim.{IvfIndex, VectorFunctions}
import graft.text.TextFunctions

/** Guard rails against dirty and skewed input, at a size where every
  * guard fires: a small fixture derived by hash from the row id (no RNG
  * state, any partitioning) plus crafted frames for the operators whose
  * hazard is a shape rather than a volume.
  *
  * The fixture (written once to parquet, read back by every case):
  *  - documents: 3 000 base docs (hash-derived word soup, 20–79 words),
  *    a 1 000-doc NEAR-DUP FAMILY (one 60-word template, one mutated
  *    word and one unique suffix word each: every member lands in the
  *    same LSH band buckets, far over the bucket cap), 500 EXACT copies
  *    (base docs 0..49 × 10), and 50 dirty rows: NULL, empty,
  *    whitespace-only, ~100 k-char and control-char texts;
  *  - embeddings: 1 500 uniform 64-d vectors, a 300-vector HOT CLUSTER
  *    (one anchor ± 1e-4), 20 each of NULL, zero, NaN-component and
  *    wrong-dimension (32-d) vectors;
  *  - lineitem/part: 20 000 lineitems where `l_partkey = 1` carries
  *    about 30 % of the rows.
  *
  * Caps are passed small (`bucketCap`, `dfCap`) and the `private[graft]`
  * distributed bodies are called directly, so both sides of every
  * [[graft.ops.DriverTwin]] gate run at this size.
  */
class AdversarialSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._
  import AdversarialSpec._

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-adversarial").toString
    fixtureDocs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    fixtureEmbeddings.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    (0L until 20000L).map { id =>
      (pick(5000, id, 41) + 1L,
        if (pick(10, id, 43) < 3) 1L else pick(2000, id, 47) + 2L,
        pick(50, id, 59) + 1.0)
    }.toDF("l_orderkey", "l_partkey", "l_quantity").write.parquet(s"$dir/lineitem.parquet")
    (1L to 2001L).map(k => (k, s"Brand#${pick(50, k, 97)}")).toDF("p_partkey", "p_brand")
      .write.parquet(s"$dir/part.parquet")
    dir
  }
  private def docs: DataFrame = spark.read.parquet(s"$fixtureDir/documents.parquet")
  private def embs: DataFrame = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
  private def lineitem: DataFrame = spark.read.parquet(s"$fixtureDir/lineitem.parquet")
  private def part: DataFrame = spark.read.parquet(s"$fixtureDir/part.parquet")

  // the signatures and the capped candidate pairs feed four cases
  private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def persistOnce(df: DataFrame): DataFrame = { persisted += df.persist(); df }
  private lazy val sigs: DataFrame = persistOnce(Dedup.minhashSignatures(docs, k = 32))
  private lazy val pairs: DataFrame = persistOnce(Dedup.minhashCandidatePairs(sigs, bands = 4,
    rowsPerBand = 8, minEst = MinEst, bucketCap = Cap))

  override def afterAll(): Unit = {
    persisted.foreach(_.unpersist())
    super.afterAll()
  }

  private def inRange(c: String, lo: Long, n: Long): Column =
    col(c) >= lo && col(c) < lo + n

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def num(r: Row, f: String): Long = r.getAs[Number](f).longValue

  /** Writes each frame to `<dir>/<table>.parquet` (the layout the
    * query inventory reads) and returns the directory. */
  private def plant(tables: (String, DataFrame)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-adv-q").toString
    tables.foreach { case (t, df) => df.coalesce(1).write.parquet(s"$dir/$t.parquet") }
    dir
  }

  private def query(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def textDocs(n: Long, text: String): DataFrame =
    spark.range(n).selectExpr("id AS doc_id", "'en' AS lang", "'s' AS source")
      .withColumn("text", lit(text))

  // ---------------------------------------------------------------
  // dedup on the dirty, skewed corpus

  test("exactGroups on dirty text: 11-copy groups, one NULL group, every distinct text once") {
    val g = Dedup.exactGroups(docs).collect()
    // distinct texts: the base docs (copies join their groups), the
    // family, and the dirty shapes — NULL, "", blank and the control-char
    // row each collapse to one group, the five monsters stay apart
    g.length shouldBe BaseN + FamilyN + 1 + 1 + 1 + 5 + 1
    g.count(_.getLong(2) == 11L) shouldBe CopyGroups
    g.filter(_.getLong(2) == 11L).map(_.getLong(1)).toSet shouldBe (0L until CopyGroups).toSet
    val nullGroup = g.filter(_.isNullAt(0))
    nullGroup.map(r => (r.getLong(1), r.getLong(2))) shouldBe Array((DirtyLo, 10L))
  }

  test("minhashSignatures drops exactly the NULL texts; garbage and monster texts keep a full signature") {
    val rows = sigs.collect()
    rows.length shouldBe TotalDocs - 10
    rows.map(_.getLong(0)).toSet.intersect((DirtyLo until DirtyLo + 10).toSet) shouldBe empty
    rows.foreach { r =>
      r.isNullAt(1) shouldBe false
      r.getSeq[Long](1) should have size 32
    }
  }

  test("minhashCandidatePairs: an over-cap bucket emits every verified star pair to its minimum id, never the quadratic set") {
    val banded = Dedup.bandedOf(sigs, 4, 8)
    val over = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("anchor"))
      .where(col("n") > Cap)
    // the fixture's point: the family overfills a bucket in every band
    over.select("band").distinct().count() shouldBe 4L
    banded.join(over, Seq("band", "bh"))
      .where(!inRange("doc_id", FamilyLo, FamilyN)).count() shouldBe 0L
    // reference: every (anchor, member) of an over-cap bucket whose
    // signatures agree on >= minEst of the positions
    val agree = aggregate(zip_with(col("sa"), col("sb"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
    val star = banded.join(over, Seq("band", "bh"))
      .where(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b")).distinct()
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .where(agree / lit(32.0) >= MinEst)
      .select("doc_a", "doc_b")
    star.count() should be > FamilyN * 9 / 10
    star.exceptAll(pairs.select("doc_a", "doc_b")).count() shouldBe 0L
    // O(bucket), not O(bucket²): ~500 000 family pairs without the cap
    pairs.where(inRange("doc_a", FamilyLo, FamilyN) && inRange("doc_b", FamilyLo, FamilyN))
      .count() should be < (FamilyN * 8)
    // the 11-copy groups: every pair, est 1.0
    val isCopy = (c: String) => col(c) < CopyGroups || inRange(c, CopyLo, CopyGroups * 10)
    pairs.where(isCopy("doc_a") && isCopy("doc_b") && col("est_jaccard") === 1.0)
      .count() shouldBe CopyGroups * 55L
  }

  test("nearDupClusters over the hot family: driver twin and distributed label propagation agree") {
    val driver = Dedup.nearDupClusters(pairs)
    Dedup.lastLabelPropIterations shouldBe -1 // the driver union-find ran
    val driverRows = rowSet(driver)
    val dist = Dedup.nearDupClustersDistributed(pairs)
    rowSet(dist) shouldBe driverRows
    Dedup.lastLabelPropIterations should be > 0
    // the family is one component labeled by its minimum id
    val family = driverRows.toSeq.collect { case Seq(d: Long, c: Long)
      if d >= FamilyLo && d < FamilyLo + FamilyN => d -> c }
    family.size should be > (FamilyN * 9 / 10).toInt
    family.map(_._2).toSet shouldBe Set(family.map(_._1).min)
    // survivors: one per copy group (the base doc), one family member
    val kept = Dedup.dedupByClusters(docs, driver).select("doc_id").as[Long].collect().toSet
    kept.count(d => d >= CopyLo && d < CopyLo + CopyGroups * 10) shouldBe 0
    (0L until CopyGroups).foreach(d => kept should contain(d))
    kept.intersect(family.map(_._1).toSet) shouldBe Set(family.map(_._1).min)
  }

  test("index-served self pairs equal the from-scratch pairs on the hot family") {
    import graft.dedup.SignatureIndex
    val spec = SignatureIndex.Spec(bands = 4, rowsPerBand = 8, buckets = 8)
    val scratch = Dedup.minhashCandidatePairs(sigs, 4, 8, minEst = 0.9, bucketCap = Cap)
      .select("doc_a", "doc_b")
    SignatureIndex.write(sigs, "adv_sigidx", spec)
    val served = SignatureIndex.selfPairs(spark, "adv_sigidx", spec, minEst = 0.9,
      bucketCap = Cap).select("doc_a", "doc_b")
    val want = rowSet(scratch)
    want.size should be > (CopyGroups * 55).toInt
    rowSet(served) shouldBe want
  }

  test("containmentPairs: dfCap drops the family's grams at every cap; the 11-copy groups survive") {
    for (cap <- Seq(20, 200)) withClue(s"dfCap $cap: ") {
      val cp = Dedup.containmentPairs(docs.where(col("text").isNotNull),
        n = 5, minContain = 0.8, minGrams = 10, dfCap = cap).persist()
      try {
        val isCopy = (c: String) => col(c) < CopyGroups || inRange(c, CopyLo, CopyGroups * 10)
        // ordered pairs inside each 11-copy group: 11 × 10
        cp.where(isCopy("doc_a") && isCopy("doc_b")).count() shouldBe CopyGroups * 110L
        cp.where(inRange("doc_a", FamilyLo, FamilyN) || inRange("doc_b", FamilyLo, FamilyN))
          .count() shouldBe 0L
        cp.count() shouldBe CopyGroups * 110L
      } finally cp.unpersist()
    }
  }

  test("text kernels and quality scoring on NULL, empty, blank, monster and control-char text") {
    val q = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tok"),
      TextFunctions.langId(TextFunctions.tokens(col("text"))).as("lang_id")).collect()
    q.length shouldBe TotalDocs
    q.filter(_.isNullAt(1)).map(_.getLong(0)).toSet shouldBe (DirtyLo until DirtyLo + 10).toSet
    q.count(_.isNullAt(2)) shouldBe 0
    q.filter(r => r.getLong(0) >= DirtyLo + 25 && r.getLong(0) < DirtyLo + 30)
      .foreach(_.getInt(1) shouldBe 15000)
    // sub-2-token docs (an empty text is one "" token) drop out; a
    // blank text keeps two "" tokens (trim strips only spaces, the tab
    // and newline stay and split), so every other non-NULL doc scores
    val rep = graft.text.QualityOps.repetitionStats(docs.where(col("text").isNotNull))
    rep.count() shouldBe TotalDocs - 10 - 10
  }

  // ---------------------------------------------------------------
  // vectors on the dirty embeddings

  test("cosineNearDupPairs: the hot cluster star-pairs to its minimum id; NaN and zero vectors never pass >= minCos") {
    val cp = VectorFunctions.cosineNearDupPairs(embs, dim = 64, minCos = 0.8, bucketCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    cp.count(_._3.isNaN) shouldBe 0
    cp.count(p => p._1 >= DirtyVecLo || p._2 >= DirtyVecLo) shouldBe 0
    // every member pairs with the cluster's minimum id, in O(cluster)
    // pairs, not the C(300,2) = 44 850 an uncapped bucket would verify
    val hot = cp.filter(p => p._1 >= HotLo && p._1 < HotLo + HotN)
    hot.filter(_._1 == HotLo).map(_._2).toSet shouldBe (HotLo + 1 until HotLo + HotN).toSet
    hot.length should be <= (2 * HotN).toInt
    cp.foreach(_._3 should be >= 0.8)
  }

  test("IvfIndex over dirty vectors: fit yields no NaN centroid; annTopK returns k finite neighbours") {
    val ivf = new IvfIndex(nCells = 8, nProbe = 2)
    val cents = ivf.fit(embs, iters = 2)
    cents.length shouldBe 8
    cents.foreach { case (cell, c) => withClue(s"cell $cell: ")(c.count(_.isNaN) shouldBe 0) }
    val queries = embs.where(col("vec_id") < 20)
    for ((label, res) <- Seq("seed" -> ivf.annTopK(embs, queries, k = 5),
                             "fitted" -> ivf.annTopKWith(embs, queries, 5, cents))) withClue(s"$label: ") {
      val r = res.select("query_id", "neighbor_id", "cos").collect()
      r.length shouldBe 100
      r.count(x => x.isNullAt(2) || x.getDouble(2).isNaN) shouldBe 0
    }
  }

  test("IvfIndex.assign over dirty vectors: one in-range cell per vector; the hot cluster shares a cell") {
    val ivf = new IvfIndex(nCells = 8, nProbe = 2)
    val nonNull = embs.where(col("embedding").isNotNull)
    val cells = ivf.assign(nonNull).select("vec_id", "cell").collect()
    cells.length.toLong shouldBe nonNull.count()
    cells.map(_.getLong(0)).distinct.length shouldBe cells.length
    cells.foreach(r => r.getInt(1) should (be >= 0 and be < 8))
    cells.filter(r => r.getLong(0) >= HotLo && r.getLong(0) < HotLo + HotN)
      .map(_.getInt(1)).toSet should have size 1
  }

  test("annTopKFiltered under a rare label: never a wrong label or a NaN, at most k per query") {
    val lbl = embs.withColumn("label",
      when(pmod(col("vec_id"), lit(97)) === 0, lit(99)).otherwise(col("label")).cast("int"))
    val queries = lbl.where(col("label") === 99 && col("vec_id") < HotLo).limit(5)
    val out = new IvfIndex(nCells = 8, nProbe = 2)
      .annTopKFiltered(lbl, queries, k = 10, pred = col("label") === col("q_label"))
      .select("query_id", "neighbor_id", "cos").collect()
    out should not be empty
    val rare = lbl.where(col("label") === 99).select("vec_id").as[Long].collect().toSet
    out.foreach(r => rare should contain(r.getLong(1)))
    out.count(r => !r.isNullAt(2) && r.getDouble(2).isNaN) shouldBe 0
    out.groupBy(_.getLong(0)).values.foreach(_.length should be <= 10)
  }

  // ---------------------------------------------------------------
  // hot join key

  test("skewReport names the 30 % hot key") {
    val r = Diagnostics.skewReport(lineitem, "l_partkey").collect()(0)
    r.getAs[Long]("hot_key") shouldBe 1L
    val hot = lineitem.where(col("l_partkey") === 1L).count()
    hot.toDouble / 20000 should (be > 0.25 and be < 0.35)
    r.getAs[Long]("max_n") shouldBe hot
    r.getAs[Double]("skew_ratio") should be > 100.0
  }

  test("saltedJoin returns the plain join's rows under a 30 % hot key, with and without a spread column") {
    val pSlim = part.select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    // a shuffle join, as a naive plan would run it on the hot key
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = rowsOf(lineitem.join(pSlim, "l_partkey"))
      plain should have size 20000
      rowsOf(RelationalOps.saltedJoin(lineitem, pSlim, "l_partkey", salt = 8)) shouldBe plain
      rowsOf(RelationalOps.saltedJoin(lineitem, pSlim, "l_partkey", salt = 8,
        spread = Some(col("l_orderkey")))) shouldBe plain
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** The joined rows as a sorted multiset. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, Double, String)] =
    df.select("l_orderkey", "l_partkey", "l_quantity", "p_brand")
      .as[(Long, Long, Double, String)].collect().toSeq.sorted

  // ---------------------------------------------------------------
  // graphs and clusters under hubs, cliques and chains

  test("pageRank conserves mass around a 90 % hub on both sides of the driver-twin gate") {
    def graph(n: Int) = {
      val edges = spark.range(0, n * 4L).toDF("i")
        .select((pmod(hash(col("i"), lit(3)), lit(n - 1)) + 1).cast("long").as("src"),
          when(pmod(hash(col("i"), lit(7)), lit(10)) < 9, lit(0L))
            .otherwise(pmod(hash(col("i"), lit(9)), lit(n)).cast("long")).as("dst"),
          lit(1L).as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      (edges, spark.range(0, n).toDF("node"))
    }
    val (e1, n1) = graph(500)
    val (e2, n2) = graph(2000)
    for ((label, pr) <- Seq(
        "driver" -> graft.ops.Graph.pageRank(e1, n1, iters = 3),
        "distributed" -> graft.ops.Graph.pageRankDistributed(e2, n2, iters = 3))) withClue(s"$label: ") {
      val r = pr.collect().map(r => r.getLong(0) -> r.getDouble(1))
      r.count(_._2.isNaN) shouldBe 0
      r.map(_._2).sum shouldBe 1.0 +- 1e-9
      r.maxBy(_._2)._1 shouldBe 0L
    }
  }

  test("sessionCoOccurrence under power users: at most C(T,2) rows, n_ab never above n_sessions") {
    val baseMs = 1704067200000L
    val types = typedLit(Array("view", "click", "scroll", "search", "add", "remove", "buy", "share"))
    def ty(id: Column, salt: Int) = element_at(types, pmod(hash(id, lit(salt)), lit(8)) + 1)
    val power = spark.range(0, 10000).toDF("i")
      .select(col("i").as("event_id"), lit(1L).as("user_id"),
        timestamp_millis(lit(baseMs) + col("i") * 45000L +
          (col("i") / 1000L).cast("long") * 3600000L).as("ts"),
        ty(col("i"), 19).as("event_type"))
    val mega = spark.range(0, 5000).toDF("i")
      .select((col("i") + 1000000L).as("event_id"), lit(2L).as("user_id"),
        timestamp_millis(lit(baseMs) + col("i") * 10000L).as("ts"),
        ty(col("i"), 23).as("event_type"))
    val crowd = spark.range(0, 20000).toDF("i")
      .select((col("i") + 2000000L).as("event_id"),
        (pmod(hash(col("i"), lit(29)), lit(1000)).cast("long") + 100L).as("user_id"),
        timestamp_millis(lit(baseMs) +
          pmod(hash(col("i"), lit(31)), lit(2592000)).cast("long") * 1000L).as("ts"),
        ty(col("i"), 37).as("event_type"))
    val out = graft.queries.ExtendedCoreQueries.sessionCoOccurrence(
      power.unionByName(mega).unionByName(crowd)).collect()
    out.length should (be > 0 and be <= 28)
    out.count(r => num(r, "n_ab") > num(r, "n_sessions")) shouldBe 0
  }

  test("distributed label propagation: a clique and a chain converge in O(log diameter) rounds; remap checksum is exact") {
    val ids = spark.range(0, 100).select((col("id") + 100000L).as("x"))
    val clique = ids.select(col("x").as("doc_a"))
      .crossJoin(ids.select(col("x").as("doc_b")))
      .where(col("doc_a") < col("doc_b"))
    val chainN = 128
    val chain = spark.range(0, chainN - 1)
      .select((col("id") + 500000L).as("doc_a"), (col("id") + 500001L).as("doc_b"))
    val cl = Dedup.nearDupClustersDistributed(clique.unionByName(chain)).persist()
    try {
      // pointer jumping halves the distance per round: ~log2(diameter)+2
      val iters = Dedup.lastLabelPropIterations
      iters should (be > 0 and be <= 7 + 2)
      val m = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      m.values.toSet shouldBe Set(100000L, 500000L)
      m.count { case (d, c) => d < 500000L && c != 100000L } shouldBe 0
      m.count { case (d, c) => d >= 500000L && c != 500000L } shouldBe 0
      // the survivor remap over the corpus (clique, chain, singletons)
      val singles = spark.range(0, 100).select((col("id") + 900000L).as("doc_id"))
      val corpus = ids.select(col("x").as("doc_id"))
        .unionByName(spark.range(0, chainN).select((col("id") + 500000L).as("doc_id")))
        .unionByName(singles)
      val remap = corpus.join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
      val checksum = remap.agg(sum(col("canonical_id"))).collect()(0).getLong(0)
      checksum shouldBe 100L * 100000L + chainN * 500000L + (0L until 100L).map(_ + 900000L).sum
      remap.where(col("canonical_id") =!= col("doc_id")).count() shouldBe (99L + chainN - 1)
    } finally cl.unpersist()
  }

  test("nearDupClusters labels are component minima on a crafted cluster") {
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels shouldBe ((10L to 14L).map(_ -> 10L) ++ Seq(20L -> 20L, 21L -> 20L)).toMap
  }

  test("triangleStats on a clique plus a star hub, on both sides of the driver-twin gate") {
    val k = 20L
    val cl = spark.range(0, k).toDF("a").crossJoin(spark.range(0, k).toDF("b"))
      .where(col("a") < col("b")).select(col("a").as("src"), col("b").as("dst"))
    val star = spark.range(k, k + 300).toDF("dst").select(lit(0L).as("src"), col("dst"))
    val edges = cl.unionByName(star)
    for ((label, t) <- Seq("driver" -> graft.ops.Graph.triangleStats(edges),
                           "distributed" -> graft.ops.Graph.triangleStatsDistributed(edges))) withClue(s"$label: ") {
      val r = t.collect()(0)
      r.getLong(3) shouldBe k * (k - 1) * (k - 2) / 6 // C(20,3) from the clique, 0 from the star
      r.getLong(0) shouldBe k + 300
    }
  }

  test("labelPropagation on a star two-cycles in closed form; modularity of the split is negative") {
    import graft.ops.Graph
    val n = 100L
    val edges = spark.range(1, n + 1).select(lit(0L).as("src"), col("id").as("dst"), lit(1L).as("w"))
    val nodes = spark.range(0, n + 1).toDF("node")
    def labelsAt(iters: Int): Map[Long, Long] =
      Graph.labelPropagation(edges, nodes, iters).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at3 = labelsAt(3)
    val at4 = labelsAt(4)
    // odd rounds: hub 1, spokes 0; even rounds: hub 0, spokes 1
    at3(0L) shouldBe 1L
    (1L to n).foreach(at3(_) shouldBe 0L)
    at4(0L) shouldBe 0L
    (1L to n).foreach(at4(_) shouldBe 1L)
    labelsAt(4) shouldBe at4
    val q = Graph.modularity(edges, at4.toSeq.toDF("node", "community")).collect()(0)
    q.getLong(0) shouldBe 2 * n
    q.getDouble(1) should be < 0.0
  }

  test("bfs on a long path, a wide star, a diamond and a seed outside the graph") {
    import graft.ops.Graph
    val path = (1 to 30).map(i => (i, i + 1)).toDF("a", "b")
    val pd = Graph.bfs(path, Seq(1).toDF("node"), 40).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    pd shouldBe (1 to 31).map(v => v -> (v - 1)).toMap
    val star = (2 to 2001).map(i => (1, i)).toDF("a", "b")
    val sd = Graph.bfs(star, Seq(1).toDF("node"), 3)
    sd.where(col("dist") === 1).count() shouldBe 2000L
    sd.count() shouldBe 2001L
    val dia = Seq((1, 2), (2, 3), (3, 4), (4, 9), (1, 8), (8, 9)).toDF("a", "b")
    val dd = Graph.bfs(dia, Seq(1).toDF("node"), 5).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    (dd(9), dd(4)) shouldBe ((2, 3))
    Graph.bfs(dia, Seq(1, 777).toDF("node"), 1).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap.apply(777) shouldBe 0
  }

  // ---------------------------------------------------------------
  // ordering, prefix scans and bounded registries under ties and skew

  test("globalRowNumber under ten order keys: ranks are exactly 1..n") {
    val n = 20000L
    val df = spark.range(0, n).toDF("id").select(col("id"), pmod(hash(col("id")), lit(10)).as("k"))
    val rn = RelationalOps.globalRowNumberDistributed(df, Seq(col("k").asc, col("id").asc), partitions = 8)
    val a = rn.agg(min("rn"), max("rn"), count(lit(1)), sum("rn")).collect()(0)
    (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3)) shouldBe ((1L, n, n, n * (n + 1) / 2))
  }

  test("global prefix scans over 7 range partitions equal the window formulation, ties included") {
    val df = (1L to 500L).map(i => (i, (i * 37) % 101, (i * 13) % 50)).toDF("id", "k", "v")
    val wAsc = Window.orderBy(col("k").asc, col("id").asc)
    def keyed(d: DataFrame) = d.collect().map(r => r.getLong(0) ->
      (r.getLong(3), Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))).toMap
    val truth = keyed(df
      .withColumn("cs", sum(col("v")).over(wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("csx", sum(col("v")).over(wAsc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("mx", max(col("v")).over(wAsc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ld", lead(col("v"), 1).over(wAsc)))
    val order = Seq(col("k").asc, col("id").asc)
    keyed(RelationalOps.globalLead1(
      RelationalOps.globalRunningMax(
        RelationalOps.globalRunningSum(
          RelationalOps.globalRunningSum(df, order, "v", "cs", partitions = 7),
          order, "v", "csx", inclusive = false, partitions = 7),
        order, "v", "mx", inclusive = false, partitions = 7),
      order, "v", "ld", partitions = 7)) shouldBe truth
    val wDesc = Window.orderBy(col("k").desc, col("id").desc)
    def sums(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    sums(RelationalOps.globalRunningSum(df, Seq(col("k").desc, col("id").desc), "v", "cs",
      partitions = 7)) shouldBe
      sums(df.withColumn("cs", sum(col("v")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  test("running sum over netted mass ties: exact peak, back to zero") {
    val sess = (1 to 9900).map(i => (1000L, 1000L + (i % 50) * 100L)) ++
      (1 to 100).map(_ => (1000L, 1000L))
    val s = sess.toDF("start_ms", "end_ms")
    val deltas = s.select(col("start_ms").as("ms"), lit(1L).as("dl"))
      .unionAll(s.select((col("end_ms") + 1).as("ms"), lit(-1L).as("dl")))
      .groupBy(col("ms")).agg(sum(col("dl")).as("net"))
    val curve = RelationalOps.globalRunningSum(deltas, Seq(col("ms").asc), "net", "conc", partitions = 7)
      .collect().map(r => r.getAs[Long]("ms") -> r.getAs[Long]("conc")).sortBy(_._1)
    curve.map(_._2).max shouldBe 10000L
    curve.last._2 shouldBe 0L
  }

  test("KS kernel under a 99 % source: value-grain cells, exact statistic for the minority source") {
    val big = (1L to 9900L).map(i => (i, "big", (i % 7) * 10 + 10))
    val tiny = (1L to 100L).map(i => (i + 990000L, "tiny", 200L))
    val cells = (big ++ tiny).toDF("doc_id", "source", "v")
      .groupBy("source", "v").agg(count(lit(1)).as("c"))
    cells.count() shouldBe 8L
    val byV = cells.groupBy("v").agg(sum(col("c")).as("cnt_all"))
    val cumAll = RelationalOps.globalRunningSum(byV, Seq(col("v").asc), "cnt_all", "cum_all")
    val nAll = 10000L
    val tinyD = cells.join(cumAll, Seq("v"))
      .withColumn("cum_src", sum(col("c")).over(Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("source") === "tiny")
      .select(greatest(
        abs(col("cum_src") * nAll - col("cum_all") * 100L),
        abs((col("cum_src") - col("c")) * nAll - (col("cum_all") - col("cnt_all")) * 100L)).as("d"))
      .agg(max(col("d"))).collect()(0).getLong(0)
    // all of tiny sits at the global maximum: the sup is just below it
    tinyD shouldBe 9900L * 100L
  }

  test("EMD: lead gaps across partition boundaries are 1; the numerator equals a BigInt loop") {
    val rows = (1L to 200L).flatMap { v =>
      Seq.fill(if (v <= 100) 3 else 1)(("lo", v)) ++ Seq.fill(if (v > 100) 3 else 1)(("hi", v))
    }
    val cells = rows.toDF("source", "v").groupBy("source", "v").agg(count(lit(1)).as("c"))
    val byV = RelationalOps.globalLead1(
        RelationalOps.globalRunningSum(
          cells.groupBy("v").agg(sum(col("c")).as("cnt_all")),
          Seq(col("v").asc), "cnt_all", "cum_all", partitions = 7),
        Seq(col("v").asc), "v", "v_next", partitions = 7)
      .withColumn("gap", coalesce(col("v_next") - col("v"), lit(0L)))
    byV.where(col("v") < 200 && col("gap") =!= 1L).count() shouldBe 0L
    val bySrc = cells.groupBy("source").agg(sum(col("c")).as("n_src"))
    val tot = cells.agg(sum(col("c")).as("n_all"))
    val dec = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val loNum = byV.crossJoin(broadcast(bySrc.where(col("source") === "lo")))
      .join(cells, Seq("source", "v"), "left_outer").na.fill(0L, Seq("c"))
      .withColumn("cum_src", sum(col("c")).over(Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(sum(abs(dec(col("cum_src")) * dec(col("n_all")) -
        dec(col("cum_all")) * dec(col("n_src"))) * dec(col("gap")))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("num"))
      .collect()(0).getDecimal(0)
    val cellMap = rows.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    def cellOf(s: String, v: Long): Long = cellMap.getOrElse((s, v), 0L)
    val nAll = BigInt(rows.size)
    val nLo = BigInt(rows.count(_._1 == "lo"))
    var cumA = BigInt(0); var cumL = BigInt(0); var brute = BigInt(0)
    (1L to 200L).foreach { v =>
      cumA += cellOf("lo", v) + cellOf("hi", v)
      cumL += cellOf("lo", v)
      if (v < 200) brute += (cumL * nAll - cumA * nLo).abs
    }
    BigInt(loNum.toBigInteger) shouldBe brute
  }

  test("quintile formula over globalRowNumber on degenerate cohorts, all metric values tied") {
    def quints(n: Int): Seq[Int] =
      RelationalOps.globalRowNumber((1 to n).map(i => (i.toLong, 100L)).toDF("id", "m"),
          Seq(col("m").desc, col("id").asc), "rn", partitions = 2)
        .withColumn("q", expr(s"CAST((rn - 1) * 5 div $n + 1 AS INT)"))
        .orderBy("id").collect().map(_.getAs[Int]("q")).toSeq
    quints(3) shouldBe Seq(1, 2, 4)
    quints(1) shouldBe Seq(1)
    quints(5) shouldBe Seq(1, 2, 3, 4, 5)
  }

  test("boundedRegistry and waterFillAllocation pass a registry at the cap and throw one past it") {
    val ok = (1 to 4096).map(i => (s"s$i", i.toLong)).toDF("source", "n")
    RelationalOps.boundedRegistry(ok, 4096, "test").count() shouldBe 4096L
    val over = (1 to 4097).map(i => (s"s$i", i.toLong)).toDF("source", "n")
    an[IllegalArgumentException] should be thrownBy
      RelationalOps.boundedRegistry(over, 4096, "test").count()
    an[IllegalArgumentException] should be thrownBy
      graft.ops.Sampling.waterFillAllocation(over, "source", "n", budget = lit(100L), maxEpochs = 1).count()
  }

  test("waterFillAllocation under a 99.9 % source: exact allocation, every tiny source capped, budget exhausted") {
    val counts = spark.range(0, 1001).toDF("i")
      .select(concat(lit("s"), col("i")).as("source"),
        when(col("i") === 0, 1000000000L).otherwise(1000L).as("n"))
    val b = (1000000000L + 1000L * 1000L) / 2
    val out = graft.ops.Sampling.waterFillAllocation(counts, "source", "n",
      budget = lit(b), maxEpochs = 2).collect()
    out.count(_.getAs[Boolean]("capped")) shouldBe 1000
    out.find(_.getAs[String]("stratum") == "s0").get.getAs[Double]("alloc") shouldBe
      (b - 2000L * 1000L).toDouble
    out.map(_.getAs[Double]("alloc")).sum shouldBe b.toDouble
    out.map(_.getAs[Double]("epochs")).max should be <= 2.0
  }

  test("domainCap with one hot domain: exactly cap rows, the same set on any layout") {
    val rows = spark.range(0, 20000).toDF("id").select(col("id"), lit("hot").as("dom"))
    def kept(df: DataFrame) = graft.ops.Sampling.domainCap(df, col("dom"), col("id").cast("string"), cap = 30)
      .select(col("id")).as[Long].collect().toSet
    val a = kept(rows)
    a should have size 30
    kept(rows.repartition(16)) shouldBe a
  }

  test("TopKPerKey on one monster stratum: the native plan, equal to the ranking window") {
    val big = (1L to 20000L).map(i => ("s", s"d$i", (i * 2654435761L) % 1000003L)).toDF("stratum", "id", "hk")
    val topk = graft.plans.TopKPerKey.topK(big, Seq("stratum"), Seq(col("hk"), col("id")), 10)
    topk.queryExecution.executedPlan.toString should include("TopKPerKey")
    topk.select("id").as[String].collect().toSet shouldBe
      big.withColumn("rn", row_number().over(Window.partitionBy("stratum").orderBy(col("hk"), col("id"))))
        .where(col("rn") <= 10).select("id").as[String].collect().toSet
  }

  test("Mmr.rerank over identical candidates: lowest-id prefix, collapsed score, any layout") {
    val cands = (0 until 50).map(i => (0L, i.toLong, 0.9)).toDF("query_id", "cand_id", "cos")
    val sims = (for { a <- 0 until 50; b <- 0 until 50 if a != b }
      yield (0L, a.toLong, b.toLong, 1.0)).toDF("query_id", "a", "b", "sim")
    def run(c: DataFrame, s: DataFrame) = graft.sim.Mmr.rerank(c, s, rounds = 8, lambda = 0.5)
      .orderBy("sel_rank").collect()
    val out = run(cands, sims)
    out.map(_.getAs[Long]("cand_id")).toSeq shouldBe (0L until 8L)
    out(1).getAs[Double]("score") shouldBe (0.5 * 0.9 - 0.5 * 1.0)
    run(cands.repartition(16), sims.repartition(16)).map(_.getAs[Long]("cand_id")).toSeq shouldBe
      out.map(_.getAs[Long]("cand_id")).toSeq
  }

  test("phashNearDupPairs over the collapsed representatives of an identical-hash flood") {
    val raw = spark.range(0, 7000).toDF("media_id")
      .select(col("media_id"),
        when(col("media_id") < 5000, lit(0x0F0F0F0F0F0F0F0FL)).otherwise(xxhash64(col("media_id"))).as("phash"))
    val reps = raw.groupBy("phash").agg(min(col("media_id")).as("media_id"), count(lit(1)).as("n")).persist()
    try {
      reps.count() shouldBe 2001L
      reps.agg(max("n")).collect()(0).getLong(0) shouldBe 5000L
      // the flood is one representative: no pair explosion, and the
      // distinct 64-bit hashes sit far apart
      graft.multimodal.Multimodal.phashNearDupPairs(reps.select("media_id", "phash")).count() shouldBe 0L
    } finally reps.unpersist()
  }

  // ---------------------------------------------------------------
  // pathological markup, containers, URLs and robots files

  test("boilerplate census on a 1 MB minified line, 5 000-deep nesting and an unclosed <") {
    import graft.text.Boilerplate
    val unit = "<div class=\"c\"><span>payload text block</span></div>"
    val monster = spark.range(0, 1)
      .select(concat_ws("", array_repeat(lit(unit), (1024 * 1024) / unit.length)).as("html"))
    val m = monster.select(Boilerplate.census(col("html")).as("a"), Boilerplate.censusBuiltin(col("html")).as("b"))
      .select(col("a.n_lines"), col("a.n_kept"), (col("a") === col("b")).as("eq")).collect()(0)
    // one markup-dominated line: dropped by the density gate
    (m.getLong(0), m.getLong(1), m.getBoolean(2)) shouldBe ((1L, 0L, true))
    val nested = spark.range(0, 1).select(concat(
      concat_ws("", array_repeat(lit("<div>"), 5000)),
      lit("the actual article text, long enough to keep"),
      concat_ws("", array_repeat(lit("</div>"), 5000))).as("html"))
    val n = nested.select(Boilerplate.census(col("html")).as("a"), Boilerplate.censusBuiltin(col("html")).as("b"))
      .select(col("a.n_kept"), col("a.n_lowdensity"), (col("a") === col("b")).as("eq")).collect()(0)
    (n.getLong(0), n.getLong(1), n.getBoolean(2)) shouldBe ((0L, 1L, true))
    val junk = spark.range(0, 1).select(concat(lit("intro text long enough to pass the gate <unclosed "),
      concat_ws("", array_repeat(lit("x"), 1024 * 1024))).as("html"))
    val j = junk.select(Boilerplate.census(col("html")).as("c"))
      .select(col("c.n_kept"), functions.length(col("c.extracted")).cast("long")).collect()(0)
    j.getLong(0) shouldBe 1L // an unclosed < strips nothing: one dense text line
    j.getLong(1) should be > 1024L * 1024L
  }

  test("probeMp4 on malformed box trees returns None or Some, never throws") {
    import graft.multimodal.Codecs
    def be32(v: Long): Array[Byte] = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def u32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val good = Codecs.minimalMp4(5000L, Seq("avc1"))
    Codecs.probeMp4(good) shouldBe defined
    val moovOff = u32(good, 0) // ftyp first, moov follows
    val oversize = good.clone(); System.arraycopy(be32(good.length * 2L), 0, oversize, moovOff, 4)
    Codecs.probeMp4(oversize) shouldBe empty
    val tiny = good.clone(); System.arraycopy(be32(4L), 0, tiny, moovOff, 4)
    Codecs.probeMp4(tiny) shouldBe empty
    val lastOff = {
      var pos = 0; var last = 0
      while (pos + 8 <= good.length) { last = pos; pos += u32(good, pos) }
      last
    }
    val toEof = good.clone(); System.arraycopy(be32(0L), 0, toEof, lastOff, 4)
    Codecs.probeMp4(toEof) shouldBe defined // size 0 on the last box: to end of file
    val cut = good.take(lastOff + 8); System.arraycopy(be32(1L), 0, cut, lastOff, 4)
    Codecs.probeMp4(cut) shouldBe empty // size 1, largesize truncated
    val rnd = new scala.util.Random(42)
    Codecs.probeMp4(Array.fill(4096)(rnd.nextInt().toByte)) shouldBe empty
  }

  test("UrlOps.canonicalize on utm-only queries, fragments and encoded hosts; idempotent") {
    import graft.text.UrlOps
    val cases = Seq(
      ("https://ex.com/p?utm_source=a", "https://ex.com/p"),
      ("https://ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),
      ("https://ex.com/p?utm_a=1&x=2&utm_b=3", "https://ex.com/p?x=2"),
      ("https://ex.com/p?x=2&utm_a=1", "https://ex.com/p?x=2"),
      ("https://WWW.EX.com/CaSe/Path#Frag", "https://ex.com/CaSe/Path"),
      ("https://ex.com/p#utm_source=only-in-frag", "https://ex.com/p"),
      ("HTTPS://Ex%41mple.com/P", "https://ex%41mple.com/P"),
      ("https://www.ex.com/p?utm_source=a&utm_medium=b&q=1#x", "https://ex.com/p?q=1"),
      ("https://ex.com/no-query-no-frag", "https://ex.com/no-query-no-frag"))
    val out = cases.toDF("url", "expected")
      .select(col("expected"), UrlOps.canonicalize(col("url")).as("canon"))
      .select(col("expected"), col("canon"), UrlOps.canonicalize(col("canon")).as("canon2"),
        UrlOps.domainOf(col("canon")).as("dom"))
      .collect()
    out.foreach { r =>
      r.getString(1) shouldBe r.getString(0)
      r.getString(2) shouldBe r.getString(1)
      r.getString(3) should not be empty
    }
  }

  test("Robots on a 20 000-rule file and a 1 000-star pattern: exact precedence, linear matching") {
    import graft.sources.Robots
    val flood = new StringBuilder("User-agent: *\n")
    (0 until 20000).foreach(i => flood.append(s"Disallow: /blocked/$i/\n"))
    flood.append("Allow: /blocked/10000/except\n")
    val txt = flood.toString
    Robots.isAllowed(txt, "bot", "/blocked/10000/page") shouldBe false
    Robots.isAllowed(txt, "bot", "/blocked/10000/except/page") shouldBe true
    Robots.isAllowed(txt, "bot", "/free/page") shouldBe true
    val t0 = System.nanoTime()
    Robots.matches("/" + ("*" * 1000) + "x$", "/" + ("y" * 10000) + "x") shouldBe true
    (System.nanoTime() - t0) / 1e9 should be < 5.0 // no exponential backtracking
  }

  // ---------------------------------------------------------------
  // queries from the inventory on planted degenerate inputs

  test("q272/q273/q284 on degenerate series: single-day types drop, all-tied series never trend") {
    val ev = spark.range(120).selectExpr("'tied' AS event_type",
        "CAST(date_add(DATE'2024-01-01', CAST(id % 40 AS INT)) AS TIMESTAMP) AS ts")
      .unionAll(spark.range(5).selectExpr("'single' AS event_type",
        "CAST(DATE'2024-01-01' AS TIMESTAMP) AS ts"))
      .unionAll(spark.range(9).selectExpr("'two' AS event_type",
        "CAST(date_add(DATE'2024-01-01', CAST(CASE WHEN id < 2 THEN 0 ELSE 10 END AS INT)) AS TIMESTAMP) AS ts"))
    val dir = plant("events" -> ev)
    def byType(q: String) = query(q, dir).collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val mk = byType("q272_mann_kendall")
    mk.contains("single") shouldBe false
    val tied = mk("tied")
    (tied.getAs[Long]("var18"), tied.getAs[Boolean]("trending"), tied.getAs[Long]("direction")) shouldBe
      ((0L, false, 0L))
    val two = mk("two")
    (two.getAs[Long]("s_stat"), two.getAs[Boolean]("trending"), two.getAs[Long]("direction")) shouldBe
      ((1L, false, 1L))
    val sen = byType("q273_sen_slope")
    sen.contains("single") shouldBe false
    (sen("two").getAs[Long]("sen_slope_micro"), sen("two").getAs[Long]("n_pairs")) shouldBe ((500000L, 1L))
    (sen("tied").getAs[Long]("sen_slope_micro"), sen("tied").getAs[Long]("n_pairs")) shouldBe ((0L, 780L))
    val ci = byType("q284_sen_ci")
    ci.contains("single") shouldBe false
    val t = ci("tied")
    Seq("var18", "lo_rank", "hi_rank", "sen_lo_micro", "sen_hi_micro").map(t.getAs[Long]) shouldBe
      Seq(0L, 390L, 391L, 0L, 0L)
  }

  test("q274 keeps a zero-overlap source pair at 0 and floors the shared pair exactly") {
    val d = spark.range(10).selectExpr("id AS doc_id", "'en' AS lang", "'srca' AS source",
        "concat('a', CAST(id AS STRING)) AS text")
      .unionAll(spark.range(10).selectExpr("id + 100 AS doc_id", "'en' AS lang", "'srcb' AS source",
        "concat('b', CAST(id AS STRING)) AS text"))
      .unionAll(spark.range(10).selectExpr("id + 200 AS doc_id", "'en' AS lang", "'srcc' AS source",
        "CASE WHEN id < 5 THEN concat('a', CAST(id AS STRING)) ELSE concat('c', CAST(id AS STRING)) END AS text"))
    val out = query("q274_source_vocab_overlap", plant("documents" -> d)).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r).toMap
    out should have size 3
    val ab = out(("srca", "srcb"))
    (ab.getAs[Long]("n_shared"), ab.getAs[Long]("jaccard_ppm")) shouldBe ((0L, 0L))
    val ac = out(("srca", "srcc")) // 5 shared of 15
    (ac.getAs[Long]("n_shared"), ac.getAs[Long]("jaccard_ppm")) shouldBe ((5L, 333333L))
  }

  test("q276 on a saturated 2^12 hash table: full collided mass, b=16 collapses it, census conserved") {
    val d = spark.range(8200).selectExpr("id AS doc_id", "'en' AS lang", "'s' AS source",
      "concat(array_join(transform(sequence(0, 9), " +
        "j -> concat('t', CAST(id * 10 + j AS STRING))), ' '), ' common') AS text")
    val rows = query("q276_hash_collision_audit", plant("documents" -> d)).collect()
      .map(r => r.getAs[Long]("n_buckets") -> r).toMap
    val b12 = rows(4096L); val b16 = rows(65536L)
    Seq("buckets_used", "buckets_collided", "collided_mass_ppm").map(b12.getAs[Long]) shouldBe
      Seq(4096L, 4096L, 1000000L)
    b16.getAs[Long]("collided_mass_ppm") should be < b12.getAs[Long]("collided_mass_ppm")
    b16.getAs[Long]("buckets_used") should be > b12.getAs[Long]("buckets_used")
    for (r <- Seq(b12, b16)) r.getAs[Long]("types_collided") shouldBe
      r.getAs[Long]("n_types") - (r.getAs[Long]("buckets_used") - r.getAs[Long]("buckets_collided"))
    b12.getAs[Long]("n_types") shouldBe 82001L
  }

  test("q275 on an all-OOV stratum: saturated ppm; the head stratum counts only its own tail") {
    val d = spark.range(1500).selectExpr("id AS doc_id", "'en' AS lang", "'head' AS source",
        "concat_ws(' ', concat('h', CAST(id AS STRING)), concat('h', CAST(id AS STRING)), concat('h', CAST(id AS STRING))) AS text")
      .unionAll(spark.range(200).selectExpr("id + 10000 AS doc_id", "'xx' AS lang",
        "'rare' AS source", "concat('r', CAST(id AS STRING)) AS text"))
    val out = query("q275_oov_census", plant("documents" -> d)).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    Seq("oov_ppm", "oov_types", "n_tokens").map(out("rare").getAs[Long]) shouldBe Seq(1000000L, 200L, 200L)
    Seq("oov_types", "oov_tokens", "oov_ppm").map(out("head").getAs[Long]) shouldBe Seq(500L, 1500L, 333333L)
  }

  test("q277/q279/q282 on one hot template: one whole-doc span each, one breadth row, all but the owner scrubbed") {
    val n = 500L
    val dir = plant("documents" -> textDocs(n, (0 until 40).map(i => s"tw$i").mkString(" ")))
    val spans = query("q277_dup_spans", dir).collect()
    spans.length shouldBe n
    spans.foreach(r => Seq("span_start", "span_len", "n_windows").map(num(r, _)) shouldBe Seq(0L, 40L, 33L))
    val breadth = query("q279_template_breadth", dir).collect()
      .map(r => r.getAs[String]("breadth_band") -> r).toMap
    breadth.keySet shouldBe Set("c_5plus")
    (breadth("c_5plus").getAs[Long]("max_breadth"), breadth("c_5plus").getAs[Long]("n_templates")) shouldBe
      ((n, 33L))
    val scrub = query("q282_span_scrub", dir).collect()
    scrub.length shouldBe n - 1
    scrub.count(_.getAs[Long]("doc_id") == 0L) shouldBe 0
    scrub.foreach { r =>
      (num(r, "n_removed"), num(r, "kept_ppm")) shouldBe ((40L, 0L))
      r.getAs[String]("scrubbed_hash") shouldBe "d41d8cd98f00b204e9800998ecf8427e"
    }
  }

  test("q285 with disjoint keys estimates 0 and ties to order a; on anti-correlated histograms a wrong pick is reported wrong") {
    val disjoint = plant(
      "customer" -> spark.range(1, 11).selectExpr("id AS c_custkey", "'BUILDING' AS c_mktsegment"),
      "orders" -> spark.range(1, 21).selectExpr("id AS o_orderkey", "id + 100 AS o_custkey"),
      "lineitem" -> spark.range(1, 31).selectExpr("id + 500 AS l_orderkey", "'R' AS l_returnflag"))
    val out = query("q285_join_order_advisor", disjoint).collect()
      .map(r => r.getAs[String]("join_order") -> r).toMap
    out should have size 2
    out.values.foreach(r => (r.getAs[Long]("est_rows"), r.getAs[Long]("exact_rows")) shouldBe ((0L, 0L)))
    out("a_cust_orders_first").getAs[Boolean]("picked") shouldBe true
    out("b_orders_lineitem_first").getAs[Boolean]("picked") shouldBe false
    out.values.foreach(_.getAs[Boolean]("pick_correct") shouldBe true)

    val anti = plant(
      "customer" -> spark.range(2560).selectExpr("2 * ((id % 256) + 1) AS c_custkey", "'BUILDING' AS c_mktsegment"),
      "orders" -> spark.range(2550).selectExpr("CAST(1 AS BIGINT) AS o_orderkey", "3 + 2 * (id % 255) AS o_custkey")
        .unionAll(Seq((25600L, 1001L)).toDF("o_orderkey", "o_custkey")),
      "lineitem" -> spark.range(100).selectExpr("CAST(1 AS BIGINT) AS l_orderkey", "'R' AS l_returnflag"))
    val ac = query("q285_join_order_advisor", anti).collect()
      .map(r => r.getAs[String]("join_order") -> r).toMap
    val a = ac("a_cust_orders_first"); val b = ac("b_orders_lineitem_first")
    a.getAs[Long]("est_rows") should be > b.getAs[Long]("est_rows")
    (a.getAs[Long]("exact_rows"), b.getAs[Long]("exact_rows")) shouldBe ((0L, 255000L))
    (a.getAs[Boolean]("picked"), b.getAs[Boolean]("picked")) shouldBe ((false, true))
    (a.getAs[Boolean]("pick_correct"), b.getAs[Boolean]("pick_correct")) shouldBe ((false, false))
  }

  private def shard(ids: Seq[Long], text: String): String =
    plant("documents" -> ids.map(i => (i, "en", "s", text)).toDF("doc_id", "lang", "source", "text"))

  test("q280 and q286 with an empty shard or an empty standing corpus") {
    val txt = (0 until 12).map(i => s"dw$i").mkString(" ")
    query("q280_span_decontam", shard(Seq(1L, 2L, 3L), txt)).count() shouldBe 0L
    query("q280_span_decontam", shard(Seq(10L, 20L, 30L), txt)).count() shouldBe 0L
    query("q286_incremental_scrub", shard(Seq(1L, 2L, 3L), txt)).count() shouldBe 0L
    // an all-batch shard still scrubs its internal duplicate; the lower id keeps its copy
    val r = query("q286_incremental_scrub", shard(Seq(10L, 20L), txt)).collect()
    r.map(x => Seq("doc_id", "n_removed", "kept_ppm").map(num(x, _))).toSeq shouldBe Seq(Seq(20L, 12L, 0L))
  }

  test("q289 under a hot template: every shard doc reported, capped out of attribution, never dropped") {
    val n = 2000L
    val dir = plant("documents" -> textDocs(n, (0 until 40).map(i => s"lw$i").mkString(" ")))
    val out = query("q289_leak_attribution", dir).collect()
    out.length shouldBe n / 10
    out.foreach { r =>
      r.isNullAt(r.fieldIndex("contaminator")) shouldBe true
      Seq("n_shared", "n_matched_windows", "n_wide_windows").map(r.getAs[Long]) shouldBe Seq(0L, 33L, 33L)
    }
  }

  test("q296/q297 under a hot template: source grain capped and counted; owner grain exact without a cap") {
    val n = 2000L
    val dir = plant("documents" -> textDocs(n, (0 until 40).map(i => s"aw$i").mkString(" ")))
    try {
      val src = query("q296_index_leak_sources", dir).collect()
      src.length shouldBe n / 10
      src.foreach { r =>
        r.isNullAt(r.fieldIndex("contaminating_source")) shouldBe true
        Seq("n_shared", "n_matched_windows", "n_wide_windows").map(r.getAs[Long]) shouldBe Seq(0L, 33L, 33L)
      }
      val own = query("q297_scrub_provenance", dir).collect()
      own.length shouldBe n / 10 - 1 // the union-wide owner (doc 0) is itself a shard doc
      own.foreach(r => Seq("owner_doc", "n_shared", "n_foreign_windows").map(num(r, _)) shouldBe
        Seq(0L, 33L, 33L))
    } finally graft.ops.TrackedCache.release(spark)
  }

  test("q287 on one repeated word stops after two merges; q293 with no merges degrades to pretokens") {
    val hot = plant("documents" -> (0 until 1000).map(i => (i.toLong, "en", "s", "abc"))
      .toDF("doc_id", "lang", "source", "text"))
    query("q287_bpe_merge_table", hot).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq shouldBe
      Seq((1L, "a", "b", "ab", 1000L), (2L, "ab", "c", "abc", 1000L))
    // single-character words: no adjacent symbol pair, zero merges learned
    val none = plant("documents" -> (0 until 50).map(i => (i.toLong, "en", "s",
      s"${('a' + i % 26).toChar} ${('a' + (i + 7) % 26).toChar}")).toDF("doc_id", "lang", "source", "text"))
    val out = query("q293_bpe_served_encode", none).collect()
    out.length shouldBe 50
    out.foreach { r =>
      num(r, "n_tokens") shouldBe num(r, "n_pretokens")
      r.getAs[Boolean]("lossless") shouldBe true
    }
  }

  test("q290/q292 with a template in 30 sources: capped out of the pair join, counted, and the index twin agrees") {
    val tpl = (0 until 9).map(i => s"aw$i").mkString(" ")
    val tpl2 = (0 until 9).map(i => s"ax$i").mkString(" ")
    val dir = plant("documents" -> spark.range(30).selectExpr("id AS doc_id", "'en' AS lang",
        "concat('src', CAST(id AS STRING)) AS source").withColumn("text", lit(tpl))
      .unionByName(spark.range(2).selectExpr("id + 100 AS doc_id", "'en' AS lang",
        "concat('src', CAST(id AS STRING)) AS source").withColumn("text", lit(tpl2))))
    def rows(q: String) = query(q, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq.sorted
    val text = rows("q290_source_span_affinity")
    // only the narrow (src0, src1) pair survives; the wide template's 2 windows are counted
    text shouldBe Seq(("src0", "src1", 2L, 4L, 2L))
    rows("q292_index_span_affinity") shouldBe text
  }

  // ---------------------------------------------------------------
  // standing indexes driven through churn, total takedowns and replays

  test("GramIndex.sourceAffinity across append, minor and major compaction") {
    import graft.dedup.GramIndex
    val tpl = (0 until 9).map(i => s"cg$i").mkString(" ")
    val spec = GramIndex.Spec(minLen = 8, buckets = 8)
    GramIndex.write(Seq((1L, tpl, "sa"), (2L, tpl, "sb")).toDF("doc_id", "text", "source"), "adv_churn", spec)
    def aff() = GramIndex.sourceAffinity(spark, "adv_churn", 16).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq.sorted
    aff() shouldBe Seq(("sa", "sb", 2L, 4L, 0L))
    GramIndex.append(Seq((3L, tpl, "sc")).toDF("doc_id", "text", "source"), "adv_churn", spec)
    GramIndex.append(Seq((4L, tpl, "sc")).toDF("doc_id", "text", "source"), "adv_churn", spec)
    val appended = aff()
    appended shouldBe Seq(("sa", "sb", 2L, 4L, 0L), ("sa", "sc", 2L, 6L, 0L), ("sb", "sc", 2L, 6L, 0L))
    GramIndex.compactDelta(spark, "adv_churn", spec)
    aff() shouldBe appended
    GramIndex.compact(spark, "adv_churn", spec)
    aff() shouldBe appended
  }

  test("TextIndex total takedown: empty ranking and phrase search, compact reclaims all, a rebuild revives") {
    import graft.text.TextIndex
    val d = (0 until 40).map(i => (i.toLong, s"join stream vector w$i join")).toDF("doc_id", "text")
    TextIndex.write(d, "adv_txtret")
    TextIndex.writePositional(d, "adv_txtret")
    val terms = Seq("join", "stream", "vector")
    TextIndex.retract(spark, "adv_txtret", d.select("doc_id"))
    TextIndex.probe(spark, "adv_txtret", terms).count() shouldBe 0L
    TextIndex.phraseSearch(spark, "adv_txtret", Seq("join", "stream")).count() shouldBe 0L
    TextIndex.compact(spark, "adv_txtret")
    spark.table("adv_txtret_postings").count() shouldBe 0L
    TextIndex.probe(spark, "adv_txtret", terms).count() shouldBe 0L
    TextIndex.write(d, "adv_txtret")
    TextIndex.probe(spark, "adv_txtret", terms).count() shouldBe 20L
  }

  test("GramIndex sidecar total takedown: probe matches nothing, scrub is batch-internal only, stats empty") {
    import graft.dedup.GramIndex
    val spec = GramIndex.Spec(minLen = 8, buckets = 4, ownerSidecar = true)
    val tpl = (0 until 10).map(i => s"gt$i").mkString(" ")
    val corpus = Seq((1L, tpl, "a"), (2L, tpl, "b")).toDF("doc_id", "text", "source")
    GramIndex.write(corpus, "adv_gramret", spec)
    GramIndex.retract(corpus, "adv_gramret", spec)
    val batch = Seq((900L, tpl, "e"), (901L, tpl, "e")).toDF("doc_id", "text", "source")
    try {
      GramIndex.probe(spark, batch.where(col("doc_id") === 900L), "adv_gramret", spec).count() shouldBe 0L
      // 901 is scrubbed by 900 (intra-batch), never by the retracted 1/2
      GramIndex.scrubProbe(spark, batch, "adv_gramret", spec).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap shouldBe Map(901L -> 10L)
      GramIndex.sourceStats(spark, "adv_gramret").count() shouldBe 0L
    } finally graft.ops.TrackedCache.release(spark)
  }

  test("takedown sink: append and retract of one doc in a batch nets to removed; an uncommitted replay is a no-op") {
    import graft.dedup.GramIndex
    import graft.streaming.StreamSinks
    val spec = GramIndex.Spec(minLen = 8, buckets = 4, ownerSidecar = true)
    val tpl = (0 until 10).map(i => s"tk$i").mkString(" ")
    val tpl2 = (0 until 10).map(i => s"tm$i").mkString(" ")
    GramIndex.write(Seq((1L, tpl)).toDF("doc_id", "text"), "adv_tdsink", spec)
    val dir = java.nio.file.Files.createTempDirectory("adv-tdsink").toString
    val sink = StreamSinks.takedownSink("adv_tdsink", spec, dir)
    try {
      sink(Seq(("append", 2L, tpl2), ("retract", 2L, tpl2)).toDF("op", "doc_id", "text"), 0L)
      sink(Seq(("append", 3L, tpl2)).toDF("op", "doc_id", "text"), 1L)
      // overlap replay shape: {1} plus the already-retracted {2}
      val b2 = Seq(("retract", 1L, tpl), ("retract", 2L, tpl2)).toDF("op", "doc_id", "text")
      sink(b2, 2L)
      GramIndex.write(Seq((3L, tpl2)).toDF("doc_id", "text"), "adv_tdsink_ref", spec)
      def st(n: String) = GramIndex.sourceStats(spark, n).orderBy("gram", "source").collect().map(_.toSeq).toSeq
      val want = st("adv_tdsink_ref")
      st("adv_tdsink") shouldBe want
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=2"), true)
      sink(b2, 2L)
      st("adv_tdsink") shouldBe want
    } finally graft.ops.TrackedCache.release(spark)
  }

  test("StatsIndex netted to zero serves empty, then resurrects exactly; an all-NULL sketch column estimates NULL") {
    import graft.ops.StatsIndex
    val melted = (1L to 30L).map(i => ("col:x", (i % 5).toDouble)).toDF("stat_key", "nv")
      .withColumn("sv", lit(null: String)).select("stat_key", "nv", "sv")
    StatsIndex.write(melted, "adv_stx")
    StatsIndex.retract(melted, "adv_stx")
    StatsIndex.columnStats(spark, "adv_stx").count() shouldBe 0L
    StatsIndex.histogram(spark, "adv_stx", "x", 4).count() shouldBe 0L
    StatsIndex.append(melted, "adv_stx")
    StatsIndex.write(melted, "adv_stx_ref")
    def served(n: String) = (StatsIndex.columnStats(spark, n) unionByName StatsIndex.histogram(spark, n, "x", 4))
      .orderBy("stat_key").collect().map(_.toSeq).toSeq
    served("adv_stx") shouldBe served("adv_stx_ref")

    val dead = (1L to 20L).map(_ => ("col:dead", null: java.lang.Double)).toDF("stat_key", "nv")
      .withColumn("sv", lit(null: String))
      .select(col("stat_key"), col("nv").cast("double").as("nv"), col("sv"))
    StatsIndex.write(dead, "adv_sknull", sketch = Set("col:dead"))
    val r = StatsIndex.sketchStats(spark, "adv_sknull").collect()
    r.map(x => (x.getLong(1), x.getLong(2))).toSeq shouldBe Seq((20L, 20L))
    (r.head.isNullAt(3) || r.head.getLong(3) == 0L) shouldBe true
    StatsIndex.append(dead, "adv_sknull")
    StatsIndex.compact(spark, "adv_sknull")
    StatsIndex.sketchStats(spark, "adv_sknull").collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSeq shouldBe Seq((40L, 40L))
  }

  test("VectorIndex ids-only total takedown: empty topK, every cell dir reclaimed, a rebuild revives") {
    import graft.sim.VectorIndex
    val ivf = new IvfIndex(nCells = 4, nProbe = 4)
    val e = embs.where(col("vec_id") < 64).select("vec_id", "embedding")
    val cents = ivf.centroidsOf(e)
    val dir = java.nio.file.Files.createTempDirectory("adv-vidret").toString
    VectorIndex.write(e, dir, ivf, cents)
    val q = e.where(col("vec_id") < 3)
    VectorIndex.retract(spark, dir, e.select("vec_id"))
    VectorIndex.topK(spark, dir, q, 5, ivf).count() shouldBe 0L
    VectorIndex.reclaim(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/cells"))
      .count(_.getPath.getName.startsWith("cell=")) shouldBe 0
    VectorIndex.write(e, dir, ivf, cents)
    VectorIndex.topK(spark, dir, q, 5, ivf).count() should be > 0L
  }

  test("MvIndex: append/retract/compact orders net the same view; over-retraction is absent, never negative") {
    import graft.ops.MvIndex
    val rows = (1 to 30).map(i => (s"g${i % 3}", i * 0.5))
    val a = rows.filter(_._2 < 8).toDF("grp", "x")
    val b = rows.filter(_._2 >= 8).toDF("grp", "x")
    val r = rows.filter(t => t._2 % 2 == 0).toDF("grp", "x")
    def served(n: String) = MvIndex.serve(spark, n).orderBy("grp").collect().map(_.toSeq).toSeq
    MvIndex.write(a, "adv_mv1", Seq("grp"), Seq("x"))
    MvIndex.append(b, "adv_mv1"); MvIndex.retract(r, "adv_mv1")
    MvIndex.write(a, "adv_mv2", Seq("grp"), Seq("x"))
    MvIndex.retract(r, "adv_mv2"); MvIndex.append(b, "adv_mv2")
    MvIndex.compact(spark, "adv_mv2")
    MvIndex.write(a, "adv_mv3", Seq("grp"), Seq("x"))
    MvIndex.append(b, "adv_mv3"); MvIndex.compact(spark, "adv_mv3")
    MvIndex.retract(r, "adv_mv3")
    served("adv_mv2") shouldBe served("adv_mv1")
    served("adv_mv3") shouldBe served("adv_mv1")

    val one = Seq(("g", 2.0)).toDF("grp", "x")
    val two = Seq(("g", 2.0), ("g", 2.0)).toDF("grp", "x")
    MvIndex.write(one, "adv_mvneg", Seq("grp"), Seq("x"))
    MvIndex.retract(two, "adv_mvneg") // net n = -1
    MvIndex.serve(spark, "adv_mvneg").count() shouldBe 0L
    MvIndex.append(two, "adv_mvneg", batchId = "makeup")
    val m = MvIndex.serve(spark, "adv_mvneg").collect()
    m.map(x => (x.getLong(1), x.getDecimal(2).doubleValue())).toSeq shouldBe Seq((1L, 2.0))
  }

  test("MvIndex: a segment resurrected under a covered digest is excluded, then swept by the next write") {
    import graft.ops.MvIndex
    val rows = (1 to 20).map(i => (s"g${i % 2}", i * 1.0))
    MvIndex.write(rows.toDF("grp", "x"), "adv_mvcov", Seq("grp"), Seq("x"))
    MvIndex.append(rows.take(5).toDF("grp", "x"), "adv_mvcov")
    def served() = MvIndex.serve(spark, "adv_mvcov").orderBy("grp").collect().map(_.toSeq).toSeq
    MvIndex.compact(spark, "adv_mvcov")
    val want = served()
    val covered = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("adv_mvcov_mv"))
      .properties.getOrElse("graft.coversSegs", "").split(",").filter(_.nonEmpty)
    covered should not be empty
    // what a crash between the swap and the segment drops leaves behind
    Seq(("g0", 999L, new java.math.BigDecimal("999.00000000"))).toDF("grp", "n", "sum_x")
      .select(col("grp"), col("n"), col("sum_x").cast(org.apache.spark.sql.types.DecimalType(38, 8)).as("sum_x"))
      .write.mode("overwrite").saveAsTable(s"adv_mvcov_mv_${covered.head}")
    served() shouldBe want
    MvIndex.append(rows.take(3).toDF("grp", "x"), "adv_mvcov", batchId = "post")
    MvIndex.retract(rows.take(3).toDF("grp", "x"), "adv_mvcov", batchId = "post")
    served() shouldBe want
  }

  test("MvIndex maintenance sink: a self-cancelling batch nets to no change; committed and uncommitted replays stay exact") {
    import graft.ops.MvIndex
    import graft.streaming.StreamSinks
    val baseRows = (1 to 12).map(i => (s"g${i % 2}", i * 0.25))
    MvIndex.write(baseRows.toDF("grp", "x"), "adv_mvsink", Seq("grp"), Seq("x"))
    def served() = MvIndex.serve(spark, "adv_mvsink").orderBy("grp").collect().map(_.toSeq).toSeq
    val want = served()
    val dir = java.nio.file.Files.createTempDirectory("adv-mvsink").toString
    val sink = StreamSinks.mvMaintenanceSink("adv_mvsink", dir)
    val selfCancel = Seq(("append", "g9", 7.0), ("retract", "g9", 7.0)).toDF("op", "grp", "x")
    sink(selfCancel, 0L)
    served() shouldBe want
    sink(selfCancel, 0L) // committed replay: drain only
    served() shouldBe want
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=0"), true)
    sink(selfCancel, 0L) // uncommitted replay: the fold rewrites its segment
    served() shouldBe want
  }
}

object AdversarialSpec {
  /** Deterministic pick in [0, n) from a row id and salts. */
  private def pick(n: Int, xs: Long*): Int = Math.floorMod(scala.util.hashing.MurmurHash3.orderedHash(xs), n)

  /** Space-joined word sequence; word p is chosen by hash(id, p). */
  private def wordsOf(id: Long, n: Int): String =
    (0 until n).map(p => Vocab(pick(Vocab.length, id, p, 17))).mkString(" ")

  /** (doc_id, text) rows; see the class doc. */
  private def fixtureDocs: Seq[(Long, String)] = {
    val base = (0L until BaseN).map(id => (id, wordsOf(id, 20 + pick(60, id))))
    val template = (0 until 60).map(p => Vocab(pick(Vocab.length, p, 777)))
    val family = (FamilyLo until FamilyLo + FamilyN).map { id =>
      (id, template.updated(pick(60, id, 1), Vocab(pick(Vocab.length, id, 2))).mkString(" ") + s" uniq$id")
    }
    val copies = (0L until CopyGroups * 10).map { i =>
      val src = i % CopyGroups
      (CopyLo + i, wordsOf(src, 20 + pick(60, src)))
    }
    val dirty = (0L until 50L).map { i =>
      (DirtyLo + i,
        if (i < 10) null
        else if (i < 20) ""
        else if (i < 25) " \t\n  \t"
        else if (i < 30) wordsOf(i + 7000, 15000) // ~100 k chars
        else " \ufffd\u202e\u0007 " * 200)
    }
    base ++ family ++ copies ++ dirty
  }

  /** (vec_id, embedding, label) rows; see the class doc. */
  private def fixtureEmbeddings: Seq[(Long, Array[Float], Int)] = {
    def uniform(id: Long, dim: Int, salt: Int): Array[Float] =
      Array.tabulate(dim)(i => ((pick(2001, id, i, salt) - 1000) / 1000.0).toFloat)
    val base = (0L until 1500L).map(id => id -> uniform(id, 64, 11))
    // one anchor, each coordinate perturbed by at most 1e-4
    val hot = (HotLo until HotLo + HotN).map(id => id -> Array.tabulate(64)(i =>
      ((pick(2001, i, 99) - 1000) / 1000.0 + (pick(21, id, i, 13) - 10) / 100000.0).toFloat))
    val nulls = (DirtyVecLo until DirtyVecLo + 20).map(id => id -> (null: Array[Float]))
    val zeros = (DirtyVecLo + 20 until DirtyVecLo + 40).map(id => id -> Array.fill(64)(0.0f))
    val nans = (DirtyVecLo + 40 until DirtyVecLo + 60).map(id => id -> Array.tabulate(64)(i =>
      if (i == 0) Float.NaN else ((pick(2001, id, i, 3) - 1000) / 1000.0).toFloat))
    val short = (DirtyVecLo + 60 until DirtyVecLo + 80).map(id => id -> uniform(id, 32, 23))
    (base ++ hot ++ nulls ++ zeros ++ nans ++ short).map { case (id, e) => (id, e, pick(10, id, 31)) }
  }

  /** 500 words: 40 common English function words, then syllable
    * triples, so language ID has markers to find. */
  private val Vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ta", "re", "su", "no", "vi",
      "ze", "du", "pa", "qu", "ber", "lin", "mos", "tra")
    val stop = Array("the", "of", "and", "to", "in", "is", "you",
      "that", "it", "he", "was", "for", "on", "are", "as", "with", "his",
      "they", "at", "be", "this", "have", "from", "or", "one", "had", "by",
      "word", "but", "not", "what", "all", "were", "we", "when", "your",
      "can", "said", "there", "use")
    stop ++ (0 until 500 - stop.length).map(i => syll(i % 16) + syll((i / 16) % 16) + syll((i / 256) % 16))
  }

  private val BaseN = 3000L
  private val FamilyLo = 100000L
  private val FamilyN = 1000L
  private val CopyLo = 120000L
  private val CopyGroups = 50L
  private val DirtyLo = 130000L
  private val TotalDocs: Long = BaseN + FamilyN + CopyGroups * 10 + 50

  private val HotLo = 100000L
  private val HotN = 300L
  private val DirtyVecLo = 200000L

  /** LSH bucket cap: a tenth of the family, so its bucket is over-cap. */
  private val Cap = 100
  private val MinEst = 0.7
}
