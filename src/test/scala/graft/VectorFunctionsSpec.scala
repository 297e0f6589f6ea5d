package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sim.{HyperplaneBuckets, RandomHyperplaneLsh, VectorFunctions}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecsDF(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("dot / norm / cosine basic identities") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, -5f, 6f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm(col("a")).as("na"),
      VectorFunctions.cosine(col("a"), col("a")).as("self")).collect()(0)
    r.getDouble(0) shouldBe (4.0 - 10.0 + 18.0)
    r.getDouble(1) shouldBe math.sqrt(14.0) +- 1e-12
    r.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  test("cosine of orthogonal vectors is 0, opposite is -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
    val out = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    out(0) shouldBe 0.0 +- 1e-12
    out(1) shouldBe -1.0 +- 1e-12
  }

  test("bruteForceTopK: exact neighbor ranking, self excluded") {
    val corpus = vecsDF(
      0L -> Seq(1f, 0f),
      1L -> Seq(0.9f, 0.1f),  // closest to 0
      2L -> Seq(0f, 1f),      // orthogonal
      3L -> Seq(-1f, 0f))     // opposite
    val out = VectorFunctions.bruteForceTopK(corpus, corpus.where(col("vec_id") === 0), k = 3)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")) shouldBe Array(1L, 2L, 3L)
    out.map(_.getAs[Int]("rank")) shouldBe Array(1, 2, 3)
  }

  test("RandomHyperplaneLsh: bucket is deterministic and identical vectors collide") {
    val lsh = new RandomHyperplaneLsh(dim = 4, planes = 6)
    val df = vecsDF(1L -> Seq(1f, 2f, 3f, 4f), 2L -> Seq(1f, 2f, 3f, 4f),
                    3L -> Seq(-1f, -2f, -3f, -4f))
    val out = df.select(col("vec_id"), lsh.bucket(col("embedding")).as("b"))
      .orderBy("vec_id").collect()
    out(0).getInt(1) shouldBe out(1).getInt(1)
    // antipodal vector flips every sign bit → complementary bucket
    out(2).getInt(1) shouldBe ((~out(0).getInt(1)) & ((1 << 6) - 1))
  }

  test("annTopK finds an exact duplicate in the same bucket") {
    val lsh = new RandomHyperplaneLsh(dim = 3, planes = 4)
    val corpus = vecsDF(
      0L -> Seq(1f, 2f, 3f), 1L -> Seq(1f, 2f, 3f), 2L -> Seq(5f, -1f, 0f))
    val out = lsh.annTopK(corpus, corpus.where(col("vec_id") === 0), k = 1).collect()
    out.length shouldBe 1
    out(0).getAs[Long]("neighbor_id") shouldBe 1L
    out(0).getAs[Double]("cos") shouldBe 1.0 +- 1e-12
  }

  test("hyperplanes are reproducible across instances (seeded, no RNG state)") {
    val a = new RandomHyperplaneLsh(dim = 8, planes = 3)
    val b = new RandomHyperplaneLsh(dim = 8, planes = 3)
    a.hyperplanes shouldBe b.hyperplanes
  }

  test("HyperplaneBuckets: fused native buckets equal the HOF bucket() per table " +
      "on fixture embeddings (bit-identical fold)") {
    import org.apache.spark.sql.functions.{array, col}
    val e = Tables.embeddings(spark, sf0001)
    val lshs = (0 until 8).map(t => new RandomHyperplaneLsh(64, 4, seed = 42L + t))
    val viaHof = e.select(col("vec_id"),
        array(lshs.map(l => l.bucket(col("embedding"))): _*).as("b"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    val signs = lshs.map(_.hyperplanes.map(_.toArray).toArray).toArray
    val viaNative = e.select(col("vec_id"),
        org.apache.spark.sql.GraftSqlShim.column(graft.sim.HyperplaneBuckets(
          org.apache.spark.sql.GraftSqlShim.expression(col("embedding")), signs)).as("b"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    viaNative shouldBe viaHof
  }

  test("cosineNearDupPairs: identical vectors found in every table, orthogonal ones not") {
    val corpus = vecsDF(
      0L -> Seq(1f, 2f, 3f, 4f),
      1L -> Seq(1f, 2f, 3f, 4f),       // exact duplicate of 0 → cos 1.0
      2L -> Seq(2f, 4f, 6f, 8f),       // colinear with 0 → cos 1.0
      3L -> Seq(-4f, 3f, -2f, 1f))     // far from the rest
    val out = VectorFunctions.cosineNearDupPairs(corpus, dim = 4, minCos = 0.95)
      .orderBy("vec_a", "vec_b").collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((0L, 1L), (0L, 2L), (1L, 2L))
    all(out.map(_.getDouble(2))) shouldBe 1.0 +- 1e-12
  }

  test("cosineNearDupPairs hot bucket: two-level refinement keeps a near-identical " +
      "cluster connected via anchor stars; dirty vectors never emit NaN pairs") {
    // 30 near-identical vectors (a boilerplate cluster) + 2 zero vectors
    // + 1 NaN vector, cap 10: every level-1 bucket holding the cluster is
    // over cap; the 16-plane refinement keeps the cluster in one
    // sub-bucket (still over cap) → star pairs to vec_id 0. The exact
    // verify keeps the stars (cos≈1) and the NaN gate drops the dirty
    // pairs (NaN compares GREATER than minCos in Spark — the
    // adversarial sweep measured 600 NaN pairs leaking pre-fix).
    // base chosen so every ±1 projection is ≥ 0.02 in magnitude — the
    // 1e-6 perturbations can never flip a hyperplane sign, so the whole
    // cluster provably shares every bucket AND every refinement
    // sub-bucket (an all-ones base sits exactly ON balanced hyperplanes
    // and scatters)
    val base = Seq(0.83f, -0.41f, 0.67f, 0.29f, -0.74f, 0.56f, 0.18f, -0.92f)
    val cluster = (0L until 30L).map(i =>
      i -> Seq.tabulate(8)(d =>
        base(d) + (if (d == (i % 8).toInt) i * 1e-6f else 0f)))
    val dirty = Seq(
      100L -> Seq.fill(8)(0f),
      101L -> Seq.fill(8)(0f),
      102L -> (Float.NaN +: Seq.fill(7)(1f)))
    val out = VectorFunctions.cosineNearDupPairs(
      vecsDF((cluster ++ dirty): _*), dim = 8, minCos = 0.95, bucketCap = 10)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cluster is fully star-connected through its min-id anchor
    (1L until 30L).foreach(i => pairs should contain ((0L, i)))
    // no dirty-vector pair leaks (zero-zero / NaN cosines)
    out.map(_.getDouble(2)).foreach(c => assert(!c.isNaN))
    pairs.foreach { case (a, b) => assert(a < 100L && b < 100L) }
  }

  /** The census-and-join formulation `cosineNearDupPairs` replaced,
    * kept as its equality reference: a (tbl, bucket) census, an
    * over-cap gate, the under-cap self-join, a (tbl, bucket, sub)
    * census of the over-cap buckets, the under-cap sub-bucket self-join,
    * star pairs to each over-cap sub-bucket's min id, union + distinct,
    * and two joins back to the embeddings for the exact cosine. */
  private def referencePairs(embs: DataFrame, dim: Int, minCos: Double,
                             tables: Int, planesPerTable: Int,
                             bucketCap: Int, seed: Long = 42L): DataFrame = {
    val (bucketArr, refineBucket) = bucketColumns(dim, tables, planesPerTable, seed)
    val banded = embs.select(col("vec_id"),
      element_at(refineBucket, 1).as("sub"),
      posexplode(bucketArr).as(Seq("tbl", "bucket")))
    val overCap = banded.groupBy("tbl", "bucket").agg(count(lit(1)).as("count"))
      .where(col("count") > bucketCap).select("tbl", "bucket")
    val safe = banded.join(overCap, Seq("tbl", "bucket"), "left_anti")
    val within = safe.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(safe.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")), Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val hot = banded.join(overCap, Seq("tbl", "bucket"))
    val overCap2 = hot.groupBy("tbl", "bucket", "sub")
      .agg(count(lit(1)).as("count"), min("vec_id").as("anchor"))
      .where(col("count") > bucketCap).select("tbl", "bucket", "sub", "anchor")
    val safe2 = hot.join(overCap2.select("tbl", "bucket", "sub"),
      Seq("tbl", "bucket", "sub"), "left_anti")
    val within2 = safe2.select(col("tbl"), col("bucket"), col("sub"), col("vec_id").as("vec_a"))
      .join(safe2.select(col("tbl"), col("bucket"), col("sub"), col("vec_id").as("vec_b")),
        Seq("tbl", "bucket", "sub"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val stars = hot.join(overCap2, Seq("tbl", "bucket", "sub"))
      .where(col("vec_id") =!= col("anchor"))
      .select(col("anchor").as("vec_a"), col("vec_id").as("vec_b"))
    within.unionByName(within2).unionByName(stars).distinct()
      .join(embs.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), Seq("vec_a"))
      .join(embs.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), VectorFunctions.cosine(col("ea"), col("eb")).as("cos"))
      .where(!isnan(col("cos")) && col("cos") >= minCos)
  }

  /** The LSH bucket array and the 16-plane refinement bucket array, as
    * `cosineNearDupPairs` computes them. */
  private def bucketColumns(dim: Int, tables: Int, planesPerTable: Int,
                            seed: Long): (Column, Column) = {
    def of(lshs: Seq[RandomHyperplaneLsh]): Column =
      org.apache.spark.sql.GraftSqlShim.column(HyperplaneBuckets(
        org.apache.spark.sql.GraftSqlShim.expression(col("embedding")),
        lshs.map(_.hyperplanes.map(_.toArray).toArray).toArray))
    (of((0 until tables).map(t => new RandomHyperplaneLsh(dim, planesPerTable, seed = seed + t))),
      of(Seq(new RandomHyperplaneLsh(dim, 16, seed = seed + 7777))))
  }

  private val dirtySchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))

  // a base whose every ±1 projection is ≥ 0.02 in magnitude, so 1e-6
  // perturbations never flip a sign: the cluster shares every bucket
  // and every refinement sub-bucket
  private val hotBase = Seq(0.83f, -0.41f, 0.67f, 0.29f, -0.74f, 0.56f, 0.18f, -0.92f)

  /** 60 random 8-dim vectors, a near-duplicate partner (cos ≈ 0.99) for
    * each of the first 20, a 12-vector near-identical cluster, and the
    * dirty rows: null `vec_id`, null / zero / NaN / wrong-dimension
    * vectors and a vector with a null element. */
  private def equalityCorpus(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map(i => i -> Seq.fill(8)(rnd.nextGaussian().toFloat))
    val partners = base.take(20).map { case (i, v) =>
      (100L + i) -> v.map(x => x + 0.1f * rnd.nextGaussian().toFloat) }
    val cluster = (200L until 212L).map(i =>
      i -> Seq.tabulate(8)(d => hotBase(d) + (if (d == (i % 8).toInt) (i - 199) * 1e-6f else 0f)))
    val clean = (base ++ partners ++ cluster).map { case (i, v) => Row(i, v) }
    val dirty = Seq(
      Row(null, base.head._2),                  // null id: a copy of vector 0
      Row(null, hotBase),                       // null id: a cluster copy
      Row(300L, null),                          // null vector
      Row(301L, Seq.fill(8)(0f)),               // zero vectors
      Row(302L, Seq.fill(8)(0f)),
      Row(303L, Float.NaN +: Seq.fill(7)(1f)),  // NaN vector
      Row(304L, Seq.fill(7)(1f)),               // wrong dimension, short
      Row(305L, Seq.fill(9)(1f)),               // wrong dimension, long
      Row(306L, null +: base(1)._2.tail))       // null element: reads as 0
    spark.createDataFrame(spark.sparkContext.parallelize(clean ++ dirty, 3), dirtySchema)
  }

  private def pairRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted

  test("cosineNearDupPairs equals the census-and-join reference row for row " +
      "(bit-equal cos) through every cap path and on dirty rows") {
    val corpus = equalityCorpus().cache()
    try {
      // (planesPerTable, bucketCap): 4 coarse buckets per table, all over
      // cap 6, split into sub-runs; 256 fine buckets, cap 3 — singletons,
      // under-cap buckets and the cluster's over-cap sub-bucket
      for ((planes, cap) <- Seq((2, 6), (8, 3)); minCos <- Seq(0.0, 0.9)) {
        val got = pairRows(VectorFunctions.cosineNearDupPairs(corpus, dim = 8,
          minCos = minCos, planesPerTable = planes, bucketCap = cap))
        // the reference's census counted null-id rows toward the cap;
        // the kernel drops them first (the next test pins that case), so
        // the reference sees the non-null ids
        val want = pairRows(referencePairs(corpus.where(col("vec_id").isNotNull), dim = 8,
          minCos = minCos, tables = 8, planesPerTable = planes, bucketCap = cap))
        withClue(s"planes=$planes cap=$cap minCos=$minCos: ") {
          got.size should be > 0
          got shouldBe want
        }
      }
      // every path fires: count bucket and sub-bucket sizes per config
      val paths = Seq((2, 6), (8, 3)).map { case (planes, cap) =>
        val (bucketArr, refine) = bucketColumns(8, 8, planes, 42L)
        val banded = corpus.where(col("vec_id").isNotNull)
          .select(element_at(refine, 1).as("sub"), posexplode(bucketArr).as(Seq("tbl", "bucket")))
        val buckets = banded.groupBy("tbl", "bucket").count()
        val subs = banded.join(buckets.where(col("count") > cap), Seq("tbl", "bucket"))
          .groupBy("tbl", "bucket", "sub").agg(count(lit(1)).as("n"))
        def n(df: DataFrame, c: Column): Long = df.where(c).count()
        Seq(n(buckets, col("count") === 1), n(buckets, col("count").between(2, cap)),
          n(buckets, col("count") > cap), n(subs, col("n").between(2, cap)), n(subs, col("n") > cap))
      }.transpose.map(_.sum)
      withClue("singleton, under-cap, over-cap buckets; under-cap, over-cap sub-runs: ") {
        all(paths) should be > 0L
      }
    } finally corpus.unpersist()
  }

  test("cosineNearDupPairs: a null vec_id is dropped before the cap counts members") {
    // four identical vectors and a null-id copy, cap 4: the null row is
    // not a member, so the bucket is under cap and emits all six pairs
    // (a census counting it made the bucket over cap: three star pairs)
    val rows = (1L to 4L).map(i => Row(i, hotBase)) :+ Row(null, hotBase)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), dirtySchema)
    val out = VectorFunctions.cosineNearDupPairs(df, dim = 8, minCos = 0.9, bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet
  }

  test("cosineNearDupPairs: one call plus collect runs 3 Spark jobs") {
    val corpus = vecsDF(
      0L -> Seq(1f, 2f, 3f, 4f), 1L -> Seq(1f, 2f, 3f, 4f),
      2L -> Seq(2f, 4f, 6f, 8f), 3L -> Seq(-4f, 3f, -2f, 1f))
    jobsOf("cosine-jobs") {
      VectorFunctions.cosineNearDupPairs(corpus, dim = 4, minCos = 0.95).collect()
    } shouldBe 3
  }

  test("IvfIndex.decontaminate: cell-blocked flags, empty-cell recall bound, NaN immunity") {
    val ivf = new graft.sim.IvfIndex(nCells = 2, nProbe = 1)
    // seed quantizer: cells along the two axes
    val cents = ivf.centroidsOf(vecsDF(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f)))
    val bench = vecsDF(5L -> Seq(0.9f, 0.1f)) // lands in cell 0
    val corpus = vecsDF(
      10L -> Seq(1f, 0.05f),                  // cell 0, near the bench vector
      11L -> Seq(0.1f, 1f),                   // cell 1 — no bench there
      12L -> Seq(Float.NaN, 1f))              // dirty: must neither flag nor crash
    val out = ivf.decontaminate(corpus, bench, cents, minCos = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))).toMap
    out(10L)._1 shouldBe 1L
    out(10L)._2.get should be > 0.9
    out(10L)._3 shouldBe true
    out(11L) shouldBe ((0L, None, false)) // empty cell: screened clean by design
    out(12L)._3 shouldBe false            // NaN cosine dropped, not compared true
    out.size shouldBe 3                   // every corpus row reported exactly once
  }
}
