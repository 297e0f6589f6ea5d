package graft

import org.apache.spark.sql.functions._

import graft.sim.{CosineSimilarity, VectorFunctions}

/** The native codegen cosine expression: SQL registration via
  * GraftExtensions, parity with the higher-order-function formulation,
  * and null handling.
  */
class CosineExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("graft_cosine is callable from SQL text (GraftExtensions)") {
    val r = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").collect()(0)
    r.getDouble(0) shouldBe 1.0 +- 1e-12
  }

  test("graft_hyperplane_buckets from SQL text equals the DataFrame path " +
      "(plan-time plane reconstruction from integer literals)") {
    val e = Tables.embeddings(spark, sf0001).limit(20)
    e.createOrReplaceTempView("hb_embs")
    // q58's configuration: 8 tables x 4 planes over dim 64, seed 42+t
    val viaSql = spark.sql(
      "SELECT vec_id, graft_hyperplane_buckets(embedding, 64, 8, 4, 42) AS b " +
      "FROM hb_embs").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val signs = Array.tabulate(8) { t =>
      new graft.sim.RandomHyperplaneLsh(64, 4, 42L + t)
        .hyperplanes.map(_.toArray).toArray
    }
    val viaDf = e.select(col("vec_id"),
      org.apache.spark.sql.GraftSqlShim.column(graft.sim.HyperplaneBuckets(
        org.apache.spark.sql.GraftSqlShim.expression(col("embedding")), signs)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    viaSql shouldBe viaDf
    viaSql.values.flatten.toSet.size should be > 1 // real bucket spread
    // non-literal shape arguments are an analysis error, not a silent default
    val err = intercept[Exception](spark.sql(
      "SELECT graft_hyperplane_buckets(embedding, vec_id, 8, 4, 42) FROM hb_embs"))
    err.getMessage should include("integer literals")
  }

  test("native expression matches the HOF formulation bit-for-bit on fixture embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ib") === col("ia") + 1)
    val hof = VectorFunctions.dot(col("ea"), col("eb")) /
      (sqrt(VectorFunctions.dot(col("ea"), col("ea"))) *
       sqrt(VectorFunctions.dot(col("eb"), col("eb"))))
    val out = pairs.select(
      VectorFunctions.cosine(col("ea"), col("eb")).as("native"), hof.as("hof")).collect()
    out.length should be > 0
    out.foreach(r => r.getDouble(0) shouldBe r.getDouble(1)) // exact, not approx
  }

  test("CosineSimilarity.of is bit-equal to the codegen expression on random, " +
      "zero, NaN and unequal-length vectors") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    def vec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextGaussian().toFloat)
    val pairs: Seq[(Seq[Float], Seq[Float])] =
      Seq.fill(200)((vec(64), vec(64))) ++ Seq(
        (Seq.fill(8)(0f), vec(8)), (Seq.fill(8)(0f), Seq.fill(8)(0f)),
        (Float.NaN +: vec(7), vec(8)), (vec(3) :+ Float.NaN, vec(4) :+ Float.NaN),
        (vec(5), vec(9)), (vec(9), vec(5)), (Seq.empty[Float], vec(4)))
    val schema = StructType(Seq(StructField("a", ArrayType(FloatType, false)),
      StructField("b", ArrayType(FloatType, false))))
    // an RDD-backed frame: a local relation would be folded on the
    // driver by the interpreted eval, never reaching generated code
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }, 2), schema)
      .select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    } should not be empty
    val viaCodegen = df.collect().map(_.getDouble(0))
    val viaOf = pairs.map { case (a, b) => CosineSimilarity.of(a.toArray, b.toArray) }
    viaCodegen.map(java.lang.Double.doubleToLongBits).toSeq shouldBe
      viaOf.map(java.lang.Double.doubleToLongBits)
    viaOf.count(_.isNaN) shouldBe 5 // zero and NaN vectors, the empty one
  }

  test("null input yields null, not an exception") {
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).collect()(0)
    r.isNullAt(0) shouldBe true
  }

  test("interpreted eval path (no codegen) agrees with codegen path") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r = spark.sql(
        "SELECT graft_cosine(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
        "array(CAST(4.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS c").collect()(0)
      r.getDouble(0) shouldBe 24.0 / 25.0 +- 1e-12
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
