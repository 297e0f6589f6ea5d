package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Embedding-similarity operators (driver mandate; SURVEY.md §2.11).
  *
  * Dot products / norms are sequential left-to-right double folds over
  * the array (higher-order `aggregate`), so a given row always produces
  * bit-identical results regardless of partitioning — required for the
  * oracle hash-compare and for reproducible runs at scale.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double, sequential fold order. Generic over float and
    * double arrays (used for hyperplane projections); the hot
    * embedding-pair path goes through [[cosine]] instead. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Validity predicate for an embedding column: non-null, expected
    * dimension, no NaN components. A zero or NaN vector produces a NaN
    * cosine, and NaN compares GREATER than every real number in Spark's
    * ordering — one dirty corpus row would outrank every true neighbor
    * in a top-k (the adversarial sweep measured 20 NaN rows in 100
    * top-k results on a corpus with 0.3% dirty vectors). Filter corpora
    * through this before indexing / search; the ranking paths also
    * drop NaN scores defensively. */
  def isValidVector(c: Column, dim: Int): Column =
    c.isNotNull && size(c) === dim &&
      !exists(c, x => isnan(x)) && aggregate(c,
        lit(0.0), (acc, v) => acc + abs(v.cast(DoubleType))) > 0.0

  /** Cosine over two `array<float>` columns via the fused codegen
    * [[CosineSimilarity]] expression — one array pass per pair instead
    * of three interpreted ones; bit-identical arithmetic. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      CosineSimilarity(
        org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b)))

  /** Brute-force top-k cosine neighbors of each query vector.
    * The query set is broadcast (it is small by construction); the
    * corpus side streams — a broadcast nested-loop join, no shuffle of
    * the corpus. The per-query top-k window shuffles only
    * |queries|·|corpus| scored rows; at scale, cap it by pre-filtering
    * with [[RandomHyperplaneLsh]] buckets.
    *
    * The cohort bound is part of the CONTRACT, not a hint: `limit`
    * makes the broadcast side's row count statically provable
    * (Catalyst `maxRows`), which is what lets `planLint` distinguish
    * this deliberate bounded-cohort scan from an accidental
    * data-sized nested loop. Cohorts at or under the bound pass
    * through untouched (every in-repo caller is ≤ 1000); a LARGER
    * cohort FAILS FAST here rather than being silently truncated to
    * an arbitrary plan-dependent subset — an evaluation panel that
    * loses queries without an error reports non-reproducible recall.
    * Panels beyond 4096 belong on the indexed paths (IvfIndex /
    * PqVectorIndex), not a nested-loop scan.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     maxQueries: Int = 4096): DataFrame = {
    require(maxQueries >= 1 && maxQueries <= 4096,
      s"maxQueries must be in [1, 4096] (the planLint bounded-cohort waiver): $maxQueries")
    // Truncation guard: limit(maxQueries + 1) bounds the probe to one
    // row past the cap, so the check is O(maxQueries) regardless of
    // cohort size, and CollectLimit short-circuits the scan.
    val nProbe = queries.limit(maxQueries + 1).count()
    require(nProbe <= maxQueries,
      s"query cohort exceeds maxQueries=$maxQueries: bruteForceTopK would " +
        "silently truncate an unordered frame; pre-select a deterministic " +
        "cohort or use an indexed path (IvfIndex/PqVectorIndex)")
    val q = broadcast(queries.limit(maxQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = corpus.crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      // NaN sorts above every real cosine: a zero/NaN corpus vector
      // would outrank all true neighbors (no-op on valid corpora)
      .where(!isnan(col("cos")))
    // r17: the ranking window sorted the whole |corpus|×|queries|
    // scored frame; TopKPerKey keeps a bounded k-heap per query per
    // partition under the IDENTICAL total order, so only
    // ≤ k·partitions rows per query shuffle. The residual window
    // ranks ≤ k rows per query (consumers read `rank`).
    graft.plans.TopKPerKey.topKRanked(scored, "query_id",
      Seq(col("cos").desc, col("neighbor_id")), k)
  }

  /** Embedding-cosine near-dup PAIR GENERATION — the vector member of
    * the dedup family (exact / MinHash / SimHash / n-gram /
    * embedding-cosine). Multi-table random-hyperplane LSH: `tables`
    * independent hyperplane sets of `planesPerTable` planes each (few
    * planes per table + several tables = the standard recall knob for
    * moderate-cosine matching: recall = 1-(1-p^b)^L); candidates are
    * vectors sharing a (table, bucket), capped per bucket (skew guard),
    * verified with the exact cosine ([[CosineSimilarity.of]]).
    *
    * One pass per row computes every table's bucket
    * ([[HyperplaneBuckets]]) and a 16-plane refinement `sub`, and
    * `posexplode` yields one (tbl, bucket, sub, vec_id, embedding) row
    * per table. Those rows take ONE hash exchange on (tbl, bucket),
    * sorted within partitions by (tbl, bucket, sub, vec_id), and the
    * streaming [[CosinePairStream]] verifies each bucket in place:
    *   - a bucket of ≤ `bucketCap` members emits every pair
    *     (vec_a < vec_b) with cosine ≥ `minCos`;
    *   - an over-cap bucket splits into its refinement sub-buckets: a
    *     `planesPerTable`-plane bucket is COARSE (2^p buckets), so a big
    *     bucket is usually a heterogeneous accident of corpus size, and
    *     star pairs to its min id would verify to nothing (the
    *     adversarial sweep measured a 10k near-identical cluster giving
    *     0 pairs that way). Only a near-identical cluster survives 16
    *     more sign agreements in one sub-bucket; an under-cap sub-bucket
    *     emits all its verified pairs, and a sub-bucket still over the
    *     cap IS homogeneous content, so it emits star pairs to its
    *     min-id anchor — O(n) pairs, never a silent drop.
    * A final `dropDuplicates` over the pairs that passed removes the
    * copies found in several tables (same pair, same cosine). Memory
    * per task is O(cap) embeddings. No census, no broadcast gate, no
    * persist, no self-join and no join back to the vectors.
    *
    * Shuffle trade: the exchange ships `tables` copies of every vector,
    * once. At the curation benchmark's size (4 000 vectors, 8 tables)
    * that is ~32 k rows, and the call's shuffle grew from 2.2 to 2.4 MB
    * (compressed) against a formulation that self-joined ids and
    * broadcast its 0.5 MB embedding table for the join back. At 100 TB
    * the balance reverses: nothing is broadcastable, and a join back
    * ships one embedding per candidate pair, twice, with ~60 candidates
    * per vector at 16 members per bucket — against `tables` (8) copies
    * here.
    *
    * Contract: `vec_id` is unique (a repeated id keeps one cosine per
    * id pair). Rows with a null `vec_id` are dropped first. A null
    * vector, or one of any dimension other than `dim`, has no buckets
    * and drops out; a zero or NaN vector buckets, counts toward its
    * bucket's cap, and never pairs (its cosine is NaN). A null element
    * reads as 0, as in [[HyperplaneBuckets]] and [[cosine]].
    */
  def cosineNearDupPairs(embs: DataFrame, dim: Int, minCos: Double,
                         tables: Int = 8, planesPerTable: Int = 4,
                         bucketCap: Int = 1000, seed: Long = 42L): DataFrame = {
    import embs.sparkSession.implicits._
    def bucketsOf(lshs: Seq[RandomHyperplaneLsh]): Column =
      org.apache.spark.sql.GraftSqlShim.column(HyperplaneBuckets(
        org.apache.spark.sql.GraftSqlShim.expression(col("embedding")),
        lshs.map(_.hyperplanes.map(_.toArray).toArray).toArray))
    val bucketArr = bucketsOf((0 until tables).map(t =>
      new RandomHyperplaneLsh(dim, planesPerTable, seed = seed + t)))
    val sub = element_at(bucketsOf(Seq(new RandomHyperplaneLsh(dim, 16, seed = seed + 7777))), 1)
    // the typed decode below rejects a null element (and walks a
    // nullable-element array one boxed element at a time); every other
    // consumer of the vector reads a null element as 0, so this does too
    val payload = embs.schema("embedding").dataType match {
      case ArrayType(_, true) => transform(col("embedding"), x => coalesce(x, lit(0f)))
      case _ => col("embedding")
    }
    // per-vector work in its own projection, below the explode, so it
    // runs once per vector rather than once per table; the outer explode
    // plus a null-bucket filter drops the vectors without buckets where
    // a plain explode's inferred filter would compute the buckets twice
    embs.where(col("vec_id").isNotNull)
      .select(bucketArr.as("buckets"), sub.as("sub"), col("vec_id"), payload.as("embedding"))
      .select(posexplode_outer(col("buckets")).as(Seq("tbl", "bucket")), col("sub"),
        col("vec_id"), col("embedding"))
      .where(col("bucket").isNotNull)
      .repartition(col("tbl"), col("bucket"))
      .sortWithinPartitions("tbl", "bucket", "sub", "vec_id")
      .as[(Int, Int, Int, Long, Array[Float])]
      .mapPartitions(it => new CosinePairStream(it, minCos, bucketCap))
      .toDF("vec_a", "vec_b", "cos")
      .dropDuplicates("vec_a", "vec_b")
  }
}

/** Random-hyperplane LSH (SimHash for vectors, Charikar STOC'02):
  * `planes` deterministic ±1 hyperplanes; bucket id packs the sign bits
  * of the projections. Vectors in the same bucket are near-duplicate /
  * nearest-neighbor candidates — the scale path that replaces the
  * brute-force cross join: shuffle on bucket id, search within buckets.
  */
class RandomHyperplaneLsh(dim: Int, planes: Int = 16, seed: Long = 42L) extends Serializable {
  require(planes <= 30, "bucket id is packed into an Int")

  /** Deterministic ±1 pattern via a splitmix64-style avalanche of
    * (seed, plane, dim) — no RNG state, reproducible on any cluster. */
  private def sign(p: Int, i: Int): Double = {
    var z = seed + p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  val hyperplanes: Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dim).map(i => sign(p, i)))

  /** Packed sign-bit bucket id for an embedding column.
    *
    * NULL caveat: `when(dot > 0, ...).otherwise(0)` swallows a null
    * projection, so a NULL embedding lands in bucket 0 — fine for the
    * oracled fixture (no null vectors) but a garbage hot bucket on
    * dirty data. The fused [[HyperplaneBuckets]] expression returns
    * NULL instead (row dropped by the banding posexplode) — prefer it
    * on any corpus that may carry null embeddings (EdgeCasesSpec pins
    * both behaviors). */
  def bucket(v: Column): Column =
    (0 until planes).map { p =>
      when(VectorFunctions.dot(v, typedLit(hyperplanes(p))) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Top-k neighbors of each query, searched only within the query's
    * bucket. Recall < 1 by construction (ANN); bucket count 2^planes
    * bounds the candidate set size.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.withColumn("bucket", bucket(col("embedding")))
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("bucket", bucket(col("q_emb"))))
    val scored = c.join(q, Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
    // bounded top-k per query (r17) — see TopKPerKey.topKRanked
    graft.plans.TopKPerKey.topKRanked(scored, "query_id",
      Seq(col("cos").desc, col("neighbor_id")), k)
  }
}
