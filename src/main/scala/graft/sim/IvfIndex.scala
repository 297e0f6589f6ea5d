package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the coarse-quantizer alternative to [[RandomHyperplaneLsh]]:
  * assign every vector to its nearest centroid cell, search only the
  * query's `nProbe` nearest cells.
  *
  * "Training" is deterministic and cheap: the centroids are the first
  * `nCells` corpus vectors (by id). On a real deployment this becomes a
  * k-means fit on a sample; the assignment/probe machinery — the part
  * that must scale — is identical.
  *
  * Scale posture: the fitted quantizer (nCells·dim floats — kilobytes,
  * like any fitted KMeansModel) is collected once and embedded into the
  * assignment expression as literals, so assignment is ONE narrow
  * fused-codegen projection per corpus row: all nCells cosines into an
  * array of (-cos, cell) structs, `array_sort` + `element_at` pick the
  * argmax. No crossJoin, no window, no Exchange — the round-1 plan
  * (crossJoin(broadcast) + row_number window) shuffled |corpus|·nCells
  * rows keyed by vec_id just to take a per-row argmax. The search then
  * joins candidates by cell — a shuffle bounded by nProbe/nCells of the
  * corpus per query, never a full cross join.
  */
class IvfIndex(val nCells: Int = 16, val nProbe: Int = 4) extends Serializable {

  /** Fitted coarse quantizer: (cell, centroid) pairs on the driver. */
  def centroidsOf(corpus: DataFrame): Array[(Int, Array[Float])] =
    corpus.where(col("vec_id") < nCells)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The production training path: Lloyd's k-means from the
    * deterministic seed. Each round is ONE narrow assignment pass
    * (centroid literals, zero shuffle — same plan as [[assign]]) plus
    * one (cell, dim) mean aggregation — a shuffle of one row per
    * (vector, dim) that map-side combines down to nCells×dim rows. The
    * model stays kilobytes on the driver, like any fitted KMeansModel;
    * at 100 TB you fit on a sample (`corpus.sample(...)`) and the
    * assignment/search machinery is unchanged. Cells that lose all
    * members keep their previous centroid. (Mean aggregation is
    * fp-order-dependent, so the fitted quantizer is not bit-portable
    * across engines — the oracled q47 uses the deterministic seed
    * quantizer; this method is spec-tested for behavior instead.)
    */
  def fit(corpus: DataFrame, iters: Int = 3): Array[(Int, Array[Float])] = {
    // one NaN/null vector in a cell poisons that cell's mean — and the
    // poisoned centroid then scores NaN against EVERY query (the
    // adversarial sweep measured one NaN centroid from 50 dirty rows
    // in 30k). The fit sees only finite vectors; assignment/search of
    // the full corpus is unchanged.
    val clean = corpus.where(col("embedding").isNotNull &&
      !exists(col("embedding"), x => isnan(x)))
    var cents = centroidsOf(clean)
    var it = 0
    while (it < iters) {
      val means = assignWith(clean, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val dim = rows.length
          val v = new Array[Float](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2).toFloat)
          cell -> v
        }
      cents = cents.map { case (cell, old) => (cell, means.getOrElse(cell, old)) }
      it += 1
    }
    cents
  }

  /** [[annTopK]] with a caller-supplied (e.g. [[fit]]ted) quantizer. */
  def annTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                  cents: Array[(Int, Array[Float])]): DataFrame =
    searchWith(corpus, queries, k, cents)

  /** `array<struct<nc,cell>>` of (-cosine, cell) per centroid, ascending
    * sort = cosine descending with ties broken by lowest cell — the same
    * (cos DESC, cell ASC) order the oracle's row_number uses. */
  private[sim] def sortedCells(vec: Column, cents: Array[(Int, Array[Float])]): Column =
    array_sort(array(cents.map { case (cell, cen) =>
      struct(negate(VectorFunctions.cosine(vec, typedLit(cen.toSeq))).as("nc"),
             lit(cell).as("cell"))
    }: _*))

  /** Corpus vectors with their (single) nearest-centroid cell — a narrow
    * projection, one row in / one row out, zero shuffle. */
  def assign(corpus: DataFrame): DataFrame =
    assignWith(corpus, centroidsOf(corpus))

  private[sim] def assignWith(corpus: DataFrame, cents: Array[(Int, Array[Float])]): DataFrame =
    // coalesce(-1) makes `cell` non-nullable, so the downstream inner
    // join's implicit IsNotNull(cell) folds to true instead of
    // re-evaluating all nCells cosines a second time in a Filter
    corpus.withColumn("cell",
      coalesce(element_at(sortedCells(col("embedding"), cents), 1).getField("cell"), lit(-1)))

  /** Top-k neighbors per query, searched in the query's nProbe cells
    * (deterministic seed quantizer — the exactly-oracled path). */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    searchWith(corpus, queries, k, centroidsOf(corpus))

  private def searchWith(corpus: DataFrame, queries: DataFrame, k: Int,
                         cents: Array[(Int, Array[Float])]): DataFrame =
    searchAssigned(assignWith(corpus, cents), queries, k, cents)

  /** Metadata-FILTERED ANN — the "vector search WHERE …" shape every
    * retrieval stack needs (per-tenant stores, same-language neighbors,
    * license-restricted corpora). Identical cell-probe plan to
    * [[annTopK]]; `pred` is evaluated per candidate between the cell
    * join and the ranking window and may reference any corpus column
    * plus any query column under a `q_` prefix (query `vec_id` →
    * `query_id`, `embedding` → `q_emb`). POST-filter semantics: cells
    * are probed by geometry alone, so a highly selective predicate can
    * drain a probed cell below k (fewer than k rows come back) — that
    * recall trade vs. brute-force-with-filter is the documented cost
    * of keeping the probe narrow; widen `nProbe` to tighten it. The
    * filter lands BEFORE the cosine is computed, so filtered-out
    * candidates cost a predicate eval, not a dot product. */
  def annTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      pred: Column): DataFrame = {
    val cents = centroidsOf(corpus)
    val cells = assignWith(corpus, cents)
    val qCols = queries.columns.map {
      case "vec_id"    => col("vec_id").as("query_id")
      case "embedding" => col("embedding").as("q_emb")
      case c           => col(c).as(s"q_$c")
    }
    val q = queries.select(qCols.toSeq: _*)
      .withColumn("__probe", explode(slice(sortedCells(col("q_emb"), cents), 1, nProbe)))
      .withColumn("cell", col("__probe").getField("cell"))
      .drop("__probe")
    val scored = cells.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .where(pred)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      .where(!isnan(col("cos")))
    // bounded top-k per query (r17) — see TopKPerKey.topKRanked
    graft.plans.TopKPerKey.topKRanked(scored, "query_id",
      Seq(col("cos").desc, col("neighbor_id")), k)
  }

  /** Search over an ALREADY cell-assigned corpus — shared by the
    * in-plan path above and the standing [[VectorIndex]] (where the
    * assigned corpus is a cell-partitioned table on disk). */
  private[sim] def searchAssigned(cells: DataFrame, queries: DataFrame, k: Int,
                                  cents: Array[(Int, Array[Float])]): DataFrame = {
    // each query probes its nProbe nearest cells: slice the sorted cell
    // array and explode — still narrow (Generate), no shuffle
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("__probe", explode(slice(sortedCells(col("q_emb"), cents), 1, nProbe)))
      .withColumn("cell", col("__probe").getField("cell"))
      .drop("__probe")
    val scored = cells.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      // NaN sorts above every real cosine — drop dirty-vector scores
      // before ranking (no-op on valid corpora; AdversarialSpec pins it)
      .where(!isnan(col("cos")))
    // (query, neighbor) is unique by construction: the corpus side
    // carries exactly ONE cell per vector (assignWith keep=1), so a
    // query meets each neighbor at most once even though it probes
    // nProbe cells — no dedup shuffle needed before the top-k pass
    graft.plans.TopKPerKey.topKRanked(scored, "query_id",
      Seq(col("cos").desc, col("neighbor_id")), k)
  }

  /** SEMANTIC decontamination (VERDICT r6 item 5): flag corpus vectors
    * whose embedding is near a benchmark/eval vector — the
    * paraphrase-robust complement of the n-gram decontamination arms
    * (q74/q102), which an embedding-space rewrite of a benchmark
    * passes untouched.
    *
    * Blocking is the same IVF-cell discipline as `q107_semantic_dedup`:
    * both sides take the shared quantizer `cents` in ONE narrow
    * assignment projection each, and candidates are generated only
    * within a cell — never corpus × benchmark. The benchmark side is
    * broadcast: a benchmark suite is small BY DEFINITION (thousands of
    * rows — it is the thing you're protecting, not the corpus), so the
    * cell join is map-side; the corpus never shuffles at all. A corpus
    * doc whose cell holds no benchmark vector reports n_cands = 0 and
    * counts clean — that recall bound is the documented trade of
    * cell-blocked screening (raise nCells resolution or probe more
    * cells to tighten it), and the oracle replicates it exactly.
    *
    * Determinism: pair cosines are the fused fold-order-pinned
    * [[VectorFunctions.cosine]]; `max` over them is order-independent
    * exactly; NaN cosines (dirty vectors) are dropped before the max so
    * they can neither flag nor mask a row (adversarial-sweep posture).
    *
    * @return one row per corpus vector: (vec_id, n_cands, max_sim
    *         nullable, contaminated) */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    cents: Array[(Int, Array[Float])], minCos: Double): DataFrame = {
    val c = assignWith(corpus, cents)
    val b = assignWith(bench, cents)
      .select(col("cell"), col("embedding").as("b_emb"))
    val cos = VectorFunctions.cosine(col("embedding"), col("b_emb"))
    val agg = c.join(broadcast(b), Seq("cell"))
      .select(col("vec_id"), cos.as("cos"))
      .where(!isnan(col("cos")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_cands"), max(col("cos")).as("max_sim"))
    c.select(col("vec_id"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        col("max_sim"),
        coalesce(col("max_sim") >= minCos, lit(false)).as("contaminated"))
  }
}
