package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ref.Sources
import graft.sim.VectorFunctions
import graft.text.{QualityOps, TextFunctions}

/** LLM-corpus curation over a generated multilingual corpus with planted
  * exact duplicates, near duplicates of known Jaccard, shared boilerplate
  * spans and per-document embeddings (a family shares a direction). Stage
  * outputs a later stage reads are persisted, as a production pipeline
  * would, and released between passes. */
final class Curation extends Workload {
  val Threshold = 0.5
  val SpanLen = 10
  val EmbDim = 32
  val MinCos = 0.9
  private var docs: DataFrame = _
  private var planted: Set[(Long, Long)] = Set.empty
  private var tokensOf: Map[Long, Set[String]] = Map.empty
  private var embOf: Map[Long, Array[Float]] = Map.empty
  private val recall = mutable.ArrayBuffer.empty[Double]
  private val precision = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit =
    docs = ctx.spark.read.parquet(ctx.in("documents.parquet"))

  /** Exact Jaccard of two documents' distinct whitespace tokens. */
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (tokensOf(a), tokensOf(b))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }

  /** Ground truth, loaded once on first use, inside an untimed check. */
  private def loadTruth(ctx: Ctx): Unit = if (tokensOf.isEmpty) {
    val src = scala.io.Source.fromFile(ctx.in("planted_pairs.csv"), "UTF-8")
    try planted = src.getLines().map(_.split(',')).map(a => (a(0).toLong, a(1).toLong)).toSet
    finally src.close()
    tokensOf = docs.where(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSet).toMap
    embOf = docs.select("doc_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  }

  def pass(ctx: Ctx): Long = {
    val features = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
      TextFunctions.nonSpaceChars(col("text")).as("n_chars"),
      TextFunctions.langId(TextFunctions.tokens(col("text"))).as("lang_guess"))
    ctx.op("text", "text.features")(ctx.force(features))(ctx.rowsCheck("documents"))
    ctx.op("text", "text.repetition")(ctx.force(QualityOps.repetitionStats(docs)))(
      ctx.rowsCheck("repetition_docs"))
    ctx.op("dedup", "dedup.exact")(ctx.force(Dedup.exactGroups(docs)))(ctx.rowsCheck("exact_groups"))
    val sigs = Dedup.minhashSignatures(docs).persist()
    ctx.op("dedup", "dedup.minhash")(ctx.force(sigs))(ctx.rowsCheck("nonnull_docs"))
    val pairs = Dedup.minhashCandidatePairs(sigs).persist()
    ctx.op("dedup", "dedup.candidates")(ctx.force(pairs)) { _ =>
      loadTruth(ctx)
      val got = pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val verified = got.count { case (a, b) => jaccard(a, b) >= Threshold }
      if (ctx.measuring) {
        recall += planted.count(got.toSet).toDouble / planted.size
        precision += verified.toDouble / math.max(1, got.length)
        ctx.layerValues("dedup.candidate_pairs") = got.length
        ctx.layerValues("dedup.verified_pairs") = verified
        ctx.layerValues("dedup.pair_yield") = verified.toDouble / math.max(1, got.length)
      }
      if (got.forall { case (a, b) => a < b }) None else Some("candidate pair not id-ordered")
    }
    val clusters = Dedup.nearDupClusters(pairs).persist()
    val nClustered = ctx.op("dedup", "dedup.cluster")(ctx.force(clusters))(_ => None).getOrElse(0L)
    val kept = Dedup.dedupByClusters(docs, clusters).persist()
    val nKept = ctx.op("dedup", "dedup.dedup_by_clusters")(ctx.force(kept)) { n =>
      // survivors = every doc minus each cluster's non-minimum members
      val nClusters = clusters.select("cluster").distinct().count()
      val want = ctx.expectLong("documents") - (nClustered - nClusters)
      if (n == want) None else Some(s"kept $n docs, clusters imply $want")
    }.getOrElse(-1L)
    ctx.op("sim", "sim.semantic_pairs") {
      VectorFunctions.cosineNearDupPairs(
        docs.select(col("doc_id").as("vec_id"), col("embedding")), EmbDim, MinCos,
        planesPerTable = 8)
        .select("vec_a", "vec_b").collect()
    } { rows =>
      // every reported pair must clear the cosine threshold exactly
      loadTruth(ctx)
      val bad = rows.map(r => (r.getLong(0), r.getLong(1))).find { case (a, b) =>
        val (x, y) = (embOf(a), embOf(b))
        x.indices.map(i => x(i).toDouble * y(i)).sum < MinCos - 1e-6
      }
      if (rows.isEmpty) Some("no semantic near-dup pairs")
      else bad.map(p => s"semantic pair $p below cosine $MinCos")
    }
    ctx.op("dedup", "dedup.span_scrub")(ctx.force(Dedup.spanScrub(docs, SpanLen)))(
      ctx.rowsCheck("scrubbed_docs"))
    ctx.op("ref", "ref.write_corpus") {
      Sources.writeCorpus(kept, ctx.out("corpus"), Seq("lang"), Seq("doc_id")).collect()
    } { manifest =>
      val n = manifest.map(_.getAs[Long]("n_rows")).sum
      if (n == nKept) None else Some(s"corpus manifest has $n rows, dedup kept $nKept")
    }
    ctx.expectLong("documents")
  }

  def finish(ctx: Ctx): Unit = ()

  def metrics(ctx: Ctx, passes: Seq[Int]): Map[String, Double] = {
    Stats.batch(ctx, passes, keyJob = _.startsWith("dedup.")) ++ Map(
      "recall" -> Stats.median(recall.toSeq),
      "precision" -> Stats.median(precision.toSeq),
      "stored_bytes_per_live_byte" ->
        Main.diskBytes(ctx.out("corpus")).toDouble / new java.io.File(ctx.in("documents.parquet")).length)
  }
}
