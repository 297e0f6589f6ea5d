package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.dedup.{MinHashSignature, SimHash64}
import graft.sim.CosineSimilarity
import graft.text.{DeflateRatio, Md5Hash60, WinnowFingerprint}

/** Session extensions for the engine's native expressions — enable with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), after which
  * `graft_cosine(a, b)`, `graft_simhash(tokens)`, `graft_md5h60(s)`,
  * `graft_winnow(text)` and `graft_minhash(tokens)` are callable from
  * SQL text as well as the DataFrame API. (PqEncode/AdcScore carry a
  * driver-side codebook argument and stay DataFrame-only.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_md5h60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "graft_md5h60"),
      (children: Seq[Expression]) => Md5Hash60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "graft_deflate_ratio"),
      (children: Seq[Expression]) => DeflateRatio(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "graft_winnow"),
      (children: Seq[Expression]) => WinnowFingerprint(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      // graft_minhash(tokens[, k]): the optional k must be an integer
      // literal (it sizes the signature buffer at plan time). Any other
      // arity/shape is an analysis error — previously a second argument
      // was silently DROPPED and k=32 used instead (ADVICE r3 #4).
      (children: Seq[Expression]) => children match {
        case Seq(toks) => MinHashSignature(toks)
        case Seq(toks, org.apache.spark.sql.catalyst.expressions.Literal(k: Int,
            org.apache.spark.sql.types.IntegerType)) => MinHashSignature(toks, k)
        case _ => throw new IllegalArgumentException(
          "graft_minhash expects (array<string> tokens[, int literal k]); " +
            s"got ${children.length} argument(s)" + (
            if (children.length == 2) " where the second is not an integer literal" else ""))
      }))
    // optimizer rule: pure |a-b|<=tol theta joins → bucketized equi
    // joins (see RewriteRangeJoin)
    ext.injectOptimizerRule(RewriteRangeJoin)
    // optimizer rule: plain aggregates over a scan with a registered
    // lockstep materialized view serve from the view (see
    // RewriteMvAggregate; gate spark.graft.mvRewrite, default OFF)
    ext.injectOptimizerRule(RewriteMvAggregate)
    ext.injectFunction((
      FunctionIdentifier("graft_hyperplane_buckets"),
      new ExpressionInfo(classOf[graft.sim.HyperplaneBuckets].getName,
        "graft_hyperplane_buckets"),
      // graft_hyperplane_buckets(emb, dim, tables, planesPerTable, seed):
      // the hyperplane patterns are DETERMINISTIC functions of
      // (dim, planesPerTable, seed) — exactly how the DataFrame path
      // builds them (RandomHyperplaneLsh, seed + t per table) — so the
      // SQL surface reconstructs the sign tensor from four integer
      // literals at plan time instead of shipping a nested array
      // literal. PqEncode/AdcScore stay DataFrame-only by design:
      // their codebooks are FITTED data, not derivable from literals.
      (children: Seq[Expression]) => children match {
        case Seq(emb, IntLit(dim), IntLit(tables), IntLit(planes), IntLit(seed)) =>
          val signs = Array.tabulate(tables.toInt) { t =>
            new graft.sim.RandomHyperplaneLsh(dim.toInt, planes.toInt, seed + t)
              .hyperplanes.map(_.toArray).toArray
          }
          graft.sim.HyperplaneBuckets(emb, signs)
        case _ => throw new IllegalArgumentException(
          "graft_hyperplane_buckets expects (array<float> emb, int dim, " +
            "int tables, int planesPerTable, int seed) with integer literals " +
            s"after the first argument; got ${children.length} argument(s)")
      }))
    // whole-operator extension: TopKPerKey logical node → partial +
    // final bounded-heap execs (see TopKPerKey)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }

  /** Integer literal of any integral type, as Long. */
  private object IntLit {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case Literal(v: Byte, ByteType) => Some(v.toLong)
      case _ => None
    }
  }
}
