package graft.sim

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine-similarity over two `array<float>` embedding columns:
  * dot product and both norms in ONE pass, inside whole-stage codegen.
  *
  * Why a native Expression (SURVEY.md §4.2's "only if UDF overhead
  * dominates bench profiles" case, which it did): the higher-order
  * `aggregate(zip_with(...))` formulation evaluates interpreted, walks
  * the arrays three times (dot, ‖a‖, ‖b‖), and allocates a zipped
  * intermediate array per row — measured 3-10× slower on the
  * brute-force top-k bench at sf0.1. This operator is the hot inner
  * loop of similarity search (|queries|·|corpus| evaluations).
  *
  * Arithmetic is a sequential left-to-right double fold — bit-identical
  * to the HOF formulation and to the DuckDB oracle, independent of
  * partitioning. [[CosineSimilarity.of]] is that arithmetic; the
  * interpreted eval calls it and the generated code is the same loops
  * (CosineExpressionSpec pins the two bit-equal).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $v = (double) $b.getFloat($i); $nb += $v * $v;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Cosine of two float vectors: the dot product over the common
    * prefix and each squared norm over its own array, each a sequential
    * left-to-right double fold, then `dot / (√na · √nb)`. Symmetric bit
    * for bit. A zero or NaN vector yields NaN. Shared by the expression's
    * interpreted eval and the streaming pair kernel
    * ([[CosinePairStream]]), so the kernel's verification cannot drift
    * from the codegen path or from the q58 oracle. */
  def of(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.length) { val v = a(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.length) { val v = b(i).toDouble; nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
