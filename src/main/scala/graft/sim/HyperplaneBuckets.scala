package graft.sim

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** All `tables` random-hyperplane LSH bucket ids of an `array<float>`
  * embedding in ONE array pass: every (table, plane) projection
  * accumulates simultaneously while the vector streams element by
  * element, then each table's sign bits pack into its bucket id.
  *
  * Why native: the builtin formulation evaluates tables×planes
  * higher-order `aggregate(zip_with(...))` dot products PER ROW —
  * interpreted, each walking the vector and allocating a zipped
  * intermediate (8 tables × 4 planes = 32 walks of a 64-dim array for
  * q58). Same trade as [[CosineSimilarity]] / [[PqEncode]] /
  * [[graft.dedup.MinHashSignature]]: a dense fixed per-row loop
  * belongs in one fused eval. The banding projection this feeds is the
  * narrow per-row stage of embedding near-dup dedup
  * ([[VectorFunctions.cosineNearDupPairs]]: buckets and the refinement
  * `sub` in one projection before its single (tbl, bucket) exchange),
  * so at 100 TB it is pure map-side work either way — this just makes
  * it ~an order of magnitude cheaper per row.
  *
  * Bit-identical to the HOF path for WELL-FORMED vectors (exactly dim
  * elements; VectorFunctionsSpec + a scalacheck property pin it, the
  * q58 oracle pins it cross-engine): each projection folds
  * `acc + (double)v[i] * (±1.0)` left to right, and `x * 1.0 == x`,
  * `x * -1.0 == -x` exactly in IEEE 754, so accumulating `±x` in
  * ascending i order reproduces the HOF fold bit for bit. Malformed
  * vectors (null, or any length ≠ dim) return NULL — where the HOF
  * would silently hot-bucket them at 0 (see nullSafeEval).
  *
  * @param signs signs(t)(p)(i) = ±1.0 hyperplane pattern of table t,
  *              plane p, dimension i (driver-side constants, kilobytes —
  *              embedded like PqEncode's codebook)
  */
case class HyperplaneBuckets(child: Expression, signs: Array[Array[Array[Double]]])
  extends UnaryExpression with CodegenFallback {

  private val tables = signs.length
  private val planes = signs.headOption.map(_.length).getOrElse(0)
  require(planes <= 30, "bucket id is packed into an Int")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_buckets expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hyperplane_buckets"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // Dimension contract: exactly |plane| elements or NULL. A vector of
    // any other length is malformed input — under the HOF path zip_with
    // pads the SHORTER side with nulls, the null poisons the dot, and
    // when(null > 0).otherwise(0) silently lands the row in bucket 0 of
    // every table (the same garbage-hot-bucket hazard as a null vector,
    // EdgeCasesSpec pins it). Returning NULL drops the row at the
    // banding posexplode instead.
    if (tables == 0 || planes == 0 || arr.numElements() != signs(0)(0).length) return null
    val acc = new Array[Double](tables * planes)
    var t = 0
    while (t < tables) {
      var p = 0
      while (p < planes) {
        val plane = signs(t)(p)
        var s = 0.0
        var i = 0
        while (i < plane.length) {
          val x = arr.getFloat(i).toDouble
          if (plane(i) > 0) s += x else s -= x
          i += 1
        }
        acc(t * planes + p) = s
        p += 1
      }
      t += 1
    }
    val out = new Array[Int](tables)
    t = 0
    while (t < tables) {
      var b = 0
      var p = 0
      while (p < planes) {
        if (acc(t * planes + p) > 0) b += (1 << p)
        p += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
