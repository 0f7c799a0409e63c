package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static vector kernels shared by interpreted eval and generated code
  * (Scala objects expose static forwarders, so `doGenCode` can call
  * these directly). Both operate on catalyst `ArrayData` — no
  * ArrayData→Seq conversion, no boxing, no encoder boundary; that
  * per-pair allocation is exactly what the previous ScalaUDF kernels
  * paid at candidate-pair × 64-dim counts.
  */
object VecOps {

  /** Index-order float→double dot product — the same arithmetic and
    * accumulation order as `aggregate(zip_with(...))`, so similarities
    * stay bit-identical to the SQL oracle's formulation.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Integer dot product over long arrays — the post-quantization ANN
    * scoring kernel. Exact 64-bit arithmetic: |q| ≤ 127 per element and
    * 64 dims keep every partial product and the sum far below 2⁶³, so
    * the result is bit-identical to any other integer evaluation order.
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Banded multi-bit hyperplane LSH: 4 bands × 16 hyperplanes.
    * Hyperplane h ∈ [0,64): sign bit of Σ_d w(h,d)·e[d] with
    * w(h,d) = +1 if ((h·64+d)·37) mod 97 < 48 else −1 — the same weight
    * family as [[bucket]], extended to 64 planes. Band j = h/16 packs
    * bits k = h mod 16 into a 16-bit value; a candidate pair is any pair
    * agreeing on AT LEAST ONE band (OR-of-bands, exactly the MinHash
    * banding recall trade: P[candidate] = 1−(1−s^16)^4 for bit-agreement
    * rate s). With 2^16 values per band the blocking key space is
    * 4·65536 — the fixed-256-bucket cap of the single-bucket scheme
    * (O(n²/256) in-bucket pairs at scale) is gone; expected bucket
    * occupancy stays bounded as n grows because the key space scales
    * with the signature width, and recall is recovered via the 4-band OR
    * instead of a coarse bucket.
    */
  def bands(e: ArrayData): ArrayData = {
    val out = new Array[Long](4)
    var h = 0
    while (h < 64) {
      var s = 0.0
      var d = 0
      while (d < 64) {
        val w = if (((h * 64 + d) * 37) % 97 < 48) 1.0 else -1.0
        s += w * e.getFloat(d).toDouble
        d += 1
      }
      if (s > 0) out(h >> 4) |= (1L << (h & 15))
      h += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 8-bit hyperplane LSH bucket: bit j set iff
    * Σ_d w(j,d)·e[d] > 0 with w(j,d) = +1 if ((j·64+d)·37) mod 97 < 48
    * else −1 — pure arithmetic, oracle-reproducible.
    */
  def bucket(e: ArrayData): Long = {
    var bucket = 0L
    var j = 0
    while (j < 8) {
      var s = 0.0
      var d = 0
      while (d < 64) {
        val w = if (((j * 64 + d) * 37) % 97 < 48) 1.0 else -1.0
        s += w * e.getFloat(d).toDouble
        d += 1
      }
      if (s > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }
}

/** `vec_dot(a, b)` — native codegen'd dot product over float arrays.
  * Promotion of the ANN kernels per SURVEY §2.10: HOF lambdas evaluate
  * interpreted per element and ScalaUDFs convert+box every row; this
  * expression sits inside the whole-stage-codegen consume loop and
  * reads the unsafe array data in place.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // ExpectsInputTypes is package-private in Spark 4; self-check instead
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecOps.dot($a, $b)")

  override def prettyName: String = "vec_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `vec_idot(a, b)` — native codegen'd integer dot product over
  * bigint arrays: the scoring kernel for int8-quantized ANN
  * (q_ann_quantized). Same in-place ArrayData read as [[VecDot]]; the
  * arithmetic is exact 64-bit integer, so no rounding guard is needed
  * for cross-engine ranking parity.
  */
case class VecDotI64(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_idot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecOps.dotLong($a, $b)")

  override def prettyName: String = "vec_idot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotI64 =
    copy(left = newLeft, right = newRight)
}

/** `vec_bucket(e)` — native codegen'd 8-hyperplane LSH bucket id. */
case class VecBucket(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_bucket expects array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(e: Any): Any =
    VecOps.bucket(e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e => s"graft.plans.VecOps.bucket($e)")

  override def prettyName: String = "vec_bucket"

  override protected def withNewChildInternal(newChild: Expression): VecBucket =
    copy(child = newChild)
}

/** `vec_bands(e)` — native codegen'd banded LSH signature:
  * array<bigint> of 4 band values, 16 hyperplane sign bits each.
  */
case class VecBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_bands expects array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(e: Any): Any =
    VecOps.bands(e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e => s"graft.plans.VecOps.bands($e)")

  override def prettyName: String = "vec_bands"

  override protected def withNewChildInternal(newChild: Expression): VecBands =
    copy(child = newChild)
}

object VecKernels {
  /** Register the kernels as temp functions on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftExtensions.registerOnce(spark, "vec_dot", "scala_udf")(es => VecDot(es(0), es(1)))
    GraftExtensions.registerOnce(spark, "vec_idot", "scala_udf")(es => VecDotI64(es(0), es(1)))
    GraftExtensions.registerOnce(spark, "vec_bucket", "scala_udf")(es => VecBucket(es.head))
    GraftExtensions.registerOnce(spark, "vec_bands", "scala_udf")(es => VecBands(es.head))
  }
}
