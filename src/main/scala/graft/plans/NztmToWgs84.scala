package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the NZTM2000 → WGS84 inverse
  * projection (OP-SP-5): `nztm_to_wgs84(easting, northing)` →
  * `struct<lat double, lon double>`.
  *
  * The promotion path SURVEY.md §2.10 reserves for hot geometry
  * kernels: unlike a Scala UDF, this expression participates in
  * whole-stage codegen — `doGenCode` emits a direct static call into
  * graft.geo.Transform (Scala objects expose static forwarders), so
  * there is no encoder boundary, no boxing of the inputs, and the
  * call sits inside the generated consume loop.
  */
case class NztmToWgs84(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits outside org.apache.spark.sql
  // (AbstractDataType is package-private in Spark 4); the function
  // builder inserts Casts and this check guards direct construction.
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nztm_to_wgs84 expects (double, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = StructType(Seq(
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false)))

  override def nullSafeEval(e: Any, n: Any): Any = {
    val r = graft.geo.Transform.inverseArr(
      e.asInstanceOf[Double], n.asInstanceOf[Double])
    new GenericInternalRow(Array[Any](r(0), r(1)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n) => {
      val arr = ctx.freshName("latlon")
      s"""
         |double[] $arr = graft.geo.Transform.inverseArr($e, $n);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { $arr[0], $arr[1] });
       """.stripMargin
    })

  override def prettyName: String = "nztm_to_wgs84"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NztmToWgs84 =
    copy(left = newLeft, right = newRight)
}

object NztmToWgs84 {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[NztmToWgs84].getName, "nztm_to_wgs84")

  /** Builder used by both registration paths: numeric inputs are cast
    * to double so e.g. integer literals work in SQL.
    */
  def build(exprs: Seq[Expression]): NztmToWgs84 =
    NztmToWgs84(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType))

  /** Register on an existing session (tests / query packs). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "nztm_to_wgs84", "scala_udf")(build)
}
