package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session extension installer (SURVEY.md §7.3): registers graft's
  * native expressions and plan-level operators so any session —
  * including pure-SQL users — gets them at builder time:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   ...
  * spark.sql("SELECT nztm_to_wgs84(e, n) FROM points")
  * graft.plans.AsOf.join(trades, quotes, "sym", "ts", "sym", "ts", "px")
  * }}}
  *
  * Two injection levels are used: a native function (codegen'd
  * Expression) and a whole-operator LogicalPlan + lowering Rule
  * (AsOfJoinNode). A custom SparkStrategy/SparkPlan is deliberately
  * NOT used — every graft operator lowers to built-in physical
  * operators, which keeps Tungsten/AQE in charge of execution
  * (SURVEY.md §4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("nztm_to_wgs84"),
      NztmToWgs84.info,
      NztmToWgs84.build))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VecDot].getName, "vec_dot"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecDot(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_idot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VecDotI64].getName, "vec_idot"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecDotI64(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_bucket"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VecBucket].getName, "vec_bucket"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecBucket(es.head)))
    ext.injectFunction((
      FunctionIdentifier("vec_bands"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[VecBands].getName, "vec_bands"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecBands(es.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinhashBands].getName, "minhash_bands"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashBands(es.head)))
    ext.injectFunction((
      FunctionIdentifier("fingerprint_set"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[FingerprintSet].getName, "fingerprint_set"),
      (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FingerprintSet(es.head)))
    ext.injectPostHocResolutionRule(_ => new ResolveAsOfJoin)
    ext.injectOptimizerRule(_ => new RewriteRangeJoin)
  }
}

object GraftExtensions {

  /** Register a kernel as a temp function unless the session already
    * has one by that name (injected by `GraftExtensions` at build time,
    * or registered by an earlier query build), so repeated query builds
    * neither replace the function nor log that they did. Sessions built
    * without the extension still get the kernel on first use.
    */
  private[plans] def registerOnce(spark: SparkSession, name: String, source: String)(
      build: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, source)
  }
}
