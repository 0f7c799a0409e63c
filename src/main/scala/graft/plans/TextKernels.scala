package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static text kernels shared by interpreted eval and generated code
  * (Scala object → static forwarders callable from `doGenCode`), the
  * same promotion pattern as [[VecOps]].
  */
object TextOps {

  /** Winnowing fingerprint set: polynomial rolling hash (base 131,
    * mod 2^31−1) over char 5-grams, min in each sliding window of 4 —
    * the standard local fingerprinting scheme (as in MOSS). Distinct,
    * ascending. The DuckDB oracle reconstructs the identical pipeline
    * in SQL (per-position polynomial mod, window-min frame, distinct
    * minima); stepwise `(h·131+c) mod m` equals the full-sum mod, so
    * both formulations agree exactly.
    */
  def fingerprints(text: String): Array[Int] = {
    val k = 5; val w = 4
    val n = text.length
    if (n < k) return Array.empty
    val mod = 2147483647L
    val hashes = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 131 + text.charAt(i + j)) % mod; j += 1 }
      hashes(i) = h
      i += 1
    }
    val selected = collection.mutable.SortedSet.empty[Long]
    var s = 0
    while (s + w <= hashes.length) {
      var m = hashes(s); var t = 1
      while (t < w) { if (hashes(s + t) < m) m = hashes(s + t); t += 1 }
      selected += m
      s += 1
    }
    selected.toArray.map(_.toInt)
  }

  /** Catalyst-facing wrapper: UTF8String in, long-array ArrayData out
    * (callable from generated code).
    */
  def fingerprintArray(s: UTF8String): ArrayData = {
    val fp = fingerprints(s.toString)
    val out = new Array[Long](fp.length)
    var i = 0
    while (i < fp.length) { out(i) = fp(i).toLong; i += 1 }
    new GenericArrayData(out)
  }
}

/** `fingerprint_set(text)` — native codegen'd winnowing fingerprint
  * set (array<bigint>, distinct ascending). Promotion of the last
  * hot-path text UDF per SURVEY §2.10: a ScalaUDF pays the
  * catalyst↔scala converter plus a null-handling wrapper per row; this
  * expression evaluates inside the whole-stage-codegen consume loop.
  * Feeds q_doc_fingerprint (summary via array HOFs) and
  * q_passage_overlap (inverted-index explode).
  */
case class FingerprintSet(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fingerprint_set expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(e: Any): Any =
    TextOps.fingerprintArray(e.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e => s"graft.plans.TextOps.fingerprintArray($e)")

  override def prettyName: String = "fingerprint_set"

  override protected def withNewChildInternal(newChild: Expression): FingerprintSet =
    copy(child = newChild)
}

object TextKernels {
  /** Register the kernels as temp functions on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "fingerprint_set", "scala_udf")(es => FingerprintSet(es.head))
}
