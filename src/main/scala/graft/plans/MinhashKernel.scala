package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static MinHash banding kernel shared by interpreted eval and
  * generated code (object → static forwarder callable from
  * `doGenCode`), same promotion pattern as [[TextOps]] / [[VecOps]].
  */
object MinhashOps {

  private val Hex = "0123456789abcdef".toCharArray

  private def hexify(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** unsigned lexicographic byte compare == compare of lowercase hex
    * strings == SQL MIN over VARCHAR md5 hex (fixed 16-byte inputs).
    */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  // "<seed>:" digest prefixes, seeds 0..7 — ASCII, precomputed once
  private val Prefixes: Array[Array[Byte]] =
    Array.tabulate(8)(seed => (seed.toString + ":").getBytes("US-ASCII"))

  // a null ARRAY ELEMENT must hash like the legacy UDF, whose Scala
  // string concat ("<seed>:" + null) silently stringifies it — so the
  // digested bytes for a null shingle are literally "null"
  private val NullBytes: Array[Byte] = "null".getBytes("US-ASCII")

  /** MinHash signature → 4 LSH band keys, one pass per doc. Identical
    * bytes to the former `minhashBandsUdf` (DedupQueries): per seed,
    * the lexicographic minimum of md5("<seed>:<shingle>") — UTF-8
    * concat equals digesting prefix bytes then shingle bytes — then
    * bands of 2 hex signature values re-hashed. The shingle UTF-8
    * bytes are materialized ONCE and reused across all 8 seeds (the
    * UDF re-built and re-encoded the concatenated String per
    * seed×shingle), and the ArrayData elements are read as UTF8String
    * without a catalyst→Seq[String] converter pass.
    */
  def bands(arr: ArrayData): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    val shingleBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      shingleBytes(i) = if (u == null) NullBytes else u.getBytes
      i += 1
    }
    val sig = new Array[String](8)
    var seed = 0
    while (seed < 8) {
      val prefix = Prefixes(seed)
      var minB: Array[Byte] = null
      var j = 0
      while (j < n) {
        md.reset()
        md.update(prefix)
        md.update(shingleBytes(j))
        val d = md.digest()
        if (minB == null || unsignedLess(d, minB)) minB = d
        j += 1
      }
      sig(seed) = if (minB == null) "" else hexify(minB)
      seed += 1
    }
    val out = new Array[Any](4)
    var b = 0
    while (b < 4) {
      md.reset()
      out(b) = UTF8String.fromString(
        hexify(md.digest((sig(2 * b) + sig(2 * b + 1)).getBytes("UTF-8"))))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `minhash_bands(array<string>)` — native codegen'd MinHash+LSH band
  * keys (array<string>, 4 keys of 2-value bands over an 8-minima md5
  * signature). Promotion of the dedup pack's last hot-path ScalaUDF
  * (r11 verdict #3): the UDF paid a catalyst↔Seq[String] converter
  * plus 8 redundant per-seed string concat+encode passes per row;
  * this evaluates inside the whole-stage-codegen consume loop. Feeds
  * q_dedup_minhash, q_dedup_eval and q_dedup_consensus through a
  * posexplode; band keys are bit-identical to the UDF (the DuckDB
  * oracle reconstructs the same md5 pipeline in SQL).
  *
  * NULL-ARRAY divergence from the legacy UDF (r12 ADVICE, pinned in
  * NativeExprSpec): the bit-identical claim covers null ELEMENTS
  * (hashed as the string "null", matching the UDF's concat) but NOT a
  * null input ARRAY — this expression is null-safe (null in → null
  * out, and the row then drops out of a posexplode), while the legacy
  * ScalaUDF would NPE on a null Seq; `nullable` differs accordingly
  * (child-derived here vs ScalaUDF's always-true). Unreachable from
  * Corpus.shingles (split never yields null), but a caller probing the
  * GRAFT_MINHASH_UDF A/B path with a nullable array column will see
  * the native path return rows the UDF path crashes on.
  */
case class MinhashBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(e: Any): Any =
    MinhashOps.bands(e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e => s"graft.plans.MinhashOps.bands($e)")

  override def prettyName: String = "minhash_bands"

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashKernel {
  /** Register the kernel as a temp function on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "minhash_bands", "scala_udf")(es => MinhashBands(es.head))
}
