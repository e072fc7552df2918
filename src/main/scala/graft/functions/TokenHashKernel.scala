package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Compiled token-array hashing: ARRAY<STRING> → ARRAY<BIGINT> of 60-bit
  * md5-prefix hashes, bit-identical to [[graft.ops.TextOps.hash60]]
  * (`conv(substr(md5(x),1,15),16,10)`): the first 15 hex chars are the first
  * 7 digest bytes plus the high nibble of the 8th. Replaces the interpreted
  * `transform(toks, hash60)` chain feeding SimHash. Equality asserted in
  * `DedupSpec`. Also home of the kernels' one md5 digest: [[hash60]] and
  * [[hash32]] share it per thread. */
object TokenHashKernel {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hash60(bytes: Array[Byte]): Long = {
    val h = digest.get().digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) & 0xf0L) >>> 4)
  }

  /** [[graft.ops.TextOps.hash32]] (`conv(substr(md5(x),1,8),16,10)`): the
    * first 8 hex chars are the first 4 digest bytes, as unsigned 32-bit. */
  def hash32(bytes: Array[Byte]): Long = {
    val h = digest.get().digest(bytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** Distinct-preserving is NOT needed by callers (SimHash counts are over
    * the given array) — this maps 1:1. */
  def hashAll(toks: ArrayData): ArrayData = {
    val m = toks.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = hash60(toks.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  case class TokenHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<STRING>, got $t")
    }
    override def nullSafeEval(a: Any): Any =
      hashAll(a.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TokenHashKernel.hashAll($a);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def token_hashes(toks: Column): Column =
    Bridge.column(TokenHashes(Bridge.expression(toks)))
}
