package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled MOSS winnowing (Schleimer/Wilkerson/Aiken SIGMOD 2003), the
  * engine's one winnowing selection: d43's w-sweep, the DedupIndex
  * fingerprint build and the streamed novelty gate all call it.
  *
  * k-grams are [[K]] consecutive tokens joined by one space; a row with
  * fewer than [[K]] tokens has one k-gram, `text` (callers pass
  * `trim(text)`). The k-gram at 0-based position p has the key
  * `hash32(kgram)·2²¹ + (2²⁰ − p − 1)`, so one BIGINT min picks (min hash,
  * rightmost position) at once. For n k-grams every window end
  * e ∈ [min(w, n), n] selects the min key over [max(e − w + 1, 1), e]:
  * d43's ROWS window kept where `pos ≥ least(w, n)`. The keys come back
  * distinct in selection order; a key is the min of a contiguous run of
  * windows, so skipping a repeat of the previous pick is the whole
  * `array_distinct`.
  */
object WinnowKernel {
  val K = 4

  private val Sep = UTF8String.fromString(" ")

  /** Static entry shared by interpreted eval and generated code. */
  def keys(toks: ArrayData, text: UTF8String, w: Int): ArrayData = {
    val nt = toks.numElements()
    val n = if (nt >= K) nt - K + 1 else 1
    val key = new Array[Long](n)
    var p = 0
    while (p < n) {
      val g = if (nt < K) text else UTF8String.concatWs(Sep,
        toks.getUTF8String(p), toks.getUTF8String(p + 1),
        toks.getUTF8String(p + 2), toks.getUTF8String(p + 3))
      key(p) = TokenHashKernel.hash32(g.getBytes) * 2097152L + (1048576L - p - 1)
      p += 1
    }
    val out = new Array[Long](n)
    var m = 0
    var e = math.min(w, n)
    while (e <= n) {
      var mk = Long.MaxValue
      var i = math.max(e - w, 0)
      while (i < e) { if (key(i) < mk) mk = key(i); i += 1 }
      if (m == 0 || out(m - 1) != mk) { out(m) = mk; m += 1 }
      e += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  case class WinnowKeys(left: Expression, right: Expression, w: Int)
      extends BinaryExpression {
    require(w >= 1, s"window must be ≥ 1, got $w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected (ARRAY<STRING>, STRING), got ($l, $r)")
      }

    override def nullSafeEval(toks: Any, text: Any): Any =
      keys(toks.asInstanceOf[ArrayData], text.asInstanceOf[UTF8String], w)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (toks, text) =>
        s"${ev.value} = graft.functions.WinnowKernel.keys($toks, $text, $w);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `toks` = `tokens(text)`, `text` = `trim(text)`; null in, null out. */
  def winnow_keys(toks: Column, text: Column, w: Int): Column =
    Bridge.column(WinnowKeys(Bridge.expression(toks), Bridge.expression(text), w))
}
