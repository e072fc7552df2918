package graft.functions

import graft.ops.TextOps.{MinhashP, permParams}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Compiled MinHash signature kernel: one pass over the shingle array —
  * md5 once per shingle (32-bit base), then all `numHashes` universal-hash
  * permutations `(aᵢ·base + bᵢ) mod P` updated in a primitive min loop.
  *
  * Replaces the higher-order-function chain (`transform` + `array_min` × n),
  * which evaluates interpreted with per-element closure dispatch. Math is
  * bit-identical (same md5 prefix, same permutation parameters), so the
  * DuckDB oracle for `d2_minhash_lsh` is unchanged. Codegen emits a static
  * call — the loop itself is always compiled Scala either way.
  */
object MinHashKernel {

  /** Static entry shared by interpreted eval and generated code. */
  def signature(shingles: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val n = as.length
    val mins = Array.fill(n)(Long.MaxValue)
    var i = 0
    val m = shingles.numElements()
    while (i < m) {
      val base = TokenHashKernel.hash32(shingles.getUTF8String(i).getBytes)
      var j = 0
      while (j < n) {
        val v = (as(j) * base + bs(j)) % MinhashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    @transient private lazy val as: Array[Long] =
      (0 until numHashes).map(permParams(_)._1).toArray
    @transient private lazy val bs: Array[Long] =
      (0 until numHashes).map(permParams(_)._2).toArray

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<STRING>, got $t")
    }

    override def nullSafeEval(a: Any): Any =
      signature(a.asInstanceOf[ArrayData], as, bs)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
        val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
        s"${ev.value} = graft.functions.MinHashKernel.signature($a, $asRef, $bsRef);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numHashes))
}
