package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd SimHash kernel: the `bits`-wide SimHash of an array of token
  * hashes. Each non-null element votes +1 on every bit `i < bits` it has
  * set and -1 on every bit it has clear; bit `i` of the result is set when
  * its vote sum is positive. One traversal of the array with an `int[bits]`
  * vote buffer — no per-token rows, no shuffle.
  *
  * Null elements are skipped; an empty (or all-null) array folds to 0; a
  * NULL array propagates NULL. Every SimHash in graft —
  * [[graft.pipeline.Dedup.simhash]], [[graft.pipeline.Dedup.simhashColumn]]
  * and the SQL `simhash()` — is this expression over
  * `transform(tokens, tokenHash)`.
  */
case class SimHashFold(child: Expression, bits: Int) extends UnaryExpression {

  require(bits >= 1 && bits <= 64, s"simhash bits must be in [1, 64], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_fold requires array<bigint> input, got ${other.sql}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_fold"

  override protected def nullSafeEval(input: Any): Any =
    SimHashFold.fold(input.asInstanceOf[ArrayData], bits)

  // generated code calls the same compiled fold the interpreted path runs
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"${classOf[SimHashFold].getName}.fold($arr, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashFold =
    copy(child = newChild)
}

object SimHashFold {
  def fold(arr: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var i = 0
        while (i < bits) {
          votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) > 0) out |= 1L << i
      i += 1
    }
    out
  }
}
