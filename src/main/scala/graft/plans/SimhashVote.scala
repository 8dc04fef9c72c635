package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd SimHash majority vote over ONE row's ARRAY<BIGINT> of
  * distinct token hashes: bit b (b < `bits`) of the result is set when
  * more than half of the hashes set bit b, i.e. 2·count(b) > n — the ±1
  * vote `Σ (bit ? 1 : −1) > 0` without the sign arithmetic. An empty array
  * votes 0 (no bit holds a strict majority of zero hashes); a null array
  * yields null; a null element counts in n and votes for no bit.
  *
  * Each document is one row, so the vote needs no explode or groupBy: one
  * pass over the row's hashes into `bits` counters. A HOF formulation
  * (one `aggregate` per bit) is CodegenFallback and would walk the array
  * `bits` times through an interpreted lambda per element.
  */
final case class SimhashVote(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits <= 64, "simhash bits must be in 1..64")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_vote"

  override def nullSafeEval(v: Any): Any =
    SimhashVote.vote(v.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = SimhashVote.getClass.getName // graft.plans.SimhashVote$
    defineCodeGen(ctx, ev, a => s"$obj.MODULE$$.vote($a, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashVote {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(hashes: Column, bits: Int): Column =
    Bridge.column(SimhashVote(Bridge.expression(hashes), bits))

  /** The vote kernel shared by the interpreted and the generated path. */
  def vote(hashes: ArrayData, bits: Int): Long = {
    val n = hashes.numElements()
    val count = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < bits) { count(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (2L * count(b) > n) sig |= 1L << b
      b += 1
    }
    sig
  }
}
