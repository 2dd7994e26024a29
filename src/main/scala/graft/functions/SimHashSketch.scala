package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, LongType}

/** `graft_simhash(col)` — the 64-bit Charikar SimHash of a group of
  * LONG token hashes as ONE aggregate: per input hash, bit b's
  * counter moves +1 if the hash has bit b set, −1 otherwise; the
  * fingerprint sets bit b iff its counter ends >= 0.
  *
  * Value-identical to the unrolled formulation
  * `agg(sum(when(bit0,1,-1)), ..., sum(when(bit63,1,-1)))` + sign
  * recombination (`pipeline/Dedup.scala` dd4 pre-r6), but as one
  * 65-long buffer (64 counters + a seen-input count) and one tight
  * loop instead of 64 generated agg slots — the same codegen-compile
  * collapse as [[MinHashSketch]]. Bounded memory per group by
  * construction. A group with no non-null input returns 0L, matching
  * the unrolled form (its NULL bit sums fail every `>= 0` test, so
  * no bit is set).
  */
case class SimHashSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = SimHashSketch.name

  // slots 0..63 = signed bit counters; slot 64 = seen-input count
  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) buf(b) += 1 else buf(b) -= 1
        b += 1
      }
      buf(64) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var b = 0
    while (b < 65) { buf(b) += other(b); b += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    if (buf(64) == 0L) return 0L // empty group: unrolled form sets no bit
    var out = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashSketch =
    copy(child = newChild)
}

object SimHashSketch {
  val name = "graft_simhash"

  val info = new ExpressionInfo(
    classOf[SimHashSketch].getName, null, name,
    "_FUNC_(col) - 64-bit Charikar SimHash fingerprint of a group of " +
      "bigint token hashes.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$name expects (col)")
    SimHashSketch(children.head)
  }
}
