package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_collect_capped(col, limit)` — collect_list over a LONG
  * column whose per-key buffer NEVER exceeds `limit` elements: once
  * full, further inputs are discarded. This is the bounded-memory
  * primitive behind heavy-hitter-safe group-and-collect at corpus
  * scale: `collect_list` keeps an unbounded per-key buffer (a shingle
  * shared by 10^7 documents would buffer 10^7 ids inside one
  * aggregation buffer before any size filter can run — the classic
  * hot-key OOM), while this aggregate caps the buffer BY CONSTRUCTION.
  *
  * Dedup candidate generation calls it with `limit = K + 1`: a key
  * whose result holds K+1 elements had document frequency > K and is
  * dropped as boilerplate (pipeline/Dedup.scala); the one aggregation
  * thus replaces the two-pass df-count + anti-join + collect shape —
  * one corpus-wide shuffle instead of two.
  *
  * Which `limit` elements survive for an over-full key is
  * intentionally unspecified (first-seen per partition, merge order
  * arbitrary) — callers must only use the overflow as a drop marker,
  * never the retained sample.
  *
  * Reference behavior being re-expressed: hot-shingle df capping in
  * near-dup candidate generation (the standard mitigation the r3
  * verdict prescribed for the dd2 self-join).
  */
case class CollectCappedLongs(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Long]]
  with UnaryLike[Expression] {

  require(limit >= 1, s"limit must be >= 1, got $limit")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint column, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = CollectCappedLongs.name

  override def createAggregationBuffer(): ArrayBuffer[Long] =
    new ArrayBuffer[Long](math.min(limit, 16))

  override def update(buf: ArrayBuffer[Long], input: InternalRow): ArrayBuffer[Long] = {
    if (buf.length < limit) {
      val v = child.eval(input)
      if (v != null) buf += v.asInstanceOf[Long]
    }
    buf
  }

  override def merge(buf: ArrayBuffer[Long], other: ArrayBuffer[Long]): ArrayBuffer[Long] = {
    val room = limit - buf.length
    if (room >= other.length) buf ++= other
    else if (room > 0) buf ++= other.view.slice(0, room)
    buf
  }

  override def eval(buf: ArrayBuffer[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: ArrayBuffer[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCappedLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCappedLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectCappedLongs =
    copy(child = newChild)
}

object CollectCappedLongs {
  val name = "graft_collect_capped"

  // 11-arg form like the other graft functions: the 3-arg constructor
  // is (className, db, name) — it would record the usage string as the
  // function NAME in registry metadata
  val info = new ExpressionInfo(
    classOf[CollectCappedLongs].getName, null, name,
    "_FUNC_(col, limit) - collect_list over bigints with a hard per-key buffer cap.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects (col, limit)")
    CollectCappedLongs(children.head,
      BuilderArgs.intLit(name, children(1), "limit"))
  }
}
