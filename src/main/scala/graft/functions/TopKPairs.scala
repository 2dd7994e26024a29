package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** `graft_topk_pairs(score, id, k)` — per-group top-k DISTINCT ids by
  * `(score DESC, id ASC)` as a bounded aggregation buffer, returning
  * `array<struct<id bigint, score double>>` in rank order. An id fed
  * several times (an LSH pair colliding in several bands) occupies one
  * rank with its best score — callers need no distinct() on the input.
  *
  * Why it exists: the kNN-join family materializes "top-k partners per
  * row" from a scored pair stream. The window formulation
  * (`row_number() OVER (PARTITION BY a ORDER BY score DESC) <= k`)
  * compiles to WindowGroupLimit, which still SORTS every partition of
  * the pair stream below the exchange — O(P·log P) comparisons over
  * P pairs to keep N·k winners (sim4 at sf0.1: ~2.9 s of its 3.4 s was
  * this sort over the 4M-pair stream). This aggregate replaces the
  * sort with a bounded insertion buffer: O(P) stream work with a
  * capacity-k compare-and-insert (k tiny, the reject path is ONE
  * compare against the current floor), map-side partial aggregation,
  * and a shuffle that carries one ≤k buffer per (partition, key) —
  * the same O(N·k) exchange volume as WindowGroupLimit without the
  * per-partition sort on either side.
  *
  * Ordering contract (must reproduce the window formulation exactly):
  * score DESC then id ASC, with -0.0 normalized to 0.0 and NaN ranked
  * first — the comparison semantics Spark's SortOrder applies after
  * NormalizeFloatingNumbers, and what the DuckDB oracle's ORDER BY
  * computes on the same doubles.
  *
  * The per-key state is k (id, score) pairs BY CONSTRUCTION — a
  * hot key cannot grow it (the [[CollectCappedLongs]] discipline).
  * ObjectHashAggregate's sort-based fallback
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`,
  * default 128 distinct keys per partition) is the one knob to mind
  * at scale: buffers here are ~16·k bytes, so millions of in-memory
  * keys are fine — our mains raise it; a 100 TB deployment should
  * size it to executor heap / (16·k + overhead).
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairs.Buffer]
  with BinaryLike[Expression] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def left: Expression = score
  override def right: Expression = id

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, bigint), got " +
          s"${s.catalogString} / ${i.catalogString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = TopKPairs.name

  override def createAggregationBuffer(): TopKPairs.Buffer =
    new TopKPairs.Buffer(k)

  override def update(buf: TopKPairs.Buffer, input: InternalRow): TopKPairs.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    // a null score or id carries no candidate (mirrors the window
    // formulation, where SortOrder ranks NULLS LAST and the <= k
    // filter never admits them ahead of real pairs at k << group size)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKPairs.Buffer, other: TopKPairs.Buffer): TopKPairs.Buffer = {
    var j = 0
    while (j < other.size) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKPairs.Buffer): Any = {
    val out = new Array[Any](buf.size)
    var j = 0
    while (j < buf.size) {
      out(j) = InternalRow(buf.ids(j), buf.scores(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKPairs.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var j = 0
    while (j < buf.size) {
      bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairs.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKPairs.Buffer(k)
    var j = 0
    // a serialized buffer is already rank-sorted, so inserts append
    while (j < n) { buf.insert(bb.getDouble(), bb.getLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(score = newLeft, id = newRight)
}

object TopKPairs {
  val name = "graft_topk_pairs"

  /** Rank-sorted bounded buffer: parallel (scores, ids) arrays held in
    * `(score DESC, id ASC)` order, capacity k. `insert` is one compare
    * against the floor on the (overwhelmingly common) reject path and
    * an O(k) shift on accept — k is the user's top-k, single digits in
    * every gate. */
  final class Buffer(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size: Int = 0

    // score DESC, id ASC; -0.0 -> 0.0 (NormalizeFloatingNumbers
    // semantics), NaN first (java.lang.Double.compare ranks NaN above
    // every value, which is what Spark's DESC SortOrder does)
    private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(s1, s2)
      if (c != 0) c > 0 else i1 < i2
    }

    def insert(score0: Double, id: Long): Unit = {
      val score = if (score0 == 0.0) 0.0 else score0 // fold -0.0
      if (size == k && !beats(score, id, scores(size - 1), ids(size - 1)))
        return // reject path: one compare against the floor
      // Distinct-by-id on the accept path (O(k) scan): a candidate
      // generator that emits the same partner several times — a pair
      // colliding in several LSH bands — must not occupy several
      // ranks. Keep whichever entry ranks better; for band duplicates
      // the scores are identical, so this is exact pair dedupe and
      // lets the caller skip a full-stream distinct() exchange.
      var d = 0
      while (d < size) {
        if (ids(d) == id) {
          if (!beats(score, id, scores(d), ids(d))) return // existing wins
          // drop the existing entry, then fall through to insertion
          var m = d
          while (m < size - 1) {
            scores(m) = scores(m + 1); ids(m) = ids(m + 1); m += 1
          }
          size -= 1
          d = size // exit scan: ids are unique in the buffer
        } else d += 1
      }
      var pos = if (size < k) size else size - 1 // evict the floor
      while (pos > 0 && beats(score, id, scores(pos - 1), ids(pos - 1))) {
        scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
      }
      scores(pos) = score; ids(pos) = id
      if (size < k) size += 1
    }
  }

  val info = new ExpressionInfo(
    classOf[TopKPairs].getName, null, name,
    "_FUNC_(score, id, k) - per-group top-k (id, score) pairs by (score DESC, id ASC), in rank order.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects (score, id, k)")
    TopKPairs(children(0), children(1),
      BuilderArgs.intLit(name, children(2), "k"))
  }
}
