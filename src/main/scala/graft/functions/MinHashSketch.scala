package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_minhash(col, k)` — the k-permutation MinHash sketch of a
  * group of LONG hashes as ONE aggregate: per input row, component i
  * tracks `min(xxhash64(h, i))`, returned as `array<bigint>[k]`.
  *
  * Value-compatible with the unrolled formulation
  * `agg(min(xxhash64(h, 0)), ..., min(xxhash64(h, k-1)))` — Spark's
  * `xxhash64(h, i)` chains `XXH64.hashInt(i, XXH64.hashLong(h, 42))`,
  * which is exactly what [[update]] computes — but with two structural
  * advantages at k=96:
  *
  *  - the inner chain `XXH64.hashLong(h, 42)` is shared across all k
  *    components (the unrolled form recomputes it per column): ~half
  *    the hashing on the corpus-sized update path;
  *  - one small aggregate instead of 96 generated agg slots: the
  *    unrolled form's whole-stage codegen ran to thousands of lines
  *    whose Janino+JIT compilation dominated dd3's cold time (4–22 s
  *    run-to-run) and stressed the code cache; this class is one tiny
  *    JIT-friendly loop, compiled once.
  *
  * The buffer is a fixed `Array[Long](k + 1)` (k sketch slots + a
  * seen-input counter) — constant memory per group at any corpus
  * scale (the same bounded-buffer contract as [[CollectCappedLongs]]).
  *
  * A group with no non-null input returns SQL NULL (the unrolled form
  * returns an array of k NULLs there — inexpressible with this
  * aggregate's non-null element type, so the whole value is null;
  * groups produced by groupBy always have at least one row, so the
  * difference is reachable only through global aggregation of an
  * empty/all-null input).
  */
case class MinHashSketch(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  require(numHashes >= 1 && numHashes <= 4096,
    s"numHashes must be in [1, 4096], got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = MinHashSketch.name

  // slots 0..numHashes-1 = sketch; slot numHashes = seen-input count
  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](numHashes + 1)
    java.util.Arrays.fill(buf, 0, numHashes, Long.MaxValue)
    buf
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // shared inner link of Spark's xxhash64(h, i) chain (seed 42)
      val step = XXH64.hashLong(h, 42L)
      var i = 0
      while (i < numHashes) {
        val x = XXH64.hashInt(i, step)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
      buf(numHashes) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf(numHashes) += other(numHashes)
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(numHashes) == 0L) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf, numHashes))

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)
}

object MinHashSketch {
  val name = "graft_minhash"

  val info = new ExpressionInfo(
    classOf[MinHashSketch].getName, null, name,
    "_FUNC_(col, k) - k-permutation MinHash sketch (array<bigint>) of " +
      "a group of bigint hashes; component i = min(xxhash64(col, i)).",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects (col, k)")
    MinHashSketch(children.head, BuilderArgs.intLit(name, children(1), "k"))
  }
}
