package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_bloom(col, words, k)` — a Bloom-filter bitmap over a group
  * of LONG keys as ONE aggregate: `words` 64-bit words
  * (`words * 64` bits), `k` probe positions per key by double hashing
  * (Kirsch–Mitzenmacher: position_i = h1 + i·h2 mod bits, so two
  * XXH64 evaluations cover all k probes). Returned as
  * `array<bigint>[words]`.
  *
  * This is the file-skipping index side of io12: aggregated per
  * output file, the bitmaps form a tiny index table (files × words
  * longs) that a reader probes BEFORE listing a scan — a membership
  * "no" proves the file cannot contain the key (no false negatives
  * by construction: [[update]] sets exactly the bits
  * [[BloomSketch.mightContain]] tests, and [[merge]] is bitwise OR,
  * which never clears a bit). The same role parquet column-level
  * bloom filters / Delta & Iceberg file skipping play at 100 TB; the
  * aggregate keeps index BUILD a single map-side pass (constant
  * `words`-long buffer per group, same bounded-buffer contract as
  * [[MinHashSketch]]).
  *
  * A group with no non-null input returns the empty bitmap (all
  * zeros) — an empty file matches no key, which is the correct
  * skipping answer, so no null sentinel is needed.
  */
case class BloomSketch(
    child: Expression,
    words: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  require(words >= 1 && words <= (1 << 20),
    s"words must be in [1, 2^20], got $words")
  require(numHashes >= 1 && numHashes <= 32,
    s"k must be in [1, 32], got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = BloomSketch.name

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomSketch.set(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf, words))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomSketch =
    copy(child = newChild)
}

object BloomSketch {
  val name = "graft_bloom"

  /** The two double-hashing streams. h2 is forced odd: that rules out
    * the degenerate h2 == 0 case (all k probes collapsing onto one
    * bit, silently running the filter at k = 1), and since the bit
    * count is words·64 — a multiple of a power of two, and itself a
    * power of two for every io12 config — an odd stride is coprime
    * with it, so the k probe positions are pairwise distinct. */
  private def h1(v: Long): Long = XXH64.hashLong(v, 42L)
  private def h2(v: Long): Long = XXH64.hashLong(v, 77L) | 1L

  /** Set key `v`'s k probe bits in `buf` — the single source of truth
    * for the probe arithmetic; [[mightContain]] tests exactly these
    * bits and the spec recomputes them independently. */
  def set(buf: Array[Long], v: Long, k: Int): Unit = {
    val bits = buf.length.toLong * 64L
    val a = h1(v); val b = h2(v)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, bits)
      buf((bit >>> 6).toInt) |= 1L << (bit & 63L)
      i += 1
    }
  }

  /** Membership probe against a built bitmap: false PROVES absence
    * (file-skipping safe); true is "maybe" at the sized FPR. */
  def mightContain(bitmap: Array[Long], v: Long, k: Int): Boolean = {
    val bits = bitmap.length.toLong * 64L
    val a = h1(v); val b = h2(v)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(a + i * b, bits)
      if ((bitmap((bit >>> 6).toInt) & (1L << (bit & 63L))) == 0L) return false
      i += 1
    }
    true
  }

  val info = new ExpressionInfo(
    classOf[BloomSketch].getName, null, name,
    "_FUNC_(col, words, k) - Bloom bitmap (array<bigint>[words]) over " +
      "a group of bigint keys; k double-hashed probe bits per key.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects (col, words, k)")
    BloomSketch(children.head, BuilderArgs.intLit(name, children(1), "words"),
      BuilderArgs.intLit(name, children(2), "k"))
  }
}
