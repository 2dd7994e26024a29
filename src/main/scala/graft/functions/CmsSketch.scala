package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_cms(col, depth, width)` — a Count-Min sketch (Cormode &
  * Muthukrishnan 2005) over a group of LONG keys as ONE aggregate:
  * `depth` counter rows of `width` counters each (width must be a
  * power of two), returned flat as `array<bigint>[depth*width]`, row
  * r at offsets [r*width, (r+1)*width).
  *
  * The frequency-estimation member of the repo's sketch family
  * (membership = [[BloomSketch]], distinct = HLL in x18, quantile =
  * x19, similarity = [[MinHashSketch]]/[[SimHashSketch]]): at 100 TB
  * "how often does this token / domain / fingerprint occur" is
  * answered in one MAP-SIDE pass — constant 8·depth·width bytes per
  * partial, merge = element-wise sum — where the exact rollup
  * shuffles the full key universe. Estimates never undercount
  * (update adds to exactly the counters [[CmsSketch.estimate]]
  * minimizes over; merge is a sum, which never decreases one) and
  * overcount by at most ~2N/width per row with probability ≥ 1/2 per
  * independent row — the gate pins both properties cross-engine.
  *
  * The per-row probe hashes are deliberately SQL-reachable so a
  * probe can run IN-PLAN against the built array (no driver loop):
  * row r probes index (h1 + r·h2) & (width-1) where
  * h1 = xxhash64(key) and h2 = xxhash64(key, 77) | 1 — both exactly
  * Spark's chained-seed `xxhash64` builtin (seed 42 chain), with h2
  * forced odd so the depth probe rows stay independent (and an odd
  * stride is coprime with the power-of-two width).
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySketchAgg {

  require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width >= 2 && width <= (1 << 24) && (width & (width - 1)) == 0,
    s"width must be a power of two in [2, 2^24], got $width")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = CmsSketch.name

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) CmsSketch.add(buf, width, v.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf, buf.length))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {
  val name = "graft_cms"

  /** h1/h2 match Spark's `xxhash64` builtin exactly (seed-42 chain:
    * xxhash64(v) = hashLong(v, 42); xxhash64(v, 77L) = hashLong(77,
    * hashLong(v, 42)) — the SQL literal must be 77L: a plain 77 is
    * INT and Spark hashes it with hashInt, a different value), so the
    * SQL side can recompute every probe index — the single source of
    * truth for the probe arithmetic. */
  private def h1(v: Long): Long = XXH64.hashLong(v, 42L)
  private def h2(v: Long): Long = XXH64.hashLong(77L, XXH64.hashLong(v, 42L)) | 1L

  /** Probe index for row r: hashes are masked to width bits BEFORE
    * the double-hash combine so every intermediate stays far below
    * 2^63 — the SQL twin runs under ANSI arithmetic, where an
    * unmasked h1 + r·h2 would overflow-throw. Masking keeps h2 odd
    * (the mask keeps the low bit), so the stride stays coprime with
    * the power-of-two width. */
  private def idx(v: Long, width: Int, r: Int): Int = {
    val m = (width - 1).toLong
    (((h1(v) & m) + r * (h2(v) & m)) & m).toInt
  }

  /** Add `inc` occurrences of key `v` to each of the depth rows. */
  def add(buf: Array[Long], width: Int, v: Long, inc: Long): Unit = {
    val depth = buf.length / width
    var r = 0
    while (r < depth) {
      buf(r * width + idx(v, width, r)) += inc
      r += 1
    }
  }

  /** Point estimate: min over the depth rows — never below the true
    * count (each row holds true count + non-negative collisions). */
  def estimate(buf: Array[Long], width: Int, v: Long): Long = {
    val depth = buf.length / width
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = buf(r * width + idx(v, width, r))
      if (c < min) min = c
      r += 1
    }
    min
  }

  /** The in-plan probe: SQL fragment computing [[estimate]] for key
    * column `k` against sketch array column `cms` — same arithmetic
    * as [[idx]], Spark's own xxhash64 builtin supplying h1/h2. */
  def estimateSql(cms: String, k: String, depth: Int, width: Int): String = {
    val m = width - 1
    s"""aggregate(sequence(0, ${depth - 1}),
       |  cast(9223372036854775807 as bigint),
       |  (acc, r) -> least(acc, element_at($cms, cast(
       |    r * $width + (((xxhash64($k) & $m) +
       |      r * ((xxhash64($k, 77L) | 1) & $m)) & $m) + 1 as int))))"""
      .stripMargin
  }

  val info = new ExpressionInfo(
    classOf[CmsSketch].getName, null, name,
    "_FUNC_(col, depth, width) - Count-Min sketch " +
      "(array<bigint>[depth*width]) over a group of bigint keys.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects (col, depth, width)")
    CmsSketch(children.head, BuilderArgs.intLit(name, children(1), "depth"),
      BuilderArgs.intLit(name, children(2), "width"))
  }
}
