package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** `graft_srp_bands(v, bands, bits)` — the md5-derived SRP banded
  * signatures of sim7/dd10 as ONE per-row kernel, returning
  * `array<long>` of `bands` band signatures (bit `j` of band `c` set
  * iff the hyperplane dot ≥ 0).
  *
  * Exactness contract (what makes the DuckDB oracle able to
  * regenerate identical signatures, unchanged from the explode/join
  * formulation this replaces): the sign of hyperplane component
  * (c, j, k) is +1 iff the first two md5 bytes of `hp{c}_{j}_{k}`
  * parse to an even hex int; the dot is the LONG sum of per-term
  * micro-units `floor(x·s·1e9 + 0.5)` — each term a deterministic
  * double→bigint in both engines, the sum integer-exact and
  * order-free. The arithmetic here is literally
  * `math.floor(x * s * 1e9 + 0.5).toLong` accumulated into a Long —
  * the same IEEE operation sequence as the SQL
  * `cast(floor(x * s * 1e9 + 0.5) as bigint)`.
  *
  * Why an expression and not the explode → broadcast-join → two-agg
  * frame shape (`Similarity.srpSignatures` r10): that shape fans every
  * row out to dim × bands × bits joined rows before the partial agg —
  * 131M rows for a 2000×64 corpus at (64, 16) — and pays hash-agg
  * bookkeeping per TERM. Here the fan-out never exists: one fused
  * loop per row (bands·bits·dim multiply-rounds), whole-stage-pipeline
  * friendly, zero intermediate rows. The sign matrix is md5-derived
  * once per (bands, bits, dim) per JVM and cached — executors need no
  * side data (the [[HyperplaneBands]] no-stored-matrix property).
  *
  * CodegenFallback is deliberate: per-row work is bands·bits·dim
  * (~65k) fused multiply-rounds, so the per-call interpretation
  * overhead codegen would remove is noise here — and the cached sign
  * matrix (an Array[Byte] per (bands,bits,dim)) has no natural home in
  * generated code.
  */
case class SrpBandSigs(child: Expression, nBands: Int, bitsPerBand: Int)
  extends UnaryExpression with CodegenFallback with Serializable {

  require(nBands >= 1, s"nBands must be >= 1, got $nBands")
  require(bitsPerBand >= 1 && bitsPerBand <= 63,
    s"bitsPerBand must be in [1, 63], got $bitsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = SrpBandSigs.name

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val d = v.numElements()
    if (elementsNullable) {
      var i = 0
      while (i < d) { // same contract as graft_cosine: no silent garbage
        if (v.isNullAt(i))
          throw new IllegalArgumentException(
            s"$prettyName: null array element at index $i")
        i += 1
      }
    }
    val signs = SrpBandSigs.signMatrix(nBands, bitsPerBand, d)
    val out = new Array[Long](nBands)
    var c = 0
    while (c < nBands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val base = (c * bitsPerBand + j) * d
        var dot = 0L
        var i = 0
        while (i < d) {
          val x = v.getDouble(i)
          val s = if (signs(base + i) == 0) 1.0 else -1.0
          dot += math.floor(x * s * 1e9 + 0.5).toLong
          i += 1
        }
        if (dot >= 0) sig |= (1L << j)
        j += 1
      }
      out(c) = sig
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBandSigs =
    copy(child = newChild)
}

object SrpBandSigs {
  val name = "graft_srp_bands"

  /** Per-JVM sign cache: byte 0 = +1, byte 1 = -1, laid out
    * [(c·bits + j)·dim + k]. Derived exactly like
    * `Similarity.srpHyperplanesFlat` (the spec cross-checks the two
    * formulations agree signature-for-signature). */
  private val cache = new ConcurrentHashMap[(Int, Int, Int), Array[Byte]]()

  private[graft] def signMatrix(bands: Int, bits: Int, dim: Int): Array[Byte] =
    cache.computeIfAbsent((bands, bits, dim), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val m = new Array[Byte](bands * bits * dim)
      var c = 0
      while (c < bands) {
        var j = 0
        while (j < bits) {
          var k = 0
          while (k < dim) {
            val hex = md.digest(s"hp${c}_${j}_$k".getBytes("UTF-8"))
              .take(2).map("%02x".format(_)).mkString
            m((c * bits + j) * dim + k) =
              if (Integer.parseInt(hex, 16) % 2 == 0) 0 else 1
            k += 1
          }
          j += 1
        }
        c += 1
      }
      m
    })

  val info = new ExpressionInfo(
    classOf[SrpBandSigs].getName, null, name,
    "_FUNC_(v, bands, bits) - md5-derived SRP banded LSH signatures over a double array.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$name expects (v, bands, bits)")
    SrpBandSigs(children.head, BuilderArgs.intLit(name, children(1), "bands"),
      BuilderArgs.intLit(name, children(2), "bits"))
  }
}
