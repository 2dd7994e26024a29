package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane (SimHash-family) banded LSH signatures over a
  * double-array embedding — a codegen'd Catalyst `Expression`
  * returning `nBands` band signatures of `bitsPerBand` sign bits each.
  *
  * This is the blocking kernel for embedding-cosine near-dup dedup
  * (`dd5_blocked_neardup`): two vectors with cosine `tau` agree on any
  * one sign bit with probability `p = 1 - acos(tau)/pi` (the classic
  * random-hyperplane collision bound), so they share a whole band with
  * probability `p^bitsPerBand`, and the probability that NO band
  * collides is `(1 - p^b)^L` — driven below any target by choosing
  * (b, L) via [[HyperplaneBands.params]]. Candidate pairs are then a
  * plain equi-join on (band, signature) — shuffle-partitionable at
  * 100 TB — never a cross product.
  *
  * The hyperplanes are Rademacher (+1/-1 per dimension), derived
  * deterministically from (seed, bit, dim) by a splitmix64 mix — no
  * stored projection matrix, so executors need zero side data and the
  * signature of a vector is stable across queries and sessions.
  * Interpreted eval and generated code share the identical arithmetic
  * (both are exercised by the spec).
  *
  * Reference behavior being re-expressed: near-dup candidate
  * generation by banded signatures, the same shape this repo uses for
  * MinHash/Jaccard (see `pipeline/Dedup.scala` dd3) — here for the
  * cosine metric over embedding columns.
  */
case class HyperplaneBands(child: Expression, bitsPerBand: Int,
                           nBands: Int, seed: Long)
  extends UnaryExpression with Serializable {

  require(bitsPerBand >= 1 && bitsPerBand <= 63,
    s"bitsPerBand must be in [1, 63], got $bitsPerBand")
  require(nBands >= 1, s"nBands must be >= 1, got $nBands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = HyperplaneBands.name

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
    val out = new Array[Long](nBands)
    var band = 0
    while (band < nBands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val bitIdx = band * bitsPerBand + j
        var dot = 0.0
        var i = 0
        while (i < d) {
          // inline splitmix64 of (seed, global bit index, dim) -> sign
          var z = seed + (bitIdx.toLong * d + i) * 0x9E3779B97F4B07B5L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          dot += (if (z < 0) -v.getDouble(i) else v.getDouble(i))
          i += 1
        }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      out(band) = sig
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val band = ctx.freshName("band")
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val bitIdx = ctx.freshName("bitIdx")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val z = ctx.freshName("z")
      val nullCheck = if (elementsNullable)
        s"""for (int $i = 0; $i < $d; $i++) {
           |  if ($a.isNullAt($i)) {
           |    throw new IllegalArgumentException(
           |      "$prettyName: null array element at index " + $i);
           |  }
           |}""".stripMargin
      else ""
      // identical arithmetic to nullSafeEval (spec asserts parity)
      s"""
         |int $d = $a.numElements();
         |$nullCheck
         |long[] $out = new long[$nBands];
         |for (int $band = 0; $band < $nBands; $band++) {
         |  long $sig = 0L;
         |  for (int $j = 0; $j < $bitsPerBand; $j++) {
         |    int $bitIdx = $band * $bitsPerBand + $j;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $d; $i++) {
         |      long $z = ${seed}L + ((long) $bitIdx * $d + $i) * 0x9E3779B97F4B07B5L;
         |      $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |      $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |      $z = $z ^ ($z >>> 31);
         |      $dot += ($z < 0L) ? -$a.getDouble($i) : $a.getDouble($i);
         |    }
         |    if ($dot > 0.0) $sig |= (1L << $j);
         |  }
         |  $out[$band] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBands {
  val name = "graft_hyperplane_bands"

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[HyperplaneBands].getName, null, name,
    "_FUNC_(v, bitsPerBand, nBands, seed) - banded random-hyperplane " +
      "LSH signatures (array<long>) of a numeric array.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 4, s"$name expects 4 arguments")
    HyperplaneBands(Cast(children.head, ArrayType(DoubleType)),
      BuilderArgs.intLit(name, children(1), "bitsPerBand"),
      BuilderArgs.intLit(name, children(2), "nBands"),
      BuilderArgs.longLit(name, children(3), "seed"))
  }

  /** Pick (bitsPerBand, nBands) for a cosine threshold `tau` so the
    * probability of missing a true pair is below `maxMiss`, using at
    * most `maxBands` bands: the largest `b` (most selective buckets)
    * whose required band count `L = ln(maxMiss)/ln(1 - p^b)` still
    * fits. More selective thresholds buy more pruning: at
    * maxMiss=1e-4, tau=0.9 yields (12, 55) — ~1.3% of random pairs
    * become candidates — while the test corpus's deliberately weak
    * tau=0.4 yields (4, 54), which prunes little because cos 0.4 in
    * 64-dim random data is barely above noise. The parameterization,
    * not a constant, is the scale contract. */
  def params(tau: Double, maxMiss: Double, maxBands: Int = 64): (Int, Int) =
    bandPlan(tau, maxMiss, n = None, maxBands = maxBands)

  /** Bands needed so a true pair at cosine `tau` is missed with
    * probability ≤ `maxMiss` given `bits` bits per band — the
    * recall leg shared by BOTH derivation modes of [[bandPlan]].
    * Returns 0 when a band collision is certain (p^bits ≥ 1). */
  def bandsFor(tau: Double, maxMiss: Double, bits: Int): Int = {
    val p = 1.0 - math.acos(tau) / math.Pi
    val pb = math.pow(p, bits)
    if (pb >= 1.0) 0
    else math.ceil(math.log(maxMiss) / math.log(1.0 - pb)).toInt
  }

  /** THE banded-LSH plan derivation (r10 verdict #6 — one function for
    * every consumer): (bitsPerBand, nBands) at cosine threshold `tau`
    * with per-true-pair miss probability ≤ `maxMiss`.
    *
    *  - `n = Some(count)` — the SCALE mode (dd10 and every production
    *    path): bits is the smallest b in [bitsMin, bitsMax] with
    *    2^b · targetBucket ≥ count, keeping expected random-collision
    *    bucket occupancy at ~targetBucket as the corpus grows (at any
    *    FIXED bits, occupancy grows linearly with n and candidate
    *    volume with Σ bucketSize² — quadratic); bands then carries the
    *    recall bound at those bits. Total work ~ n^(1+ρ), ρ =
    *    log2(1/p) · ln 2 / ln(1/collision) — the standard sub-quadratic
    *    LSH curve (measured exponent 1.30 vs the fixed plan's 2.0,
    *    `results/r10_sf1/adaptive_scale.json`). At 100 TB `count` is a
    *    metastore stats lookup, not a scan.
    *  - `n = None` — the FIXED mode (the legacy threshold-only
    *    derivation the dd5_blocked gates pin as regression checks):
    *    the most selective bits whose required band count still fits
    *    `maxBands`.
    */
  def bandPlan(tau: Double, maxMiss: Double, n: Option[Long],
               targetBucket: Int = 16, maxBands: Int = 64,
               bitsMin: Int = 4, bitsMax: Int = 24): (Int, Int) = {
    require(tau > 0 && tau < 1 && maxMiss > 0 && maxMiss < 1)
    n match {
      case Some(count) =>
        val bitsIdeal = (bitsMin to bitsMax)
          .find(b => (1L << b) * targetBucket >= count)
          .getOrElse(bitsMax)
        // maxBands applies in BOTH modes: at a permissive tau the
        // recall bound at the occupancy-derived bits can demand an
        // astronomical band count (tau 0.4 at bits 24 → ~576k bands —
        // a signature frame that can never complete). Back bits off —
        // below bitsMin if the miss bound demands it, exactly like
        // fixed mode — until the band count fits the work cap: the
        // recall CONTRACT is kept, the per-bucket candidate bound
        // degrades explicitly (coarser buckets) instead of the band
        // count exploding unbounded.
        val bits = (bitsIdeal to 1 by -1)
          .find(b => bandsFor(tau, maxMiss, b) <= maxBands)
          .getOrElse(1)
        // If even bits=1 cannot meet the miss bound within maxBands,
        // the (tau, maxMiss, maxBands) combination is unsatisfiable —
        // fail LOUDLY rather than silently clamp the band count below
        // the recall contract. (At bits=1 the per-band collision
        // probability is 1 - acos(tau)/π > 1/2 for tau > 0, so this
        // needs maxMiss < 2^-maxBands — unreachable for sane inputs,
        // but a silent clamp there would be a recall lie.)
        val bands = bandsFor(tau, maxMiss, bits)
        require(bands <= maxBands,
          s"unsatisfiable LSH plan: tau=$tau maxMiss=$maxMiss needs " +
            s"$bands bands even at bits=1, but maxBands=$maxBands — " +
            "raise maxBands or relax maxMiss")
        (bits, bands)
      case None =>
        (bitsMax to 1 by -1).iterator.flatMap { b =>
          val l = bandsFor(tau, maxMiss, b)
          if (l >= 1 && l <= maxBands) Some((b, l)) else None
        }.nextOption().getOrElse(throw new IllegalArgumentException(
          s"requirement failed: unsatisfiable LSH plan: tau=$tau " +
            s"maxMiss=$maxMiss exceeds $maxBands bands even at bits=1"))
    }
  }
}
