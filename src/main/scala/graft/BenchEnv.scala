package graft

import scala.collection.immutable.ListMap

/** Machine-readable contention attribution for bench artifacts
  * (r14 verdict #6, extended r16): a hypervisor-contended run has a
  * signature the artifact itself can carry — one pass much slower than
  * the other with ZERO GC and ZERO spill and IDENTICAL shuffle volume
  * (nothing internal explains the slowdown; the JVM was simply
  * descheduled). The r14 driver run had nine such queries on the WARM
  * side (txt2 0.34→3.4 s, dd7 1.2→4.9 s, …); the r15 driver run had
  * eight on the COLD side (dd6 28.5 s cold vs 2.2 s warm, dd8 19.3 vs
  * 2.3, …) that the warm-only rule stamped "clean" — so the classifier
  * now tests BOTH directions.
  *
  * Warm rule: a query is an anomaly when warm ≥ [[WarmRegressionRatio]]
  * × cold, cold ≥ [[MinColdSec]] (sub-quarter-second queries are timer
  * jitter), and the warm pass recorded ≤ [[MaxBenignGcFrac]] of its
  * wall in GC and zero spill (GC or spill would be an INTERNAL cause —
  * a real regression, not contention; those queries are deliberately
  * NOT counted here so a memory bug can't hide behind a "contended"
  * stamp).
  *
  * Cold rule (r15 verdict #1): cold is EXPECTED to exceed warm — the
  * cold pass pays codegen/JIT compilation — so the threshold is both a
  * ratio and an absolute excess: cold ≥ [[ColdRegressionRatio]] × warm
  * AND cold − warm ≥ [[MinColdExcessSec]], with the same
  * internal-cause guards on the COLD pass (GC fraction, zero spill)
  * plus shuffle-volume parity between the passes (within
  * [[ShuffleParityTol]]) — different shuffle bytes would mean the two
  * passes did different work, i.e. an internal cause. Calibration on
  * the three committed r15 runs (fixtures in
  * src/test/resources/benchenv/, pinned by BenchEnvSpec): the driver's
  * polluted run trips 8 dd-family cold anomalies (min ratio 6.3, min
  * excess 3.9 s); the builder's clean sf0.1 run and the clean sf1 run
  * have zero (their max genuine compile-cost excess at ratio ≥ 3 is
  * 1.96 s).
  *
  * ≥ [[ContendedMinAnomalies]] anomalies on EITHER side ⇒ "contended".
  */
object BenchEnv {

  /** Per-query two-pass measurements. Shuffle bytes default to -1
    * (unknown) for callers that predate the cold rule; parity is then
    * assumed, keeping the cold rule usable on warm-only fixtures. */
  final case class Sample(coldSec: Double, warmSec: Double,
                          warmGcMs: Long, warmSpillBytes: Long,
                          coldGcMs: Long = 0L, coldSpillBytes: Long = 0L,
                          coldShuffleBytes: Long = -1L,
                          warmShuffleBytes: Long = -1L) {
    def shuffleParity: Boolean =
      coldShuffleBytes < 0 || warmShuffleBytes < 0 || {
        val hi = math.max(coldShuffleBytes, warmShuffleBytes)
        math.abs(coldShuffleBytes - warmShuffleBytes) <=
          ShuffleParityTol * math.max(1L, hi)
      }
  }

  val WarmRegressionRatio = 1.5
  val MinColdSec = 0.25
  val MaxBenignGcFrac = 0.05
  val ContendedMinAnomalies = 3
  val ColdRegressionRatio = 3.0
  val MinColdExcessSec = 3.0
  val ShuffleParityTol = 0.01

  /** Queries whose warm-vs-cold regression has no internal cause. */
  def anomalies(samples: Map[String, Sample]): Seq[String] =
    samples.toSeq.sortBy(_._1).collect {
      case (q, s)
        if s.coldSec >= MinColdSec &&
          s.warmSec >= WarmRegressionRatio * s.coldSec &&
          s.warmGcMs <= (MaxBenignGcFrac * s.warmSec * 1000).toLong &&
          s.warmSpillBytes == 0L => q
    }

  /** Queries whose COLD pass is slower than warm by more than
    * compilation can explain, with no internal cause on the cold pass
    * and the same shuffle volume both passes. */
  def coldAnomalies(samples: Map[String, Sample]): Seq[String] =
    samples.toSeq.sortBy(_._1).collect {
      case (q, s)
        if s.coldSec >= ColdRegressionRatio * s.warmSec &&
          s.coldSec - s.warmSec >= MinColdExcessSec &&
          s.coldGcMs <= (MaxBenignGcFrac * s.coldSec * 1000).toLong &&
          s.coldSpillBytes == 0L &&
          s.shuffleParity => q
    }

  /** ("contended" | "clean", warm-anomaly names, cold-anomaly names). */
  def verdictFull(samples: Map[String, Sample])
      : (String, Seq[String], Seq[String]) = {
    val w = anomalies(samples)
    val c = coldAnomalies(samples)
    val v = if (w.size >= ContendedMinAnomalies ||
                c.size >= ContendedMinAnomalies) "contended" else "clean"
    (v, w, c)
  }

  /** ("contended" | "clean", anomalous query names, both sides). */
  def verdict(samples: Map[String, Sample]): (String, Seq[String]) = {
    val (v, w, c) = verdictFull(samples)
    (v, (w ++ c).distinct)
  }

  /** The `env` block for bench_out.json: the verdict and both anomaly
    * lists, computed from the samples exactly as measured. */
  def envJson(samples: Map[String, Sample]): ListMap[String, Any] = {
    val (v, w, c) = verdictFull(samples)
    ListMap("contention" -> v, "warm_regressions" -> w.size, "anomalous" -> w,
      "cold_regressions" -> c.size, "anomalous_cold" -> c,
      "rule" -> (s"warm: warm>=${WarmRegressionRatio}x cold, cold>=${MinColdSec}s, " +
        s"warm gc<=${(MaxBenignGcFrac * 100).toInt}% wall, zero spill; " +
        s"cold: cold>=${ColdRegressionRatio}x warm, excess>=${MinColdExcessSec}s, " +
        s"cold gc<=${(MaxBenignGcFrac * 100).toInt}% wall, zero spill, " +
        s"shuffle parity ${ShuffleParityTol}; " +
        s"contended at >=$ContendedMinAnomalies either side"))
  }
}
