package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench contention classifier (r14 verdict #6) against the
  * two real r14 runs it was built to separate: the driver's
  * end-of-round run (committed `bench_out.json`, 9 queries warm ≥ 1.5×
  * cold at zero GC and zero spill — the hypervisor-contention
  * signature) and the builder's same-commit clean run
  * (`git show 0c415f7:bench_out.json`, warm ≤ cold per query). The
  * fixtures below are those artifacts' recorded values verbatim.
  */
class BenchEnvSpec extends AnyFunSuite {
  import BenchEnv._

  // warm-pass GC/spill were zero for every one of these queries in
  // both runs (bench_diag.json per_query rows)
  private def S(cold: Double, warm: Double,
                gcMs: Long = 0L, spill: Long = 0L) =
    Sample(cold, warm, gcMs, spill)

  private val contendedRun = Map( // r14 driver bench_out.json
    "txt2_lang_id" -> S(0.343, 3.408),
    "txt6_ngram_topk" -> S(0.495, 4.338),
    "txt1_token_stats" -> S(0.303, 2.321),
    "txt3_quality" -> S(0.345, 2.461),
    "txt4_fingerprint" -> S(0.262, 1.81),
    "txt7_redact" -> S(0.444, 3.03),
    "txt8_chunk_overlap" -> S(0.344, 1.724),
    "dd7_incremental_dedup" -> S(1.221, 4.904),
    "sim7_knn_engaged" -> S(1.01, 1.594),
    "q1_group_agg" -> S(0.526, 0.393),
    "io10_range_layout" -> S(10.189, 0.75),
    "g2_copurchase" -> S(5.751, 0.745))

  private val cleanRun = Map( // r14 builder run, 0c415f7
    "txt2_lang_id" -> S(0.472, 0.337),
    "txt6_ngram_topk" -> S(0.653, 0.433),
    "txt1_token_stats" -> S(0.386, 0.237),
    "txt3_quality" -> S(0.448, 0.31),
    "txt4_fingerprint" -> S(0.397, 0.215),
    "txt7_redact" -> S(0.725, 0.375),
    "txt8_chunk_overlap" -> S(0.485, 0.325),
    "dd7_incremental_dedup" -> S(1.373, 1.242),
    "sim7_knn_engaged" -> S(1.726, 1.546),
    "q1_group_agg" -> S(0.64, 0.566),
    "io10_range_layout" -> S(3.069, 0.851),
    "g2_copurchase" -> S(1.553, 0.719))

  test("the two r14 runs classify as contended / clean respectively") {
    val (vc, warmA, coldA) = verdictFull(contendedRun)
    assert(vc == "contended")
    assert(warmA.size == 9, s"anomalies: $warmA")
    assert(warmA.toSet == contendedRun.keySet -- Set(
      "q1_group_agg", "io10_range_layout", "g2_copurchase"))
    // with the r16 cold rule, the same run's io10 (10.2s cold vs
    // 0.75s warm) and g2 (5.8 vs 0.7) surface as COLD-side anomalies
    // too — that run was descheduled in both passes
    assert(coldA.toSet == Set("io10_range_layout", "g2_copurchase"),
      s"cold side: $coldA")
    val (vl, al) = verdict(cleanRun)
    assert(vl == "clean" && al.isEmpty, s"clean run flagged: $al")
  }

  test("internal causes are excluded: GC-heavy or spilling warm " +
    "regressions do not count as contention") {
    val gcHeavy = Map(
      "a" -> S(1.0, 3.0, gcMs = 2000L), // 2s of GC in a 3s warm pass
      "b" -> S(1.0, 3.0, spill = 1L << 20),
      "c" -> S(1.0, 3.0), "d" -> S(1.0, 3.0), "e" -> S(1.0, 3.0))
    val (v, a) = verdict(gcHeavy)
    assert(a == Seq("c", "d", "e"), s"got $a")
    assert(v == "contended") // the three unexplained ones still trip it
    // sub-threshold: fewer than ContendedMinAnomalies stays clean
    assert(verdict(gcHeavy - "d" - "e")._1 == "clean")
    // timer jitter on sub-quarter-second queries never counts
    assert(verdict(Map("tiny1" -> S(0.05, 0.2), "tiny2" -> S(0.08, 0.31),
      "tiny3" -> S(0.11, 0.9)))._1 == "clean")
  }

  test("envJson carries the verdict, count, names and rule") {
    val j = Json.read(Json.write(BenchEnv.envJson(contendedRun)))
    assert(j.get("contention").asText == "contended")
    assert(j.get("warm_regressions").asInt == 9)
    val names = Seq("anomalous", "anomalous_cold")
      .flatMap(k => j.get(k).elements().asScala.map(_.asText))
    assert(names.contains("txt2_lang_id") && names.contains("dd7_incremental_dedup"))
    assert(j.get("rule").isTextual)
    assert(j.get("cold_regressions").isInt)
  }

  // ---- r15 calibration: the COLD-side rule (r15 verdict #1) ----
  // Fixtures are the three committed r15 bench runs' per-query
  // (sec, gc, spill, shuffle) values extracted verbatim from their
  // bench_diag.json artifacts (git e4cb7c8 / 466d9fc /
  // results/r15_sf1) into src/test/resources/benchenv/*.csv.

  private def loadFixture(name: String): Map[String, Sample] = {
    val in = getClass.getResourceAsStream(s"/benchenv/$name")
    assert(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in)
    try {
      src.getLines().drop(1).map { line =>
        val f = line.split(",")
        f(0) -> Sample(f(1).toDouble, f(2).toDouble,
          warmGcMs = f(5).toLong, warmSpillBytes = f(6).toLong,
          coldGcMs = f(3).toLong, coldSpillBytes = f(4).toLong,
          coldShuffleBytes = f(7).toLong, warmShuffleBytes = f(8).toLong)
      }.toMap
    } finally src.close()
  }

  test("r15 driver run (e4cb7c8 artifact, 223.5s cold) classifies " +
    "CONTENDED via the cold rule: 8 dd-family cold anomalies") {
    val run = loadFixture("r15_driver_contended.csv")
    val (v, warmA, coldA) = verdictFull(run)
    assert(v == "contended", s"got $v")
    assert(warmA.isEmpty, s"warm side should be clean: $warmA")
    assert(coldA.toSet == Set(
      "dd4_simhash", "dd5_blocked_neardup", "dd5_blocked_tau09",
      "dd5_embed_neardup", "dd6_dup_clusters", "dd7_incremental_dedup",
      "dd8_canonical_corpus", "dd9_boilerplate"), s"got $coldA")
  }

  test("r15 builder clean run (466d9fc, 126.7s cold) and the clean " +
    "sf1 run classify CLEAN under both rules") {
    for (fx <- Seq("r15_builder_clean.csv", "r15_sf1_clean.csv")) {
      val (v, warmA, coldA) = verdictFull(loadFixture(fx))
      assert(v == "clean", s"$fx: $v warm=$warmA cold=$coldA")
      assert(warmA.isEmpty && coldA.isEmpty,
        s"$fx flagged warm=$warmA cold=$coldA")
    }
  }

  test("cold rule excludes internal causes and genuine compile cost") {
    // genuine codegen-compile cold overhead: high ratio, small excess
    // (the clean runs' max is dd5_embed 0.87s/0.19s = 4.6x, 0.7s)
    assert(coldAnomalies(Map("compile" -> Sample(0.9, 0.2, 0, 0,
      coldShuffleBytes = 100, warmShuffleBytes = 100))).isEmpty)
    // big excess but below the ratio (heavy first-read I/O patterns)
    assert(coldAnomalies(Map("io" -> Sample(11.0, 6.0, 0, 0,
      coldShuffleBytes = 100, warmShuffleBytes = 100))).isEmpty)
    val base = Sample(10.0, 1.0, 0, 0,
      coldShuffleBytes = 100, warmShuffleBytes = 100)
    assert(coldAnomalies(Map("x" -> base)) == Seq("x"))
    // internal causes on the COLD pass suppress the flag
    assert(coldAnomalies(Map("gc" -> base.copy(coldGcMs = 5000L))).isEmpty)
    assert(coldAnomalies(Map("sp" -> base.copy(coldSpillBytes = 1L))).isEmpty)
    // different shuffle volume = different work, not contention
    assert(coldAnomalies(Map("sh" ->
      base.copy(coldShuffleBytes = 200))).isEmpty)
    // unknown shuffle bytes (warm-only callers) assume parity
    assert(coldAnomalies(Map("unk" -> Sample(10.0, 1.0, 0, 0))) == Seq("unk"))
  }
}
