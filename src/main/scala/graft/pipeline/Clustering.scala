package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq

import graft.engine.Tables

/** Embedding-space clustering + cluster-scoped semantic dedup — the
  * SemDeDup curation verb (Abbas et al. 2023: k-means the corpus
  * embeddings, then remove semantic duplicates WITHIN each cluster,
  * so the pair search is cluster-bounded instead of corpus-quadratic).
  *
  * Everything is EXACT integer arithmetic so the DuckDB oracle
  * reproduces each assignment and each drop decision bit-for-bit:
  * embeddings quantize to q = floor(double(x)·10^6) (float→double is
  * exact, the product rounds identically under IEEE in both engines),
  * distances are integer squared-L2, centroid updates are
  * sum div count (matching truncation in Spark `div` / DuckDB `//`),
  * and the cosine threshold τ = 0.9 is the exact rational test
  * 100·dot² ≥ 81·n1·n2 (DECIMAL(38,0) cross-multiplication — dot²
  * overflows BIGINT).
  *
  * The HOT loops ride the codegen'd [[graft.functions.DotProduct]]
  * kernel over array<double> — still EXACT, because every
  * intermediate is an integer below 2^53 (|q_i| ≤ ~3·10^6, so
  * products ≤ ~10^13 and 64-element sums ≤ ~6.4·10^14 « 9·10^15):
  * IEEE doubles represent and add such integers exactly, so the
  * double-path dot/norm/distance equals the integer value
  * bit-for-bit. Assignment uses the expansion
  * d(q,c) = |q|² − 2·q·c + |c|² with |q|² computed once per row and
  * |c|² per centroid on the driver.
  *
  * k is ADAPTIVE (the dd10/shuf1 corpus-count contract):
  * k = max(8, n div 625), re-derived by the oracle from count(*), so
  * per-cluster membership stays ~bounded (≤ ~625 expected) as the
  * corpus grows and sdd1's pair volume is Σ cluster² ≈ 625·n —
  * LINEAR in n, never quadratic. At gate scale (sf0.01/sf0.1) k
  * floors at 8; the sf1 ScaleUp corpus engages k=32 for clu1
  * (20,000 base rows) and k=40 for sdd1's planted corpus (25,016
  * rows) — recorded in results/r13_sf1/engaged_summary.json — and
  * CurationSpec pins the formula itself (kFor(50000) == 80).
  * Centroids are metadata (k·dim longs). Assignment DISPATCHES on k
  * ([[withAssignment]]): up to [[LiteralKMax]] they are inlined as
  * literals into a codegen'd expression (every gate SF engages
  * k ≤ 40, so the gates ride — and hash-pin — this path); beyond it
  * the [[kernelAssign]] mapPartitions pass against a broadcast
  * centroid MATRIX (the FAISS layout) takes over, bit-identical by
  * the exact-integer argument below and spec-pinned so. The literal
  * expression stops PLANNING past k ≈ 10³ (source grows as k·dim
  * literals — measured in results/r15_kernel/kernel_scale.json);
  * the kernel plans at any k, so a 100 TB corpus (k = n/625 in the
  * millions) is bounded by compute, not plan size.
  *
  * clu1: k-means assignment (2 Lloyd iterations, deterministic
  * init = the k corpus rows with the smallest (md5(vec_id), vec_id)).
  * Scale shape: each iteration is ONE map-side assignment pass
  * against the broadcast (literal-inlined) centroids plus ONE
  * bounded hash-agg (k·dim output rows) to refit; the corpus is
  * never self-joined and never shuffled by row. The k·dim collect
  * per iteration is the same bounded-metadata collect as sim3's IVF
  * coarse quantizer.
  *
  * sdd1: SemDeDup over the clu1 clusters on a corpus with planted
  * exact duplicates (~25% of rows copied to vec_id+100000, the
  * md5-prefix rule both engines re-derive — dd5_blocked_tau09's
  * two-sided-gate pattern): a row is dropped iff some SMALLER-id
  * cluster-mate sits within cosine τ. DELIBERATE SIMPLIFICATION of
  * Abbas et al.'s greedy keep-against-kept sweep: on a similarity
  * chain a~b, b~c, a≁c the greedy rule keeps {a, c} while this rule
  * drops both b and c (the smaller-id-mate test is one join, the
  * greedy sweep is a sequential per-cluster scan). All three
  * formulations (Spark, DuckDB oracle, plain-Scala spec) implement
  * the SAME rule, and the exact-duplicate fixture can't tell them
  * apart (copies are mutually within τ of their source, so both
  * rules drop exactly the copies). The pair join is scoped to the
  * cluster; the gate pins that every planted copy is dropped
  * (recall) and no original is (precision).
  */
object Clustering {

  /** Adaptive-k divisor: expected per-cluster membership. */
  private val RowsPerCluster = 625L
  private val MinK = 8L
  private[graft] def kFor(n: Long): Long = math.max(MinK, n / RowsPerCluster)

  private val LloydIters = 2
  /** Quantization scale for embedding floats. */
  private val QScale = 1000000L

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")

  /** Quantized integer feature vector — exact in both engines. */
  private val qvCol: Column =
    expr(s"transform(embedding, x -> cast(floor(cast(x as double) * $QScale) as bigint))")

  /** The ~25% planted-duplicate corpus (sdd1): copies carry
    * vec_id+100000 so they always lose the keep-smallest rule. The
    * offset (like er1's +1000000 / er2's +2000000 on custkey) must
    * stay above the real id range or planted ids collide with real
    * ones and silently corrupt the two-sided gates —
    * TestdataCanarySpec pins max(vec_id) / max(c_custkey) under the
    * offsets at every gate SF. */
  private def plantedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    base.union(base
      .filter(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  }

  /** One map-side assignment pass against literal-inlined centroids:
    * argmin_c (|q|² − 2·q·c + |c|²), ties to the smallest cluster id,
    * via array_min over (dist, cluster) structs (struct ordering is
    * lexicographic — identical to the oracle's ORDER BY dist, c).
    * The per-centroid term is ONE codegen'd graft_dot; all values are
    * integers < 2^53, so the double path is exact. */
  private def assignExpr(centroids: Seq[(Long, Array[Long])]): Column = {
    val structs = centroids.map { case (c, cv) =>
      val lits = cv.map(v => s"${v}D").mkString(", ")
      val cn2 = cv.map(v => v * v).sum // |c|², exact long, < 2^53
      s"""named_struct(
         |  'd', qn - 2D * graft_dot(qvd, array($lits)) + ${cn2}D,
         |  'c', ${c}L)""".stripMargin
    }
    expr(s"array_min(array(${structs.mkString(", ")}))")
  }

  /** Above this k the literal-inlined [[assignExpr]] is replaced by
    * the broadcast-matrix kernel: the inlined expression's SOURCE
    * grows as k·dim literals (plan/codegen blow-up past k ≈ 10³ —
    * measured in results/r15_kernel/kernel_scale.json) and its cost
    * model is the same O(k·dim) per row either way. Every gate SF
    * engages k ≤ 40 (sf1: clu1 k=32, sdd1 k=40), so the gates stay on
    * the literal path and their hashes are untouched; the kernel is
    * the 100 TB path (k = n/625 grows linearly in corpus size). */
  private[graft] val LiteralKMax = 64

  /** Assignment dispatcher: appends `cluster` (long) and `distd`
    * (double, the exact integer-valued distance) to `df`, which must
    * carry `qvd` (array<double>, quantized) and `qn` (double, |q|²).
    * k ≤ [[LiteralKMax]] rides the codegen'd literal expression;
    * larger k takes [[kernelAssign]]. The two are BIT-IDENTICAL
    * (spec-pinned): every intermediate is an integer below 2^53, so
    * the double arithmetic is exact in both, and the kernel replays
    * the same expansion d = |q|² − 2·q·c + |c|² with the same
    * smallest-(d, c) tie rule. */
  private[graft] def withAssignment(df: DataFrame,
      centroids: Seq[(Long, Array[Long])],
      forceKernel: Boolean = false): DataFrame =
    if (forceKernel || centroids.size > LiteralKMax) kernelAssign(df, centroids)
    else {
      val fin = assignExpr(centroids)
      df.withColumn("cluster", fin.getField("c"))
        .withColumn("distd", fin.getField("d"))
    }

  /** Below this k the kernel skips the two-level bound machinery —
    * √k groups would be a handful and the bound pass itself costs
    * O(√k·dim) per row. */
  private[graft] val PruneKMin = 128

  /** Two-level pruning metadata for [[kernelAssign]] (the r14
    * verdict's "O(n·k) asymptotics" note, closed EXACTLY rather than
    * by the approximate coarse/fine trade SCALE.md declined):
    * centroids are coarse-clustered into g = ⌈√k⌉ groups on the
    * driver (2 Lloyd rounds over k×dim doubles — O(k^1.5·dim), fine
    * to k ~ 10⁵; past that fit the reps on a centroid sample), and
    * each group carries its rep vector, |rep|², and a CONSERVATIVE
    * radius R ≥ max_{c∈G} ‖c − rep‖. At query time the metric triangle
    * inequality gives d(q,c) ≥ d(q,rep) − R for every member, so a
    * group whose (safe-margined) squared bound exceeds the best
    * distance so far is skipped WHOLESALE — no member is touched, yet
    * the evaluated-candidate arithmetic (and hence the output) is
    * bit-identical to the full scan, because skipping only discards
    * candidates that provably cannot win or tie. Margins: every
    * float-sloppy quantity is rounded AGAINST pruning (radius up,
    * bound down by 1e-9 relative + 1 absolute — ~10⁵× the worst-case
    * accumulated IEEE error of these ≤70-op chains on <2^53 integer
    * values), so correctness never rests on float niceness.
    * Layout: CSR member lists (starts, memberIdx) + flat reps. */
  private def buildGroups(flat: Array[Double], k: Int, dim: Int)
      : (Array[Int], Array[Int], Array[Double], Array[Double], Array[Double]) = {
    val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    var reps = Array.tabulate(g) { gi =>
      val ci = (gi.toLong * k / g).toInt // evenly strided seeds
      java.util.Arrays.copyOfRange(flat, ci * dim, ci * dim + dim)
    }
    val assignment = new Array[Int](k)
    var iter = 0
    while (iter < 2) {
      var ci = 0
      while (ci < k) {
        var best = Double.MaxValue; var bg = 0; var gi = 0
        while (gi < g) {
          val r = reps(gi); val off = ci * dim
          var d = 0.0; var j = 0
          while (j < dim) { val t = flat(off + j) - r(j); d += t * t; j += 1 }
          if (d < best) { best = d; bg = gi }
          gi += 1
        }
        assignment(ci) = bg
        ci += 1
      }
      val sums = Array.fill(g)(new Array[Double](dim))
      val counts = new Array[Int](g)
      ci = 0
      while (ci < k) {
        val gi = assignment(ci); counts(gi) += 1
        var j = 0
        while (j < dim) { sums(gi)(j) += flat(ci * dim + j); j += 1 }
        ci += 1
      }
      reps = Array.tabulate(g) { gi =>
        if (counts(gi) == 0) reps(gi) // empty group keeps its seed rep
        else { val s = sums(gi); var j = 0
          while (j < dim) { s(j) /= counts(gi); j += 1 }; s }
      }
      iter += 1
    }
    // CSR member layout + conservative radii
    val starts = new Array[Int](g + 1)
    var ci = 0
    while (ci < k) { starts(assignment(ci) + 1) += 1; ci += 1 }
    var gi = 1
    while (gi <= g) { starts(gi) += starts(gi - 1); gi += 1 }
    val fill = starts.clone()
    val memberIdx = new Array[Int](k)
    ci = 0
    while (ci < k) {
      val gg = assignment(ci); memberIdx(fill(gg)) = ci; fill(gg) += 1
      ci += 1
    }
    val repsFlat = new Array[Double](g * dim)
    val rn2 = new Array[Double](g)
    val radius = new Array[Double](g)
    gi = 0
    while (gi < g) {
      val r = reps(gi)
      var n2 = 0.0; var j = 0
      while (j < dim) { repsFlat(gi * dim + j) = r(j); n2 += r(j) * r(j); j += 1 }
      rn2(gi) = n2
      var mx = 0.0
      var mi = starts(gi)
      while (mi < starts(gi + 1)) {
        val off = memberIdx(mi) * dim
        var d = 0.0; j = 0
        while (j < dim) { val t = flat(off + j) - r(j); d += t * t; j += 1 }
        if (d > mx) mx = d
        mi += 1
      }
      // radius rounded UP: over-estimating R only weakens pruning
      radius(gi) = math.sqrt(mx) * (1 + 1e-9) + 1e-9
      gi += 1
    }
    (starts, memberIdx, repsFlat, rn2, radius)
  }

  /** The declared large-k escape hatch (r14 verdict #2), now code:
    * one mapPartitions pass against a BROADCAST centroid matrix in
    * the FAISS layout — ids / flat row-major k×dim doubles / |c|²
    * per centroid — so the plan carries a reference, not k·dim
    * literals, and each executor receives the matrix once. The inner
    * loop streams the matrix row-blocks while the query vector
    * (dim·8 bytes) stays register/L1-resident — the degenerate
    * blocked-gemm shape for a single query row; the arithmetic and
    * the (d, c) tie rule are exactly [[assignExpr]]'s. This is a
    * deliberate non-codegen kernel (same contract as Multimodal's
    * codecs and Bpe's encoder): the per-row work is O(k·dim) FMAs
    * that whole-stage codegen could not improve, and the expression
    * path stops PLANNING at this k anyway.
    *
    * At k ≥ [[PruneKMin]] (auto, or forced either way via `prune` for
    * specs/measurement) the scan adds EXACT two-level pruning
    * ([[buildGroups]]): the row's distance to each of ~√k group reps
    * lower-bounds every member's distance via the triangle
    * inequality, the most-promising group is scanned first to make
    * the running best tight, and any group whose safe-margined bound
    * exceeds it is skipped without touching a member. On an assigned
    * (post-Lloyd) corpus — rows near their centroid — this touches
    * O(√k) of the k centroids per row; on an adversarially uniform
    * corpus it degrades to the full scan plus an O(√k·dim) bound
    * pass, never worse asymptotically. Output is bit-identical either
    * way (CurationSpec pins pruned ≡ unpruned at an engaged k). */
  private[graft] def kernelAssign(df: DataFrame,
      centroids: Seq[(Long, Array[Long])],
      prune: Option[Boolean] = None,
      carry: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val qvdIdx = df.schema.fieldIndex("qvd")
    val qnIdx = df.schema.fieldIndex("qn")
    // carry mode ([[chunkedAssign]]): `df` already ends in (cluster,
    // distd) holding the best over PREVIOUS centroid chunks; this
    // pass continues the same scan (same init, same tie rule, chunks
    // in ascending id order), so the chunk chain is bit-equal to one
    // monolithic scan of the concatenated centroid list
    val carryIdx =
      if (carry) Some((df.schema.fieldIndex("cluster"),
        df.schema.fieldIndex("distd")))
      else None
    carryIdx.foreach { case (ci, di) =>
      require(ci == df.schema.length - 2 && di == df.schema.length - 1,
        "carry mode expects (cluster, distd) as the trailing fields")
    }
    val k = centroids.size
    require(k > 0, "kernelAssign: empty centroid set")
    val dim = centroids.head._2.length
    val ids = centroids.map(_._1).toArray
    val flat = new Array[Double](k * dim)
    val cn2 = new Array[Double](k)
    centroids.zipWithIndex.foreach { case ((_, cv), ci) =>
      var i = 0
      var n2 = 0L
      while (i < dim) {
        flat(ci * dim + i) = cv(i).toDouble
        n2 += cv(i) * cv(i) // exact long, < 2^53
        i += 1
      }
      cn2(ci) = n2.toDouble
    }
    val groups =
      if (prune.getOrElse(k >= PruneKMin)) Some(buildGroups(flat, k, dim))
      else None
    val bc = spark.sparkContext.broadcast((ids, flat, cn2, groups))
    val outSchema =
      if (carry) df.schema
      else df.schema
        .add("cluster", org.apache.spark.sql.types.LongType, nullable = false)
        .add("distd", org.apache.spark.sql.types.DoubleType, nullable = false)
    val rdd = df.rdd.mapPartitions { it =>
      val (cids, m, n2s, grp) = bc.value
      val kk = cids.length
      val q = new Array[Double](dim)
      // per-partition scratch for the bound pass (reused across rows)
      val nG = grp.map(_._5.length).getOrElse(0)
      val lb2 = new Array[Double](nG)
      it.map { row =>
        val qSeq = row.getSeq[Double](qvdIdx)
        var i = 0
        while (i < dim) { q(i) = qSeq(i); i += 1 }
        val qn = row.getDouble(qnIdx)
        var bestD = carryIdx.map(x => row.getDouble(x._2))
          .getOrElse(Double.PositiveInfinity)
        var bestC = carryIdx.map(x => row.getLong(x._1))
          .getOrElse(Long.MaxValue)
        // exact member scan shared by both paths — assignExpr's
        // expansion verbatim, so evaluated candidates are bit-equal
        def scanRange(startsArr: Array[Int], members: Array[Int],
            gi: Int): Unit = {
          var mi = startsArr(gi)
          while (mi < startsArr(gi + 1)) {
            val ci = members(mi)
            var dot = 0.0
            var j = 0
            val off = ci * dim
            while (j < dim) { dot += q(j) * m(off + j); j += 1 }
            val d = qn - 2.0 * dot + n2s(ci)
            val c = cids(ci)
            if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
            mi += 1
          }
        }
        grp match {
          case None =>
            var ci = 0
            while (ci < kk) {
              var dot = 0.0
              var j = 0
              val off = ci * dim
              while (j < dim) { dot += q(j) * m(off + j); j += 1 }
              val d = qn - 2.0 * dot + n2s(ci) // assignExpr's exact expansion
              val c = cids(ci)
              if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
              ci += 1
            }
          case Some((starts, members, reps, rn2, radius)) =>
            // bound pass: squared lower bound per group, margins
            // rounded AGAINST pruning (see buildGroups)
            var gi = 0
            var minG = 0
            var minLb = Double.PositiveInfinity
            while (gi < nG) {
              var dot = 0.0
              var j = 0
              val off = gi * dim
              while (j < dim) { dot += q(j) * reps(off + j); j += 1 }
              val d2 = math.max(0.0, qn - 2.0 * dot + rn2(gi))
              val dqr = math.sqrt(d2) * (1 - 1e-9)
              val lb = math.max(0.0, dqr - radius(gi))
              val v = lb * lb * (1 - 1e-9) - 1.0
              lb2(gi) = v
              if (v < minLb) { minLb = v; minG = gi }
              gi += 1
            }
            // most-promising group first: a tight early best makes
            // the remaining bounds bite (Hamerly's ordering insight,
            // without a per-row sort)
            scanRange(starts, members, minG)
            gi = 0
            while (gi < nG) {
              // strict >: an equal bound could still tie and win on
              // the smaller cluster id, so it must be scanned
              if (gi != minG && lb2(gi) <= bestD)
                scanRange(starts, members, gi)
              gi += 1
            }
        }
        if (carry)
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq.dropRight(2) :+ bestC :+ bestD)
        else
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bestC :+ bestD)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** k-means over a (vec_id, embedding) corpus: quantize, seed from
    * the md5-smallest rows, run [[LloydIters]] assignment+refit
    * rounds, return (vec_id, qv, qvd, cluster, dist2).
    *
    * Dispatches on k (r15 verdict #2, the refit residency side of the
    * r15 kernel work): up to [[CentroidChunk]] the fit keeps the
    * centroid set driver-resident between rounds (bounded metadata —
    * every gate SF engages k ≤ 40, so the gates ride — and hash-pin —
    * this path unchanged); past it [[kmeansFitChunked]] takes over,
    * where centroids live in a DataFrame, the refit stays a
    * distributed aggregate, and the driver only ever holds ONE
    * [[CentroidChunk]]-bounded chunk transiently while building each
    * chunk broadcast — so driver state is O(chunk·dim), not
    * O(k·dim) with k = n/625 ∝ n. */
  private[graft] def kmeans(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val k = kFor(corpus.count())
    if (k <= CentroidChunk) {
      val (q, centroids) = kmeansModel(spark, corpus, Some(k))
      // q stays persisted for the caller's materialization of this
      // final pass; Verify/Bench clear caches between queries
      withAssignment(q, centroids)
        .select(col("vec_id"), col("qv"), col("qvd"), col("cluster"),
          col("distd").cast("long").as("dist2"))
    } else {
      val (q, centroidDf) = kmeansFitChunked(spark, corpus, Some(k))
      chunkedAssign(q, centroidDf, k)
        .select(col("vec_id"), col("qv"), col("qvd"), col("cluster"),
          col("distd").cast("long").as("dist2"))
    }
  }

  /** The quantized corpus frame every fit variant scans: (vec_id, qv
    * integer vector, qvd double view, qn = |q|²), persisted — scanned
    * once per Lloyd round + once for the output. */
  private def quantized(corpus: DataFrame): DataFrame = corpus
    .select(col("vec_id"), qvCol.as("qv"))
    .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
    .withColumn("qn", expr("graft_dot(qvd, qvd)")) // |q|², exact
    .persist()

  /** The fitted model behind [[kmeans]]'s small-k arm: the persisted
    * quantized corpus frame (vec_id, qv, qvd, qn) and the FINAL
    * centroid set — exposed so sdd2's incremental probe can assign
    * NEW rows under frozen centroids without refitting (the dd7
    * persisted-index discipline). Driver-resident centroids are the
    * CONTRACT here (k ≤ [[CentroidChunk]] bounded metadata); the
    * unbounded-k form is [[kmeansFitChunked]]. */
  private[graft] def kmeansModel(spark: SparkSession, corpus: DataFrame,
      kOpt: Option[Long] = None): (DataFrame, Seq[(Long, Array[Long])]) = {
    val q = quantized(corpus)
    val k = kOpt.getOrElse(kFor(corpus.count()))
    // deterministic seeds: k rows, rank = position in (md5, vec_id)
    // order; k·dim longs — metadata-sized, same collect contract as
    // sim3's IVF quantizer fit
    val seedIds = corpus
      .select(col("vec_id"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k.toInt)
      .collect().map(_.getLong(0))
    val seedRank = seedIds.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    var centroids: Seq[(Long, Array[Long])] = q
      .filter(col("vec_id").isin(ArraySeq.unsafeWrapArray(seedIds): _*))
      .select(col("vec_id"), col("qv"))
      .collect()
      .map(r => (seedRank(r.getLong(0)), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq
    for (_ <- 1 until LloydIters) {
      val assigned = withAssignment(q, centroids)
        .select(col("vec_id"), col("qv"), col("cluster"))
      // refit: ONE bounded hash-agg — k·dim output rows; integer
      // sum div count, matching the oracle's // truncation
      centroids = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (c, rows) =>
          val byPos = new Array[Long](rows.length)
          rows.foreach(r => byPos(r.getInt(1)) = r.getLong(2))
          (c, byPos)
        }.toSeq.sortBy(_._1)
    }
    (q, centroids)
  }

  /** Centroid-count bound for DRIVER residency: below it the fit
    * keeps the centroid Seq on the driver (today's gate path, k·dim ≤
    * 64k·64 longs ≈ 33 MB); above it centroids stay distributed and
    * the driver holds at most one chunk transiently. Also the chunk
    * height of [[chunkedAssign]]. */
  private[graft] val CentroidChunk = 65536L

  /** Exact assignment against a DISTRIBUTED centroid frame (cluster,
    * qv), without ever materializing all k centroids on the driver:
    * centroids are consumed in ascending-id chunks of `chunk` rows;
    * each chunk is transiently collected (bounded), broadcast, and
    * scanned by a carry-mode [[kernelAssign]] pass that continues the
    * running (bestD, bestC) from the previous chunks. The chunk chain
    * is a pipeline of NARROW mapPartitions — one pass over the corpus
    * executes all chunk scans back to back — and because chunks
    * ascend in id order with the same init (+∞, Long.MaxValue) and
    * the same (d, c) tie rule, the result is BIT-IDENTICAL to one
    * monolithic [[kernelAssign]] over the concatenated list
    * (ClusteringChunkedSpec pins this). Per-chunk two-level pruning
    * still applies, and the carried best makes later chunks prune
    * harder. */
  private[graft] def chunkedAssign(df: DataFrame, centroidDf: DataFrame,
      k: Long, chunk: Long = CentroidChunk): DataFrame = {
    var acc = df
      .withColumn("cluster", lit(Long.MaxValue))
      .withColumn("distd", lit(Double.PositiveInfinity))
    val nChunks = ((k + chunk - 1) / chunk).toInt
    for (ci <- 0 until nChunks) {
      val lo = 1L + ci * chunk
      val hi = lo + chunk
      // transient driver state: ≤ chunk centroid rows, released to GC
      // once the broadcast is built inside kernelAssign
      val cs = centroidDf
        .filter(col("cluster") >= lo && col("cluster") < hi)
        .select(col("cluster"), col("qv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1).toSeq
      if (cs.nonEmpty) acc = kernelAssign(acc, cs, carry = true)
    }
    acc
  }

  /** The unbounded-k fit (r15 verdict #2): same quantization, seeds,
    * Lloyd rounds, and integer refit arithmetic as [[kmeansModel]],
    * but no step holds O(k·dim) on the driver —
    *  - seeds rank via a distributed sort + zipWithIndex (no k-element
    *    id collect, no k-literal isin filter);
    *  - assignment is [[chunkedAssign]] (chunk-bounded transients);
    *  - the refit is the same sum-div-count hash-agg kept AS a
    *    DataFrame, re-grouped to (cluster, qv array) rows.
    * Returns (persisted q frame, centroid frame (cluster, qv)) —
    * per-round centroid frames are persisted and the prior round's is
    * released. Bit-equal to the collect-based fit at any k where both
    * run (spec-pinned at k ≈ 5 chunks). */
  private[graft] def kmeansFitChunked(spark: SparkSession, corpus: DataFrame,
      kOpt: Option[Long] = None, chunk: Long = CentroidChunk)
      : (DataFrame, DataFrame) = {
    val q = quantized(corpus)
    val k = kOpt.getOrElse(kFor(corpus.count()))
    // rank = row_number in (md5, vec_id) order, distributed:
    // zipWithIndex adds one partition-count pass, never a driver
    // collect; ids beyond k are dropped executor-side
    val seedRdd = corpus
      .select(col("vec_id"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .sort(col("h"), col("vec_id"))
      .select(col("vec_id"))
      .rdd.zipWithIndex()
      .filter(_._2 < k)
      .map { case (r, i) =>
        org.apache.spark.sql.Row(r.getLong(0), i + 1L)
      }
    val seedDf = spark.createDataFrame(seedRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var centroidDf = q.join(seedDf, "vec_id")
      .select(col("cluster"), col("qv"))
      .persist()
    centroidDf.count() // materialize before the seed sort is dropped
    for (_ <- 1 until LloydIters) {
      val assigned = chunkedAssign(q, centroidDf, k, chunk)
        .select(col("qv"), col("cluster"))
      // the SAME integer refit as kmeansModel, kept distributed:
      // (cluster, pos) sum-div-count, then re-grouped to one array
      // row per cluster (pos-sorted, so the array layout matches the
      // collect-based byPos fill)
      val refit = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cv"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv)))," +
          " s -> s.cv)").as("qv"))
        .persist()
      refit.count() // materialize before releasing the prior round
      centroidDf.unpersist()
      centroidDf = refit
    }
    (q, centroidDf)
  }

  /** sdd2's frozen-index probe — the incremental twin of sdd1's batch
    * dedup (shared verbatim by the gate and [[graft.streaming.SemDedupStream]]
    * so stream and batch can never diverge): assign each BATCH row to
    * its nearest frozen centroid, then dup-test it against the
    * persisted same-cluster members plus its smaller-id batch mates —
    * the same τ=0.9 exact-decimal cosine test and keep-smallest rule
    * as sdd1. Per-probe cost is batch-sized: the members side is an
    * equi-join on cluster whose per-key membership the adaptive k
    * bounds at ~[[RowsPerCluster]], so join volume is ~|batch|·625 —
    * never a corpus re-shuffle, and the corpus k-means is NOT re-run
    * (at 100 TB the members frame is the persisted index artifact;
    * the gate rebuilds it inline only because gates are stateless).
    * `members` must be (vec_id, cluster, qvd, nrm). */
  private[graft] def probeBatchSemantic(batch: DataFrame,
      centroids: Seq[(Long, Array[Long])], members: DataFrame): DataFrame =
    probeBatchSemanticTracked(batch, centroids, members)._1

  /** [[probeBatchSemantic]] plus the trigger-scoped persisted frame
    * the streaming caller must unpersist once the verdicts are
    * consumed (the IngestDedupStream per-trigger block discipline —
    * the gate path relies on Verify/Bench clearing caches instead). */
  private[graft] def probeBatchSemanticTracked(batch: DataFrame,
      centroids: Seq[(Long, Array[Long])], members: DataFrame)
      : (DataFrame, DataFrame) = {
    val ba = withAssignment(batch
        .select(col("vec_id"), qvCol.as("qv"))
        .withColumn("qvd", expr("transform(qv, x -> cast(x as double))"))
        .withColumn("qn", expr("graft_dot(qvd, qvd)")), centroids)
      .select(col("vec_id"), col("cluster"), col("qvd"),
        col("qn").cast("bigint").as("nrm"))
      .persist() // three references: mates union, pair probe, output
    val mates = members.select(col("vec_id").as("id1"),
        col("cluster").as("cl1"), col("qvd").as("v1"), col("nrm").as("n1"))
      .union(ba.select(col("vec_id"), col("cluster"), col("qvd"), col("nrm")))
    val dups = ba.join(mates,
        col("cl1") === col("cluster") && col("id1") < col("vec_id"))
      .select(col("vec_id"),
        expr("cast(graft_dot(v1, qvd) as bigint)").as("dot"),
        col("n1"), col("nrm").as("n2"))
      .filter(col("dot") > 0 &&
        lit(100).cast("decimal(38,0)") * col("dot").cast("decimal(38,0)") *
          col("dot").cast("decimal(38,0)") >=
        lit(81).cast("decimal(38,0)") * col("n1").cast("decimal(38,0)") *
          col("n2").cast("decimal(38,0)"))
      .select(col("vec_id")).distinct()
    val verdicts = ba.join(dups.withColumnRenamed("vec_id", "dup_id"),
        col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        when(col("dup_id").isNull, 0L).otherwise(1L).as("is_dup"))
    (verdicts, ba)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clu1_kmeans" -> ((spark, sfDir) =>
      kmeans(spark, embeddings(spark, sfDir))
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("dist2").cast("long").as("dist2"))),
    "sdd1_semantic_dedup" -> ((spark, sfDir) => {
      val feat = kmeans(spark, plantedCorpus(spark, sfDir))
        .select(col("vec_id"), col("cluster"), col("qvd"),
          expr("cast(graft_dot(qvd, qvd) as bigint)").as("nrm"))
        .persist() // both sides of the cluster-scoped pair join + output
      val f1 = feat.select(col("vec_id").as("id1"), col("cluster").as("cl1"),
        col("qvd").as("v1"), col("nrm").as("n1"))
      val f2 = feat.select(col("vec_id").as("id2"), col("cluster").as("cl2"),
        col("qvd").as("v2"), col("nrm").as("n2"))
      // cluster-scoped pairs only — adaptive k bounds membership, so
      // pair volume is ~RowsPerCluster·n (linear); the keep-smallest
      // rule needs just "has any smaller-id mate in τ"
      val dups = f1.join(f2, col("cl1") === col("cl2") && col("id1") < col("id2"))
        .select(col("id2").as("vec_id"),
          expr("cast(graft_dot(v1, v2) as bigint)").as("dot"),
          col("n1"), col("n2"))
        .filter(col("dot") > 0 &&
          lit(100).cast("decimal(38,0)") * col("dot").cast("decimal(38,0)") *
            col("dot").cast("decimal(38,0)") >=
          lit(81).cast("decimal(38,0)") * col("n1").cast("decimal(38,0)") *
            col("n2").cast("decimal(38,0)"))
        .select(col("vec_id")).distinct()
      feat.join(dups.withColumnRenamed("vec_id", "dup_id"),
          col("vec_id") === col("dup_id"), "left")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          when(col("dup_id").isNull, 0L).otherwise(1L).as("is_dup"))
    }),
    // sdd2: INCREMENTAL semantic dedup — the daily-ingest shape sdd1
    // lacks (r13 verdict #4). The index (k-means over the base
    // corpus: frozen centroids + assigned members) is built once;
    // the arriving batch (the planted copies, as the deterministic
    // ingest fixture) is probed against it via
    // [[probeBatchSemantic]] — batch-sized joins, no corpus
    // re-shuffle, no refit. Verdicts are per-batch-row. The copies
    // carry their source's embedding, so each assigns to its
    // source's cluster under ANY centroid set and is dropped by the
    // keep-smallest rule — the two-sided planted gate, now under
    // frozen-index semantics.
    "sdd2_incremental" -> ((spark, sfDir) => {
      val (centroids, members) = semanticIndex(spark, embeddings(spark, sfDir))
      probeBatchSemantic(ingestBatch(spark, sfDir), centroids, members)
    })
  )

  /** The persisted-index halves sdd2/SemDedupStream probe against:
    * frozen final centroids + the member table (vec_id, cluster, qvd,
    * nrm) assigned under them. */
  private[graft] def semanticIndex(spark: SparkSession, corpus: DataFrame)
      : (Seq[(Long, Array[Long])], DataFrame) = {
    val (q, centroids) = kmeansModel(spark, corpus)
    (centroids, withAssignment(q, centroids)
      .select(col("vec_id"), col("cluster"), col("qvd"),
        col("qn").cast("bigint").as("nrm")))
  }

  /** sdd2's deterministic ingest fixture — the same planted copies
    * sdd1 unions into its corpus, here arriving as the new batch. */
  private[graft] def ingestBatch(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .filter(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))

  /** Shared oracle scaffolding: quantize → adaptive k → seed →
    * assign → refit → assign, as unrolled CTEs (DuckDB re-derives
    * the identical integer arithmetic; `//` truncates like Spark's
    * `div`). */
  private def kmeansCtes(corpusSql: String): String =
    s"""corpus AS ($corpusSql),
       |kp AS (SELECT GREATEST($MinK, count(*) // $RowsPerCluster) AS k
       |       FROM corpus),
       |q AS (
       |  SELECT vec_id, u.i AS pos,
       |         CAST(floor(CAST(u.e AS DOUBLE) * $QScale) AS BIGINT) AS qv
       |  FROM corpus t, LATERAL (SELECT unnest(t.embedding) AS e,
       |       generate_subscripts(t.embedding, 1) AS i) u),
       |seed AS (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS c
       |  FROM corpus),
       |c0 AS (
       |  SELECT s.c AS cluster, q.pos, q.qv AS cv
       |  FROM seed s JOIN q ON s.vec_id = q.vec_id
       |  WHERE s.c <= (SELECT k FROM kp)),
       |a1 AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT q.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY SUM((q.qv - c.cv) * (q.qv - c.cv)), c.cluster) AS rn
       |    FROM q JOIN c0 c ON q.pos = c.pos
       |    GROUP BY q.vec_id, c.cluster) WHERE rn = 1),
       |c1 AS (
       |  SELECT a.cluster, q.pos, CAST(SUM(q.qv) // COUNT(*) AS BIGINT) AS cv
       |  FROM a1 a JOIN q ON a.vec_id = q.vec_id GROUP BY a.cluster, q.pos),
       |a2 AS (
       |  SELECT vec_id, cluster, dist2 FROM (
       |    SELECT q.vec_id, c.cluster,
       |      SUM((q.qv - c.cv) * (q.qv - c.cv)) AS dist2,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY SUM((q.qv - c.cv) * (q.qv - c.cv)), c.cluster) AS rn
       |    FROM q JOIN c1 c ON q.pos = c.pos
       |    GROUP BY q.vec_id, c.cluster) WHERE rn = 1)""".stripMargin

  private val PlantedCorpusSql =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')""".stripMargin

  def oracle: Map[String, String] = Map(
    "clu1_kmeans" ->
      s"""WITH ${kmeansCtes("SELECT vec_id, embedding FROM embeddings")}
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         |  CAST(dist2 AS BIGINT) AS dist2 FROM a2""".stripMargin,
    "sdd1_semantic_dedup" ->
      s"""WITH ${kmeansCtes(PlantedCorpusSql)},
         |feat AS (
         |  SELECT a.vec_id, a.cluster,
         |    LIST(q.qv ORDER BY q.pos) AS v,
         |    SUM(q.qv * q.qv) AS nrm
         |  FROM a2 a JOIN q ON a.vec_id = q.vec_id
         |  GROUP BY a.vec_id, a.cluster),
         |pairs AS (
         |  SELECT b.vec_id,
         |    (SELECT SUM(x.a * x.b)
         |     FROM (SELECT unnest(s.v) AS a, unnest(b.v) AS b) x) AS dot,
         |    s.nrm AS n1, b.nrm AS n2
         |  FROM feat s JOIN feat b
         |    ON s.cluster = b.cluster AND s.vec_id < b.vec_id),
         |dups AS (
         |  SELECT DISTINCT vec_id FROM pairs
         |  WHERE dot > 0
         |    AND 100 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
         |     >= 81 * CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0)))
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
         |FROM feat f LEFT JOIN dups d ON f.vec_id = d.vec_id""".stripMargin,
    // sdd2: base-corpus k-means (identical CTEs to clu1 — a2 assigns
    // members against the final centroids c1), then the batch (the
    // +100000 planted copies) is assigned under the SAME frozen c1
    // and dup-tested against same-cluster members ∪ smaller-id batch
    // mates — the oracle re-derivation of probeBatchSemantic.
    "sdd2_incremental" ->
      s"""WITH ${kmeansCtes("SELECT vec_id, embedding FROM embeddings")},
         |feat AS (
         |  SELECT a.vec_id, a.cluster,
         |    LIST(q.qv ORDER BY q.pos) AS v,
         |    SUM(q.qv * q.qv) AS nrm
         |  FROM a2 a JOIN q ON a.vec_id = q.vec_id
         |  GROUP BY a.vec_id, a.cluster),
         |batch AS (
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
         |bq AS (
         |  SELECT vec_id, u.i AS pos,
         |         CAST(floor(CAST(u.e AS DOUBLE) * $QScale) AS BIGINT) AS qv
         |  FROM batch t, LATERAL (SELECT unnest(t.embedding) AS e,
         |       generate_subscripts(t.embedding, 1) AS i) u),
         |ba AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT b.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY SUM((b.qv - c.cv) * (b.qv - c.cv)), c.cluster) AS rn
         |    FROM bq b JOIN c1 c ON b.pos = c.pos
         |    GROUP BY b.vec_id, c.cluster) WHERE rn = 1),
         |bfeat AS (
         |  SELECT a.vec_id, a.cluster,
         |    LIST(b.qv ORDER BY b.pos) AS v,
         |    SUM(b.qv * b.qv) AS nrm
         |  FROM ba a JOIN bq b ON a.vec_id = b.vec_id
         |  GROUP BY a.vec_id, a.cluster),
         |mates AS (
         |  SELECT vec_id, cluster, v, nrm FROM feat
         |  UNION ALL SELECT vec_id, cluster, v, nrm FROM bfeat),
         |pairs AS (
         |  SELECT b.vec_id,
         |    (SELECT SUM(x.a * x.b)
         |     FROM (SELECT unnest(s.v) AS a, unnest(b.v) AS b) x) AS dot,
         |    s.nrm AS n1, b.nrm AS n2
         |  FROM mates s JOIN bfeat b
         |    ON s.cluster = b.cluster AND s.vec_id < b.vec_id),
         |dups AS (
         |  SELECT DISTINCT vec_id FROM pairs
         |  WHERE dot > 0
         |    AND 100 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
         |     >= 81 * CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0)))
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
         |FROM bfeat f LEFT JOIN dups d ON f.vec_id = d.vec_id""".stripMargin
  )
}
