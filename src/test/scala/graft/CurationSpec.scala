package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 curation/analytics operators (pr1 pagerank, clu1 kmeans,
  * sdd1 semantic dedup, er1 entity resolution, srch1 bm25, evt9
  * anomaly): each gets a THIRD independent formulation — a plain-Scala
  * driver-side recompute at sf0.001 — on top of the Spark plan and the
  * DuckDB oracle, plus plan-shape pins for the scale contracts.
  */
class CurationSpec extends AnyFunSuite {
  import SparkTestSession._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---------------------------------------------------------------
  // cross-engine arithmetic contracts the integer-exact gates ride on

  test("spark div truncates toward zero (matches duckdb // and scala /)") {
    val r = spark.sql("SELECT -7 div 2, 7 div 2, -7 div -2, CAST(floor(CAST(CAST(0.0542495064437389 AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)")
      .collect().head
    assert(r.getLong(0) == -3L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(0) == -7L / 2L) // scala recomputes use the same semantics
    assert(r.getLong(3) == math.floor(0.0542495064437389f.toDouble * 1e6).toLong)
  }

  // ---------------------------------------------------------------
  // pr1 pagerank

  test("pr1: ranks equal a plain-scala recompute of the 3 damped rounds") {
    val Scale = 1000000000000L
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val e0 = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"), (col("l_partkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0 ++ e0.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => (n, es.length.toLong) }
    val n = deg.size.toLong
    val base = 15L * Scale / (100L * n)
    var ranks: Map[Long, Long] = deg.keysIterator.map(_ -> Scale / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        (dst, es.iterator.map { case (src, _) => ranks(src) / deg(src) }.sum)
      }
      ranks = deg.keysIterator
        .map(v => v -> (base + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = SparkEntry.queries("pr1_pagerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ranks)
    // rank mass is conserved up to the deterministic floor losses
    val mass = got.valuesIterator.sum
    assert(mass <= Scale && mass > Scale * 99L / 100L, mass)
  }

  test("pr2: until-converged ranks equal a plain-scala recompute; " +
    "delta decays monotonically and convergence engages below the cap") {
    val Scale = 1000000000000L
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val e0 = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long"), (col("l_partkey") * 2 + 1).cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0 ++ e0.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => (n, es.length.toLong) }
    val n = deg.size.toLong
    val base = 50L * Scale / (100L * n)
    var ranks: Map[Long, Long] = deg.keysIterator.map(_ -> Scale / n).toMap
    var rounds = 0L
    var delta = Scale
    val deltas = scala.collection.mutable.ArrayBuffer[Long]()
    while (1000L * delta > Scale && rounds < 24) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        (dst, es.iterator.map { case (src, _) => ranks(src) / deg(src) }.sum)
      }
      val next = deg.keysIterator
        .map(v => v -> (base + 50L * contrib.getOrElse(v, 0L) / 100L)).toMap
      delta = next.iterator.map { case (v, r) => math.abs(r - ranks(v)) }.sum
      deltas += delta
      ranks = next
      rounds += 1
    }
    // the loop must STOP on the delta rule, not the cap, and the
    // per-round delta must decay monotonically (the damped contraction)
    assert(rounds < 24, s"hit the round cap: deltas=$deltas")
    assert(deltas.toSeq == deltas.sorted.reverse, s"non-monotone: $deltas")
    val got = SparkEntry.queries("pr2_pagerank_converged")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.values.map(_._2).toSet == Set(rounds), "round-count drift")
    assert(got.view.mapValues(_._1).toMap == ranks)
  }

  test("pr1/pr2: the shuffled-hash fallback arm (nodes above the " +
    "broadcast threshold) computes identical ranks and round count") {
    // r18: the per-round rank shipping is adaptive — broadcast below
    // spark.graft.pagerank.broadcastMaxNodes, shuffled-hash above.
    // Force the fallback and pin it to the broadcast arm's output.
    def run(): (Map[Long, Long], Map[Long, (Long, Long)]) = (
      SparkEntry.queries("pr1_pagerank")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap,
      SparkEntry.queries("pr2_pagerank_converged")(spark, sf)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap)
    val (bc1, bc2) = run()
    spark.conf.set("spark.graft.pagerank.broadcastMaxNodes", "1")
    try {
      val (shj1, shj2) = run()
      assert(shj1 == bc1, "pr1 arm divergence")
      assert(shj2 == bc2, "pr2 arm divergence")
    } finally spark.conf.unset("spark.graft.pagerank.broadcastMaxNodes")
  }

  test("pr1 plan: no cartesian, edge/node tables cached for the rounds") {
    val df = SparkEntry.queries("pr1_pagerank")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("InMemoryTableScan"), s"persisted edges missing:\n$plan")
  }

  // ---------------------------------------------------------------
  // clu1 kmeans + sdd1 semantic dedup

  /** Plain-scala lloyd recompute shared by clu1/sdd1 assertions;
    * k re-derived by the adaptive corpus-count formula. */
  private def scalaKmeans(corpus: Array[(Long, Array[Float])])
      : Map[Long, (Long, Long)] = {
    val k = graft.pipeline.Clustering.kFor(corpus.length.toLong).toInt
    val q = corpus.map { case (id, v) =>
      (id, v.map(f => math.floor(f.toDouble * 1e6).toLong))
    }
    val seeds = corpus.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(k)
    var cents: Seq[(Long, Array[Long])] =
      seeds.zipWithIndex.map { case (id, i) =>
        ((i + 1).toLong, q.find(_._1 == id).get._2)
      }.toSeq
    def assign(v: Array[Long]): (Long, Long) =
      cents.map { case (c, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }.min match { case (d, c) => (c, d) }
    for (_ <- 1 until 2) {
      val byCluster = q.groupBy { case (_, v) => assign(v)._1 }
      cents = byCluster.toSeq.map { case (c, members) =>
        val dims = members.head._2.length
        (c, Array.tabulate(dims)(i => members.map(_._2(i)).sum / members.length))
      }.sortBy(_._1)
    }
    q.map { case (id, v) => id -> assign(v) }.toMap
  }

  test("clu1: assignments equal a plain-scala lloyd recompute") {
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val want = scalaKmeans(corpus)
    val got = SparkEntry.queries("clu1_kmeans")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    val k = graft.pipeline.Clustering.kFor(corpus.length.toLong)
    assert(got.valuesIterator.map(_._1).toSet.subsetOf((1L to k).toSet))
    // the adaptive-k formula itself: floors at 8, grows with n
    assert(graft.pipeline.Clustering.kFor(500L) == 8L)
    assert(graft.pipeline.Clustering.kFor(50000L) == 80L)
  }

  test("centroid-assignment kernel is bit-identical to the literal " +
    "expression and dispatches on k (r14 verdict #2)") {
    import graft.pipeline.Clustering
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (q, centroids) = Clustering.kmeansModel(spark, corpus)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("distd"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .toMap
    // BIT identity on the fitted model (distd compared as raw bits —
    // the exact-integer argument says the doubles are equal, not close)
    val lit = collect(Clustering.withAssignment(q, centroids))
    val ker = collect(Clustering.withAssignment(q, centroids,
      forceKernel = true))
    assert(lit.nonEmpty && lit == ker)
    // dispatch: gate-scale k rides the literal expression (no RDD
    // scan in the plan); k > LiteralKMax flips to the kernel
    assert(centroids.size <= Clustering.LiteralKMax)
    val litPlan = Clustering.withAssignment(q, centroids)
      .queryExecution.optimizedPlan.toString
    assert(!litPlan.contains("LogicalRDD"), litPlan)
    val bigK = (1 to Clustering.LiteralKMax + 16).map { i =>
      (i.toLong, centroids((i - 1) % centroids.size)._2.map(_ + i))
    }
    val bigPlan = Clustering.withAssignment(q, bigK)
      .queryExecution.optimizedPlan.toString
    assert(bigPlan.contains("LogicalRDD"), bigPlan)
    // engaged-k correctness: the auto-dispatched kernel result equals
    // a plain-scala argmin over the same synthetic centroid set
    val rows = q.select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val want = rows.map { case (id, v) =>
      val (d, c) = bigK.map { case (c2, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c2)
      }.min
      id -> (c, d)
    }.toMap
    val gotBig = Clustering.withAssignment(q, bigK)
      .select(col("vec_id"), col("cluster"), col("distd"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2).toLong))
      .toMap
    assert(gotBig == want)
  }

  test("kernel two-level pruning is bit-identical to the full scan at " +
    "an engaged k, including ties, and engages by dispatch") {
    import graft.pipeline.Clustering
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (q, small) = Clustering.kmeansModel(spark, corpus)
    // synthesize k >= PruneKMin centroids from the fitted ones: shifted
    // replicas plus EXACT duplicates under distinct ids, so the
    // smallest-(d, c) tie rule is exercised through the pruned path
    // (a duplicated centroid yields equal distances; the smaller id
    // must win in both scans)
    val base = (0 until Clustering.PruneKMin + 9).map { i =>
      (i.toLong + 1L, small(i % small.size)._2.map(_ + (i / small.size) * 7L))
    }
    val dups = base.take(8).map { case (c, cv) => (c + 10000L, cv.clone()) }
    val bigK = base ++ dups
    assert(bigK.size >= Clustering.PruneKMin)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("distd"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .toMap
    val pruned = collect(Clustering.kernelAssign(q, bigK,
      prune = Some(true)))
    val full = collect(Clustering.kernelAssign(q, bigK,
      prune = Some(false)))
    assert(pruned.nonEmpty && pruned == full)
    // every duplicated centroid pair must have resolved to the
    // SMALLER id wherever it won — i.e. no +10000 replica id appears
    assert(!pruned.valuesIterator.exists(_._1 >= 10000L))
    // and the auto dispatch engages pruning at this k: same result
    // through the public entry point
    val auto = collect(Clustering.withAssignment(q, bigK))
    assert(auto == full)
  }

  test("chunked assignment and chunked fit are bit-identical to the " +
    "driver-resident path (r15 verdict #2: refit residency)") {
    import graft.pipeline.Clustering
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (q, small) = Clustering.kmeansModel(spark, corpus)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("distd"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .toMap
    // (1) chunkedAssign against a centroid FRAME == one monolithic
    // kernel scan of the same list, bit for bit — incl. exact
    // duplicate centroids so the cross-chunk (d, c) tie rule is
    // exercised (the duplicate lands in a LATER chunk and must lose
    // to the carried smaller id)
    val base = (0 until 150).map { i =>
      (i.toLong + 1L, small(i % small.size)._2.map(_ + (i / small.size) * 7L))
    }
    // ids 146..150 carry EXACT copies of ids 1..5's vectors — the
    // duplicate sits four chunks after its twin at chunk height 32
    val bigK = base.map { case (c, cv) =>
      if (c > 145L) (c, base((c - 146L).toInt)._2.clone()) else (c, cv)
    }
    import spark.implicits._
    val centroidDf = bigK.toDF("cluster", "qv")
    val mono = collect(Clustering.kernelAssign(q, bigK))
    val chunked = collect(Clustering.chunkedAssign(q, centroidDf,
      k = 150L, chunk = 32L))
    assert(mono.nonEmpty && chunked == mono)
    // wherever a duplicated vector won, the carried smaller id must
    // have survived the later chunk's equal-distance challenge
    assert(!chunked.valuesIterator.exists(_._1 > 145L))
    // (2) the full chunked FIT == the collect-based fit at a k that
    // spans 5 chunks: identical seeds (distributed zipWithIndex rank
    // vs orderBy/limit collect), identical integer refit, identical
    // final centroid frame — bit-compared as (cluster, qv)
    val kForce = 150L
    val (_, centroidsSeq) = Clustering.kmeansModel(spark, corpus,
      Some(kForce))
    val (qc, centroidDfFit) = Clustering.kmeansFitChunked(spark, corpus,
      Some(kForce), chunk = 32L)
    val gotCentroids = centroidDfFit.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq
    assert(gotCentroids == centroidsSeq
      .map { case (c, cv) => (c, cv.toSeq) })
    // and the end-to-end assignments under each fit agree
    val viaSeq = collect(Clustering.withAssignment(q, centroidsSeq))
    val viaDf = collect(Clustering.chunkedAssign(qc, centroidDfFit,
      kForce, chunk = 32L))
    assert(viaDf == viaSeq)
    qc.unpersist()
  }

  test("sdd1: every planted copy dropped, no original dropped, " +
    "copies co-clustered with their source") {
    val rows = SparkEntry.queries("sdd1_semantic_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = rows.filter(_._1 >= 100000L)
    assert(planted.nonEmpty)
    assert(planted.forall(_._3 == 1L), "planted copy not flagged")
    assert(rows.filter(_._1 < 100000L).forall(_._3 == 0L), "original flagged")
    val cluster = rows.map(r => r._1 -> r._2).toMap
    planted.foreach { case (id, c, _) =>
      assert(c == cluster(id - 100000L), s"copy $id strayed from its source cluster")
    }
  }

  test("sdd1 plan: the pair join is cluster-keyed, never a cartesian") {
    val plan = SparkEntry.queries("sdd1_semantic_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // ---------------------------------------------------------------
  // er1 entity resolution

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("er1: resolution equals an exhaustive-pair scala recompute " +
    "(blocking has no false dismissals)") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dirty = cust.filter { case (k, _) => md5hex(k.toString).head <= '3' }
      .map { case (k, name) =>
        val p = (9 + k % 9).toInt // 0-based index of the bumped digit
        val bumped = ((name(p) - '0' + 1) % 10 + '0').toChar
        (k + 1000000L, name.updated(p, bumped))
      }
    val want = dirty.map { case (did, dname) =>
      val cands = cust.map { case (ck, cn) => (ck, lev(dname, cn)) }
        .filter(_._2 <= 1)
      val (bk, bd) = cands.minBy { case (ck, d) => (d, ck) }
      (did, bk, bd.toLong, cands.length.toLong)
    }.toSet
    val got = SparkEntry.queries("er1_entity_resolution")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(dirty.nonEmpty && got == want)
  }

  test("er2: distance-2 resolution equals an exhaustive-pair recompute " +
    "(depth-2 deletion neighborhoods have no false dismissals, " +
    "including insert+delete pairs a positional wildcard cover misses)") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dirty = cust.filter { case (k, _) => md5hex(k.toString).head <= '3' }
      .map { case (k, name) =>
        val o1 = (9 + k % 9).toInt
        val o2 = (9 + (k % 9 + 1 + k % 8) % 9).toInt
        def bump(s: String, p: Int) =
          s.updated(p, ((s(p) - '0' + 1) % 10 + '0').toChar)
        (k + 2000000L, bump(bump(name, o1), o2))
      }
    val want = dirty.map { case (did, dname) =>
      val cands = cust.map { case (ck, cn) => (ck, lev(dname, cn)) }
        .filter(_._2 <= 2)
      val (bk, bd) = cands.minBy { case (ck, d) => (d, ck) }
      (did, bk, bd.toLong, cands.length.toLong)
    }.toSet
    val got = SparkEntry.queries("er2_entity_resolution_d2")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(dirty.nonEmpty && got == want)
    // every planted record is exactly 2 edits from its source, so the
    // resolved distance can never exceed 2 and is 0/1 only via a
    // dense-keyspace collision with ANOTHER customer's neighborhood
    assert(got.forall(_._3 <= 2L))
  }

  test("er2/er3 router: uniform lengths take the wildcard+del1 fast " +
    "path; mixed lengths take PassJoin segments; sub-3-char corpora " +
    "take FastSS; all cover all lev<=2 pairs on an adversarial " +
    "fixture (subs, shifts, true indels)") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    // the dispatch function itself (r14 verdict #5: three-way,
    // spec-pinned). Segments take mixed-length LONG keys (>= SegMinLen,
    // where FastSS's C(L,2) emission degrades — measured, SCALE.md);
    // short mixed keys stay FastSS (its join volume tracks the lev-4
    // ball there, which segment groups cannot beat on low entropy).
    assert(EntityResolution.routeFor(18, 18, 0) ==
      EntityResolution.EqualLenRoute)
    assert(EntityResolution.routeFor(30, 31, 0) ==
      EntityResolution.SegmentsRoute)
    assert(EntityResolution.routeFor(17, 18, 0) ==
      EntityResolution.DelWildcardRoute) // short mixed '*'-free: the
      // length-aware del+wildcard scheme (measured 1.55x cheaper than
      // FastSS and diverging — see the er4 measurement test below)
    assert(EntityResolution.routeFor(17, 18, 3) ==
      EntityResolution.FastSSRoute) // short mixed WITH '*': FastSS
    assert(EntityResolution.routeFor(24, 24, 5) ==
      EntityResolution.SegmentsRoute) // '*' alphabet: segments, not FastSS
    assert(EntityResolution.routeFor(2, 31, 0) ==
      EntityResolution.FastSSRoute) // segments need L >= tau+1
    // base strings: zero-padded dense ids (the adversarial shape) plus,
    // in the mixed case, genuinely shorter/longer variants so the
    // candidates must cross length classes
    val base = (1 to 400).map(k => (k.toLong, f"K#$k%06d"))
    val probesEq = Seq(
      (9001L, "K#000123"), // exact hit
      (9002L, "K#100124"), // 2 substitutions from 000124
      (9003L, "K#001230"), // shift (1 del + 1 ins) of 000123
      (9004L, "X#000125"), // 1 substitution
      (9005L, "ZZZZZZZZ")) // no candidate within 2
    val probesMix = probesEq ++ Seq(
      (9006L, "K#00126"),   // 1 deletion (length 7)
      (9007L, "K#0001277")) // 1 insertion (length 9)
    def exhaustive(cust: Seq[(Long, String)], probes: Seq[(Long, String)]) =
      (for {
        (did, dn) <- probes; (ck, cn) <- cust
        d = lev(dn, cn) if d <= 2
      } yield (did, ck, d.toLong)).toSet
    for ((probes, expectFast) <- Seq((probesEq, true), (probesMix, false))) {
      val custDf = base.toDF("c_custkey", "c_name")
      val dirty = probes.toDF("dirty_id", "dirty_name")
      // verified pairs AND their distances must both be exact — the
      // fast path decodes dist structurally (no levenshtein pass), so
      // this is the test that the m-class decoding is right; the
      // short mixed case routes the length-aware del+wildcard scheme
      val got = EntityResolution.d2Verified(dirty, custDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exhaustive(base, probes), s"fast=$expectFast")
      // router dispatch: the fast path plans two explode arms UNIONed
      // and the del+wildcard route its viable arms (multi-arm Union on
      // this {7,8,9}-length corpus); segments and FastSS are single
      // candidate equi-joins (no union)
      val plan = EntityResolution.d2Verified(dirty, custDf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("Union"), plan)
    }
    // ALL FOUR schemes agree on both fixtures (FastSS is the
    // reference cover; the segment and del+wildcard paths must match
    // it exactly even in regimes the router would not send them —
    // exactness is shape-independent, only cost is not)
    val custDf = base.toDF("c_custkey", "c_name")
    for (probes <- Seq(probesEq, probesMix)) {
      val dirtyDf = probes.toDF("dirty_id", "dirty_name")
      val seg = EntityResolution.passJoinD2Verified(dirtyDf, custDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val dwc = EntityResolution.delWildcardD2Verified(dirtyDf, custDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val fss = EntityResolution.fastssD2Verified(dirtyDf, custDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(seg == fss && dwc == fss && seg == exhaustive(base, probes))
    }
    // segment route end-to-end through the ROUTER on its own regime:
    // long composite keys (L >= SegMinLen), mixed lengths
    val longBase = (1 to 300).map(k =>
      (k.toLong, f"K#$k%06d|${java.util.UUID.nameUUIDFromBytes(Array(k.toByte, (k >> 8).toByte)).toString.take(16)}"))
    val longProbes = longBase.take(40).map { case (k, n) =>
      val b = n.updated(4, (((n(4) - '0') + 1) % 10 + '0').toChar)
      (k + 9100L, b.take(7) + b.drop(8)) // bump + delete: lev 2, len-1
    }
    def lexh = (for {
      (did, dn) <- longProbes; (ck, cn) <- longBase
      d = lev(dn, cn) if d <= 2
    } yield (did, ck, d.toLong)).toSet
    val longCust = longBase.toDF("c_custkey", "c_name")
    val longDirty = longProbes.toDF("dirty_id", "dirty_name")
    assert(EntityResolution.routeFor(
      longProbes.map(_._2.length).min min longBase.map(_._2.length).min,
      longBase.map(_._2.length).max, 0) == EntityResolution.SegmentsRoute)
    val gotLong = EntityResolution.d2Verified(longDirty, longCust)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotLong == lexh && gotLong.size >= longProbes.size)
  }

  test("er3 segment route: FastSS depth-2 measurably degrades on " +
    "long mixed-length keys (quadratic-in-L emission); the segment " +
    "join's total cost stays orders of magnitude lower") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    // the er3 regime: long composite keys (name | discriminator),
    // corpus-scale dirty side (every selected record perturbed)
    def hex(k: Int) = f"${java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes).map("%02x".format(_)).mkString}%s".take(12)
    val cust = (1 to 400).map(k => (k.toLong, f"Customer#$k%09d|${hex(k)}"))
    val dirty = cust.map { case (k, n) =>
      val p = (9 + k % 9).toInt
      val bumped = n.updated(p, (((n(p) - '0') + 1) % 10 + '0').toChar)
      val d = (9 + (k % 9 + 1 + k % 8) % 9).toInt
      (k + 9000L, bumped.take(d) + bumped.drop(d + 1)) // lev 2, len 30
    }
    val custDf = cust.toDF("c_custkey", "c_name")
    val dirtyDf = dirty.toDF("dirty_id", "dirty_name")
    // TOTAL candidate-generation cost = emitted key rows (the shuffle)
    // + join volume (Σ over keys of |dirty-side| × |cust-side|)
    def volume(dk: org.apache.spark.sql.DataFrame,
               ck: org.apache.spark.sql.DataFrame,
               keys: Seq[String]): (Long, Long) = {
      val rows = dk.count() + ck.count()
      val vol = dk.groupBy(keys.map(col): _*).count()
        .withColumnRenamed("count", "dc")
        .join(ck.groupBy(keys.map(col): _*).count()
          .withColumnRenamed("count", "cc"), keys)
        .agg(coalesce(sum(col("dc") * col("cc")), lit(0L))).head().getLong(0)
      (rows, vol)
    }
    val (fssRows, fssVol) = volume(
      EntityResolution.fastssVariants(dirtyDf, "dirty_name", "d")
        .withColumnRenamed("d_variant", "key"),
      EntityResolution.fastssVariants(custDf, "c_name", "c")
        .withColumnRenamed("c_variant", "key"), Seq("key"))
    val specs = EntityResolution.passJoinSegSpecs(custDf)
      .toDF("l1", "seg_idx", "seg_start", "seg_width")
    val (dk, ck) = EntityResolution.passJoinKeys(dirtyDf, custDf, specs)
    val (segRows, segVol) = volume(dk, ck, Seq("l1", "seg_idx", "seg"))
    // same verified result through both routes
    val seg = EntityResolution.passJoinD2Verified(dirtyDf, custDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fss = EntityResolution.fastssD2Verified(dirtyDf, custDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(seg == fss)
    assert(seg.map(_._1).size >= dirty.size) // every planted row resolves
    // the degradation: FastSS emits 1+L+C(L,2) ≈ 500 variants/record
    // of ~L chars at L=31; the segment route emits 3 index keys + ≤ 25
    // windowed probes of ~L/3 chars. 10× is a floor — measured ~20×
    // rows and the volumes are both near the true-pair count here
    // (high per-segment entropy), so rows dominate total cost.
    assert(fssRows + fssVol >= 10 * (segRows + segVol),
      s"fss rows=$fssRows vol=$fssVol vs seg rows=$segRows vol=$segVol")
  }

  test("er4: resolutions equal a plain-scala exhaustive lev<=2 scan " +
    "over the short dense mixed-length fixture") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .map(k => (k, f"K#$k%09d"))
    val dirty = cust.filter { case (k, _) => md5hex(k.toString).head <= '3' }
      .map { case (k, key) =>
        val p = (2 + k % 9).toInt
        val d = (2 + (k % 9 + 1 + k % 8) % 9).toInt
        val bumped = key.updated(p, ((key(p) - '0' + 1) % 10 + '0').toChar)
        (k + 4000000L, bumped.take(d) + bumped.drop(d + 1))
      }
    val want = dirty.map { case (did, dname) =>
      val cands = cust.map { case (ck, cn) => (ck, lev(dname, cn)) }
        .filter(_._2 <= 2)
      val (bk, bd) = cands.minBy { case (ck, d) => (d, ck) }
      (did, bk, bd.toLong, cands.length.toLong)
    }.toSet
    val got = SparkEntry.queries("er4_er_short_mixed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(dirty.nonEmpty && got == want)
    // every planted record sits at exactly lev 2 from its source
    // (1 sub + 1 del at distinct positions), so 0/1 resolutions can
    // only come from dense-keyspace collisions with OTHER masters
    assert(got.forall(_._3 <= 2L))
  }

  test("er4 del+wildcard scheme: exact on the dense mixed fixture; " +
    "length-profile pruning drops the five unmatchable arms and makes " +
    "the scheme MEASURABLY cheaper than FastSS (the routing rationale, " +
    "pinned from both sides)") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    // the er4 regime at spec scale: dense zero-padded decimal keys,
    // every selected record perturbed to length L-1
    val cust = (1 to 2000).map(k => (k.toLong, f"K#$k%09d"))
    val dirty = cust.map { case (k, key) =>
      val p = (2 + k % 9).toInt
      val d = (2 + (k % 9 + 1 + k % 8) % 9).toInt
      val bumped = key.updated(p, ((key(p) - '0' + 1) % 10 + '0').toChar)
      (k + 9000L, bumped.take(d) + bumped.drop(d + 1))
    }
    val custDf = cust.toDF("c_custkey", "c_name")
    val dirtyDf = dirty.toDF("dirty_id", "dirty_name")
    def volume(dk: org.apache.spark.sql.DataFrame,
               ck: org.apache.spark.sql.DataFrame,
               dkey: String, ckey: String): (Long, Long) = {
      val rows = dk.count() + ck.count()
      val vol = dk.groupBy(col(dkey).as("key")).count()
        .withColumnRenamed("count", "dc")
        .join(ck.groupBy(col(ckey).as("key")).count()
          .withColumnRenamed("count", "cc"), "key")
        .agg(coalesce(sum(col("dc") * col("cc")), lit(0L))).head().getLong(0)
      (rows, vol)
    }
    val (fssRows, fssVol) = volume(
      EntityResolution.fastssVariants(dirtyDf, "dirty_name", "d"),
      EntityResolution.fastssVariants(custDf, "c_name", "c"),
      "d_variant", "c_variant")
    val arms = EntityResolution.delWildcardArms(dirtyDf, custDf)
      .map { case (dk, ck) => volume(dk, ck, "d_key", "c_key") }
    val (dwcRows, dwcVol) = (arms.map(_._1).sum, arms.map(_._2).sum)
    // same verified result through both schemes
    val dwc = EntityResolution.delWildcardD2Verified(dirtyDf, custDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fss = EntityResolution.fastssD2Verified(dirtyDf, custDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dwc == fss)
    assert(dwc.map(_._1).size >= dirty.size) // every planted row resolves
    // THE TWO-STEP MEASUREMENT behind the route (the honest closure
    // of the r14 verdict-#5 residual). Step 1 (blind six-arm form):
    // the volume hypothesis HELD only weakly — FastSS's lev-4-ball
    // volume is < 2x del+wildcard's lev-3-ball volume (n=2k here:
    // ~330k vs ~238k; model at n=20k: 10.7M vs 6.2M) — but blind
    // emission paid ~5x FastSS's rows, a wash, so the scheme was
    // first measured OUT. Step 2 (length-profile pruning): string
    // equality implies length equality, so arms whose shifted length
    // sets don't intersect emit NOTHING — on this (10,11) corpus one
    // arm survives, emission collapses ~4x, and the scheme WINS
    // (model: 1.17x at n=2k, 1.55x at n=20k, diverging toward the
    // ~1.7x lev-ball ratio). Pin all of it: the arm count, the volume
    // ratio, the emission advantage, and the total-cost win that
    // justifies the route.
    assert(arms.size == 1,
      s"length pruning left ${arms.size} arms on a (10,11) corpus")
    assert(fssVol < 2 * dwcVol && fssVol > dwcVol,
      s"volume ratio left [1,2): fss vol=$fssVol vs dwc vol=$dwcVol")
    assert(dwcRows < fssRows * 2,
      s"pruned emission regressed: dwc rows=$dwcRows vs fss rows=$fssRows")
    assert(fssRows + fssVol > dwcRows + dwcVol,
      s"del+wildcard no longer cheapest: fss=${fssRows + fssVol} " +
        s"dwc=${dwcRows + dwcVol} — re-evaluate the short-mixed route")
  }

  test("er2 router: empty inputs route to a defined path and yield an " +
    "empty result (no NPE on the null min/max probe)") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    val noDirty = Seq.empty[(Long, String)].toDF("dirty_id", "dirty_name")
    val noCust = Seq.empty[(Long, String)].toDF("c_custkey", "c_name")
    assert(EntityResolution.d2Verified(noDirty, noCust).count() == 0L)
    // one-sided emptiness too (min/max are null whenever the union of
    // the two probes is empty; a lone empty side still aggregates)
    val cust = Seq((1L, "K#000001")).toDF("c_custkey", "c_name")
    assert(EntityResolution.d2Verified(noDirty, cust).count() == 0L)
  }

  test("er2 router: names containing a literal '*' (the wildcard " +
    "sentinel) take FastSS and stay exact end to end") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    // short mixed lengths (3..5): '*'-free, this shape would take the
    // del+wildcard route, whose pattern keys spell wildcards as '*'
    val cust = Seq((1L, "ab**"), (2L, "abcd"), (3L, "ab*"), (4L, "a*cde"),
      (5L, "xy*"), (6L, "pqrs"))
    val dirty = Seq(
      (101L, "**cd"),  // wc2 key "****" also matches ab** (lev 4)
      (102L, "a*c"),   // wc1 key "a**" also matches ab*'s (lev 2, not 1)
      (103L, "abcde"), (104L, "xyz"), (105L, "pqr*s"))
    val want = (for {
      (did, dn) <- dirty; (ck, cn) <- cust
      d = lev(dn, cn) if d <= 2
    } yield (did, ck, d.toLong)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val custDf = cust.toDF("c_custkey", "c_name")
    val dirtyDf = dirty.toDF("dirty_id", "dirty_name")
    assert(pairs(EntityResolution.d2Verified(dirtyDf, custDf)) == want)
    // the guard is what keeps it exact: the del+wildcard scheme alone
    // reports a lev-4 pair and a lev-2 pair at distance 1
    val dwc = pairs(EntityResolution.delWildcardD2Verified(dirtyDf, custDf))
    assert(!want.exists(p => p._1 == 101L && p._2 == 1L))
    assert(dwc.contains((101L, 1L, 2L)), dwc)
    assert(want.contains((102L, 3L, 2L)) && dwc.contains((102L, 3L, 1L)), dwc)
  }

  test("er2 equal-length fast path: constant-position pruning is exact " +
    "(r18 — arm A emits C(V,2) wildcard pairs over the varying set)") {
    import graft.pipeline.EntityResolution
    import spark.implicits._
    // long shared constant prefix (the pruning's target shape): only
    // the last 4 positions vary — V = 4 of L = 12
    val cust = (1 to 200).map(k => (k.toLong, f"PREFIX##$k%04d"))
    val probes = Seq(
      (901L, "PREFIX##0042"),  // exact (Hamming 0 → m = C(V,2))
      (902L, "PREFIX##9043"),  // 2 subs (Hamming 2 → m = 1)
      (903L, "PREFIX##0153"),  // vs 0015: shift-ish / subs mix
      (904L, "PREFIX##0510"))  // shift of 0051 (1 del + 1 ins, arm B)
    val exhaustive = (for {
      (did, dn) <- probes; (ck, cn) <- cust
      d = lev(dn, cn) if d <= 2
    } yield (did, ck, d.toLong)).toSet
    val got = EntityResolution.equalLenD2Verified(
      probes.toDF("dirty_id", "dirty_name"),
      cust.toDF("c_custkey", "c_name"), 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exhaustive)
    // degenerate corpus (V < 3): falls back to the full 1..L pair set
    // and stays exact
    val tiny = Seq((1L, "AAAB"), (2L, "AAAC"), (3L, "AAAB")).toDF("c_custkey", "c_name")
    val tinyDirty = Seq((11L, "AAAB")).toDF("dirty_id", "dirty_name")
    val tinyGot = EntityResolution.equalLenD2Verified(tinyDirty, tiny, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tinyGot == Set((11L, 1L, 0L), (11L, 2L, 1L), (11L, 3L, 0L)))
  }

  test("er1 plan: deletion-neighborhood blocking, no nested-loop verify") {
    Seq("er1_entity_resolution", "er2_entity_resolution_d2").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  // ---------------------------------------------------------------
  // srch1 bm25

  test("srch1: ranking equals a plain-scala bm25 recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.flatMap { case (id, t) =>
      t.trim.split("\\s+").filter(_.length >= 4).map(w => (id, w))
    }
    val tf = toks.groupBy(identity).map { case ((id, w), xs) => ((id, w), xs.length.toLong) }
    val dl = toks.groupBy(_._1).map { case (id, xs) => (id, xs.length.toLong) }
    val totT = dl.valuesIterator.sum
    val totD = dl.size.toLong
    val dfm = tf.keysIterator.toSeq.groupBy(_._2).map { case (w, xs) => (w, xs.length.toLong) }
    val qterms = dfm.toSeq.sortBy { case (w, d) => (-d, w) }
      .slice(10, 20).map(_._1).zipWithIndex
      .map { case (t, i) => (i + 1L, t) }
    val queries = qterms ++ qterms.map { case (q, t) => (if (q == 10L) 1L else q + 1L, t) }
    val idf = (df: Long) => java.lang.Long.toBinaryString(totD / df).length.toLong
    val want = queries.groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      val scores = docs.map(_._1).flatMap { id =>
        val s = qs.map { case (_, term) =>
          tf.get((id, term)).fold(0L) { t =>
            idf(dfm(term)) *
              (22L * totT * t * 1000000L /
                (10L * totT * t + 3L * totT + 9L * dl(id) * totD))
          }
        }.sum
        if (s > 0) Some((id, s)) else None
      }
      scores.sortBy { case (id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((id, s), i) => (qid, id, s, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("srch1_bm25")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
  }

  test("srch1 plan: query set broadcast, top-k is WindowGroupLimit") {
    val plan = SparkEntry.queries("srch1_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---------------------------------------------------------------
  // drf1 source drift

  test("drf1: top-20 equals a plain-scala recompute; planted marker wins") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val a = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val b = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    docs.foreach { case (src, text) =>
      val t = if (src == "src0") text + " zzdrift zzdrift" else text
      t.trim.split("\\s+").filter(_.length >= 4)
        .foreach(w => if (src == "src0") a(w) += 1 else b(w) += 1)
    }
    val (ta, tb) = (a.values.sum, b.values.sum)
    val want = (a.keySet ++ b.keySet).toSeq.map { term =>
      val (av, bv) = (a(term), b(term))
      val cross = BigInt(av) * tb - BigInt(bv) * ta
      (term, av, bv, ((cross * cross / (BigInt(ta) * tb)) / (av + bv)).toLong)
    }.sortBy { case (t, _, _, s) => (-s, t) }.take(20)
    val got = SparkEntry.queries("drf1_source_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    // the planted marker dominates: top row, src0-only by construction
    val top = got.head
    assert(top._1 == graft.pipeline.TextAnalysis.DriftMarker)
    assert(top._3 == 0L && top._2 == 2L * docs.count(_._1 == "src0"))
    assert(top._4 > got(1)._4, "planted marker does not dominate the natural tail")
  }

  // ---------------------------------------------------------------
  // g2 co-purchase

  test("g2: pair counts equal a plain-scala recompute") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = li.groupBy(_._1).toSeq.flatMap { case (_, items) =>
      val ps = items.map(_._2).toSeq
      for (x <- ps; y <- ps if x < y) yield (x, y)
    }.groupBy(identity).map { case ((x, y), xs) => (x, y, xs.length.toLong) }
      .toSeq.sortBy { case (x, y, c) => (-c, x, y) }.take(25)
    val got = SparkEntry.queries("g2_copurchase")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("g2/drf1 plans: container-keyed equi-join, no cartesian") {
    Seq("g2_copurchase", "drf1_source_drift").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  // ---------------------------------------------------------------
  // evt9 anomaly

  test("evt9: flags equal a plain-scala recompute; planted burst found") {
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    def hour(ms: Long): Long = ms - Math.floorMod(ms, 3600000L)
    val h0 = hour(evs.map(_._2).min)
    val planted = evs.filter { case (t, ms) => t == "error" && hour(ms) == h0 }
      .flatMap(e => Seq.fill(4)(e))
    val wins = (evs ++ planted).groupBy { case (t, ms) => (t, hour(ms)) }
      .map { case (k, xs) => (k, xs.length.toLong) }
    val stats = wins.groupBy(_._1._1).map { case (t, ws) =>
      val cs = ws.valuesIterator.toSeq
      (t, (cs.length.toLong, cs.sum, cs.map(c => c * c).sum))
    }
    val want = wins.map { case ((t, w), c) =>
      val (n, s, q) = stats(t)
      val flag = if (n * c > s && (n * c - s) * (n * c - s) > 9L * (n * q - s * s)) 1L else 0L
      (t, w, c, flag)
    }.toSet
    val got = SparkEntry.queries("evt9_anomaly")(spark, sf)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // the planted first-hour error burst must always be flagged
    assert(got.contains(got.find(x => x._1 == "error" && x._2 == h0).get)
      && got.find(x => x._1 == "error" && x._2 == h0).get._4 == 1L)
  }
}
