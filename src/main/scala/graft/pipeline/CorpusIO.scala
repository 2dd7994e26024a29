package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import scala.collection.immutable.ArraySeq

import graft.engine.Tables

/** Source/sink fidelity gates: write the documents corpus to a text
  * interchange format, read it back, and aggregate a content-exact
  * fingerprint. The DuckDB oracle computes the SAME fingerprint
  * straight from the parquet table, so the gate passes only if the
  * writer/reader pair is lossless for EVERY column of EVERY row.
  *
  * Fingerprint design: one md5 per row over ALL columns
  * (doc_id|lang|source|n_chars|text via concat_ws — both engines
  * stringify identically), then per source: row count, distinct-hash
  * count, and an ORDER-FREE exact sum of each hash's first 48 bits.
  * The hash SUM is what makes it content-exact: a reader bug that
  * corrupts rows injectively (same number of distinct wrong values)
  * still shifts the sum; 48-bit terms accumulated in DECIMAL(38,0)
  * cannot overflow at any real row count. The sum is EMITTED as a
  * STRING on both engines: a DOUBLE would go silently inexact past
  * 2^53 (~10^3 more rows than sf0.1 already reaches ~2^55), and raw
  * DECIMAL output trips the driver's hash normalization of decimal
  * values (the repo-wide rule is: gated outputs are
  * BIGINT/DOUBLE/STRING/DATE/TS, never DECIMAL — see
  * OutputTypeSpec).
  *
  * Scale shape: parallel partitioned sink, parallel scan, one
  * partial/final hash-agg. The write lands in `GRAFT_IO_DIR` when
  * set (on a real cluster this must be shared storage — executors
  * write, the driver-side read lists the same path); default is the
  * driver-local java tmpdir, which is correct only in local mode.
  * The export + fingerprint run EAGERLY when the query function is
  * invoked (the write cost is part of the operator being gated and
  * benched), the tiny aggregated result is materialized, and the
  * export directory is deleted immediately — a JVM shutdown hook
  * remains only as a crash fallback, so repeated gate runs in one
  * long bench/verify JVM never accumulate corpus copies on disk.
  */
object CorpusIO {

  /** Shared recursive delete (also used by the layout and streaming
    * specs — one implementation instead of drifting copies). */
  private[graft] def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** Home of a persisted per-corpus index or layout:
    * `<GRAFT_INDEX_DIR, else java.io.tmpdir/graft-index>/<kind>_<sfDir
    * with every char outside [A-Za-z0-9.] as '_'>_<key>`. */
  private[pipeline] def indexPath(kind: String, sfDir: String, key: String): String = {
    val base = sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir") + "/graft-index")
    s"$base/${kind}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}_$key"
  }

  private def tempDir(prefix: String): String = {
    val dir = sys.env.get("GRAFT_IO_DIR") match {
      case Some(base) => Files.createTempDirectory(Paths.get(base), prefix)
      case None => Files.createTempDirectory(prefix)
    }
    // crash fallback only; the normal path deletes eagerly below
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRec(dir.toFile)))
    dir.toString
  }

  /** Materialize a tiny aggregated frame so its backing export
    * directory can be deleted before this function returns. */
  private def eager(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** All-column row hash + per-source rollup shared by the gates and
    * (textually mirrored) their oracle. */
  private def fingerprint(docs: DataFrame): DataFrame =
    fingerprintWith(docs, Nil)

  /** [[fingerprint]] with extra hashed columns appended (io9 folds
    * the evolved column in; NULLs are made visible via coalesce
    * because concat_ws SKIPS null arguments on both engines). */
  private def fingerprintWith(docs: DataFrame,
                              extra: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val h = md5(concat_ws("|", Seq(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), col("text")) ++ extra: _*))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(h).as("n_unique"),
        sum(conv(substring(h, 1, 12), 16, 10).cast("decimal(38,0)"))
          .cast("string").as("hash_sum"),
        sum(length(col("text"))).cast("long").as("len_total"))
  }

  // Lossless CSV dialect, pinned identically on writer and reader:
  // explicit quote/escape, no whitespace trimming, and a null
  // sentinel ("\\N", the COPY convention) distinct from empty. The
  // writer's emptyValue is deliberately NOT overridden: Spark's
  // default writes an empty string as the QUOTED token `""` (and the
  // reader's default maps that token back to empty), which is what
  // keeps NULL (-> unquoted \N) and empty (-> "") distinguishable —
  // overriding emptyValue to "" writes an EMPTY field, which every
  // CSV reader parses as null (pinned by the ScalaCheck round-trip
  // property in PipelineSpec).
  //
  // Contract limit, also property-pinned: a data string EQUAL to the
  // sentinel ("\N") is indistinguishable from NULL after parsing —
  // sentinel-based CSV null encoding reserves that one token. Corpora
  // that could contain it must escape it upstream or use a
  // self-describing format (io1 JSON / io4 ORC round-trips).
  private[graft] val csvDialect: Map[String, String] = Map(
    "header" -> "true", "quote" -> "\"", "escape" -> "\"",
    "nullValue" -> "\\N",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  private def roundTrip(spark: SparkSession, sfDir: String,
                        format: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = tempDir(s"graft_io_$format")
    try {
      val writer = docs.write.mode("overwrite")
      (format match {
        case "json" | "orc" => writer
        case "csv" => writer.options(csvDialect)
      }).format(format).save(dir)
      val reader = spark.read.schema(docs.schema)
      val back = format match {
        case "json" => reader.json(dir)
        case "orc" => reader.orc(dir)
        case "csv" => reader.options(csvDialect)
          .option("multiLine", "true").csv(dir)
      }
      eager(fingerprint(back))
    } finally deleteRec(new java.io.File(dir))
  }

  /** Hive-style partitioned parquet layout + pruned read: write the
    * corpus partitioned by `lang`, read it back filtered to one
    * partition, fingerprint the slice. The filter must become a
    * PartitionFilter (directory pruning — only `lang=en/` files are
    * ever listed/opened; spec-pinned on the physical plan), which is
    * the layout decision that matters most at 100 TB: a
    * language-sliced training run reads 1/N of the corpus, not a
    * filter over all of it. The partition column itself round-trips
    * through directory names, so the all-column fingerprint also
    * gates that reconstruction (fingerprint() addresses columns by
    * name, so the partition column moving to the end of the schema
    * is irrelevant to the hash). */
  private def partitionedReadWithDir(spark: SparkSession,
                                     sfDir: String): (DataFrame, String) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = tempDir("graft_io_part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    (spark.read.parquet(dir).filter(col("lang") === "en"), dir)
  }

  /** Lazy variant for plan inspection in specs; the export directory
    * is reclaimed by the shutdown-hook fallback. */
  private[graft] def partitionedRead(spark: SparkSession,
                                     sfDir: String): DataFrame =
    partitionedReadWithDir(spark, sfDir)._1

  /** Write orders and lineitem as BUCKETED tables — 16 buckets on
    * the join key — so the fact-to-fact join reads bucket-to-bucket
    * with ZERO join-side shuffle (spec-pinned with broadcast
    * disabled: no ShuffleExchange feeds the join). This is the
    * pre-partitioning story the 100 TB plan depends on: a recurring
    * orders⋈lineitem pipeline pays the layout shuffle ONCE at write
    * time, and every subsequent join/aggregation on the bucket key
    * is co-located. The revenue term stays in the DECIMAL domain
    * through the sum (q2's cross-engine discipline) and the final
    * column is DOUBLE, never DECIMAL (OutputTypeSpec). */
  /** The orders⋈lineitem revenue rollup shared by the bucketed gate
    * (over the bucketed tables) and the lazy schema shape (over the
    * plain parquet). */
  private def ordersLineitemRollup(orders: DataFrame,
                                   lineitem: DataFrame): DataFrame = {
    val revTerm = (col("l_extendedprice").cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
      .cast("decimal(18,4)")
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(revTerm).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private val BucketCount = 16

  private[graft] def bucketedJoin(spark: SparkSession, sfDir: String,
                                  tag: String): DataFrame = {
    val ot = s"graft_bkt_orders_$tag"
    val lt = s"graft_bkt_lineitem_$tag"
    dropBucketTables(spark, tag)
    // project before the layout write: the gate buckets the columns
    // the downstream join needs (a production table would carry all
    // of them — the layout property is identical either way)
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite")
      .bucketBy(BucketCount, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(ot)
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .write.mode("overwrite")
      .bucketBy(BucketCount, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lt)
    ordersLineitemRollup(spark.table(ot), spark.table(lt))
  }

  /** On-disk home of the CORPUS-KEYED bucketed layout (r9 verdict #6)
    * — same contract as the persisted ANN index headers in
    * [[Similarity]]: keyed by the source files' identity (mtime+size)
    * and the bucket spec, so a regenerated corpus or changed bucket
    * count writes a fresh layout instead of serving a stale one. The
    * pay-layout-once story the 100 TB plan tells becomes literal: the
    * 16-bucket orders/lineitem copies are written ONCE per corpus and
    * every later io5 invocation (same JVM or a later one) is
    * join-only over the existing files. */
  private def bucketLayoutDir(sfDir: String): String = {
    val o = new java.io.File(s"$sfDir/orders.parquet")
    val l = new java.io.File(s"$sfDir/lineitem.parquet")
    val key = s"${o.lastModified}_${o.length}_${l.lastModified}_${l.length}" +
      s"_b$BucketCount"
    indexPath("bkt", sfDir, key)
  }

  /** Write the bucketed layout into a tmp sibling and atomically
    * rename into place — two overlapping JVMs (a verify and a bench)
    * may both decide to build; the loser's rename fails and its tmp
    * dir is discarded, so the published layout is always one writer's
    * complete output. saveAsTable is the only writer of bucketed
    * FILES, so the build goes through transient external tables whose
    * catalog entries are dropped right after (DROP on an external
    * table keeps the files). */
  private def writeBucketLayout(spark: SparkSession, sfDir: String,
                                base: String): Unit = {
    val tmp = base + ".tmp." + java.lang.Long.toHexString(System.nanoTime())
    val tag = "w" + java.lang.Long.toHexString(System.nanoTime())
    try {
      Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(BucketCount, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/orders")
        .format("parquet").saveAsTable(s"graft_bkt_orders_$tag")
      Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.bucketBy(BucketCount, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/lineitem")
        .format("parquet").saveAsTable(s"graft_bkt_lineitem_$tag")
      Files.write(Paths.get(tmp, "_GRAFT_COMPLETE"), Array.emptyByteArray)
      val published = new java.io.File(base).exists() ||
        new java.io.File(tmp).renameTo(new java.io.File(base))
      if (!published || new java.io.File(tmp).exists())
        deleteRec(new java.io.File(tmp)) // another writer won the race
    } finally dropBucketTables(spark, tag)
  }

  /** io5 over the corpus-keyed persisted layout: build the layout on
    * true first touch, then register external bucketed tables over it
    * (a catalog-only operation — no data write) and run the rollup.
    * Any NonFatal layout/DDL failure degrades to the per-invocation
    * [[bucketedJoin]] path, which is correct but pays the layout
    * write — surfaced on stderr so a persistently broken cache dir is
    * visible. */
  private[graft] def bucketedJoinCached(spark: SparkSession,
                                        sfDir: String): DataFrame = {
    import scala.util.control.NonFatal
    val base = bucketLayoutDir(sfDir)
    try {
      if (!new java.io.File(base, "_GRAFT_COMPLETE").exists())
        writeBucketLayout(spark, sfDir, base)
      // re-CHECK the marker after the build: a failed publish (rename
      // lost without a winner, cache dir reaped between check and
      // create) returns from writeBucketLayout without throwing, and
      // CREATE TABLE over the missing LOCATION would silently make an
      // EMPTY external table — an empty io5 rollup with no error.
      // Throwing here routes that case into the NonFatal fallback.
      if (!new java.io.File(base, "_GRAFT_COMPLETE").exists())
        throw new java.io.IOException(
          s"bucket layout publish left no completion marker under $base")
      // deterministic names keyed on the layout identity: re-running
      // CREATE IF NOT EXISTS against the same location is a no-op,
      // and a NEW corpus (new base) gets new names — never a stale map
      val id = java.lang.Integer.toHexString(base.hashCode).takeWhile(_ != '-')
      val ot = s"graft_bktc_orders_$id"
      val lt = s"graft_bktc_lineitem_$id"
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $ot
           |  (o_orderkey BIGINT, o_orderpriority STRING)
           |USING parquet
           |CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)
           |INTO $BucketCount BUCKETS
           |LOCATION '$base/orders'""".stripMargin)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $lt
           |  (l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE)
           |USING parquet
           |CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
           |INTO $BucketCount BUCKETS
           |LOCATION '$base/lineitem'""".stripMargin)
      ordersLineitemRollup(spark.table(ot), spark.table(lt))
    } catch { case NonFatal(e) =>
      System.err.println(s"[graft] io5 bucket-layout cache failed under " +
        s"$base (falling back to per-invocation layout write): $e")
      val tag = java.lang.Long.toHexString(System.nanoTime())
      // materialize before dropping the transient tables it reads
      try eager(bucketedJoin(spark, sfDir, tag))
      finally dropBucketTables(spark, tag)
    }
  }

  /** Idempotent offline step for the bench pre-warm (the sim3 ANN
    * index precedent): ensure the corpus-keyed layout exists so the
    * measured io5 window is join-only. Cheap no-op when the layout
    * already matches the corpus. */
  def prewarmBucketLayout(spark: SparkSession, sfDir: String): Unit = {
    val base = bucketLayoutDir(sfDir)
    if (!new java.io.File(base, "_GRAFT_COMPLETE").exists())
      writeBucketLayout(spark, sfDir, base)
  }

  /** Dynamic partition pruning: customer written partitioned by
    * `c_nationkey` (the join key), then joined to `nation` filtered
    * to one region. Catalyst injects the dim side's key set as a
    * runtime partition filter on the fact scan (reusing the
    * broadcast), so only 5 of 25 `c_nationkey=…/` directories are
    * ever read — io3 proves STATIC pruning from a literal
    * predicate; this proves pruning from a runtime JOIN, the
    * mechanism that makes star-schema fact scans affordable at
    * 100 TB where the pruning predicate only exists after the dim
    * filter runs. Spec-pinned on the scan's `dynamicpruning`
    * partition filter; the oracle is the plain join over the
    * original parquet. */
  private[graft] def dppJoin(spark: SparkSession, sfDir: String,
                             factDir: String): DataFrame =
    dppRollup(spark, sfDir, spark.read.parquet(factDir))

  /** The customer⋈nation rollup shared by the DPP gate (over the
    * partitioned fact copy) and the lazy schema shape (plain load). */
  private def dppRollup(spark: SparkSession, sfDir: String,
                        fact: DataFrame): DataFrame = {
    val nation = Tables.load(spark, sfDir, "nation")
      .filter(col("n_regionkey") === 0)
    fact
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("acctbal_total"))
      .orderBy(col("n_name"))
  }

  private[graft] def writeDppFact(spark: SparkSession, sfDir: String,
                                  dir: String): Unit =
    Tables.load(spark, sfDir, "customer")
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)

  /** Small-files compaction: the corpus lands as an over-fragmented
    * ingest directory (64 files here; at 100 TB, millions of
    * per-trigger micro-batch files), and the compactor rewrites it
    * into size-targeted files — ceil(bytes / target) output files
    * via ONE round-robin repartition (no key skew possible), the
    * standard maintenance pass that keeps scan task counts and
    * NameNode/listing pressure bounded. The gate fingerprints the
    * compacted copy against the original table, so compaction is
    * proven content-lossless; the spec pins the file counts
    * (64 → ceil). */
  private[graft] def compactTargetBytes: Long = 32L * 1024 * 1024

  private[graft] def compactedRead(spark: SparkSession, sfDir: String,
                                   smallDir: String, outDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(smallDir)
    val small = spark.read.parquet(smallDir)
    val bytes = new java.io.File(smallDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val nOut = math.max(1L,
      (bytes + compactTargetBytes - 1) / compactTargetBytes).toInt
    small.repartition(nOut).write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** io10: RANGE-CLUSTERED time layout — the time-dimension
    * complement of io3's directory partitioning (a continuous
    * timestamp can't be hive-partitioned at useful granularity
    * without exploding into small files) and io5's hash bucketing:
    * `repartitionByRange(ts)` + `sortWithinPartitions(ts)` before the
    * write gives each output file a DISJOINT time slice, so parquet
    * file- and row-group-level min/max statistics prune a time-range
    * scan down to the touching files — the Delta/Iceberg
    * time-clustering story on plain parquet, and the layout an
    * event-log table needs at 100 TB where every query carries a
    * time predicate. The range exchange samples the key distribution,
    * so slices are volume-balanced even under a bursty event rate
    * (calendar partitioning would skew). The gate fingerprints the
    * corpus read back through the layout (the rewrite is
    * content-lossless); the spec pins the MECHANISM: [[RangeFiles]]
    * files whose [min(ts), max(ts)] intervals are pairwise disjoint,
    * and a one-slice predicate intersects exactly one file whose
    * solo read reproduces the filtered result. */
  private[graft] val RangeFiles = 8

  private[graft] def rangeLayoutWrite(spark: SparkSession, sfDir: String,
                                      dir: String): Unit =
    Tables.load(spark, sfDir, "events")
      .repartitionByRange(RangeFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(dir)

  /** io11: Z-ORDER (Morton) two-dimensional clustering — the
    * multi-dimension complement of io10's 1-D range layout. io10's
    * time slices are perfect for time predicates but USELESS for a
    * user predicate (every file holds every user: all 8 files touch).
    * Bit-interleaving range-bucketed (user_id, ts) into a Morton key
    * and range-writing on it gives every output file a COMPACT 2-D
    * block: its parquet min/max stats are narrow on BOTH columns, so
    * a user predicate, a time predicate, or their conjunction each
    * prune to a fraction of the files — the Delta/Iceberg `ZORDER BY`
    * story on plain parquet, and the layout a 100 TB event log wants
    * when queries filter on more than one dimension. The dimension
    * min/max used for bucketing are ONE driver-side stats row — at
    * 100 TB a metastore column-stats lookup, same contract as dd10's
    * corpus count. The gate fingerprints the corpus read back through
    * the layout (content-lossless, io10's oracle discipline); the
    * spec pins the MECHANISM: per-file min/max rectangles, a
    * single-cell 2-D predicate touching ≤ 4 of 16 files, a user-only
    * predicate touching ≤ 8 (vs ALL files under io10's layout), and
    * the pruned read reproducing the full filtered result. */
  private[graft] val ZBits = 4 // 16 range buckets per dimension
  private[graft] val ZFiles = 16

  /** One `ZBits`-bit range bucket: floor(((c - lo) · 16) / span) in
    * pure LONG arithmetic. Spark's Column `/` is `Divide`, which
    * promotes LONG operands to DOUBLE — past 2^53 ((ts span in µs)
    * · 16 crosses it at ~18 years) that loses integer exactness and
    * mis-buckets boundary rows relative to the exact floor-division
    * the spec's lo/hi helpers pin. SQL `DIV` is `IntegralDivide`
    * (LONG in, LONG out), so the whole key stays integer-exact.
    * (span · 16 fits a long up to ~5.7e17 µs ≈ 18,000 years — no
    * overflow in any real range.) Takes the column as a SQL fragment
    * because `DIV` has no Column-API operator. */
  private[graft] def zBucket(cSql: String, lo: Long, hi: Long): Column =
    least(lit((1 << ZBits) - 1),
      expr(s"CAST(((CAST(($cSql) AS BIGINT) - ${lo}L) * ${1 << ZBits}L) " +
        s"DIV ${hi - lo + 1}L AS INT)"))

  /** Morton key: `ZBits`-bit range buckets of user_id and micros-ts,
    * bits interleaved (user in the odd positions, time in the even),
    * entirely integer column arithmetic — codegen-friendly, no UDF. */
  private def mortonKey(uMin: Long, uMax: Long,
                        tMin: Long, tMax: Long): Column = {
    val ub = zBucket("user_id", uMin, uMax)
    val tb = zBucket("unix_micros(ts)", tMin, tMax)
    (0 until ZBits).map { i =>
      shiftright(ub, i).bitwiseAND(lit(1)) * lit(1 << (2 * i + 1)) +
        shiftright(tb, i).bitwiseAND(lit(1)) * lit(1 << (2 * i))
    }.reduce(_ + _)
  }

  private[graft] def zorderLayoutWrite(spark: SparkSession, sfDir: String,
                                       dir: String): Unit = {
    val ev = Tables.load(spark, sfDir, "events")
    val stats = ev.agg(
      min(col("user_id")), max(col("user_id")),
      min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val z = mortonKey(stats.getLong(0), stats.getLong(1),
      stats.getLong(2), stats.getLong(3))
    ev.withColumn("z", z)
      .repartitionByRange(ZFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z") // layout key, not content — the rewrite is lossless
      .write.mode("overwrite").parquet(dir)
  }

  /** io12: BLOOM-FILTER FILE SKIPPING — the point-lookup complement
    * of io10/io11's min-max pruning. Clustering prunes the dimensions
    * it sorted; a point lookup on a high-cardinality key the layout
    * did NOT cluster (here: a document's content fingerprint, under a
    * natural ingest layout ordered by (source, doc_id)) gets nothing
    * from min/max — every file's [min, max] fingerprint range spans
    * the whole domain. The file-skipping answer is a tiny per-file
    * Bloom index: one [[graft.functions.BloomSketch]] bitmap per
    * output file ([[BloomWords]]·64 bits, [[BloomK]] probes), built
    * in a single map-side aggregation pass over the layout. A reader
    * probes the index BEFORE listing the scan; "no" proves the file
    * cannot contain the key (the aggregate's no-false-negative
    * contract), so the pruned read is result-EXACT at the sized false
    * -positive rate's cost only. This is the parquet/Delta/Iceberg
    * bloom-skipping story, and the exact-dup fast path of an ingest
    * pipeline at 100 TB: "is this content hash already in the
    * corpus?" touches FPR·F + true-match files instead of F.
    *
    * Scale contract: the index is metadata-sized (files × 2 KiB —
    * ~2 GiB per million files), same storage class as io11's stats
    * row; the probe batch is the bounded ingest micro-batch. The
    * driver-side probe loop here is F·Q over THAT metadata — past
    * memory scale it becomes a broadcast join of probes against the
    * index TABLE, same plan shape, never a corpus scan. The gate
    * answers each probe (match count + canonical doc) through the
    * pruned read; the DuckDB oracle recomputes the true answers with
    * a plain join, so a false NEGATIVE (a missed file) fails the
    * cross-engine hash — exactness of skipping is the gated
    * property, selectivity is spec-pinned. */
  private[graft] val BloomFiles = 16
  private[graft] val BloomWords = 256 // 16 Kibit per file
  private[graft] val BloomK = 6

  /** Content fingerprint both engines compute identically: md5 hex of
    * the text (Spark md5 takes binary; DuckDB takes varchar). */
  private def contentHash(c: Column): Column = md5(c.cast("binary"))

  /** Natural ingest layout: files ordered by (source, doc_id) — the
    * shape a per-source ingest actually writes — so content
    * fingerprints scatter across ALL files and min/max on them is
    * useless. The bloom index, not clustering, must do the pruning. */
  private[graft] def bloomLayoutWrite(spark: SparkSession, sfDir: String,
                                      dir: String): Unit =
    Tables.load(spark, sfDir, "documents")
      .repartitionByRange(BloomFiles, col("source"), col("doc_id"))
      .write.mode("overwrite").parquet(dir)

  /** One map-side pass: per-file bloom bitmap over
    * xxhash64(contentHash). F bitmap rows — metadata-sized. */
  private[graft] def bloomIndex(spark: SparkSession,
                                dir: String): Array[(String, Array[Long])] = {
    spark.read.parquet(dir)
      .select(col("_metadata.file_path").as("file"),
        xxhash64(contentHash(col("text"))).as("fp"))
      .groupBy(col("file"))
      .agg(expr(s"graft_bloom(fp, $BloomWords, $BloomK)").as("bm"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
  }

  /** The ingest probe batch, derived deterministically from the corpus
    * so the oracle can rebuild it: every doc_id ≡ 3 (mod 20) probes
    * its own content hash (present), and a synthetic 'absent-' hash
    * under the NEGATED id (absent — exercises the skipping side). */
  private[graft] def bloomProbes(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val base = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 20 === 3)
    base.select(col("doc_id").as("probe_id"),
        contentHash(col("text")).as("h"))
      .unionAll(base.select((-col("doc_id")).as("probe_id"),
        contentHash(concat(lit("absent-"), col("doc_id").cast("string")))
          .as("h")))
  }

  /** Probe answers through an arbitrary (possibly pruned) corpus
    * relation — shared by the gate and [[lazyShapes]] so a schema
    * drift in one shows in the other. */
  private def bloomProbeRollup(probes: DataFrame, docs: DataFrame): DataFrame =
    probes.join(
        docs.select(contentHash(col("text")).as("h"), col("doc_id")),
        Seq("h"), "left")
      .groupBy(col("probe_id"))
      .agg(count(col("doc_id")).as("n_match"),
        // no-match sentinel: -1, not NULL — gated outputs stay
        // null-free (driver-hash nullable-int serializer risk)
        coalesce(min(col("doc_id")), lit(-1L)).as("match_doc"))

  private[graft] def bloomSkippingGate(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    val dir = tempDir("graft_io_bloom")
    try {
      bloomLayoutWrite(spark, sfDir, dir)
      val index = bloomIndex(spark, dir)
      val probes = bloomProbes(spark, sfDir)
      // bounded batch: the probe keys, hashed like the index build
      val probeFps = probes.select(xxhash64(col("h")).as("fp"))
        .distinct().collect().map(_.getLong(0))
      val selected = index.collect { case (f, bm)
        if probeFps.exists(graft.functions.BloomSketch.mightContain(bm, _, BloomK)) => f }
      val pruned =
        if (selected.isEmpty) spark.read.parquet(dir).limit(0)
        else spark.read.parquet(selected.toIndexedSeq: _*)
      eager(bloomProbeRollup(probes, pruned))
    } finally deleteRec(new java.io.File(dir))
  }

  /** All-column events fingerprint (io10's gate rollup): ts hashed as
    * exact integer micros (`unix_micros` ≡ DuckDB `epoch_us` — no
    * cross-engine timestamp FORMATTING in the hash), the double
    * `value` kept out of the md5 (shortest-round-trip double
    * rendering is engine-specific) and folded in as an exact DECIMAL
    * sum instead. */
  private[graft] def eventsFingerprint(ev: DataFrame): DataFrame = {
    val h = md5(concat_ws("|", col("event_id"), unix_micros(col("ts")),
      col("user_id"), col("event_type"), col("props")))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(h).as("n_unique"),
        sum(conv(substring(h, 1, 12), 16, 10).cast("decimal(38,0)"))
          .cast("string").as("hash_sum"),
        sum(expr("cast(round(value, 6) as decimal(28,6))"))
          .cast("double").as("value_sum"))
      .orderBy(col("event_type"))
  }

  /** CDC upsert (merge-on-write): the corpus receives a change batch
    * — revised text for every doc_id ≡ 0 (mod 7) and brand-new docs
    * (re-keyed +1_000_000, lang 'xx') for doc_id ≡ 0 (mod 11) — and
    * the maintenance pass rewrites the lake copy as
    * (base ANTI-JOIN update-keys) ∪ updates ∪ inserts. The scale
    * property is in the anti-join build side: the CDC batch is
    * batch-sized, so its key set broadcasts and the 100 TB base scan
    * streams map-side through a BroadcastHashJoin LeftAnti — the
    * corpus itself NEVER shuffles to apply a day's worth of edits
    * (spec-pinned). The gate fingerprints the merged copy read back
    * from disk; the oracle recomputes the same merge in SQL over the
    * original parquet, so the whole update/insert/rewrite chain must
    * be content-exact. */
  private[graft] def upsertMergePlan(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", col("n_chars") + lit(5))
      .withColumn("text", concat(col("text"), lit("+rev2")))
    val inserts = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("lang", lit("xx"))
    docs.join(broadcast(updates.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      .unionByName(updates)
      .unionByName(inserts)
  }

  /** Schema evolution across ingest generations: batch A lands with
    * the original five columns; batch B (a later crawl) carries an
    * additional BIGINT `quality` score. A `mergeSchema` parquet read
    * over both generations must reconstruct the union schema with
    * NULL backfill for the legacy rows — the exact situation a
    * multi-year 100 TB corpus is permanently in (schemas only ever
    * accrete; rewriting history to add a column is off the table).
    * The quality value is a deterministic function of n_chars so the
    * oracle regenerates it; NULL backfill is made hash-visible via
    * coalesce(quality, -1) because concat_ws skips NULL arguments on
    * both engines. Scale shape: both generations scan in parallel,
    * footer schema union is metadata-only, and the fingerprint is the
    * same one partial/final hash-agg as io1/io2/io4. */
  private[graft] def schemaEvolvedRead(spark: SparkSession, sfDir: String,
                                       dir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/gen=a")
    docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("quality", (col("n_chars") % 100).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/gen=b")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/gen=a", s"$dir/gen=b")
  }

  /** Fingerprint + NULL-backfill rollup over the merged two-generation
    * frame, shared by the gate and the lazy schema shape. */
  private def evolutionRollup(merged: DataFrame): DataFrame =
    fingerprintWith(merged, Seq(coalesce(col("quality"), lit(-1L))))
      // count(quality) pins the NULL-backfill split exactly: only
      // generation-B rows may carry a score
      .join(merged.groupBy(col("source"))
          .agg(count(col("quality")).as("n_scored")),
        Seq("source"))

  private def schemaEvolutionGate(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    val dir = tempDir("graft_io_evolve")
    try eager(evolutionRollup(schemaEvolvedRead(spark, sfDir, dir)))
    finally deleteRec(new java.io.File(dir))
  }

  /** io13: SNAPSHOT ISOLATION + TIME TRAVEL via versioned manifests —
    * the Delta/Iceberg table-format mechanism reduced to its core: a
    * table VERSION is an immutable list of file groups (a manifest),
    * writers never mutate data files (copy-on-write at file-group
    * granularity), and a reader at version v lists exactly manifest
    * v's groups — so yesterday's corpus stays byte-stable under
    * today's upsert, a concurrent reader can never see a half-applied
    * batch, and any training run is reproducible by version pin.
    *
    * Layout: v1 lands range-bucketed by doc_id into [[TtBuckets]]
    * file groups. The change batch is TAIL-LOCAL — the realistic
    * daily shape (recent keys churn): every doc in the top tenth of
    * the id range (doc_id >= cut, cut = (max DIV 10)·9 — integer-
    * exact in both engines) is revised io8-style, inserts key above
    * max — so COW rewrites ONLY the groups intersecting the touched
    * range into one new group, carrying their untouched below-cut
    * rows with them (file-group granularity is the point), and
    * manifest v2 = v1's untouched groups ++ the rewrite.
    *
    * The gate reads BOTH versions through their manifests and emits
    * the per-(version, source) fingerprint rollup; the oracle
    * recomputes both contents from the original table, so stale v1
    * bytes, a torn v2, or a COW rewrite that drops a carried row all
    * fail the hash. Scale: manifests are metadata (file lists, the
    * io12 index-table storage class); COW cost is bounded by the
    * touched key range, never the corpus; old versions cost only
    * retained storage until vacuum. PipelineSpec pins the sharing
    * mechanics — below-cut groups are REFERENCED by both manifests
    * (same physical paths), exactly one rewrite group exists, and
    * the v1 rollup re-read AFTER a v2 re-commit is byte-identical
    * (isolation). */
  private[graft] val TtBuckets = 8

  /** Writes v1 + the v2 COW rewrite under `dir`, returning the two
    * manifests (lists of file-group paths). */
  private[graft] def timeTravelVersions(spark: SparkSession, sfDir: String,
                                        dir: String): (Seq[String], Seq[String]) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / TtBuckets + 1
    val cut = maxId / 10 * 9
    val cutBkt = (cut / width).toInt
    docs.withColumn("bkt", expr(s"cast(doc_id div $width as int)"))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/v1")
    val groups = new java.io.File(s"$dir/v1").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.toString).sorted.toSeq
    def bktOf(path: String): Int = path.split("bkt=").last.toInt
    // COW rewrite: the touched groups' FULL content (below-cut rows
    // carried unchanged), updates applied, inserts appended. The
    // tail is read back from the just-written TOUCHED GROUPS, not
    // re-derived from the source table — the literal COW mechanism
    // (a rewrite reads only the files it replaces), and at gate
    // scale it cuts one of the source scans to a 1-2 group read.
    val touched = groups.filter(bktOf(_) >= cutBkt)
    val tail = spark.read.parquet(touched: _*)
      .select(ArraySeq.unsafeWrapArray(docs.columns.map(col)): _*)
    val updated = tail
      .withColumn("text", when(col("doc_id") >= cut,
        concat(col("text"), lit("+rev2"))).otherwise(col("text")))
      .withColumn("n_chars", when(col("doc_id") >= cut,
        col("n_chars") + lit(5)).otherwise(col("n_chars")))
    val inserts = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1L))
      .withColumn("lang", lit("xx"))
    updated.unionByName(inserts)
      .write.mode("overwrite").parquet(s"$dir/v2rw")
    val manifests = (groups,
      groups.filter(bktOf(_) < cutBkt) :+ s"$dir/v2rw")
    // the manifests are REAL files (one group path per line under
    // _manifests/), not in-memory lists: commit order is
    // data-files-then-manifest AND the manifest itself lands by
    // write-temp-then-atomic-rename (a bare writeString truncates
    // in place, so a racing reader could see an empty or partial
    // group list — the exact torn state this mechanism exists to
    // rule out), so a reader that resolves version v through
    // [[timeTravelManifest]] can never observe a version whose
    // files are still being written — the atomic-commit half of the
    // isolation story (the immutable-data-file half is spec-pinned)
    Files.createDirectories(Paths.get(s"$dir/_manifests"))
    def commit(v: String, groups: Seq[String]): Unit = {
      val tmp = Paths.get(s"$dir/_manifests/.$v.tmp")
      Files.writeString(tmp, groups.mkString("\n"))
      Files.move(tmp, Paths.get(s"$dir/_manifests/$v"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    commit("v1", manifests._1)
    commit("v2", manifests._2)
    manifests
  }

  /** Resolve a version's file groups through its committed manifest
    * file — the read path a time-travel reader actually takes. */
  private[graft] def timeTravelManifest(dir: String, v: Int): Seq[String] =
    Files.readString(Paths.get(s"$dir/_manifests/v$v"))
      .split("\n").toSeq.filter(_.nonEmpty)

  private def timeTravelGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft_io_tt")
    try {
      timeTravelVersions(spark, sfDir, dir)
      // read BOTH versions strictly through the committed manifests
      val r1 = fingerprint(
          spark.read.parquet(timeTravelManifest(dir, 1): _*))
        .withColumn("version", lit(1L))
      val r2 = fingerprint(
          spark.read.parquet(timeTravelManifest(dir, 2): _*))
        .withColumn("version", lit(2L))
      eager(r1.unionByName(r2))
    } finally deleteRec(new java.io.File(dir))
  }

  private def upsertMerged(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft_io_upsert")
    try {
      upsertMergePlan(spark, sfDir).write.mode("overwrite").parquet(dir)
      eager(fingerprint(spark.read.parquet(dir)))
    } finally deleteRec(new java.io.File(dir))
  }

  private[graft] def dropBucketTables(spark: SparkSession, tag: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft_bkt_orders_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_bkt_lineitem_$tag")
    ()
  }

  private def bucketedJoinGate(spark: SparkSession,
                               sfDir: String): DataFrame =
    // corpus-keyed persisted layout (r9 verdict #6): first touch per
    // corpus writes the bucketed copies, every later invocation is
    // join-only; cross-JVM races resolve via the atomic rename inside
    eager(bucketedJoinCached(spark, sfDir))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "io1_json_roundtrip" -> ((spark, sfDir) => roundTrip(spark, sfDir, "json")),
    "io2_csv_roundtrip" -> ((spark, sfDir) => roundTrip(spark, sfDir, "csv")),
    // ORC: the second columnar interchange format next to parquet —
    // typed, so no dialect pinning needed; same fingerprint gate.
    "io4_orc_roundtrip" -> ((spark, sfDir) => roundTrip(spark, sfDir, "orc")),
    "io3_partitioned_prune" -> ((spark, sfDir) => {
      val (slice, dir) = partitionedReadWithDir(spark, sfDir)
      try eager(fingerprint(slice))
      finally deleteRec(new java.io.File(dir))
    }),
    "io5_bucketed_join" -> bucketedJoinGate _,
    "io8_upsert_merge" -> upsertMerged _,
    "io6_dpp_join" -> ((spark, sfDir) => {
      val dir = tempDir("graft_io_dpp")
      try {
        writeDppFact(spark, sfDir, dir)
        eager(dppJoin(spark, sfDir, dir))
      } finally deleteRec(new java.io.File(dir))
    }),
    "io7_compaction" -> ((spark, sfDir) => {
      val smallDir = tempDir("graft_io_small")
      val outDir = tempDir("graft_io_compact")
      try eager(fingerprint(compactedRead(spark, sfDir, smallDir, outDir)))
      finally {
        deleteRec(new java.io.File(smallDir))
        deleteRec(new java.io.File(outDir))
      }
    }),
    "io9_schema_evolution" -> schemaEvolutionGate _,
    "io10_range_layout" -> ((spark, sfDir) => {
      val dir = tempDir("graft_io_range")
      try {
        rangeLayoutWrite(spark, sfDir, dir)
        eager(eventsFingerprint(spark.read.parquet(dir)))
      } finally deleteRec(new java.io.File(dir))
    }),
    "io11_zorder_layout" -> ((spark, sfDir) => {
      val dir = tempDir("graft_io_zorder")
      try {
        zorderLayoutWrite(spark, sfDir, dir)
        eager(eventsFingerprint(spark.read.parquet(dir)))
      } finally deleteRec(new java.io.File(dir))
    }),
    "io12_bloom_skipping" -> bloomSkippingGate _,
    "io13_time_travel" -> timeTravelGate _)

  /** Schema-identical LAZY plans for the eager gates above: every io
    * gate exports a corpus copy when invoked, so structural specs that
    * only need output SCHEMAS (OutputTypeSpec) read these instead of
    * paying ~9 full round-trip exports per run. Each shape is built
    * from the same final projection/rollup code path as its gate
    * (shared helpers), so a schema drift in the gate shows up here. */
  private[graft] val lazyShapes: Map[String, (SparkSession, String) => DataFrame] = {
    def docsFp(spark: SparkSession, sfDir: String): DataFrame =
      fingerprint(Tables.load(spark, sfDir, "documents"))
    Map(
      "io1_json_roundtrip" -> (docsFp _),
      "io2_csv_roundtrip" -> (docsFp _),
      "io4_orc_roundtrip" -> (docsFp _),
      "io7_compaction" -> (docsFp _),
      "io3_partitioned_prune" -> ((spark, sfDir) =>
        fingerprint(Tables.load(spark, sfDir, "documents")
          .filter(col("lang") === "en"))),
      "io8_upsert_merge" -> ((spark, sfDir) =>
        fingerprint(upsertMergePlan(spark, sfDir))),
      "io5_bucketed_join" -> ((spark, sfDir) =>
        ordersLineitemRollup(
          Tables.load(spark, sfDir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          Tables.load(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice"),
              col("l_discount")))),
      "io6_dpp_join" -> ((spark, sfDir) =>
        dppRollup(spark, sfDir, Tables.load(spark, sfDir, "customer"))),
      "io9_schema_evolution" -> ((spark, sfDir) =>
        evolutionRollup(Tables.load(spark, sfDir, "documents")
          .withColumn("quality", when(col("doc_id") % 2 =!= 0,
            (col("n_chars") % 100).cast("long"))))),
      "io10_range_layout" -> ((spark, sfDir) =>
        eventsFingerprint(Tables.load(spark, sfDir, "events"))),
      "io11_zorder_layout" -> ((spark, sfDir) =>
        eventsFingerprint(Tables.load(spark, sfDir, "events"))),
      "io12_bloom_skipping" -> ((spark, sfDir) =>
        bloomProbeRollup(bloomProbes(spark, sfDir),
          Tables.load(spark, sfDir, "documents"))),
      "io13_time_travel" -> ((spark, sfDir) =>
        fingerprint(Tables.load(spark, sfDir, "documents"))
          .withColumn("version", lit(1L))))
  }

  private def fingerprintSql(where: String): String =
    fingerprintSqlOver(s"documents$where", "")

  /** Same rollup over an arbitrary relation, with optional leading
    * CTEs spliced into the WITH chain. */
  private def fingerprintSqlOver(relation: String, ctes: String): String =
    s"""WITH $ctes f AS (
       |  SELECT source,
       |    md5(concat_ws('|', doc_id, lang, source, n_chars, text)) AS h,
       |    length(text) AS len
       |  FROM $relation)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
       |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT)
       |    AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
       |  CAST(sum(len) AS BIGINT) AS len_total
       |FROM f GROUP BY source""".stripMargin

  val oracle: Map[String, String] = Map(
    "io1_json_roundtrip" -> fingerprintSql(""),
    "io2_csv_roundtrip" -> fingerprintSql(""),
    "io4_orc_roundtrip" -> fingerprintSql(""),
    "io3_partitioned_prune" -> fingerprintSql(" WHERE lang = 'en'"),
    "io7_compaction" -> fingerprintSql(""),
    // the SQL re-derivation of the merge: base minus updated keys,
    // plus the update and insert batches (column lists explicit —
    // UNION ALL matches by position)
    "io8_upsert_merge" -> fingerprintSqlOver("merged",
      """upd AS (
        |  SELECT doc_id, text || '+rev2' AS text, lang, source,
        |    n_chars + 5 AS n_chars
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (
        |  SELECT doc_id + 1000000 AS doc_id, text, 'xx' AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 11 = 0),
        |merged AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM upd
        |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM ins),
        |""".stripMargin),
    // the oracle regenerates generation B's deterministic quality
    // score (odd doc_ids get n_chars % 100, generation A backfills
    // NULL) and re-derives the same NULL-visible fingerprint; the
    // gate passes only if the mergeSchema read reconstructed the
    // union schema and backfill exactly
    "io9_schema_evolution" ->
      """WITH m AS (
        |  SELECT doc_id, lang, source, n_chars, text,
        |    CASE WHEN doc_id % 2 <> 0
        |      THEN CAST(n_chars % 100 AS BIGINT) END AS quality
        |  FROM documents),
        |f AS (
        |  SELECT source, quality,
        |    md5(concat_ws('|', doc_id, lang, source, n_chars, text,
        |      coalesce(quality, -1))) AS h,
        |    length(text) AS len
        |  FROM m)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
        |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
        |  CAST(sum(len) AS BIGINT) AS len_total,
        |  CAST(count(quality) AS BIGINT) AS n_scored
        |FROM f GROUP BY source""".stripMargin,
    // the range-clustered rewrite must be content-lossless — the
    // oracle is the same fingerprint over the ORIGINAL events table
    // (ts hashed as exact integer micros, epoch_us ≡ unix_micros;
    // the double `value` stays out of the md5 and is summed as exact
    // DECIMAL instead)
    "io10_range_layout" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
        |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
        |  CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |    AS value_sum
        |FROM (
        |  SELECT event_type, value,
        |    md5(concat_ws('|', event_id, epoch_us(ts), user_id,
        |      event_type, props)) AS h
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the Z-ordered rewrite must be content-lossless too — io10's
    // fingerprint oracle over the ORIGINAL events table; the 2-D
    // pruning MECHANISM is spec-pinned (per-file min/max rectangles)
    "io11_zorder_layout" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
        |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
        |  CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |    AS value_sum
        |FROM (
        |  SELECT event_type, value,
        |    md5(concat_ws('|', event_id, epoch_us(ts), user_id,
        |      event_type, props)) AS h
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bloom skipping must be result-EXACT: the oracle answers every
    // probe with a plain join over the full table, so a skipped file
    // that actually held a match (a false negative) fails the hash;
    // the SELECTIVITY of the skipping is spec-pinned
    "io12_bloom_skipping" ->
      """WITH probes AS (
        |  SELECT doc_id AS probe_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 20 = 3
        |  UNION ALL
        |  SELECT -doc_id, md5('absent-' || CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 20 = 3)
        |SELECT p.probe_id,
        |  CAST(count(d.doc_id) AS BIGINT) AS n_match,
        |  COALESCE(min(d.doc_id), -1) AS match_doc
        |FROM probes p LEFT JOIN
        |  (SELECT doc_id, md5(text) AS h FROM documents) d
        |  ON d.h = p.h
        |GROUP BY p.probe_id""".stripMargin,
    // both snapshot contents re-derived from the original table:
    // v1 = the corpus as-is, v2 = tail tenth revised io8-style plus
    // the re-keyed inserts; cut/max re-derived with the same integer
    // arithmetic the writer used
    "io13_time_travel" ->
      """WITH m AS (
        |  SELECT (max(doc_id) // 10) * 9 AS cut, max(doc_id) AS mx
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= (SELECT cut FROM m)
        |      THEN text || '+rev2' ELSE text END AS text,
        |    lang, source,
        |    CASE WHEN doc_id >= (SELECT cut FROM m)
        |      THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT mx FROM m) + 1, text, 'xx', source,
        |    n_chars
        |  FROM documents WHERE doc_id % 11 = 0),
        |vv AS (
        |  SELECT 1 AS version, doc_id, text, lang, source, n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT 2, doc_id, text, lang, source, n_chars FROM v2),
        |f AS (
        |  SELECT version, source,
        |    md5(concat_ws('|', doc_id, lang, source, n_chars, text)) AS h,
        |    length(text) AS len
        |  FROM vv)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
        |  CAST(sum(CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT)
        |    AS DECIMAL(38,0))) AS VARCHAR) AS hash_sum,
        |  CAST(sum(len) AS BIGINT) AS len_total,
        |  CAST(version AS BIGINT) AS version
        |FROM f GROUP BY version, source""".stripMargin,
    // the partitioned layout must not change the join's RESULT — the
    // oracle is the plain join over the original parquet
    "io6_dpp_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS acctbal_total
        |FROM customer, nation
        |WHERE c_nationkey = n_nationkey AND n_regionkey = 0
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the bucketed layout must not change the join's RESULT — the
    // oracle is the plain join over the original parquet
    "io5_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders, lineitem WHERE o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
