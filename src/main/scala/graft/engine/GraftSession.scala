package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: every main, tool and
  * test session runs under the same settings, so the oracle gates the
  * config the bench measures.
  *
  * Per-caller extras (explain string length, AQE off plus
  * [[GraftExtensions]] for learned sessions, streaming progress
  * history) go through `extra`; the shared settings below do not vary.
  */
object GraftSession {
  /** Local cores, also the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** Shuffle/spill scratch ([[ScratchDir]]), resolved once per JVM;
    * None = Spark's default local dir. */
  lazy val scratchDir: Option[String] = ScratchDir.resolve()

  /** Build the local session (or a new session on the running
    * context), then register [[graft.functions.Catalog]] on it. */
  def create(extra: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a 51-query suite run twice blows through the default
      // 100-entry generated-class cache, so a "warm" pass recompiled
      // every stage (warm ≈ cold on codegen-heavy queries)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Synchronous shuffle-file cleanup: the ContextCleaner's async
      // queue lagged behind a long query sequence, so dead shuffle
      // files from early queries accumulated on local disk and the
      // heaviest late queries paid for it (r4: dd2/dd3 28.9 s in-suite
      // vs 5.5 s isolated). Blocking cleanup bounds that backlog at
      // one query.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    val spark = extra(scratchDir.fold(b)(d => b.config("spark.local.dir", d))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Catalog.register(spark)
    spark
  }

  /** Drop what a query left cached on `spark` between per-query runs:
    * cached relations, and the RDD-level persists `clearCache` cannot
    * see (the localCheckpoint blocks of dd6/dd8's CC loop). Blocking,
    * so the removal never overlaps the next query (the same reason as
    * the synchronous shuffle cleanup above). */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
