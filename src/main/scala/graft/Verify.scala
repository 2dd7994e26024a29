package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import graft.engine.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * fails is named on stderr and the others still run; the process then
  * exits 1, after every other output and oracle_sql.json is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated name filter — local debugging
    // only; the driver always invokes with exactly two args]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val failed = run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write each query's result to `outDir/<name>` and the oracle SQL to
    * `outDir/oracle_sql.json`; returns the names of the queries that
    * failed, in run order. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // drop per-query sketch materializations (see Dedup persists) so
      // 60+ queries in one JVM don't accumulate cached partitions
      graft.engine.GraftSession.clearCaches(spark)
      err
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    failed
  }
}
