package graft.tools

/** Dump `explain("formatted")` for a named subset of SparkEntry
  * queries into per-query files — the before/after plan evidence the
  * optimization rounds commit under `plans/r<N>/`.
  *
  * Usage: runMain graft.tools.PlanDumpMain <sfDir> <outDir> <suffix> q1,q2,...
  * Writes <outDir>/<query>_<suffix>.txt. Iterative queries (pr2, dd6…)
  * execute their driver loop during plan construction; the dumped plan
  * is the returned frame's (the per-round shape is in the narrative).
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.engine.GraftSession.create(
      _.config("spark.sql.maxMetadataStringLength", "10000"))
    graft.engine.Tables.registerAll(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      graft.engine.GraftSession.clearCaches(spark)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        s"== $name @ $sfDir ==\n$txt")
      println(s"dumped $name")
    }
    spark.stop()
  }
}
