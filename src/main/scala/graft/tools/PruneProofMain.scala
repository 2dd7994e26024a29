package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.Json
import graft.engine.GraftSession

/** Partition-pruning PROOF at an arbitrary scale factor (r17 verdict
  * #6 — widen the sf10 spot-certification with an io-layout pruning
  * block): writes the io3 static-pruned layout (documents partitioned
  * by `lang`) from the given sfDir, plans the one-language slice, and
  * reports — from the planned scan's OWN catalog listing under its
  * partition filters — how many partition directories and files the
  * scan will touch versus how many exist. A full-hash gate proves the
  * layout returns the right rows; this proves the layout SKIPS the
  * other partitions, which is the property that matters at 100 TB
  * (the sliced read costs 1/N of the corpus, not a filter over all
  * of it). The count()'s physical plan is independently re-planned,
  * so the row count comes from a real execution of the same slice.
  *
  * Prints ONE JSON line:
  *   {"partitions_read":R,"partitions_total":T,"files_read":fr,
  *    "files_total":ft,"partition_filters":"...","rows":n,"sf":"..."}
  *
  * Usage: runMain graft.tools.PruneProofMain [sfDir]
  */
object PruneProofMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.create()
    val df = graft.pipeline.CorpusIO.partitionedRead(spark, sfDir)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(sys.error("no FileSourceScanExec in the pruned plan"))
    require(scan.partitionFilters.nonEmpty,
      "scan carries no partition filters — the predicate did not reach " +
        "the partitioned source")
    val read = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    val total = scan.relation.location.listFiles(Nil, Nil)
    val rows = df.count()
    println(Json.write(ListMap(
      "partitions_read" -> read.length, "partitions_total" -> total.length,
      "files_read" -> read.map(_.files.length).sum,
      "files_total" -> total.map(_.files.length).sum,
      "partition_filters" -> scan.partitionFilters.mkString(" AND "),
      "rows" -> rows, "sf" -> sfDir)))
    spark.stop()
  }
}
