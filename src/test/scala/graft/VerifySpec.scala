package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Verify.run` names every failed query instead of only printing it,
  * and still writes the other outputs and `oracle_sql.json`. */
class VerifySpec extends AnyFunSuite {
  import SparkTestSession._

  test("a failing query is returned by name; the other outputs are still written") {
    val out = Files.createTempDirectory("graft-verify").toFile
    val failed = Verify.run(spark, sf, out.getPath, Map(
      "ok_range" -> ((s, _) => s.range(3).toDF("id")),
      "bad_column" -> ((s, _) => s.range(3).selectExpr("no_such_column"))))
    assert(failed == Seq("bad_column"))
    assert(spark.read.parquet(new java.io.File(out, "ok_range").getPath).count() == 3)
    assert(!new java.io.File(out, "bad_column").exists)
    val oracle = Json.readFile(new java.io.File(out, "oracle_sql.json").toPath)
      .properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(oracle.keySet == SparkEntry.oracleSql.keySet)
    assert(oracle == SparkEntry.oracleSql)
  }
}
