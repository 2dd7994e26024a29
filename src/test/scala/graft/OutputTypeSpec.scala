package graft

import org.apache.spark.sql.types.{DataType, DecimalType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide output-type rule for driver-gated queries.
  *
  * The driver's oracle compare hashes result values through a
  * serialization that normalizes DECIMAL differently per engine
  * (trailing-zero drop), so ANY DecimalType column in a gated output
  * hash-mismatches even when values are bit-identical. This bit three
  * times (q1/q2/evt1 in r6, then io1-3 in the r6 final commit); this
  * spec makes the rule structural: every `SparkEntry.queries` result
  * schema — including nested struct/array/map element types — must be
  * DECIMAL-free. Use BIGINT/DOUBLE/STRING (exact big sums go through
  * STRING, see CorpusIO.fingerprint) in final projections; DECIMAL is
  * fine internally.
  */
class OutputTypeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def decimalLeaves(dt: DataType, path: String): Seq[String] =
    dt match {
      case _: DecimalType => Seq(path)
      case s: StructType =>
        s.fields.toSeq.flatMap(f => decimalLeaves(f.dataType, s"$path.${f.name}"))
      case a: org.apache.spark.sql.types.ArrayType =>
        decimalLeaves(a.elementType, s"$path[]")
      case m: org.apache.spark.sql.types.MapType =>
        decimalLeaves(m.keyType, s"$path.key") ++
          decimalLeaves(m.valueType, s"$path.value")
      case _ => Nil
    }

  test("no gated query emits a DecimalType column (driver-hash safety)") {
    // the io/dd9 gates run their full corpus export EAGERLY on
    // invocation; for this structural lint use their schema-identical
    // lazy shapes (built from the same shared final-projection code)
    val shapes = graft.pipeline.CorpusIO.lazyShapes ++
      graft.pipeline.Dedup.lazyShapes
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        decimalLeaves(shapes.getOrElse(name, fn)(spark, sf).schema, name)
    }
    assert(offenders.isEmpty,
      s"DECIMAL in gated output schemas: ${offenders.mkString(", ")} — " +
        "cast final columns to BIGINT/DOUBLE/STRING")
  }

  test("lazy shapes cover exactly the eager gates and match the gate keys") {
    val shapes = graft.pipeline.CorpusIO.lazyShapes ++
      graft.pipeline.Dedup.lazyShapes
    val unknown = shapes.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"lazy shapes for unregistered gates: $unknown")
  }
}
