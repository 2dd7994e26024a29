package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The graft SQL function library, listed once. [[graft.engine.GraftExtensions]]
  * injects [[functions]] into sessions built with it; [[register]] adds
  * them to a live session (the session factory and `Tables.registerAll`
  * call it), so sessions built without the extension resolve the same
  * names. Registration replaces by name, so it is idempotent. */
object Catalog {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (CosineSimilarity.name, CosineSimilarity.info, CosineSimilarity.builder),
    (DotProduct.name, DotProduct.info, DotProduct.builder),
    (HyperplaneBands.name, HyperplaneBands.info, HyperplaneBands.builder),
    (CollectCappedLongs.name, CollectCappedLongs.info, CollectCappedLongs.builder),
    (SortedIntersectCount.name, SortedIntersectCount.info, SortedIntersectCount.builder),
    (MinHashSketch.name, MinHashSketch.info, MinHashSketch.builder),
    (SimHashSketch.name, SimHashSketch.info, SimHashSketch.builder),
    (TopKPairs.name, TopKPairs.info, TopKPairs.builder),
    (SrpBandSigs.name, SrpBandSigs.info, SrpBandSigs.builder),
    (CmsSketch.name, CmsSketch.info, CmsSketch.builder),
    (BloomSketch.name, BloomSketch.info, BloomSketch.builder)
  ).map { case (name, info, builder) => (FunctionIdentifier(name), info, builder) }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }
}
