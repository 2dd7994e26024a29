package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `|A ∩ B|` of two SORTED, DISTINCT long arrays as a single merge
  * pass — the set-overlap kernel of exact-Jaccard verification
  * (`pipeline/Dedup.scala` dd2/dd3).
  *
  * Why it exists: `size(array_intersect(ha, hb))` builds a hash set of
  * one side, MATERIALIZES the intersection as a new array, then counts
  * it — per candidate pair. Verification only needs the COUNT, and the
  * per-doc shingle arrays are built once (sorted at materialization),
  * so a two-pointer merge does it with zero allocation and no
  * hashing: O(|A|+|B|) per pair, branch-light, inside whole-stage
  * codegen.
  *
  * PRECONDITION (caller-enforced, spec-checked against
  * `array_intersect` on the real corpus): both inputs ascending-sorted
  * and duplicate-free — exactly what `sort_array(array_distinct(...))`
  * produces. Unsorted input would silently undercount, which is why
  * the only call sites are the dedup verifiers that own the array
  * construction.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = SortedIntersectCount.name

  private def elementsNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    if (elementsNullable) {
      var k = 0
      while (k < n) {
        if (x.isNullAt(k)) throw new IllegalArgumentException(
          s"$prettyName: null array element at index $k")
        k += 1
      }
      k = 0
      while (k < m) {
        if (y.isNullAt(k)) throw new IllegalArgumentException(
          s"$prettyName: null array element at index $k")
        k += 1
      }
    }
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      val nullCheck = if (elementsNullable)
        s"""for (int $k = 0; $k < $n; $k++) {
           |  if ($a.isNullAt($k)) throw new IllegalArgumentException(
           |    "$prettyName: null array element at index " + $k);
           |}
           |for (int $k = 0; $k < $m; $k++) {
           |  if ($b.isNullAt($k)) throw new IllegalArgumentException(
           |    "$prettyName: null array element at index " + $k);
           |}""".stripMargin
      else ""
      // identical arithmetic to nullSafeEval (spec asserts parity)
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |$nullCheck
         |long $c = 0L;
         |int $i = 0, $j = 0;
         |while ($i < $n && $j < $m) {
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val name = "graft_sorted_intersect_count"

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SortedIntersectCount].getName, null, name,
    "_FUNC_(a, b) - |a intersect b| of two ascending-sorted distinct " +
      "bigint arrays (two-pointer merge; undefined on unsorted input).",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    SortedIntersectCount(children(0), children(1))
  }
}
