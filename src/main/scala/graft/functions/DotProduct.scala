package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two double arrays — the norm-free sibling
  * of [[CosineSimilarity]], for kernels that amortize the norms.
  *
  * Why it exists: `graft_cosine(a, b)` recomputes BOTH self-norms
  * inside every pair evaluation — three multiply-adds per element.
  * The all-pairs kernels (kNN join: N²·k pair scores over a corpus
  * of N fixed vectors) can compute each row's norm ONCE
  * (`sqrt(graft_dot(v, v))`, same left-to-right accumulation as the
  * fused kernel's self-norm term) and score pairs with a single
  * fused dot loop — one third of the floating-point work on the hot
  * path, bit-identical results:
  * `graft_dot(a,b) / (na * nb)` performs exactly the operations of
  * `graft_cosine`'s final `dot / (sqrt(na2) * sqrt(nb2))`.
  *
  * Input contract matches [[CosineSimilarity]]: equal lengths,
  * element-non-null, else raise.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

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
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch ($n vs ${y.numElements()})")
    val checkNulls = elementsNullable
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i)))
        throw new IllegalArgumentException(
          s"$prettyName: null array element at index $i")
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nullCheck = if (elementsNullable)
        s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |    throw new IllegalArgumentException(
           |      "$prettyName: null array element at index " + $i);
           |  }""".stripMargin
      else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: array length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val name = "graft_dot"

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[DotProduct].getName, null, name,
    "_FUNC_(a, b) - dot product of two numeric arrays.",
    "", "", "", "", "", "", "built-in")

  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$name expects 2 arguments")
    DotProduct(Cast(children(0), ArrayType(DoubleType)),
      Cast(children(1), ArrayType(DoubleType)))
  }
}
