package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the vector dot product — the
  * SURVEY.md §4.3 "custom Expression with codegen" fast path for SIM
  * operators: participates in whole-stage codegen (a tight primitive
  * loop over the Tungsten array representation), unlike higher-order
  * function folds (interpreted, boxed) or Scala UDFs (boxed + no
  * codegen).
  *
  * Each side may be `array<float>` or `array<double>` (independently):
  * raw parquet embeddings are float, while trained IVF centroids
  * ([[graft.operators.Similarity.trainCentroids]]) are rounded double
  * arrays. Elements are widened to double before multiply, so the
  * float/float case is unchanged from the original float-only version.
  *
  * Arithmetic is identical to the `zip_with`+`aggregate` fold it
  * replaces: left-to-right accumulation in double of element
  * products — so DuckDB-oracle results are unchanged bit-for-bit
  * (float→double widening is exact).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"${left.dataType} and ${right.dataType}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_vector_dot"

  override def nullable: Boolean = true

  private def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], isDouble(left.dataType),
      b.asInstanceOf[ArrayData], isDouble(right.dataType))

  // VectorKernels.dot's loop, generated inline: the kernel's nullable
  // result is a boxed Double, one allocation per row on the hottest
  // expression of every similarity plan.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for every local: multiple dot expressions can land in
      // ONE codegen scope (e.g. dot(a,b) and the two norms in a cosine
      // projection) and fixed names would fail janino compilation —
      // which silently falls back to interpreted eval.
      val n = ctx.freshName("fvdN")
      val s = ctx.freshName("fvdS")
      val i = ctx.freshName("fvdI")
      // Element getter picked at CODEGEN time from the child's type —
      // no per-row branching in the generated loop.
      def get(v: String, dbl: Boolean) =
        if (dbl) s"$v.getDouble($i)" else s"(double) $v.getFloat($i)"
      val xv = get(a, isDouble(left.dataType))
      val yv = get(b, isDouble(right.dataType))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $xv * $yv;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  /** Column-level entry point. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(FloatVectorDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
