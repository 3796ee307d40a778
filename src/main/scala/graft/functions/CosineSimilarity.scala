package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two float/double
  * array columns, with whole-stage codegen.
  *
  * This is the "promote the hot scalar to a codegen'd Expression" path from
  * SURVEY.md §4: the same sequential left-to-right double accumulation as
  * a SQL `aggregate(zip_with(...))` left-fold, so results are bit-identical
  * and oracle-checkable, but one fused loop — no per-element lambda
  * dispatch, no intermediate arrays. Registered as SQL function
  * `cosine_similarity` by [[GraftExtensions]].
  *
  * Zero-norm input: the result is NaN (0.0 / 0.0), NOT the NULL that a
  * SQL-level `dot / (sqrt(..) * sqrt(..))` division yields. Callers that
  * rank by it assume non-zero vectors.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with VectorBinaryChecks {

  override def prettyNameForCheck: String = "cosine_similarity"

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // mismatch/null-element → null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGet: (String, String) => String =
      if (elemIsFloat(left)) (v, i) => s"(double) $v.getFloat($i)"
      else (v, i) => s"$v.getDouble($i)"
    val rightGet: (String, String) => String =
      if (elemIsFloat(right)) (v, i) => s"(double) $v.getFloat($i)"
      else (v, i) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = ${leftGet(a, i)};
         |    double $yv = ${rightGet(b, i)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}
