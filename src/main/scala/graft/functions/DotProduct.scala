package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The engine's one dot-product kernel: a native Catalyst expression over
  * two `array<double>` columns, with whole-stage codegen (`doGenCode`
  * emits the primitive loop inline in the generated stage — no UDF call
  * boundary, no row conversion, no boxing). Every dot-product entry point
  * builds it: [[VectorFunctions]]' `dot`/`l2Norm`/`cosine`, the exact
  * similarity joins in [[graft.operators.Similarity]], and the SQL names
  * `vec_dot`/`vec_cosine` ([[graft.plans.GraftExtensions]]).
  *
  * Preference order for custom scalar ops (project brief): compose
  * built-ins < native Expression < Scala UDF. The built-in composition
  * (`aggregate(zip_with(...))`) is interpreted per element; the UDF pays
  * per-call array conversion. This expression is the top tier: the
  * generated code indexes both unsafe arrays directly.
  *
  * Contract (the [[Vec.dense]] kernel family's):
  *   - null if either array is null (binary-arithmetic null semantics);
  *   - a null ELEMENT fails with [[DotProduct.nullElement]] —
  *     `getDouble` on UnsafeArrayData ignores the null bitmap, so an
  *     unguarded loop would silently score a null as 0.0; the guard is
  *     emitted only when a side's array type admits null elements, so
  *     kernel-produced `containsNull=false` inputs pay nothing;
  *   - a length mismatch fails with [[DotProduct.ragged]] — a
  *     common-prefix clamp would launder upstream corruption into a
  *     plausible score;
  *   - otherwise the left-to-right IEEE fold, the same accumulation as
  *     the DuckDB oracle's `list_reduce`, so results are bit-identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are guaranteed array<double> by the Column-API constructor's
  // casts (ExpectsInputTypes is private[sql] in Spark 4)
  override def dataType: DataType = DoubleType

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, cn) => cn
    case _ => true
  }
  @transient private lazy val guard =
    mayHaveNullElems(left) || mayHaveNullElems(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n) throw DotProduct.ragged(n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i)))
        throw DotProduct.nullElement(i)
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val check =
        if (guard)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i))
             |    throw graft.functions.DotProduct.nullElement($i);""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n)
         |  throw graft.functions.DotProduct.ragged($n, $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $check
         |  ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API: both inputs cast to array<double> first. */
  def apply(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    Bridge.column(DotProduct(Bridge.expression(ad), Bridge.expression(bd)))
  }

  /** Called from generated code too — keep it a plain static-shaped helper. */
  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"dot product: null element at index $i of an input vector — " +
        "filter or impute dirty vectors upstream of the scorer")

  /** Called from generated code too — keep it a plain static-shaped helper. */
  def ragged(n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"dot product: ragged vector: $n vs $m dims — " +
        "filter or repair dirty vectors upstream of the scorer")
}
