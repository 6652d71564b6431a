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
  * `vec_dot`/`vec_cosine` ([[graft.plans.GraftExtensions]]). Its loop is
  * [[PairFold]], which [[SqDistance]] shares.
  *
  * Preference order for custom scalar ops (project brief): compose
  * built-ins < native Expression < Scala UDF. The built-in composition
  * (`aggregate(zip_with(...))`) is interpreted per element; the UDF pays
  * per-call array conversion. This expression is the top tier: the
  * generated code indexes both unsafe arrays directly.
  *
  * Contract (the [[Vec.dense]] kernel family's):
  *   - null if either array is null (binary-arithmetic null semantics);
  *   - a null ELEMENT fails with [[PairFold.nullElement]] —
  *     `getDouble` on UnsafeArrayData ignores the null bitmap, so an
  *     unguarded loop would silently score a null as 0.0; the guard is
  *     emitted only when a side's array type admits null elements, so
  *     kernel-produced `containsNull=false` inputs pay nothing;
  *   - a length mismatch fails with [[PairFold.ragged]] — a
  *     common-prefix clamp would launder upstream corruption into a
  *     plausible score;
  *   - otherwise the left-to-right IEEE fold, the same accumulation as
  *     the DuckDB oracle's `list_reduce`, so results are bit-identical.
  */
case class DotProduct(left: Expression, right: Expression) extends PairFold {
  protected def kernel = "dot product"
  protected def term(x: Double, y: Double): Double = x * y
  protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API: both inputs cast to array<double> first. */
  def apply(a: Column, b: Column): Column = PairFold.column(DotProduct(_, _), a, b)
}

/** Squared L2 distance, Σ (x − y)², under [[DotProduct]]'s contract and
  * fold order (the same accumulation as a `zip_with`/`aggregate` fold
  * over equal-length, null-free inputs).
  */
case class SqDistance(left: Expression, right: Expression) extends PairFold {
  protected def kernel = "squared distance"
  protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistance =
    copy(left = newLeft, right = newRight)
}

object SqDistance {
  /** Column API: both inputs cast to array<double> first. */
  def apply(a: Column, b: Column): Column = PairFold.column(SqDistance(_, _), a, b)
}

/** The loop [[DotProduct]] and [[SqDistance]] share: a left-to-right sum
  * of `term(x(i), y(i))` over two `array<double>`s, with the contract
  * documented on [[DotProduct]]; `kernel` names the kernel in its errors.
  */
abstract class PairFold extends BinaryExpression {
  protected def kernel: String
  protected def term(x: Double, y: Double): Double
  /** `term` as Java source over two double-valued expressions. */
  protected def termCode(x: String, y: String): String

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
    if (y.numElements() != n) throw PairFold.ragged(kernel, n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i)))
        throw PairFold.nullElement(kernel, i)
      acc += term(x.getDouble(i), y.getDouble(i))
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
             |    throw graft.functions.PairFold.nullElement("$kernel", $i);""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n)
         |  throw graft.functions.PairFold.ragged("$kernel", $n, $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $check
         |  ${ev.value}Acc += ${termCode(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })
}

object PairFold {
  private[functions] def column(k: (Expression, Expression) => PairFold,
                                a: Column, b: Column): Column =
    Bridge.column(k(Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** Called from generated code too — keep it a plain static-shaped helper. */
  def nullElement(kernel: String, i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$kernel: null element at index $i of an input vector — " +
        "filter or impute dirty vectors upstream of the scorer")

  /** Called from generated code too — keep it a plain static-shaped helper. */
  def ragged(kernel: String, n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$kernel: ragged vector: $n vs $m dims — " +
        "filter or repair dirty vectors upstream of the scorer")
}
