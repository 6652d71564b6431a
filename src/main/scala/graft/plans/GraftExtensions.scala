package graft.plans

import graft.functions.{DotProduct, SqDistance, VectorFunctions}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** Engine extensions, installed by [[graft.GraftSession]] (or by naming
  * this class in `spark.sql.extensions`):
  *
  *   - the per-key top-k planner strategy (partial heaps before the
  *     shuffle + rank-emitting final) — see [[TopKPerKeyNode]];
  *   - `vec_dot(a, b)`, `vec_cosine(a, b)` and `vec_sqdist(a, b)`, SQL
  *     names for [[VectorFunctions.dot]], [[VectorFunctions.cosine]] and
  *     [[VectorFunctions.sqDist]]: the same native
  *     [[graft.functions.DotProduct]] / [[graft.functions.SqDistance]]
  *     expressions the Column API builds, so SQL and Column callers get
  *     identical plans and values.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectFunction(binary("vec_dot", classOf[DotProduct], VectorFunctions.dot))
    ext.injectFunction(binary("vec_cosine", classOf[DotProduct], VectorFunctions.cosine))
    ext.injectFunction(binary("vec_sqdist", classOf[SqDistance], VectorFunctions.sqDist))
  }

  private def binary(name: String, kernel: Class[_], f: (Column, Column) => Column) =
    (FunctionIdentifier(name),
      new ExpressionInfo(kernel.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name takes 2 arguments, got ${args.length}")
        Bridge.resolvable(f(Bridge.column(args(0)), Bridge.column(args(1))))
      })
}
