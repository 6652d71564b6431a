package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udaf

/** SQL-callable registrations (SURVEY §2B UDx row: `spark.udf.register`).
  *
  * The Column-API variants in [[VectorFunctions]]/[[TextFunctions]] are the
  * hot paths (codegen'd expressions, no serialization boundary); these
  * registrations expose the same semantics to `spark.sql(...)` users. The
  * UDF wrappers pay one primitive-array conversion per call — fine for
  * interactive SQL, and the Column API remains the 100 TB path.
  *
  * `vec_dot`, `vec_cosine` and `vec_sqdist` are not here: they are SQL
  * names for the native [[DotProduct]] / [[SqDistance]] expressions
  * themselves, injected by [[graft.plans.GraftExtensions]].
  */
object Udx {

  /** Idempotent: registrations overwrite by name. */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("mean_vector", udaf(MeanVector))

    spark.udf.register("simhash64",
      (tokens: Seq[String]) => graft.operators.Dedup.simhash64Value(tokens))
  }
}
