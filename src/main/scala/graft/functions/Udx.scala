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
  * `vec_dot` and `vec_cosine` are not here: they are SQL names for the
  * native [[DotProduct]] expressions themselves, injected by
  * [[graft.plans.GraftExtensions]]. `vec_sqdist` stays a UDF (there is
  * no native squared-distance expression to share) under the same
  * contract: null-in-null-out, named errors on a null element or a
  * ragged pair.
  */
object Udx {

  /** Idempotent: registrations overwrite by name. */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("mean_vector", udaf(MeanVector))

    // BOXED element type + explicit null checks: the native siblings
    // (DotProduct & co.) are null-in-null-out for null
    // arguments and fail with the family's pointed message on null
    // ELEMENTS — an Array[Double]-typed UDF instead died in the
    // encoder with Spark's opaque NOT_NULL_ASSERT_VIOLATION, and an
    // unguarded null argument NPE'd. "Same semantics to spark.sql
    // users" includes the dirty rows.
    def checked(v: java.lang.Double, i: Int): Double = {
      if (v == null) throw new IllegalArgumentException(
        s"vec_sqdist: null element at index $i of an input vector — " +
          "filter or impute dirty vectors upstream of the scorer")
      v.doubleValue()
    }

    spark.udf.register("vec_sqdist",
      (a: Seq[java.lang.Double], b: Seq[java.lang.Double]) => {
        if (a == null || b == null) null
        else {
          if (a.length != b.length) throw new IllegalArgumentException(
            s"vec_sqdist: ragged vector: ${a.length} vs ${b.length} dims — " +
              "filter or repair dirty vectors upstream of the scorer")
          var acc = 0.0
          val n = a.length
          var i = 0
          while (i < n) {
            val d = checked(a(i), i) - checked(b(i), i)
            acc += d * d; i += 1
          }
          Double.box(acc)
        }
      }: java.lang.Double)

    spark.udf.register("simhash64",
      (tokens: Seq[String]) => graft.operators.Dedup.simhash64Value(tokens))
  }
}
