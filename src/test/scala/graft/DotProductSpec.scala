package graft

import graft.functions.{DotProduct, VectorFunctions}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's one dot-product kernel: the native expression must agree
  * bit-for-bit with Spark's own fold, survive whole-stage codegen, and
  * hold ONE contract (null array → null; null element / ragged pair →
  * named error; zero-norm cosine → 0.0) through every entry point, with
  * codegen on and off.
  */
class DotProductSpec extends SparkSpec {

  /** Messages of `e` and its causes, joined. */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")

  /** One (a, b) row over an RDD scan, so the optimizer cannot fold or
    * locally evaluate the expressions under test before they run. */
  private def pair(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): DataFrame = {
    val t = ArrayType(DoubleType, containsNull = true)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(a, b)), 1),
      StructType(Seq(StructField("a", t), StructField("b", t))))
  }

  private def d(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  /** Every dot-product entry point over columns a and b. */
  private val entryPoints: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dot" -> (_.select(VectorFunctions.dot(col("a"), col("b")))),
    "l2Norm" -> (_.select(VectorFunctions.l2Norm(col("a")))),
    "cosine" -> (_.select(VectorFunctions.cosine(col("a"), col("b")))),
    "vec_dot" -> (_.select(expr("vec_dot(a, b)"))),
    "vec_cosine" -> (_.select(expr("vec_cosine(a, b)"))))

  /** The exact blocked scorer and the simCol join scorer, over (a, b)
    * spelled as a two-row corpus. */
  private def scorers(a: Seq[java.lang.Double], b: Seq[java.lang.Double])
      : Seq[(String, () => Array[Row])] = {
    import spark.implicits._
    val corpus = Seq((1L, a, 0), (2L, b, 1)).toDF("vec_id", "embedding", "label")
    Seq(
      "bruteForceTopKFor" -> (() => Similarity.bruteForceTopKFor(
        corpus.filter(col("vec_id") === 1L), corpus.filter(col("vec_id") === 2L),
        "vec_id", "embedding", k = 1).collect()),
      "hardNegatives" -> (() => Similarity.hardNegatives(corpus, "vec_id",
        "embedding", "label", k = 1, poolBound = 1L << 32).collect()))
  }

  private val modes = Seq(true, false)

  test("DotProduct == HOF dot, bit-identical, on real embeddings") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the reference is Spark's own interpreted fold, spelled here
    val hof = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") % 17 === col("b.vec_id") % 17 &&
          col("a.vec_id") < col("b.vec_id"))
      .select(DotProduct(col("a.v"), col("b.v")).as("native"), hof.as("hof"))
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(plan.contains("lambda") && plan.contains("dotproduct"), plan.take(600))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("DotProduct stays inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(DotProduct(col("v"), col("v")).as("d"))
    e.collect()
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(500))
  }

  test("null semantics: null if either side is null") {
    for (on <- modes; (name, f) <- entryPoints;
         (a, b) <- Seq[(Seq[java.lang.Double], Seq[java.lang.Double])](
           (null, d(3.0, 4.0)), (d(1.0, 2.0), null))
         if name != "l2Norm" || a == null) {
      val r = withCodegen(on)(f(pair(a, b)).head)
      assert(r.isNullAt(0), s"$name (codegen=$on) on a null array gave ${r.get(0)}")
    }
  }

  test("null ELEMENTS fail loudly (the kernel family's contract)") {
    // getDouble on UnsafeArrayData ignores the null bitmap: unguarded,
    // a null element scores as 0.0 — a plausible-but-wrong similarity
    val dirty = (d(1.0, 2.0, 3.0).updated(1, null), d(1.0, 1.0, 1.0))
    for (on <- modes) {
      val runs = entryPoints.map { case (n, f) =>
          n -> (() => f(pair(dirty._1, dirty._2)).collect()) } ++
        scorers(dirty._1, dirty._2)
      for ((name, run) <- runs) {
        val msgs = causes(intercept[Exception](withCodegen(on)(run())))
        assert(msgs.contains("null element"), s"$name (codegen=$on): $msgs")
      }
    }
  }

  test("ragged pairs fail with the named error at every entry point, codegen on/off") {
    // a common-prefix clamp would score [1,2,5]·[3,4] as 11.0 — a
    // plausible number laundered out of a corrupt row
    for (on <- modes) {
      val runs = entryPoints.filter(_._1 != "l2Norm").map { case (n, f) =>
          n -> (() => f(pair(d(1.0, 2.0, 5.0), d(3.0, 4.0))).collect()) } ++
        scorers(d(1.0, 2.0, 5.0), d(3.0, 4.0))
      for ((name, run) <- runs) {
        val msgs = causes(intercept[Exception](withCodegen(on)(run())))
        // the pair scorers may meet the rows in either order
        assert(msgs.contains("ragged vector: 3 vs 2 dims") ||
          (name == "hardNegatives" && msgs.contains("ragged vector: 2 vs 3 dims")),
          s"$name (codegen=$on): $msgs")
      }
    }
  }

  test("zero-norm vectors score 0.0 at every entry point, codegen on/off") {
    for (on <- modes) {
      for ((name, f) <- entryPoints) {
        val got = withCodegen(on)(f(pair(d(0.0, 0.0), d(1.0, 1.0))).head.getDouble(0))
        assert(got === 0.0, s"$name (codegen=$on)")
      }
      for ((name, run) <- scorers(d(0.0, 0.0), d(1.0, 1.0))) {
        val sims = withCodegen(on)(run()).map(r => r.getAs[Double]("sim"))
        assert(sims.nonEmpty && sims.forall(_ == 0.0), s"$name (codegen=$on): ${sims.toSeq}")
      }
    }
  }

  test("l2Norm, cosine and vec_dot plan to the native dotproduct, with no lambda") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_plan_test")
    val e = spark.table("emb_plan_test")
    for ((name, df) <- Seq(
        "l2Norm" -> e.select(VectorFunctions.l2Norm(col("embedding"))),
        "cosine" -> e.select(VectorFunctions.cosine(col("embedding"), col("embedding"))),
        "vec_dot" -> spark.sql("SELECT vec_dot(embedding, embedding) FROM emb_plan_test"))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("dotproduct") && !plan.contains("lambda"), s"$name: ${plan.take(600)}")
      assert(df.count() > 0)
    }
  }

  test("vec_dot and vec_cosine are the Column API's expressions under SQL names") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val viaSql = df.select(expr("vec_dot(a, b)"), expr("vec_cosine(a, b)"))
    val viaCol = df.select(VectorFunctions.dot(col("a"), col("b")),
      VectorFunctions.cosine(col("a"), col("b")))
    def exprs(df: DataFrame) = df.queryExecution.analyzed.expressions.map {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case other => other
    }
    exprs(viaSql).zip(exprs(viaCol)).foreach { case (s, c) =>
      assert(s.semanticEquals(c), s"$s vs $c")
    }
    assert(viaSql.head === Row(11.0, 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))))
    val e = intercept[Exception](spark.sql("SELECT vec_dot(array(1.0D))").collect())
    assert(causes(e).contains("vec_dot takes 2 arguments"), causes(e))
  }
}
