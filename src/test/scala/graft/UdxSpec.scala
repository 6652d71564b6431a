package graft

import graft.functions.{Udx, VectorFunctions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL-registered UDx surface (SURVEY §2B UDx row): each registration must
  * be callable from spark.sql and agree with its Column-API hot path.
  */
class UdxSpec extends SparkSpec {

  test("registered functions agree with the Column API") {
    Udx.registerAll(spark)
    Tables.embeddings(spark, sf).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .limit(50).createOrReplaceTempView("emb_v")

    val viaSql = spark.sql(
      """SELECT a.vec_id AS qa, b.vec_id AS qb,
                vec_dot(a.v, b.v) AS d, vec_cosine(a.v, b.v) AS c,
                vec_sqdist(a.v, b.v) AS s
         FROM emb_v a JOIN emb_v b ON a.vec_id < b.vec_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

    val viaCol = spark.table("emb_v").as("a")
      .join(spark.table("emb_v").as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VectorFunctions.dot(col("a.v"), col("b.v")).as("d"),
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("c"),
        VectorFunctions.sqDist(col("a.v"), col("b.v")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

    assert(viaSql.nonEmpty && viaSql.keySet === viaCol.keySet)
    // vec_dot/vec_cosine/vec_sqdist ARE the Column API's expressions:
    // exact equality
    viaSql.foreach { case (k, (d, c, s)) =>
      val (d2, c2, s2) = viaCol(k)
      assert(d === d2 && c === c2 && s === s2, s"$k")
    }
  }

  test("vec_* SQL UDFs are null-in-null-out like their Column siblings") {
    import spark.implicits._
    graft.functions.Udx.registerAll(spark)
    Seq((Seq(1.0, 2.0), Option.empty[Seq[Double]])).toDF("a", "b")
      .createOrReplaceTempView("nullvec")
    val r = spark.sql(
      "SELECT vec_dot(a, b), vec_cosine(b, a), vec_sqdist(a, b) FROM nullvec")
      .head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // null ELEMENTS and ragged pairs get the family's pointed messages,
    // not the encoder's opaque NOT_NULL_ASSERT_VIOLATION or a
    // common-prefix sum
    for (f <- Seq("vec_dot", "vec_cosine", "vec_sqdist");
         (args, want) <- Seq(
           ("array(1.0, CAST(NULL AS DOUBLE)), array(1.0, 1.0)", "null element"),
           ("array(1.0, 2.0, 5.0), array(3.0, 4.0)", "ragged vector: 3 vs 2 dims"))) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $f($args)").collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
      assert(msgs.contains(want), s"$f($args) -> $msgs")
    }
  }

  test("sqDist and vec_sqdist share one contract on dirty rows, codegen on/off") {
    // one (a, b) row over an RDD scan, so the optimizer cannot fold the
    // expression before it runs
    def pair(a: Seq[java.lang.Double], b: Seq[java.lang.Double]) = {
      val t = ArrayType(DoubleType, containsNull = true)
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(a, b)), 1),
        StructType(Seq(StructField("a", t), StructField("b", t))))
    }
    def d(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val spellings = Seq[(String, DataFrame => DataFrame)](
      "sqDist" -> (_.select(VectorFunctions.sqDist(col("a"), col("b")))),
      "vec_sqdist" -> (_.select(expr("vec_sqdist(a, b)"))))
    for ((name, f) <- spellings; on <- Seq(true, false)) {
      def run(a: Seq[java.lang.Double], b: Seq[java.lang.Double]) =
        withCodegen(on)(f(pair(a, b)).collect().head)
      assert(run(d(1.0, 2.0), d(4.0, 6.0)).getDouble(0) === 25.0, s"$name (codegen=$on)")
      assert(run(d(1.0, 2.0), null).isNullAt(0), s"$name (codegen=$on)")
      assert(run(null, d(1.0)).isNullAt(0), s"$name (codegen=$on)")
      for ((a, b, want) <- Seq(
          (d(1.0, null), d(1.0, 1.0), "null element at index 1"),
          (d(1.0, 1.0), d(null, 1.0), "null element at index 0"),
          (d(1.0, 2.0, 5.0), d(3.0, 4.0), "ragged vector: 3 vs 2 dims"),
          (d(3.0, 4.0), d(1.0, 2.0, 5.0), "ragged vector: 2 vs 3 dims"))) {
        val e = intercept[Exception](run(a, b))
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
        assert(msgs.contains(want), s"$name (codegen=$on) on ($a, $b): $msgs")
      }
    }
  }

  test("mean_vector fails loudly on ragged vectors (order-independent)") {
    // unguarded, whichever vector a partition reduced first fixed the
    // dimension: longer tails silently dropped OR a bare index error,
    // depending on row order
    import spark.implicits._
    val df = Seq((1, Seq(1.0)), (1, Seq(1.0, 2.0))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g")
        .agg(org.apache.spark.sql.functions.udaf(graft.functions.MeanVector)
          .apply(col("v"))).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("ragged vector"), msgs)
  }

  test("mean_vector UDAF callable from SQL") {
    Udx.registerAll(spark)
    Tables.embeddings(spark, sf)
      .select((col("vec_id") % 2).as("g"),
        col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("emb_g")
    val m = spark.sql("SELECT g, mean_vector(v) AS m FROM emb_g GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val avg0 = spark.sql(
      "SELECT g, avg(v[0]) FROM emb_g GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.keySet === Set(0L, 1L))
    m.foreach { case (g, vec) =>
      assert(vec.size === 64)
      assert(math.abs(vec.head - avg0(g)) < 1e-9)
    }
  }

  test("simhash64 callable from SQL, equals the operator value") {
    Udx.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT simhash64(split('a b c', ' ')) AS fp").head.getLong(0)
    assert(viaSql === graft.operators.Dedup.simhash64Value(Seq("a", "b", "c")))
  }

  test("Int8Checksum native expression equals the interpreted HOF composition") {
    // same arithmetic, two execution paths: the generated loop must be
    // bit-identical to transform/array_max/aggregate over every real
    // embedding (incl. negative components) and the zero vector
    val v = transform(col("embedding"), x => x.cast("double"))
    val mx = array_max(transform(v, x => abs(x)))
    val codes = transform(v,
      x => floor(x * lit(127.0) / mx + lit(0.5)).cast("long"))
    val cs = graft.functions.Int8Checksum(col("embedding"))
    val zero = Tables.embeddings(spark, sf).limit(1)
      .select(lit(0L).as("vec_id"),
        expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding"))
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(zero)
      .select(col("vec_id"),
        cs.getItem(0).as("n_sum"), cs.getItem(1).as("n_max"),
        when(mx === 0d, lit(0L))
          .otherwise(aggregate(codes, lit(0L), (a, b) => a + b)).as("h_sum"),
        when(mx === 0d, lit(0L))
          .otherwise(array_max(transform(codes, c => abs(c)))).as("h_max"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"sum mismatch vec ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(4), s"absmax mismatch vec ${r.getLong(0)}")
    }
    // non-zero vectors must pin the top code at exactly 127
    assert(rows.filter(_.getLong(0) > 0).forall(_.getLong(2) == 127L))
  }

  test("AdcScore native expression equals the boxed reference computation") {
    // the PQ hot path: Σ tab[mi*nCodes + code[mi]], generated loop vs a
    // driver-side fold over the same rows — must be bit-identical
    // (same left-to-right double accumulation)
    import spark.implicits._
    val nCodes = 4
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(50) { i =>
      (i.toLong,
        Seq.fill(8)(rnd.nextInt(nCodes)),
        Seq.fill(8 * nCodes)(rnd.nextDouble() * 2 - 1))
    }
    val got = rows.toDF("id", "code", "tab")
      .select(col("id"),
        graft.functions.AdcScore(col("code"), col("tab"), nCodes).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, code, tab) =>
      var d = 0.0
      var mi = 0
      while (mi < code.length) { d += tab(mi * nCodes + code(mi)); mi += 1 }
      assert(got(id) === d, s"ADC mismatch id $id")
    }
  }
}
