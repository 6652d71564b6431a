package graft

import graft.functions.NearestCells
import graft.operators.KMeans
import org.apache.spark.sql.functions._

/** Parity + contract tests for the native nearest-centroid expression
  * that replaced the IVF-family cell/probe UDFs and the k-means metrics'
  * HOF argmin: same argmin, same (distance, index) probe order, same
  * ragged-vector loud failure.
  */
class NearestCellsSpec extends SparkSpec {

  private val rng = new scala.util.Random(42)
  private val dim = 8
  private val nlist = 16
  private val centroids: Array[Array[Double]] = {
    val base = Array.fill(nlist - 1)(Array.fill(dim)(rng.nextDouble()))
    base :+ base(3).clone() // duplicated centroid: distance ties exist
  }

  /** The exact scan the replaced UDFs ran — the reference semantics. */
  private def udfBest(a: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(i) - centroids(c)(i); acc += d * d; i += 1 }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }
  private def udfProbes(a: Array[Double], nprobe: Int): Seq[Int] =
    centroids.indices.map { c =>
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(i) - centroids(c)(i); acc += d * d; i += 1 }
      (acc, c)
    }.sortBy(t => (t._1, t._2)).take(nprobe).map(_._2)

  private def vecsDf(vs: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
  }

  test("cell assign matches the UDF scan, incl. exact-hit and tie rows") {
    val k = NearestCells.kernel(centroids)
    val vecs = (0L until 200L).map(i => i -> Array.fill(dim)(rng.nextDouble())) ++
      Seq(200L -> centroids(3).clone(),   // exact hit on a DUPLICATED centroid
          201L -> centroids(7).clone())   // exact hit, unique centroid
    val got = vecsDf(vecs)
      .select(col("id"), NearestCells.cell(col("v"), k).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, v) <- vecs)
      assert(got(id) === udfBest(v), s"cell mismatch for id=$id")
    // the duplicated-centroid tie resolves to the FIRST index (3, not 15)
    assert(got(200L) === 3)
  }

  test("probe list matches the UDF sortBy((dist, index)) order") {
    val k = NearestCells.kernel(centroids)
    // nprobe = 1 must still be a LIST (array<int> of one id) — cell
    // mode is an explicit flag, not inferred — so explode() over a
    // 1-probe search keeps working
    for (nprobe <- Seq(1, 2, 4, nlist, nlist + 5)) {
      val vecs = (0L until 50L).map(i => i -> Array.fill(dim)(rng.nextDouble())) :+
        (50L -> centroids(3).clone()) // tie at distance 0 between cells 3 and 15
      val got = vecsDf(vecs)
        .select(col("id"), NearestCells.probes(col("v"), k, nprobe).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      for ((id, v) <- vecs)
        assert(got(id) === udfProbes(v, nprobe), s"probe mismatch id=$id nprobe=$nprobe")
      assert(got(50L).take(2) === Seq(3, 15).take(math.min(2, nprobe)))
    }
  }

  test("ragged vector fails loudly with the contract message") {
    val k = NearestCells.kernel(centroids)
    // surfaces as IllegalArgumentException when the plan evaluates
    // driver-side (local relation) and SparkException-wrapped in a task
    val e = intercept[Exception] {
      vecsDf(Seq(1L -> Array.fill(dim + 3)(0.5)))
        .select(NearestCells.cell(col("v"), k)).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("; ")
    assert(msgs.contains("ragged vector"))
  }

  test("ragged centroid matrix is rejected at kernel build") {
    val e = intercept[IllegalArgumentException] {
      NearestCells.kernel(Array(Array(1.0, 2.0), Array(1.0)))
    }
    assert(e.getMessage.contains("ragged centroid matrix"))
  }

  test("kernel argmin equals the metric's array_position(array_min) on adversarial rows") {
    // ties, zeros, signed values (SqEuclidean's |x| - |c| quirk maps -c
    // onto c), distances that overflow to +Inf, and NaN from a NaN
    // element or from Inf - Inf. The expression's rule — first index of
    // the minimum, NaN above +Inf — is the one the kernel must follow;
    // a NaN centroid placed first pins the NaN-vs-Inf order.
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val base = Array(Array(1.0, 2.0, 3.0), Array(0.0, 0.0, 0.0),
      Array(1.0, 2.0, 3.0), Array(-4.0, 5.0, -6.0), Array(1e200, 0.0, 0.0),
      Array(nan, 1.0, 1.0))
    val rows = Seq(Seq(1.0, 2.0, 3.0), Seq(-1.0, -2.0, -3.0), Seq(0.0, 0.0, 0.0),
      Seq(-0.0, 0.0, -0.0), Seq(4.0, 5.0, 6.0), Seq(-4.0, -5.0, 6.0),
      Seq(1e200, 0.0, 0.0), Seq(-1e200, 1e200, 0.0), Seq(1e300, 1e300, 1e300),
      Seq(nan, 0.0, 0.0), Seq(0.0, nan, 0.0), Seq(inf, 0.0, 0.0),
      Seq(-inf, 1.0, 1.0), Seq(inf, inf, inf)) ++
      Seq.fill(40)(Seq.fill(3)((rng.nextInt(11) - 5).toDouble))
    val df = vecsDf(rows.zipWithIndex.map { case (v, i) => i.toLong -> v.toArray })
    for (cents <- Seq(base, base.last +: base.init);
         metric <- Seq(KMeans.SqEuclidean, KMeans.EuclideanSq)) {
      val k = NearestCells.kernel(cents, absolute = metric == KMeans.SqEuclidean)
      val dists = array(cents.map(c => metric.dist(col("v"), c.toSeq)).toIndexedSeq: _*)
      val got = df.select(col("id"), NearestCells.cell(col("v"), k).as("kernel"),
          (array_position(dists, array_min(dists)) - 1).cast("int").as("expr"))
        .collect()
      for (r <- got)
        assert(r.getInt(1) === r.getInt(2),
          s"$metric row ${rows(r.getLong(0).toInt)}: kernel cell ${r.getInt(1)}, " +
            s"expression cell ${r.getInt(2)}")
    }
  }
}
