package graft

import graft.operators.KMeans
import graft.operators.KMeans.{EuclideanSq, Metric, Normalized, SqEuclidean}
import org.apache.spark.sql.DataFrame

/** `KMeans.lloyd` against a plain-Scala Lloyd replay on a generated,
  * integer-valued fixture: every per-cluster sum is exact in a double,
  * so the centres must match bit for bit whatever the partitioning, the
  * merge order or AQE. Needs no reference bytes.
  */
class KMeansLloydSpec extends SparkSpec {

  private val dim = 6
  private val metrics: Seq[Metric] =
    Seq(SqEuclidean, EuclideanSq, Normalized(), Normalized(zeroSafe = false))

  /** 240 rows around four signed profiles. A profile's 0 coordinates
    * stay 0 (so Normalized meets 0/0 against a centre), and one reading
    * in twelve is a literal 0, as pm25.txt writes a missing reading.
    */
  private val rows: IndexedSeq[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    val profiles = IndexedSeq(Array(0, 3, 12, 20, -5, 40), Array(30, 0, -8, 2, 17, 9),
      Array(-25, 14, 0, 33, 6, -2), Array(60, 50, 41, 0, -30, 22))
    (0 until 240).map { i =>
      val p = profiles(i % profiles.size)
      Array.tabulate(dim) { j =>
        if (p(j) == 0 || rnd.nextInt(12) == 0) 0.0 else (p(j) + rnd.nextInt(9) - 4).toDouble
      }
    }
  }
  /** Seeds: three rows, then the first one again — the duplicate loses
    * every tie to its twin, so its cluster is empty in the first round.
    */
  private val seeds: Array[Array[Double]] = Array(rows(0), rows(5), rows(10), rows(0))

  private def frame(parts: Int): DataFrame = {
    import spark.implicits._
    rows.map(_.toSeq).toDF("vec").repartition(parts)
  }

  /** Each metric's expression distance, term for term: left-to-right
    * from 0.0, `pow` as StrictMath.pow.
    */
  private def dist(m: Metric, p: Array[Double], q: Array[Double]): Double =
    p.indices.foldLeft(0.0) { (acc, i) =>
      val (a, b) = (p(i), q(i))
      acc + (m match {
        case EuclideanSq => (a - b) * (a - b)
        case SqEuclidean => StrictMath.pow(math.abs(a) - math.abs(b), 2)
        case Normalized(zeroSafe) =>
          val den = math.abs(a) + math.abs(b)
          if (zeroSafe && den == 0.0) 0.0
          else StrictMath.pow((math.abs(a) - math.abs(b)) / den, 2)
      })
    }

  /** `array_position(d, array_min(d))`: first index of the minimum, NaN
    * above every number.
    */
  private def argmin(d: Array[Double]): Int =
    d.indices.foldLeft(0) { (b, c) =>
      if (d(c) < d(b) || (d(b).isNaN && !d(c).isNaN)) c else b
    }

  private def replay(m: Metric, init: Array[Array[Double]], maxIter: Int,
                     stopOnZeroDelta: Boolean = false): KMeans.Fit = {
    var centers = init.map(_.clone())
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val members = rows.groupBy(v => argmin(centers.map(dist(m, v, _))))
      val next = centers.indices.map { c =>
        members.get(c).fold(centers(c)) { vs =>
          Array.tabulate(dim)(i => vs.map(_(i)).sum / vs.size.toDouble)
        }
      }.toArray
      iter += 1
      if (stopOnZeroDelta)
        converged = centers.zip(next).map { case (a, b) => m.distLocal(a, b) }.sum == 0.0
      centers = next
    }
    KMeans.Fit(centers, iter, converged)
  }

  private def bits(cs: Array[Array[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq

  test("centres equal the plain-Scala replay bit for bit under every metric") {
    val df = frame(4)
    for (m <- metrics) {
      val fit = KMeans.lloyd(df, "vec", seeds, m, maxIter = 4)
      val want = replay(m, seeds, 4)
      assert(bits(fit.centers) === bits(want.centers), s"$m")
      assert(fit.iterations === 4 && !fit.converged, s"$m")
    }
  }

  test("centres do not depend on the partition count or AQE") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    try {
      for (aqe <- Seq("true", "false"); parts <- Seq(1, 3, 7); m <- metrics) {
        spark.conf.set(key, aqe)
        val fit = KMeans.lloyd(frame(parts), "vec", seeds, m, maxIter = 3)
        assert(bits(fit.centers) === bits(replay(m, seeds, 3).centers),
          s"$m at $parts partitions, AQE $aqe")
      }
    } finally spark.conf.set(key, before)
  }

  test("an empty cluster keeps its previous centre") {
    for (m <- metrics) {
      val fit = KMeans.lloyd(frame(3), "vec", seeds, m, maxIter = 1)
      assert(bits(Array(fit.centers(3))) === bits(Array(seeds(3))), s"$m")
      assert(bits(Array(fit.centers(0))) !== bits(Array(seeds(0))), s"$m")
    }
  }

  test("stopOnZeroDelta stops at the replay's round") {
    for (m <- metrics) {
      val fit = KMeans.lloyd(frame(3), "vec", seeds, m, maxIter = 30,
        stopOnZeroDelta = true)
      val want = replay(m, seeds, 30, stopOnZeroDelta = true)
      // zeroSafe = false: a centre coordinate that stays 0 makes the
      // 0/0 delta NaN, which never reads 0 — it runs all 30 rounds
      assert(want.converged === (m != Normalized(zeroSafe = false)), s"$m")
      assert((fit.iterations, fit.converged) === (want.iterations, want.converged), s"$m")
      assert(bits(fit.centers) === bits(want.centers), s"$m")
    }
  }

  test("WCSS does not increase across Lloyd rounds (squared Euclidean)") {
    // the |x| - |c| metric is a squared Euclidean distance only between
    // same-signed vectors: train on the rows' absolute values
    import spark.implicits._
    val df = rows.map(_.map(math.abs).toSeq).toDF("vec").repartition(3)
    for (m <- Seq(SqEuclidean, EuclideanSq)) {
      var centers = seeds.map(_.map(math.abs))
      var prev = Double.MaxValue
      (1 to 5).foreach { round =>
        val w = KMeans.wcss(df, "vec", centers, m)
        assert(w <= prev, s"$m: WCSS rose from $prev to $w in round $round")
        prev = w
        centers = KMeans.lloyd(df, "vec", centers, m, maxIter = 1).centers
      }
    }
  }

  test("each round is one job of one stage") {
    import spark.implicits._
    // cached by the caller, and not: a local frame with no shuffle, whose
    // vector cache is filled by round 1's own job
    val cached = frame(3).persist()
    cached.count()
    val uncached = rows.map(_.toSeq).toDF("vec")
    for ((input, df) <- Seq("cached" -> cached, "uncached" -> uncached); m <- metrics) {
      val (fit, ran) = jobsOf(KMeans.lloyd(df, "vec", seeds, m, maxIter = 3))
      assert(ran === Ran(fit.iterations, fit.iterations), s"$m, $input input")
    }
    cached.unpersist()
  }

  test("a round assigns every row to the cluster KMeans.assign gives it") {
    import spark.implicits._
    // centre 0 has zero coordinates, so under Normalized(zeroSafe = false)
    // a row with zeros there is NaN from centre 0 and must fall through
    // to a finite later centre; centre 4 duplicates centre 1 (every
    // distance ties)
    val centers = Array(Array(0.0, 5.0, 0.0), Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0),
      Array(-1.0, 0.0, 4.0), Array(1.0, 2.0, 3.0))
    val rnd = new scala.util.Random(5)
    val edge = Seq(
      Array(2.0, 2.0, 2.0),                 // ties centres 1, 2 and 4
      Array(-2.0, -2.0, -2.0),              // the same under |.|, not under EuclideanSq
      Array(0.0, 5.0, 0.0),                 // 0/0 against centre 0
      Array(0.0, 1.0, 0.0),                 // 0/0 against centre 0 only
      Array(0.0, 0.0, 0.0),                 // 0/0 against centres 0 and 3
      Array(-0.0, 0.0, 4.0),                // 0/0 against centre 3, negative zero
      Array(1e200, -1e200, 1e200),          // squared distances overflow to +Inf
      Array(Double.PositiveInfinity, 0.0, 1.0),
      Array(Double.NaN, 1.0, 2.0))          // NaN from every centre
    val signed = Seq.fill(60)(Array.fill(3)((rnd.nextInt(13) - 6).toDouble))
    val vecs = (edge ++ signed).toIndexedSeq
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toDF("id", "vec")
    for (m <- metrics) {
      val local = vecs.map(KMeans.nearest(centers, m)).map(_ + 1)
      val inPlan = KMeans.assign(df, "vec", centers, m).orderBy("id")
        .select("cluster").collect().map(_.getInt(0)).toSeq
      assert(local === inPlan, s"$m")
    }
    // the 0/0 rule and the NaN rule both decide a row here
    val lenient = vecs.map(KMeans.nearest(centers, Normalized()))
    val strict = vecs.map(KMeans.nearest(centers, Normalized(zeroSafe = false)))
    assert((lenient(2), strict(2)) === (0, 1) && strict(3) === 1)
  }
}
