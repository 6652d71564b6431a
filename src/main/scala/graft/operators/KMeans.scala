package graft.operators

import graft.functions.{NearestCells, Vec}
import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** K-means suite with the reference's semantics, re-expressed Spark-first.
  *
  * Reference: swguo/NCHU.BigData `hadoop_tutorial/src/Kmeans.java` (variant
  * 1, squared-Euclidean over |.|, cols 3..26) and
  * `hadoop_tutorial/Kmeans/kmeans.java` (variant 2, normalized metric over
  * all cols). Both re-read the centers file in every map task's setup()
  * and round-trip centroids through HDFS per iteration
  * (src/Kmeans.java:39-46,259-277); here centroid state is a driver-local
  * k×dim array. One Lloyd round is one Spark job of one stage with no
  * shuffle — the reference's one MR job per iteration (map assigns,
  * reducer averages; src/Kmeans.java:170-183) with the reduce folded
  * into the map side, as MLlib's KMeans runs it. [[lloyd]] plans the
  * input once and caches only its vectors, as an `RDD[Array[Double]]`;
  * each task assigns its cached rows with a driver-built nearest-centre
  * function and folds them into k×dim sums and k counts held in
  * primitive arrays, and the driver merges one small array pair per
  * task. Driver state per round is O(tasks × k × dim), whatever the
  * input size, and no round plans a query.
  *
  * [[assign]], [[wcss]] and [[repRows]] are in-plan and codegen'd, no
  * UDF: EuclideanSq and the reference's SqEuclidean through the native
  * NearestCells kernel (primitive loops, codegen cached across calls),
  * Normalized as pure Catalyst expressions (zip_with/aggregate/
  * array_min/array_position). A Lloyd round picks the same cluster for
  * every row as [[assign]] does (KMeansLloydSpec pins the two against
  * each other).
  */
object KMeans {

  /** Distance metrics of the two reference variants. */
  sealed trait Metric {
    /** Column expression for the distance between a vector column and a
      * constant center.
      */
    def dist(vec: Column, center: Seq[Double]): Column
    /** Driver-side twin of [[dist]] for centroid-delta computation. */
    def distLocal(p: Array[Double], q: Array[Double]): Double
  }

  /** True squared Euclidean — the general-purpose metric for signed data
    * (embeddings). The reference's SqEuclidean applies |.| first, which
    * coincides with this on non-negative data (PM2.5) but not in general.
    */
  case object EuclideanSq extends Metric {
    def dist(vec: Column, center: Seq[Double]): Column =
      aggregate(
        zip_with(vec, typedLit(center), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def distLocal(p: Array[Double], q: Array[Double]): Double =
      p.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
  }

  /** Variant 1 (src/Kmeans.java:62-70): sum((|p|-|q|)^2). */
  case object SqEuclidean extends Metric {
    def dist(vec: Column, center: Seq[Double]): Column =
      aggregate(
        zip_with(vec, typedLit(center), (x, y) => pow(abs(x) - abs(y), 2)),
        lit(0.0), (acc, x) => acc + x)
    def distLocal(p: Array[Double], q: Array[Double]): Double =
      p.zip(q).map { case (a, b) => math.pow(math.abs(a) - math.abs(b), 2) }.sum
  }

  /** Variant 2 (Kmeans/kmeans.java:59-65): sum(((|p|-|q|)/(|p|+|q|))^2).
    *
    * zeroSafe=false reproduces the reference exactly: 0/0 -> NaN poisons the
    * whole row-to-center distance and `NaN < min` never updates the argmin
    * (SURVEY.md §2A hazards). zeroSafe=true (default) defines 0/0 == 0.
    */
  final case class Normalized(zeroSafe: Boolean = true) extends Metric {
    def dist(vec: Column, center: Seq[Double]): Column = {
      val terms = zip_with(vec, typedLit(center), (x, y) => {
        val num = abs(x) - abs(y)
        val den = abs(x) + abs(y)
        // 0/0 spelled out: under ANSI mode (Spark 4's default) a double
        // division by zero raises DIVIDE_BY_ZERO instead of giving NaN
        when(den === 0.0, lit(if (zeroSafe) 0.0 else Double.NaN))
          .otherwise(pow(num / den, 2))
      })
      aggregate(terms, lit(0.0), (acc, x) => acc + x)
    }
    /** [[dist]] term for term: `pow(t, 2)` as `t * t` (StrictMath.pow
      * special-cases y == 2 to exactly that), the same 0/0 rule, a
      * left-to-right sum from 0.0. A Lloyd round assigns with it.
      */
    def distLocal(p: Array[Double], q: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      while (i < p.length) {
        val a = math.abs(p(i))
        val b = math.abs(q(i))
        val den = a + b
        d += (if (den == 0.0) { if (zeroSafe) 0.0 else Double.NaN }
              else { val t = (a - b) / den; t * t })
        i += 1
      }
      d
    }
  }

  /** 1-based cluster id of the nearest center; ties break to the lowest
    * index (array_position returns the first match). With the non-zeroSafe
    * normalized metric, NaN distances lose to any finite distance
    * (array_min treats NaN as greater than all numbers), matching the
    * reference's `NaN < min == false` skip.
    *
    * EuclideanSq and SqEuclidean take the native
    * [[graft.functions.NearestCells]] kernel (SqEuclidean in its
    * |x| − |c| mode): bit-identical distances to [[Metric.dist]]
    * (left-to-right squared-difference sum), the same first-index tie
    * rule and NaN-above-everything order, but primitive loops instead of
    * per-element interpreted HOF evaluation — and since the centers live
    * in a kernel REFERENCE object rather than as plan literals, the
    * generated code is identical whatever the centers, so codegen
    * compiles once, not once per center set. The kernel is stricter than
    * the expression on dirty input: a ragged vector or a null element
    * fails with a named IllegalArgumentException where the expression
    * would yield a null cluster. Normalized keeps the expression form:
    * its golden semantics include a per-element 0/0 rule the kernel has
    * no business reimplementing ([[nearest]] mirrors it for [[lloyd]]).
    */
  def assignExpr(vec: Column, centers: Seq[Seq[Double]], metric: Metric): Column =
    metric match {
      case EuclideanSq | SqEuclidean =>
        val k = NearestCells.kernel(centers.map(_.toArray).toArray,
          absolute = metric == SqEuclidean)
        (NearestCells.cell(vec, k) + lit(1)).cast("int")
      case _ =>
        val dists = array(centers.map(c => metric.dist(vec, c)): _*)
        array_position(dists, array_min(dists)).cast("int")
    }

  /** Adds a 1-based `cluster` column. Narrow map — centers ship in the
    * plan (the Spark analogue of the reference's per-task centers file
    * read at src/Kmeans.java:39-46, minus the per-task I/O).
    */
  def assign(df: DataFrame, vecCol: String, centers: Array[Array[Double]],
             metric: Metric): DataFrame =
    df.withColumn("cluster", assignExpr(col(vecCol), centers.map(_.toSeq).toSeq, metric))

  /** The nearest-centre function of a Lloyd round: for a dense vector,
    * the 1-based cluster [[assignExpr]] picks, minus one. EuclideanSq and
    * SqEuclidean call the same [[graft.functions.NearestCellsKernel]]
    * `best` core the in-plan assign uses. Normalized scans
    * [[Normalized.distLocal]] with `best`'s
    * `array_position(d, array_min(d))` argmin — first index of the
    * minimum, NaN above everything. A vector of another length than the
    * centres fails as ragged under every metric.
    */
  private[graft] def nearest(centers: Array[Array[Double]], metric: Metric): Array[Double] => Int =
    metric match {
      case EuclideanSq | SqEuclidean =>
        val kernel = NearestCells.kernel(centers, absolute = metric == SqEuclidean)
        u => kernel.best(u)
      case m: Normalized =>
        val dim = centers.head.length
        u => {
          require(u.length == dim, s"ragged vector: ${u.length} dims vs centroid $dim")
          // from a NaN start the first centre at a number takes over;
          // with every distance NaN, centre 0 stays best
          var best = 0
          var bestD = Double.NaN
          for (c <- centers.indices) {
            val d = m.distLocal(u, centers(c))
            if (d < bestD || (bestD != bestD && d == d)) { bestD = d; best = c }
          }
          best
        }
    }

  /** One Lloyd round: per-cluster coordinate sums (row-major k×dim) and
    * row counts of `vecs` assigned to `centers` by [[nearest]]. One job,
    * one stage: each task folds its rows, in row order, into primitive
    * arrays and returns them as its task result — never an accumulator,
    * which a retried task would add twice — and the driver adds them up
    * in partition order. The caller's `sum / count.toDouble` is what
    * Spark's `avg` computes. On integer-valued vectors (PM2.5) every sum
    * is exact, so no merge order can move a mean; on general doubles the
    * order is fixed by the partitioning.
    */
  private def roundSums(vecs: RDD[Array[Double]], centers: Array[Array[Double]],
                        metric: Metric): (Array[Double], Array[Long]) = {
    val k = centers.length
    val dim = centers.head.length
    val near = nearest(centers, metric)
    val partials = vecs.mapPartitions { rows =>
      val sums = new Array[Double](k * dim)
      val counts = new Array[Long](k)
      rows.foreach { v =>
        // `near` fails a ragged vector, so `v` has `dim` elements
        val c = near(v)
        val off = c * dim
        var i = 0
        while (i < dim) { sums(off + i) += v(i); i += 1 }
        counts(c) += 1
      }
      Iterator.single((sums, counts))
    }
    val perTask = try partials.collect() catch {
      // a contract violation in a task surfaces as itself, not as the
      // job-abort SparkException that wraps it
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
        throw e.getCause
    }
    val sums = new Array[Double](k * dim)
    val counts = new Array[Long](k)
    for ((s, n) <- perTask) {
      for (i <- sums.indices) sums(i) += s(i)
      for (c <- 0 until k) counts(c) += n(c)
    }
    (sums, counts)
  }

  /** Result of [[lloyd]]: final centers plus iteration count. */
  final case class Fit(centers: Array[Array[Double]], iterations: Int, converged: Boolean)

  /** Driver-side Lloyd iteration (the reference's while loop at
    * src/Kmeans.java:170-183 / kmeans.java:135-153 without the HDFS
    * centroid round-trip), one job per round for every metric.
    *
    * The input is planned once: its `vecCol`, cast to `array<double>`,
    * becomes an `RDD[Array[Double]]` of dense vectors, persisted
    * MEMORY_AND_DISK when more than one round reads it (Spark's MLlib
    * caches its training set for the same reason) and released in a
    * `finally`. Round 1's job fills that cache; later rounds read
    * primitive arrays, with no Catalyst planning and no re-evaluation of
    * whatever the caller stacked under `df`. The caller's DataFrame is
    * never persisted or unpersisted here, so a cache the caller holds
    * survives the call. A row whose vector is null, ragged or has a
    * null element fails the round with an IllegalArgumentException.
    *
    * @param stopOnZeroDelta variant-2 stop rule (kmeans.java:221-224):
    *   stop when the total old-vs-new center distance is exactly 0.
    *   Variant 1 disables it (convergence short-circuit commented out at
    *   src/Kmeans.java:254-257) and always runs maxIter rounds.
    *   Under `Normalized(zeroSafe = false)` a centre coordinate that stays
    *   0 from one round to the next contributes 0/0 = NaN to the delta, so
    *   the rule never fires and lloyd runs all maxIter rounds — as the
    *   reference does (KMeansLloydSpec pins it).
    * Empty clusters keep their previous center (the reference would
    *   silently drop them — a k-shrinking quirk not worth preserving).
    */
  def lloyd(df: DataFrame, vecCol: String, init: Array[Array[Double]],
            metric: Metric, maxIter: Int, stopOnZeroDelta: Boolean = false): Fit = {
    val dim = init.head.length
    val vecs = df.select(col(vecCol).cast("array<double>")).queryExecution.toRdd
      .map { r =>
        if (r.isNullAt(0))
          throw new IllegalArgumentException("k-means training: a row has a null " +
            "vector — filter or impute dirty vectors before training")
        Vec.dense(r.getArray(0), "k-means training")
      }
    // a single round reads the vectors once: a cache would be written,
    // never read back
    val cache = maxIter > 1
    if (cache) vecs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centers = init.map(_.clone())
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val (sums, counts) = roundSums(vecs, centers, metric)
        val next = Array.tabulate(centers.length) { c =>
          if (counts(c) == 0L) centers(c)
          else Array.tabulate(dim)(i => sums(c * dim + i) / counts(c).toDouble)
        }
        iter += 1
        if (stopOnZeroDelta) {
          val delta = centers.zip(next).map { case (a, b) => metric.distLocal(a, b) }.sum
          converged = delta == 0.0
        }
        centers = next
      }
      Fit(centers, iter, converged)
    } finally if (cache) vecs.unpersist(blocking = false)
  }

  /** Within-cluster sum of squared (metric) distances — the quantity that
    * is non-increasing across Lloyd iterations for SqEuclidean.
    */
  def wcss(df: DataFrame, vecCol: String, centers: Array[Array[Double]],
           metric: Metric): Double = {
    val dists = array(centers.map(c => metric.dist(col(vecCol), c.toSeq)).toIndexedSeq: _*)
    assign(df, vecCol, centers, metric)
      .select(element_at(dists, col("cluster")).as("d"))
      // sum over zero rows is SQL null; an empty input's WCSS is 0.0,
      // not an opaque NullPointerException from getDouble
      .agg(coalesce(sum(col("d")), lit(0.0))).head().getDouble(0)
  }

  /** Representative-row pick (reference reducer, src/Kmeans.java:114-130).
    *
    * Correct semantics: the row nearest its cluster's center
    * (`min_by`-style window; ties break on the row's order key).
    *
    * bugCompat=true reproduces the reference's broken scan: `minDistance`
    * is never updated (src/Kmeans.java:125-127), so `index_min` ends at the
    * LAST row the reducer iterates. Hadoop's within-key value order for the
    * historical golden run is not derivable from the repo (the shipped
    * artifacts show it was neither file order nor its reverse), so
    * bugCompat picks the last row by `orderCol` — the bug's semantics under
    * a defined order.
    */
  def repRows(assigned: DataFrame, vecCol: String, orderCol: String,
              centers: Array[Array[Double]], metric: Metric,
              bugCompat: Boolean = false): DataFrame = {
    val dists = array(centers.map(c => metric.dist(col(vecCol), c.toSeq)).toIndexedSeq: _*)
    val ord =
      if (bugCompat) Seq(col(orderCol).desc)
      else Seq(element_at(dists, col("cluster")).asc, col(orderCol).asc)
    val w = Window.partitionBy(col("cluster")).orderBy(ord: _*)
    assigned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
