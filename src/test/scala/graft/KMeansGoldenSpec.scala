package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.functions.MeanVector
import graft.operators.KMeans
import graft.operators.KMeans.{Normalized, SqEuclidean}
import graft.sources.{GoldenFormat, Pm25}
import org.apache.spark.sql.functions._

/** Golden replays of the reference's three checked-in artifacts
  * (SURVEY.md §5) plus property tests for the k-means suite.
  */
class KMeansGoldenSpec extends SparkSpec {
  private val base = "/root/reference/hadoop_tutorial/Kmeans"

  private def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private lazy val pm25 = Pm25.read(spark, s"$base/pm25.txt").cache()
  private lazy val seeds =
    Pm25.centersFrom(spark, s"$base/pm25.cluster.center.conf.txt", skipCols = 3)
  private lazy val fit5 = KMeans.lloyd(pm25, "vec", seeds, SqEuclidean, maxIter = 5)

  test("v1 golden replay: 5 iterations + labeling == kmeans.hdfs assignments") {
    val mine = KMeans.assign(pm25, "vec", fit5.centers, SqEuclidean)
      .select("cluster", "raw").collect()
      .map(r => GoldenFormat.assignmentLine(r.getInt(0), r.getString(1))).toSet
    val golden = lines(s"$base/kmeans.hdfs/part-r-00000").toSet
    assert(mine === golden)
    val sizes = KMeans.assign(pm25, "vec", fit5.centers, SqEuclidean)
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes === Map(1 -> 36L, 2 -> 73L, 3 -> 137L, 4 -> 119L))
  }

  test("single-file text sink: written part file is byte-identical to golden") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-golden-sink").toString
    val assigned = KMeans.assign(pm25, "vec", fit5.centers, SqEuclidean)
      .select("cluster", "raw")
      .map(r => GoldenFormat.assignmentLine(r.getInt(0), r.getString(1)))
    GoldenFormat.writeSingleFile(assigned, out)
    // golden line ORDER encodes MR shuffle internals (cluster-grouped,
    // non-input order) — byte-fidelity is asserted per line, layout per
    // file; content equality incl. order-irrelevance is the replay test.
    assert(GoldenFormat.readLines(out).sorted ===
      lines(s"$base/kmeans.hdfs/part-r-00000").sorted)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS")))
  }

  test("centersFrom reads a nested directory tree (reference's recursive walk)") {
    // Kmeans.java:196-202 re-reads each directory entry with the same
    // routine, descending into subdirectories (an MR output dir of part
    // files, possibly nested). Split the golden centers file across a
    // two-level tree and require the SAME parsed set as the flat read.
    val root = Files.createTempDirectory("centers-tree")
    val sub = Files.createDirectory(root.resolve("attempt-0"))
    val all = lines(s"$base/pm25.cluster.center.conf.txt")
    // the SMALLER file sorts first by path but LAST by Spark's
    // size-descending file packing — so this layout distinguishes the
    // pinned (path asc, in-file order) contract from a bare collect()
    Files.write(sub.resolve("part-r-00001"),
      all.takeRight(1).asJava, StandardCharsets.UTF_8)
    Files.write(root.resolve("part-r-00000"),
      all.dropRight(1).asJava, StandardCharsets.UTF_8)
    val nested = Pm25.centersFrom(spark, root.toString, skipCols = 3)
    assert(nested.length === seeds.length)
    assert(nested.map(_.toSeq).toSet === seeds.map(_.toSeq).toSet)
    // center index becomes cluster id downstream: order is the pinned
    // path-ascending walk (attempt-0/part-r-00001 precedes
    // part-r-00000 lexicographically), lines in file order within each
    val expected = (all.takeRight(1) ++ all.dropRight(1))
      .map(_.split(",").drop(3).map(_.trim.toDouble).toSeq)
    assert(nested.map(_.toSeq).toSeq === expected)
  }

  test("centersFrom handles CR-only line terminators (Hadoop line-reader parity)") {
    // Hadoop's LineRecordReader (and Spark's non-wholetext text source)
    // treats a lone \r as a line terminator; the wholetext respell must
    // not narrow that — a classic-Mac centers file is still k lines.
    val dir = Files.createTempDirectory("centers-cr")
    val all = lines(s"$base/pm25.cluster.center.conf.txt")
    Files.write(dir.resolve("centers.txt"),
      all.mkString("\r").getBytes(StandardCharsets.UTF_8))
    val got = Pm25.centersFrom(spark, dir.toString, skipCols = 3)
    assert(got.map(_.toSeq).toSeq === seeds.map(_.toSeq).toSeq)
  }

  test("raw column preserves separators around empty cells (byte-exact replay)") {
    // concat_ws skips null arguments WITH their separators, so without
    // per-cell coalesce a line with an empty hour cell re-rendered one
    // column short — every later hour shifted left
    val dir = Files.createTempDirectory("pm25-empty-cell")
    val line = "2015/01/01,Dali,PM2.5," +
      ("" +: Seq.fill(22)("7") :+ "9").mkString(",")
    Files.write(dir.resolve("rows.csv"),
      Seq(line).asJava, StandardCharsets.UTF_8)
    val raw = Pm25.read(spark, dir.toString).select("raw").head.getString(0)
    assert(raw === line)
  }

  test("v1 golden centroids: means after 5 iterations render byte-exact") {
    // golden line i = cluster i+1 (single reducer, keys sorted); the date
    // prefix is the order-dependent rep-row bug (KMeans.repRows doc) — the
    // means section is deterministic and must match to the last digit.
    val golden = lines(s"$base/pm25.cluster.center.conf.txt.hdfs")
    assert(golden.size === 4)
    fit5.centers.zipWithIndex.foreach { case (c, i) =>
      val goldenMeans = golden(i).split(",PM25,", 2)(1)
      val mine = GoldenFormat.centerLine("X", c).split(",PM25,", 2)(1)
      assert(mine === goldenMeans, s"cluster ${i + 1}")
    }
  }

  test("v1 golden centroids: FULL lines replay byte-exact modulo the MR-order date") {
    // The strongest reproducible claim about the rep-date prefix of
    // pm25.cluster.center.conf.txt.hdfs. The reference's buggy scan
    // (src/Kmeans.java:125-127: minDistance never updated) picks the LAST
    // row in the reducer's value-iteration order; probing every derivable
    // order against the artifact (file order, reverse, nearest/farthest-
    // to-mean) matches no cluster consistently — the golden dates sit at
    // positions 22/36, 34/76, 0/135, 34/118 of their clusters in file
    // order, i.e. the order is an MR shuffle-merge internal. What IS
    // derivable, and asserted here: (a) each golden date belongs to the
    // correct cluster of the assignment round that produced the means
    // (iteration-4 centers), and (b) injecting that date reproduces the
    // artifact line BYTE-EXACTLY — tab prefix, 大里, PM2.5→PM25 rename,
    // Java Arrays.toString double rendering. The date CHOICE is the only
    // unreproducible bit (documented waiver, SURVEY §5).
    val golden = lines(s"$base/pm25.cluster.center.conf.txt.hdfs")
    val fit4 = KMeans.lloyd(pm25, "vec", seeds, SqEuclidean, maxIter = 4)
    val memberDates = KMeans.assign(pm25, "vec", fit4.centers, SqEuclidean)
      .select(col("cluster"), substring_index(col("raw"), ",", 1).as("date"))
      .collect().groupBy(_.getInt(0))
      .map { case (c, rs) => c -> rs.map(_.getString(1)).toSet }
    golden.zipWithIndex.foreach { case (line, i) =>
      val date = line.stripPrefix("\t").split(",", 2)(0)
      assert(memberDates(i + 1).contains(date),
        s"golden date $date is not a member of cluster ${i + 1}")
      assert(GoldenFormat.centerLine(date, fit5.centers(i)) === line,
        s"cluster ${i + 1} full-line bytes")
    }
  }

  test("v2 golden replay: normalized-metric labeling reproduces output/part-r-00000") {
    // The 34-row input's seed file isn't shipped, but the golden labels are
    // a fixpoint of variant-2 semantics: relabeling against the clusters'
    // own mean vectors must reproduce every label exactly.
    val rows = lines(s"$base/output/part-r-00000").map { l =>
      val Array(c, raw) = l.split("\t", 2); (c.toInt, raw)
    }
    import spark.implicits._
    val df = rows.toDF("gold", "raw")
      .withColumn("vec", transform(split(col("raw"), ","), t => t.cast("double")))
    // centers from the golden grouping, via the MeanVector UDAF
    val mv = udaf(MeanVector)
    val centers = df.groupBy(col("gold"))
      .agg(mv(col("vec")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val init = (1 to 4).map(centers(_)).toArray
    val relabeled = KMeans.assign(df, "vec", init, Normalized(zeroSafe = false))
      .select("gold", "cluster").collect()
    assert(relabeled.forall(r => r.getInt(0) == r.getInt(1)),
      s"mismatches: ${relabeled.count(r => r.getInt(0) != r.getInt(1))}/34")
  }

  test("v2 stop rule: zero-delta converges on fixpoint data in one extra pass") {
    val rows = lines(s"$base/output/part-r-00000").map { l =>
      val Array(c, raw) = l.split("\t", 2); (c.toInt, raw)
    }
    import spark.implicits._
    val df = rows.toDF("gold", "raw")
      .withColumn("vec", transform(split(col("raw"), ","), t => t.cast("double")))
    val mv = udaf(MeanVector)
    val centers = df.groupBy(col("gold")).agg(mv(col("vec")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val init = (1 to 4).map(centers(_)).toArray
    val fit = KMeans.lloyd(df, "vec", init, Normalized(zeroSafe = false),
      maxIter = 10, stopOnZeroDelta = true)
    assert(fit.converged && fit.iterations === 1)
  }

  test("toy dataset: outlier group separates under the normalized metric") {
    val toy = Pm25.readNumeric(spark, s"$base/kmeans_input_file.txt")
    val toySeeds = Pm25.centersFrom(spark, s"$base/cluster.center.conf.txt", skipCols = 0)
    val fit = KMeans.lloyd(toy, "vec", toySeeds, Normalized(), maxIter = 5)
    val labeled = KMeans.assign(toy, "vec", fit.centers, Normalized())
      .select(element_at(col("vec"), 1).as("x"), col("cluster")).collect()
    val outlierClusters = labeled.filter(_.getDouble(0) > 50).map(_.getInt(1)).toSet
    val smallClusters = labeled.filter(_.getDouble(0) <= 50).map(_.getInt(1)).toSet
    assert(outlierClusters.size === 1)
    assert(!smallClusters.contains(outlierClusters.head))
  }

  test("WCSS non-increasing across Lloyd iterations (squared-Euclidean)") {
    var centers = seeds
    var prev = Double.MaxValue
    (1 to 5).foreach { _ =>
      val w = KMeans.wcss(pm25, "vec", centers, SqEuclidean)
      assert(w <= prev + 1e-6, s"WCSS increased: $prev -> $w")
      prev = w
      centers = KMeans.lloyd(pm25, "vec", centers, SqEuclidean, maxIter = 1).centers
    }
  }

  test("mean_vector UDAF equals per-column avg") {
    val df = Tables.embeddings(spark, sf)
      .select((col("vec_id") % 3).as("g"), col("embedding").cast("array<double>").as("v"))
    val mv = udaf(MeanVector)
    val viaUdaf = df.groupBy("g").agg(mv(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaAvg = df.groupBy("g")
      .agg((1 to 64).map(i => avg(element_at(col("v"), i)).as(s"m$i")).head,
        (1 to 64).map(i => avg(element_at(col("v"), i)).as(s"m$i")).tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getDouble)).toMap
    viaUdaf.foreach { case (g, m) =>
      m.zip(viaAvg(g)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("argmin ties break to the lowest center index") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(1.0, 1.0))).toDF("vec")
    val centers = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(1.0, 1.0))
    val c = KMeans.assign(df, "vec", centers, SqEuclidean).select("cluster").head.getInt(0)
    assert(c === 2) // centers 2 and 3 tie at distance 0 -> first wins
  }

  test("oracle contract: no cluster empties during the verified Lloyd schedule") {
    // The sizesSql oracle (KMeansQueries) silently DROPS an emptied
    // cluster while KMeans.lloyd keeps its previous center — the two are
    // only equivalent while every cluster stays non-empty. That invariant
    // genuinely FAILS at sf0.001 (250 near-random vectors collapse after one
    // mean update), so the oracle claim is scoped to
    // the dataset the driver actually verifies: sf0.01. Assert it there,
    // for every assignment round of the verified 2-iteration schedule.
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val seeds = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    (0 to 2).foreach { iters =>
      val centers = if (iters == 0) seeds
        else KMeans.lloyd(emb, "vec", seeds, KMeans.EuclideanSq, maxIter = iters).centers
      val n = KMeans.assign(emb, "vec", centers, KMeans.EuclideanSq)
        .select("cluster").distinct().count()
      assert(n === 4L, s"cluster emptied after $iters Lloyd iteration(s) at sf0.01")
    }
  }

  test("repRows: correct mode picks nearest row, bugCompat picks last in order") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(5.0, 5.0)), (3L, Seq(1.0, 1.0)))
      .toDF("id", "vec")
    val centers = Array(Array(0.0, 0.0))
    val assigned = KMeans.assign(df, "vec", centers, SqEuclidean)
    val correct = KMeans.repRows(assigned, "vec", "id", centers, SqEuclidean)
      .select("id").head.getLong(0)
    val buggy = KMeans.repRows(assigned, "vec", "id", centers, SqEuclidean, bugCompat = true)
      .select("id").head.getLong(0)
    assert(correct === 1L)
    assert(buggy === 3L)
  }
}
