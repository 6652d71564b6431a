package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.sources.{Pm25, Pm25V2}
import org.apache.spark.sql.functions._

/** The pm25 readers on a generated 27-column fixture: the same checks as
  * the reference-bound tests in Pm25V2Spec and KMeansGoldenSpec (v2/v1
  * value parity, column pruning, `centersFrom` on a nested tree and on
  * CR-only line ends), needing no reference bytes.
  */
class Pm25FixtureSpec extends SparkSpec {

  /** 60 lines of date,station,metric + 24 hourly readings; one reading in
    * forty is a literal 0, as pm25.txt writes a missing reading.
    */
  private val lines: Seq[String] = {
    val rnd = new scala.util.Random(7)
    (1 to 60).map { i =>
      val hours = Seq.fill(24)(if (rnd.nextInt(40) == 0) 0 else 5 + rnd.nextInt(300))
      f"2015/${(i - 1) / 28 + 1}%02d/${(i - 1) % 28 + 1}%02d,Dali,PM2.5," + hours.mkString(",")
    }
  }
  /** The first four lines serve as a centers file (skipCols = 3). */
  private val centerLines = lines.take(4)
  private def parsed(ls: Seq[String]): Seq[Seq[Double]] =
    ls.map(_.split(",").drop(3).map(_.toDouble).toSeq)

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("pm25-fixture")
    write(dir.resolve("pm25.txt"), lines.mkString("\n") + "\n")
    dir.resolve("pm25.txt").toString
  }
  private def write(p: Path, text: String): Unit =
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))

  private def v2 = spark.read.format(classOf[Pm25V2].getName).load(fixture)

  test("generated fixture: v2 source matches the v1 CSV reader value for value") {
    val cols = Pm25.schema.fieldNames.map(col).toSeq
    val want = Pm25.read(spark, fixture).select(cols: _*)
      .collect().map(_.toString).sorted
    val got = v2.select(cols: _*).collect().map(_.toString).sorted
    assert(got.length === lines.length && got.toSeq === want.toSeq)
    val hours = Pm25.read(spark, fixture).select("vec").collect()
      .map(_.getSeq[Double](0)).toSet
    assert(hours === parsed(lines).toSet)
  }

  test("generated fixture: column pruning reaches the reader") {
    val df = v2.select(col("date"), col("h3"))
    val p = df.queryExecution.executedPlan.toString
    // Pm25Scan.description() prints the PRUNED field list
    assert(p.contains("cols=[date,h3]"), p.take(800))
    val rows = df.collect()
    assert(rows.length === lines.length && rows.head.length === 2)
  }

  test("generated fixture: centersFrom reads a two-level directory tree") {
    // the smaller file sorts first by path but last by Spark's
    // size-descending file packing, so this layout tells the pinned
    // (path asc, in-file order) contract apart from a bare collect()
    val root = Files.createTempDirectory("centers-tree-gen")
    val sub = Files.createDirectory(root.resolve("attempt-0"))
    Files.write(sub.resolve("part-r-00001"),
      centerLines.takeRight(1).asJava, StandardCharsets.UTF_8)
    Files.write(root.resolve("part-r-00000"),
      centerLines.dropRight(1).asJava, StandardCharsets.UTF_8)
    val nested = Pm25.centersFrom(spark, root.toString, skipCols = 3)
    assert(nested.map(_.toSeq).toSeq ===
      parsed(centerLines.takeRight(1) ++ centerLines.dropRight(1)))
  }

  test("generated fixture: centersFrom handles CR-only line ends") {
    val dir = Files.createTempDirectory("centers-cr-gen")
    write(dir.resolve("centers.txt"), centerLines.mkString("\r"))
    val got = Pm25.centersFrom(spark, dir.toString, skipCols = 3)
    assert(got.map(_.toSeq).toSeq === parsed(centerLines))
  }
}
