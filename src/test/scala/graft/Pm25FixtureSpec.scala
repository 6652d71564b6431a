package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.sources.{Pm25, Pm25Cell, Pm25Hours, Pm25V2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** The pm25 readers on a generated 27-column fixture: the same checks as
  * the reference-bound tests in Pm25V2Spec and KMeansGoldenSpec (v2/v1
  * value parity, column pruning, `centersFrom` on a nested tree and on
  * CR-only line ends), needing no reference bytes. A dirty fixture holds
  * both readers to Spark's CSV reader cell for cell.
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

  private def v2 = v2Of(fixture)
  private def v2Of(path: String) = spark.read.format(classOf[Pm25V2].getName).load(path)
  private def csvOf(path: String) = spark.read.schema(Pm25.schema).csv(path)

  test("generated fixture: v2 source matches the v1 CSV reader value for value") {
    val cols = Pm25.schema.fieldNames.map(col).toSeq
    val want = csvOf(fixture).select(cols: _*)
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

  /** Int cells of every shape, each with the value Spark's CSV reader
    * (`Integer.parseInt`, null where it throws) gives it.
    */
  private val oddInts: Seq[(String, Integer)] = Seq(
    " 12" -> null, "12 " -> null, "\t5" -> null, "+12" -> 12, "-0" -> 0,
    "012" -> 12, "-2147483648" -> Int.MinValue, "2147483648" -> null,
    "1.5" -> null, "1e2" -> null, "abc" -> null, "٣" -> 3,
    "１２" -> 12)
  private val hourCells = (1 to 24).map(_.toString)
  private def row(date: String, station: String, metric: String,
                  hours: Seq[String]): String =
    (Seq(date, station, metric) ++ hours).mkString(",")
  private val dirtyLines: Seq[String] = Seq(
    row("2015/01/01", "Dali", "PM2.5", "" +: hourCells.tail),
    row("", "Dali", "PM2.5", hourCells),
    "2015/01/03,Dali,PM2.5,1,2,3",
    row("2015/01/04", "Dali", "PM2.5", hourCells :+ "99" :+ "x"),
    row("2015/01/05", "Dali", "PM2.5",
      oddInts.map(_._1) ++ hourCells.drop(oddInts.length)),
    row("2015/01/06", " 大里 ", "PM\\2.5", hourCells))
  /** The dirty lines with blank, all-space and tab-only lines between
    * them, CRLF and LF line ends, and no newline after the last line.
    */
  private lazy val dirty: String = {
    val Seq(l0, l1, l2, l3, l4, l5) = dirtyLines
    val dir = Files.createTempDirectory("pm25-dirty")
    write(dir.resolve("pm25.txt"), Seq(l0, "\r\n", "", "\r\n", l1, "\n", "   ", "\n",
      l2, "\r\n", "\t\t", "\n", l3, "\n", l4, "\r\n", l5).mkString)
    dir.toString
  }

  test("dirty fixture: both readers parse every cell as Spark's CSV reader does") {
    val cols = Pm25.schema.fieldNames.map(col).toSeq
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.select(cols: _*).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val want = rows(csvOf(dirty))
    assert(want.length === dirtyLines.length)
    assert(rows(Pm25.read(spark, dirty)) === want)
    assert(rows(v2Of(dirty)) === want)
    // the CSV reader's own reading of the odd int cells, pinned
    val odd = Pm25.read(spark, dirty).filter(col("date") === "2015/01/05").head
    assert(oddInts.indices.map(i => odd.get(3 + i)) === oddInts.map(_._2))
  }

  test("dirty fixture: vec is the hours as doubles, raw is the line") {
    val got = Pm25.read(spark, dirty).collect()
    for (r <- got) {
      val hours = (0 until 24).map(h =>
        if (r.isNullAt(3 + h)) null else r.getInt(3 + h).toDouble)
      assert(r.getAs[Seq[Any]]("vec") === hours, r.getAs[String]("raw"))
    }
    assert(got.map(_.getAs[String]("raw").getBytes(StandardCharsets.UTF_8).toSeq)
      .toSeq.sortBy(_.toString) ===
      dirtyLines.map(_.getBytes(StandardCharsets.UTF_8).toSeq).sortBy(_.toString))
  }

  test("a line holding a quote fails both readers with a named error") {
    val dir = Files.createTempDirectory("pm25-quote")
    val quoted = row("\"2015/01/02\"", "Dali", "PM2.5", hourCells)
    write(dir.resolve("pm25.txt"), lines.head + "\n" + quoted + "\n")
    for (df <- Seq(Pm25.read(spark, dir.toString), v2Of(dir.toString))) {
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists { case t: IllegalArgumentException =>
          t.getMessage.contains("pm25 line holds a quote") && t.getMessage.contains(quoted)
        case _ => false }, chain.mkString("; "))
    }
  }

  test("a plan over vec parses no other cell") {
    val plan = Pm25.read(spark, fixture).select("vec").queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[Pm25Cell])), plan.toString)
    assert(exprs.exists(_.exists(_.isInstanceOf[Pm25Hours])), plan.toString)
    val named = plan.collect { case p: Project => p.projectList.map(_.name) }.flatten
    assert(named === Seq("vec"), plan.toString)
  }
}
