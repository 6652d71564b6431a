package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.KMeans
import graft.sources.{Pm25, TsvSinkV2}

/** One benchmark workload: a fixed set of ops run as a closed loop, one
  * op after the other, by a single client.
  */
trait Workload {
  def ops: Seq[String]
  /** The order of the ops in pass `pass`; the workload seed sets it. */
  def order(pass: Int): Seq[String] = ops
  /** Runs one op, recording spans around each call into the engine. */
  def run(spark: SparkSession, tr: Tracer, op: String): Unit
  /** Checks the output of the op just run, outside its timing: one
    * message per mismatch.
    */
  def check(op: String): Seq[String]
  /** Known engine defects this workload's input stays clear of, each
    * re-tried once per run outside the timed passes: name -> the error
    * it still raises, or "fixed".
    */
  def knownDefects(spark: SparkSession): Seq[(String, String)] = Nil
}

/** Order-insensitive digest of a result: rows rendered with doubles
  * rounded to 10 significant digits, sorted, then hashed.
  */
object Digest {
  private val mc = new java.math.MathContext(10)

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d).round(mc).stripTrailingZeros.toString
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => cell(a) + "->" + cell(b) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    val h = MessageDigest.getInstance("SHA-256")
    rows.map(cell).sorted.foreach(r => h.update((r + "\n").getBytes(UTF_8)))
    h.digest().map(x => f"$x%02x").mkString
  }
}

/** Corpus queries from `SparkEntry.queries` over the tables in `dataDir`.
  * Every run of a query is checked against the digest pinned for it in
  * `expected` (name -> (rows, digest)).
  */
final class Corpus(queries: Seq[String], dataDir: String, seed: Long,
                   expected: Map[String, (Long, String)]) extends Workload {
  def ops: Seq[String] = queries

  override def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  private var rows: Array[Row] = Array.empty

  /** Builds the query's DataFrame and collects its (small) result. */
  def run(spark: SparkSession, tr: Tracer, op: String): Unit = {
    val df = tr.span("queries.build") { SparkEntry.queries(op)(spark, dataDir) }
    rows = tr.span("spark.exec") { df.collect() }
  }

  def check(op: String): Seq[String] = {
    val got = (rows.length.toLong, Digest.of(rows))
    rows = Array.empty
    expected.get(op) match {
      case Some(want) if want == got => Nil
      case Some(want) => Seq(s"$op: got $got, want $want")
      case None => Seq(s"$op: no pinned digest")
    }
  }

  /** (name, rows, digest) of each query's result, for pinning. */
  def digests(spark: SparkSession): Seq[(String, Long, String)] =
    queries.map { q =>
      val rows = SparkEntry.queries(q)(spark, dataDir).collect()
      (q, rows.length.toLong, Digest.of(rows))
    }
}

/** The source paper's job at scale: PM2.5 rows read with `Pm25.read`,
  * five rounds of `KMeans.lloyd` under the reference's SqEuclidean
  * metric, `KMeans.assign`, and the assignments written with `TsvSinkV2`.
  * The input is generated from the seed, and so are the initial centres.
  */
final class KMeansJob(seed: Long, rows: Int, work: File) extends Workload {
  import KMeansJob._

  private val data = generate(seed, rows)
  private val input = new File(work, "pm25-input")
  private val init: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(data.indices.toVector).take(K).map(i => data(i).hours.map(_.toDouble)).toArray
  }
  /** The plain-Scala replay's result: final centres and cluster sizes. */
  private val (wantCenters, wantSizes) = replay(data.map(_.hours.map(_.toDouble)), init)
  private var pass = 0
  private var lastCenters: Array[Array[Double]] = Array.empty
  private var lastOut: File = null

  def ops: Seq[String] = Seq("kmeans")

  writeInput()

  private def writeInput(): Unit = {
    deleteTree(input)
    input.mkdirs()
    data.grouped((rows + Parts - 1) / Parts).zipWithIndex.foreach { case (part, i) =>
      Files.write(new File(input, f"part-$i%05d.csv").toPath,
        part.map(_.line).asJava, UTF_8)
    }
  }

  def run(spark: SparkSession, tr: Tracer, op: String): Unit = {
    pass += 1
    val out = new File(work, s"pm25-clusters-$pass")
    val df = tr.span("sources.read") { Pm25.read(spark, input.getPath) }
    val fit = tr.span("operators.lloyd") {
      KMeans.lloyd(df, "vec", init, KMeans.SqEuclidean, maxIter = Rounds)
    }
    tr.count("operators.lloyd_iters", fit.iterations)
    val assigned = tr.span("operators.assign") {
      KMeans.assign(df, "vec", fit.centers, KMeans.SqEuclidean)
    }
    tr.span("sources.write") {
      assigned.select(col("date"), col("station"), col("cluster"))
        .write.format(classOf[TsvSinkV2].getName).mode("append").save(out.getPath)
    }
    tr.count("sources.write_bytes", treeBytes(out))
    lastCenters = fit.centers
    lastOut = out
  }

  /** Centres within 1e-9 relative of the replay's; the sink holds every
    * row once, with the replay's cluster sizes.
    */
  def check(op: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (lastCenters.length != K) errs += s"got ${lastCenters.length} centres"
    for ((g, w) <- lastCenters.zip(wantCenters); (a, b) <- g.zip(w))
      if (math.abs(a - b) > 1e-9 * math.max(1.0, math.abs(b)))
        errs += s"centre coordinate $a, want $b"
    val sizes = new Array[Long](K + 1)
    var n = 0L
    for (f <- Option(lastOut.listFiles()).getOrElse(Array.empty)
         if f.getName.endsWith(".tsv");
         line <- Files.readAllLines(f.toPath, UTF_8).asScala) {
      n += 1
      val c = line.substring(line.lastIndexOf('\t') + 1).toInt
      if (c >= 1 && c <= K) sizes(c) += 1
    }
    if (n != rows) errs += s"sink holds $n rows, want $rows"
    if (!sizes.drop(1).sameElements(wantSizes))
      errs += s"sink cluster sizes ${sizes.drop(1).mkString(",")}, " +
        s"want ${wantSizes.mkString(",")}"
    deleteTree(lastOut)
    errs.result()
  }

  /** `KMeans.lloyd` on rows with an empty cell, which pm25.txt never has
    * (it writes a missing reading as 0). The cell reads as null, its
    * row's distance to every centre is null, and so is its cluster.
    */
  override def knownDefects(spark: SparkSession): Seq[(String, String)] = {
    val dir = new File(work, "pm25-null-cell")
    deleteTree(dir)
    dir.mkdirs()
    val lines = data.take(3).map(_.line) :+ data(3).line.replaceFirst(",\\d+$", ",")
    Files.write(new File(dir, "part-00000.csv").toPath, lines.asJava, UTF_8)
    val outcome =
      try {
        KMeans.lloyd(Pm25.read(spark, dir.getPath), "vec", init.take(2),
          KMeans.SqEuclidean, maxIter = 1)
        "fixed"
      } catch { case scala.util.control.NonFatal(e) => e.toString.take(200) }
    deleteTree(dir)
    Seq("kmeans.lloyd_null_cell" -> outcome)
  }
}

object KMeansJob {
  val K = 5
  val Rounds = 5
  val Parts = 6
  private val Hours = 24

  /** One generated row: its CSV line and its hourly readings. */
  final case class Reading(line: String, hours: Array[Int])

  /** Share of readings missing in pm25.txt (195 of 365 x 24), which
    * writes a missing reading as 0 and never leaves a cell empty.
    */
  val Missing: Double = 195.0 / (365 * 24)

  /** Rows shaped like the reference's pm25.txt (`date,station,PM2.5,
    * h0..h23`, integer readings) drawn from a few diurnal profiles:
    * a base level, a daily swing peaking at a profile's own hour, a
    * per-day factor and per-hour noise. A share `Missing` of the
    * readings is 0, as in pm25.txt.
    */
  def generate(seed: Long, rows: Int): IndexedSeq[Reading] = {
    val rnd = new java.util.Random(seed)
    val profiles = IndexedSeq((12.0, 0.3, 4), (28.0, 0.5, 9), (45.0, 0.2, 14),
      (70.0, 0.6, 19), (105.0, 0.4, 22))
    val stations = 40
    (0 until rows).map { i =>
      val station = i % stations
      val day = i / stations
      val (base, swing, peak) = profiles((station * 7 + day / 30) % profiles.size)
      val dayFactor = 0.8 + 0.4 * rnd.nextDouble()
      val hours = Array.tabulate(Hours) { h =>
        val v = base * dayFactor * (1 + swing * math.cos(2 * math.Pi * (h - peak) / Hours)) +
          3 * rnd.nextGaussian()
        if (rnd.nextDouble() < Missing) 0 else math.max(0, math.round(v).toInt)
      }
      val date = java.time.LocalDate.of(2000, 1, 1).plusDays(day.toLong)
      Reading(s"${date.toString.replace('-', '/')},S$station%03d,PM2.5," +
        hours.mkString(","), hours)
    }
  }

  /** Lloyd in plain Scala with the engine's rules: SqEuclidean distance
    * summed left to right, ties to the lowest index, an empty cluster
    * keeps its centre. Returns the final centres and cluster sizes.
    */
  def replay(points: IndexedSeq[Array[Double]],
             init: Array[Array[Double]]): (Array[Array[Double]], Array[Long]) = {
    def nearest(p: Array[Double], cs: Array[Array[Double]]): Int = {
      var arg = 0
      var bestD = Double.PositiveInfinity
      for (c <- cs.indices) {
        var d = 0.0
        for (j <- p.indices) d += math.pow(math.abs(p(j)) - math.abs(cs(c)(j)), 2)
        if (d < bestD) { bestD = d; arg = c }
      }
      arg
    }
    var centers = init.map(_.clone())
    for (_ <- 1 to Rounds) {
      val sums = Array.fill(centers.length, Hours)(0.0)
      val counts = new Array[Long](centers.length)
      for (p <- points) {
        val c = nearest(p, centers)
        counts(c) += 1
        for (j <- p.indices) sums(c)(j) += p(j)
      }
      centers = centers.indices.map { c =>
        if (counts(c) == 0) centers(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
    val sizes = new Array[Long](centers.length)
    for (p <- points) sizes(nearest(p, centers)) += 1
    (centers, sizes)
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
