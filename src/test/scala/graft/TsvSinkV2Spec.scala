package graft

import java.nio.file.{Files, Paths}

import graft.sources.TsvSinkV2
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The V2 sink's contract: round-trip parity, one part file per input
  * partition, the _SUCCESS publish marker, and no leftover temp files
  * (the rename-on-driver-commit protocol cleans up after itself).
  */
class TsvSinkV2Spec extends SparkSpec {

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("tsvsink").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("round-trip: write via connector, read back, set-equal") {
    val dir = tmpDir()
    val src = Tables.events(spark, sf)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), col("value").cast("double"))
      .repartition(4)
    src.write.format(classOf[TsvSinkV2].getName).mode("append").save(dir)

    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length === 4)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")),
      "temp files must not survive the driver commit")

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val back = spark.read.schema(schema).option("sep", "\t")
      .csv(dir + "/part-*.tsv")
    assert(back.count() === src.count())
    // set equality via anti-joins both ways (row order is unspecified)
    assert(back.exceptAll(src).count() === 0L)
    assert(src.exceptAll(back).count() === 0L)
  }

  test("separator chars in string cells are escaped, one line per row") {
    val dir = tmpDir()
    import spark.implicits._
    val src = Seq((1L, "plain"), (2L, "tab\there"), (3L, "nl\nhere"),
        (4L, "cr\rhere"), (5L, "bs\\here"), (6L, "ünïcödé"))
      .toDF("id", "s")
    src.coalesce(1).write.format(classOf[TsvSinkV2].getName)
      .mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val lines = scala.io.Source.fromFile(part, "UTF-8").getLines().toSeq
    assert(lines.length === 6, "a cell newline must not forge a row")
    val cells = lines.map(_.split("\t", -1)).map { a =>
      assert(a.length === 2, "a cell tab must not forge a column"); a(1)
    }
    assert(cells === Seq("plain", "tab\\there", "nl\\nhere",
      "cr\\rhere", "bs\\\\here", "ünïcödé"))
    // the escaping is reversible: unescape recovers the originals
    def unesc(s: String): String = {
      val sb = new StringBuilder; var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 't' => sb += '\t'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case '\\' => sb += '\\'
            case c => sb += '\\'; sb += c
          }
          i += 2
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    assert(cells.map(unesc) === Seq("plain", "tab\there", "nl\nhere",
      "cr\rhere", "bs\\here", "ünïcödé"))
  }

  test("nulls serialize as empty and read back as null") {
    val dir = tmpDir()
    import spark.implicits._
    val src = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("id", "s")
    src.coalesce(1).write.format(classOf[TsvSinkV2].getName)
      .mode("append").save(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val back = spark.read.schema(schema).option("sep", "\t")
      .csv(dir + "/part-*.tsv")
    assert(back.filter(col("s").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }
  test("unsupported column types are rejected at write-build time, before any task") {
    val dir = tmpDir()
    import spark.implicits._
    val src = Seq((1L, new java.sql.Timestamp(0L))).toDF("id", "ts")
    val e = intercept[Exception] {
      src.write.format(classOf[TsvSinkV2].getName).mode("append").save(dir)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("atomic columns only"), msgs)
    // build-time rejection: the job never launched, so no task ever
    // opened a temp file in the target directory
    val leftovers = Option(new java.io.File(dir).listFiles()).toSeq.flatten
    assert(leftovers.isEmpty, leftovers.map(_.getName).mkString(","))
  }

  test("cells of every type render byte for byte") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d0", DoubleType), StructField("d1", DoubleType),
      StructField("d2", DoubleType), StructField("b", BooleanType),
      StructField("n", StringType), StructField("s", StringType)))
    val rows = Seq(
      Row(-7, Long.MinValue, -0.0, Double.NaN, 1.0e-7, true, null, "a\tb\\c\nd\re \u00fc"),
      Row(null, 42L, 1.0, Double.NegativeInfinity, 1.5e300, false, "x", ""))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.format(classOf[TsvSinkV2].getName).mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val want = "-7\t-9223372036854775808\t-0.0\tNaN\t1.0E-7\ttrue\t\t" +
      "a\\tb\\\\c\\nd\\re \u00fc\n" +
      "\t42\t1.0\t-Infinity\t1.5E300\tfalse\tx\t\n"
    assert(Files.readAllBytes(part.toPath).toSeq ===
      want.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq)
  }
}
