package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Readers for the reference's delimited-text fixtures (FIXTURES.md).
  *
  * The reference's data model is "CSV line as untyped row"
  * (src/Kmeans.java:226-236). Here each file gets an explicit schema and a
  * derived `vec: array<double>` column; the original line is kept in
  * `raw` for byte-exact golden replay.
  */
object Pm25 {

  /** pm25.txt schema: date,station,metric + 24 hourly readings. */
  val schema: StructType = StructType(
    StructField("date", StringType) ::
    StructField("station", StringType) ::
    StructField("metric", StringType) ::
    (0 until 24).map(h => StructField(s"h$h", IntegerType)).toList)

  /** Read pm25-schema lines: the [[schema]] columns, then `vec` (the hours
    * as `array<double>`, a null element for a null cell; math skips the 3
    * metadata cols, like the reference's j>=3 loops) and `raw` (the line
    * itself, byte for byte).
    *
    * Spark's text source lists and splits the files and ends lines at
    * CR, LF or CRLF; one projection of native expressions then parses
    * each column straight from the line's UTF-8 bytes by the
    * [[Pm25Line]] rule, which is Spark's CSV reader's on this quote-free
    * format. Every column is its own expression node, so the optimizer
    * prunes what a plan does not use: a plan over `vec` parses the 24
    * hour cells and nothing else.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val line = Bridge.expression(col("value"))
    val cells = schema.fields.indices.map(i =>
      Bridge.column(Pm25Cell(line, i)).as(schema.fields(i).name))
    spark.read.text(path)
      .filter(Bridge.column(Pm25Kept(line)))
      .select(cells :+ Bridge.column(Pm25Hours(line)).as("vec") :+
        col("value").as("raw"): _*)
  }

  /** Headerless all-numeric rows (variant 2's model, kmeans.java:193-203):
    * every comma token is a double; all columns participate in distance.
    */
  def readNumeric(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.text(path)
      .select(col("value").as("raw"))
      .filter(length(trim(col("raw"))) > 0)
      .withColumn("vec", transform(split(col("raw"), ","), t => t.cast(DoubleType)))
  }

  /** Centers file -> driver array (k = line count, src/Kmeans.java:45).
    * `recursiveFileLookup` mirrors the reference's recursive directory
    * walk (src/Kmeans.java:196-202: a directory's entries are re-read
    * with the same routine, descending into subdirectories), so a
    * centers "path" may be a file, a flat directory, or a nested tree
    * — e.g. an MR job's output dir containing per-reducer part files.
    *
    * Order is PINNED to (file path ascending, line order within file):
    * center index i becomes cluster id i+1 everywhere downstream, and a
    * bare collect() would return Spark's file-PACKING order (largest
    * first), permuting cluster ids across runs/layouts. The reference
    * itself walks `File.listFiles` order, which Java leaves
    * platform-unspecified — so a defined order is pinned here rather
    * than an undefined one replicated. `wholetext` makes the in-file
    * order SPLIT-PROOF: each file arrives as one row (never divided
    * across FilePartitions), so line order is the file's own byte
    * order by construction — the previous monotonically_increasing_id
    * spelling silently depended on split-packing order for a file
    * larger than maxPartitionBytes. Bounded driver state: k center
    * lines, never data.
    */
  def centersFrom(spark: SparkSession, path: String, skipCols: Int): Array[Array[Double]] =
    spark.read
      .option("recursiveFileLookup", "true")
      .option("wholetext", "true").text(path)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"),
        col("value"))
      .collect()
      .sortBy(_.getString(0))
      // CRLF | CR | LF: Hadoop's line reader (and Spark's non-wholetext
      // text source) treats a lone \r as a terminator too — "\r?\n"
      // alone would glue CR-only-terminated lines into one.
      .flatMap(_.getString(1).split("\r\n|\r|\n"))
      .filter(_.trim.nonEmpty)
      .map(_.split(",").drop(skipCols).map(_.trim.toDouble))
}

/** The one parse rule for a pm25 line, shared by [[Pm25.read]]'s
  * expressions and the [[Pm25V2]] reader. It is the rule of Spark's CSV
  * reader (`spark.read.schema(Pm25.schema).csv`) on this format:
  *
  *  - a line whose Java `trim` is empty (every char at most U+0020) is
  *    skipped;
  *  - cells split at `,`; an empty cell is null, string cells included;
  *    missing trailing cells are null and extra cells are ignored;
  *  - string cells keep their whitespace;
  *  - an int cell is `Integer.parseInt` of the cell, null where that
  *    throws (` 12`, `1.5` and `2147483648` are null; `+12`, `٣` and
  *    `１２` parse). An ASCII `[+-]?[0-9]+` cell is parsed inline from
  *    the bytes; only a cell with a non-ASCII byte is decoded.
  *
  * A line holding `"` fails with an IllegalArgumentException: the CSV
  * reader would unquote its cells where the reference's `split(",")`
  * keeps the quotes, so no reading of it is right for both.
  */
object Pm25Line {
  /** First hour cell; the cells before it are strings. */
  private val FirstHour: Int = 3
  private val Hours: Int = Pm25.schema.length - FirstHour
  /** [[parseInt]]'s null: outside the int range. */
  private val NullInt: Long = Long.MinValue

  private final val Comma: Byte = ','
  private final val Quote: Byte = '"'

  /** False for a blank line; fails a line holding a quote. */
  def keep(line: UTF8String): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes
    var blank = true
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == Quote)
        throw new IllegalArgumentException(
          s"pm25 line holds a quote, which this quote-free format does not " +
            s"allow: $line")
      // a UTF-8 lead or continuation byte is negative: a char above U+007F
      if (b > ' ' || b < 0) blank = false
      i += 1
    }
    !blank
  }

  /** Byte offset at which cell `field` starts, or -1 past the last cell. */
  private def cellStart(base: AnyRef, off: Long, n: Int, field: Int): Int = {
    var i = 0
    var f = 0
    while (f < field) {
      while (i < n && Platform.getByte(base, off + i) != Comma) i += 1
      if (i == n) return -1
      i += 1
      f += 1
    }
    i
  }

  /** Byte offset of the comma (or line end) that ends the cell at `from`. */
  private def cellEnd(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    var i = from
    while (i < n && Platform.getByte(base, off + i) != Comma) i += 1
    i
  }

  /** Cell `field` as the Catalyst value of its [[Pm25.schema]] type: a
    * UTF8String or a boxed int, or null.
    */
  def cell(line: UTF8String, field: Int): Any = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes
    val s = cellStart(base, off, n, field)
    if (s < 0) null
    else {
      val e = cellEnd(base, off, n, s)
      if (field < FirstHour) { if (e == s) null else line.copyUTF8String(s, e - 1) }
      else {
        val v = parseInt(base, off, s, e)
        if (v == NullInt) null else v.toInt
      }
    }
  }

  /** The 24 hour cells as doubles in one pass, a null element for a null
    * cell.
    */
  def hours(line: UTF8String): ArrayData = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes
    val out = UnsafeArrayData.createFreshArray(Hours, 8)
    var s = cellStart(base, off, n, FirstHour)
    var h = 0
    while (h < Hours) {
      if (s < 0) out.setNullAt(h)
      else {
        val e = cellEnd(base, off, n, s)
        val v = parseInt(base, off, s, e)
        if (v == NullInt) out.setNullAt(h) else out.setDouble(h, v.toDouble)
        s = if (e < n) e + 1 else -1
      }
      h += 1
    }
    out
  }

  /** `Integer.parseInt` of bytes [s, e), or [[NullInt]] where it throws. */
  private def parseInt(base: AnyRef, off: Long, s: Int, e: Int): Long = {
    if (s == e) return NullInt
    var i = s
    val first = Platform.getByte(base, off + i)
    val neg = first == '-'
    if (neg || first == '+') i += 1
    if (i == e) return NullInt
    var acc = 0L
    while (i < e) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) return parseDecoded(base, off, s, e)
      if (b < '0' || b > '9') return NullInt
      acc = acc * 10 + (b - '0')
      // past |Int.MinValue|: out of range for either sign
      if (acc > 2147483648L) return NullInt
      i += 1
    }
    val v = if (neg) -acc else acc
    if (v > Int.MaxValue) NullInt else v
  }

  /** The cell holds a non-ASCII byte: decode it and let `Integer.parseInt`
    * judge it, as the CSV reader does (it accepts Unicode decimal digits).
    */
  private def parseDecoded(base: AnyRef, off: Long, s: Int, e: Int): Long =
    try Integer.parseInt(UTF8String.fromAddress(base, off + s, e - s).toString)
    catch { case _: NumberFormatException => NullInt }

  /** The JVM name generated code calls the static forwarders by. */
  private[sources] val Static: String = getClass.getName.stripSuffix("$")
}

/** Keeps a non-blank pm25 line ([[Pm25Line.keep]]). */
case class Pm25Kept(child: Expression) extends UnaryExpression with Predicate {
  override def nullSafeEval(v: Any): Any = Pm25Line.keep(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"${Pm25Line.Static}.keep($l)")
  override protected def withNewChildInternal(newChild: Expression): Pm25Kept =
    copy(child = newChild)
}

/** Cell `field` of a pm25 line: a string for the 3 label cells, an int
  * for the hours ([[Pm25Line.cell]]).
  */
case class Pm25Cell(child: Expression, field: Int) extends UnaryExpression {
  override def dataType: DataType = Pm25.schema(field).dataType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Pm25Line.cell(v.asInstanceOf[UTF8String], field)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, l => {
      val x = ctx.freshName("cell")
      s"""Object $x = ${Pm25Line.Static}.cell($l, $field);
         |${ev.isNull} = $x == null;
         |if ($x != null) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $x;""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Pm25Cell =
    copy(child = newChild)
}

/** The hour cells of a pm25 line as `array<double>` ([[Pm25Line.hours]]). */
case class Pm25Hours(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullSafeEval(v: Any): Any = Pm25Line.hours(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"${Pm25Line.Static}.hours($l)")
  override protected def withNewChildInternal(newChild: Expression): Pm25Hours =
    copy(child = newChild)
}
