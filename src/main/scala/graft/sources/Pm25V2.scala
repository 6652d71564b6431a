package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's pm25 CSV layout
  * (`/root/reference/hadoop_tutorial/Kmeans/pm25.txt`: date, station,
  * metric, h0..h23 — see `sources.Pm25.schema`), built the Spark-native
  * way rather than as a pre-parsing wrapper: the connector surface is
  * where scan-level optimizations live, and this one implements COLUMN
  * PRUNING at the reader (`SupportsPushDownRequiredColumns`) — a
  * `select(date, h3)` parses and materializes 2 of the 27 fields per
  * line, the same contract the parquet scan honors via ReadSchema.
  *
  * Scale shape: one InputPartition per file (the fixture is one small
  * file; a production text source splits on byte ranges at newline
  * boundaries — the partition-planning hook is where that goes), rows
  * are emitted as InternalRow directly (no Row→InternalRow conversion),
  * and the reader streams lines — no file-sized buffering.
  *
  * Usage: `spark.read.format(classOf[Pm25V2].getName).load(path)`.
  */
object Pm25V2 {
  /** Rebuild a Configuration from serialized props — the ONE definition
    * both the driver-side listing and the executor-side readers use, so
    * they can never drift apart.
    */
  private[sources] def confOf(props: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

class Pm25V2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Pm25.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new Pm25Table(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

private[sources] class Pm25Table(path: String) extends Table with SupportsRead {
  require(path != null, "pm25 source requires a .load(path)")
  override def name(): String = s"pm25($path)"
  override def schema(): StructType = Pm25.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Pm25ScanBuilder(path)
}

private[sources] class Pm25ScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = Pm25.schema
  // Spark hands us the minimal attribute set the query references; keep
  // source order so field index mapping below stays positional
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(Pm25.schema.fields.filter(f => keep(f.name)))
  }
  override def build(): Scan = new Pm25Scan(path, required)
}

private[sources] class Pm25Scan(path: String, required: StructType)
    extends Scan with Batch {
  // The SESSION's Hadoop configuration, not a bare `new Configuration()`:
  // spark.hadoop.* settings (object-store credentials/endpoints, HA
  // nameservices, fs impls) must reach both the driver-side listing and
  // the executor-side readers. Shipped to readers as a Map — Hadoop's
  // Configuration is not Serializable.
  private val hadoopProps: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }
  private def hadoopConf(): Configuration = Pm25V2.confOf(hadoopProps)
  override def readSchema(): StructType = required
  override def description(): String =
    s"pm25 cols=[${required.fieldNames.mkString(",")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf())
    // skip metadata/hidden files (_SUCCESS, .part-*.tmp, checksums) the
    // way Spark's built-in file sources do — an in-flight or orphaned
    // temp file in the directory must not be parsed as data
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .map(_.toString)
      else Array(path)
    files.map(f => Pm25Partition(f): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new Pm25ReaderFactory(required.fieldNames, hadoopProps)
}

private[sources] case class Pm25Partition(file: String) extends InputPartition

private[sources] class Pm25ReaderFactory(requiredNames: Array[String],
                                          hadoopProps: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new Pm25Reader(partition.asInstanceOf[Pm25Partition].file, requiredNames,
      hadoopProps)
}

private[sources] class Pm25Reader(file: String, requiredNames: Array[String],
                                  hadoopProps: Map[String, String])
    extends PartitionReader[InternalRow] {
  // source position per required field, resolved once
  private val fieldIdx: Array[Int] = requiredNames.map { n =>
    val i = Pm25.schema.fieldNames.indexOf(n)
    require(i >= 0, s"unknown pm25 column $n")
    i
  }

  private val in = {
    val p = new Path(file)
    val conf = Pm25V2.confOf(hadoopProps)
    val fs = p.getFileSystem(conf)
    new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p), "UTF-8"))
  }
  private var current: InternalRow = _

  private def nextLine(): UTF8String = {
    val text = in.readLine()
    if (text == null) null else UTF8String.fromString(text)
  }

  // cells parse by Pm25.read's rule (Pm25Line), so the two readers
  // agree on every line, dirty ones included
  override def next(): Boolean = {
    var line = nextLine()
    while (line != null && !Pm25Line.keep(line)) line = nextLine()
    current =
      if (line == null) null
      else new GenericInternalRow(fieldIdx.map(f => Pm25Line.cell(line, f)))
    line != null
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
