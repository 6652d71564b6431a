package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
  IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITER — the sink half of the connector surface
  * (`Pm25V2` is the read half). Emits tab-separated text, one part file
  * per input partition.
  *
  * The point of building this on the V2 API rather than a naive
  * `foreachPartition` is the COMMIT PROTOCOL, which is what makes a
  * sink correct on a real cluster where tasks retry and speculate:
  *
  *  - each task attempt writes to a UNIQUE temp name
  *    (`.part-<partition>-<task>.tmp` — taskId differs per attempt), so
  *    two attempts of the same partition never clobber each other;
  *  - `DataWriter.commit()` only REPORTS the temp file in its
  *    WriterCommitMessage — nothing becomes visible at task success;
  *  - the driver's `BatchWrite.commit(messages)` renames exactly the
  *    winning attempts' files to their final `part-<partition>.tsv`
  *    names and drops a `_SUCCESS` marker — the single atomic-ish
  *    publish point. Losing/aborted attempts are deleted in `abort()`
  *    (task- and job-level), so a retried job leaves no orphans.
  *
  * The file layer is `java.io.File`, so the protocol holds in local
  * mode or on a shared POSIX filesystem (NFS); an object-store/HDFS
  * deployment would swap in the Hadoop `FileSystem` API with the same
  * temp-name + driver-rename shape.
  *
  * Usage: `df.write.format(classOf[TsvSinkV2].getName).mode("append")
  * .save(dir)`. Atomic column types only (int/long/double/string/bool);
  * NULL serializes as the empty string. Output is UTF-8; string cells
  * containing `\t`, `\n`, `\r`, or `\\` are backslash-escaped
  * (`\\t`/`\\n`/`\\r`/`\\\\`) so a cell can never forge a column or row
  * boundary — readers that must recover such cells byte-exactly unescape
  * in reverse (all other cells are written verbatim).
  */
class TsvSinkV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "TsvSinkV2 is write-only; the schema comes from the DataFrame")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TsvSinkTable(properties.get("path"), schema)
  override def supportsExternalMetadata(): Boolean = true
}

private[sources] class TsvSinkTable(path: String, writeSchema: StructType)
    extends Table with SupportsWrite {
  require(path != null, "tsv sink requires a .save(path)")
  override def name(): String = s"tsvsink($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        // reject unsupported column types at BUILD time: the writer's
        // formatter lookup still guards, but without this a full
        // distributed job launches, opens temp files on every task,
        // and fails row-by-row for an error knowable before any task
        for (f <- info.schema().fields)
          if (!TsvDataWriter.supported(f.dataType))
            throw new UnsupportedOperationException(
              s"TsvSinkV2 supports atomic columns only, got " +
                s"${f.name}: ${f.dataType}")
        override def toBatch: BatchWrite =
          new TsvBatchWrite(path, info.schema())
      }
    }
}

private[sources] case class TsvCommit(tempPath: String, partitionId: Int)
  extends WriterCommitMessage

private[sources] class TsvBatchWrite(dir: String, schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(dir).mkdirs()
    TsvWriterFactory(dir, schema)
  }
  /** The publish point: rename each winning attempt's temp file to its
    * final part name, then mark success. Runs once, on the driver,
    * only after every task has committed.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach { case TsvCommit(tmp, pid) =>
      val src = new java.io.File(tmp)
      val dst = new java.io.File(dir, f"part-$pid%05d.tsv")
      if (dst.exists()) dst.delete()
      require(src.renameTo(dst), s"rename $src -> $dst failed")
    }
    new java.io.FileOutputStream(new java.io.File(dir, "_SUCCESS")).close()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case TsvCommit(tmp, _) => new java.io.File(tmp).delete()
      case _ => ()
    }
}

private[sources] case class TsvWriterFactory(dir: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TsvDataWriter(dir, schema, partitionId, taskId)
}

private[sources] class TsvDataWriter(dir: String, schema: StructType,
                                     partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  // unique per ATTEMPT: a speculative/retried task gets a new taskId
  private val temp = new java.io.File(dir, f".part-$partitionId%05d-$taskId.tmp")
  // BufferedWriter over an explicit-UTF-8 OutputStreamWriter, NOT
  // PrintWriter: PrintWriter swallows IOExceptions (disk-full during
  // write/close would still "succeed" and commit a truncated file);
  // this stack lets every write/flush/close error propagate and fail
  // the task attempt, which is the whole point of the commit protocol.
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.io.FileOutputStream(temp), java.nio.charset.StandardCharsets.UTF_8))

  // A string cell must never forge a column/row boundary: escape the
  // separator chars (and backslash, so the escaping is reversible).
  private def writeEscaped(s: String): Unit =
    if (s.indexOf('\t') < 0 && s.indexOf('\n') < 0 &&
        s.indexOf('\r') < 0 && s.indexOf('\\') < 0) out.write(s)
    else {
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\t' => out.write("\\t")
          case '\n' => out.write("\\n")
          case '\r' => out.write("\\r")
          case '\\' => out.write("\\\\")
          case c    => out.write(c)
        }
        i += 1
      }
    }

  /** Writes a non-null cell of type `dt` straight to `out`. */
  private def formatter(dt: DataType): (InternalRow, Int) => Unit = dt match {
    case IntegerType => (r, i) => out.write(Integer.toString(r.getInt(i)))
    case LongType    => (r, i) => out.write(java.lang.Long.toString(r.getLong(i)))
    case DoubleType  => (r, i) => out.write(java.lang.Double.toString(r.getDouble(i)))
    case BooleanType => (r, i) => out.write(if (r.getBoolean(i)) "true" else "false")
    case StringType  => (r, i) => writeEscaped(r.getUTF8String(i).toString)
    case other => throw new UnsupportedOperationException(
      s"TsvSinkV2 supports atomic columns only, got $other")
  }
  // one formatter per column, resolved once per writer
  private val cells = schema.fields.map(f => formatter(f.dataType))

  /** Cells tab-separated, NULL as the empty string, one line per row. */
  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < cells.length) {
      if (i > 0) out.write('\t')
      if (!row.isNullAt(i)) cells(i)(row, i)
      i += 1
    }
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    out.close() // flush + close; an IOException here fails the attempt
    TsvCommit(temp.getPath, partitionId)
  }
  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    temp.delete()
  }
  override def close(): Unit = out.close()
}

private[sources] object TsvDataWriter {
  /** The type set the writer's formatters render — kept next to the
    * writer so the build-time validation and the formatters cannot drift.
    */
  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | BooleanType | StringType => true
    case _ => false
  }
}
