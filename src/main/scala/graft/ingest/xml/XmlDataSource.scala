package graft.ingest.xml

import java.io.FileNotFoundException
import java.util
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** XML as a DataSource V2 (the integration SURVEY.md §4 prescribes for
  * the custom XML reader), and the only way XML enters the engine:
  *
  * {{{
  *   spark.read.format("graft.ingest.xml.XmlDataSource")
  *     .schema(IngestSchema.raw)
  *     .option("rowTag", "Record")
  *     .load(path)
  * }}}
  *
  *   - the input is listed when the table is made, at `load`: a missing
  *     path fails at the read, as Spark's own file readers do, not inside
  *     the first sink. `path` is a file, a directory or a glob, resolved
  *     as Hadoop's FileInputFormat does: a directory's files, not its
  *     subdirectories, and no name starting with `_` or `.`;
  *   - COLUMN PRUNING reaches the parse: `SupportsPushDownRequiredColumns`
  *     hands the required schema to each partition reader, which converts
  *     only the referenced fields (the reference's "early projection
  *     during parse", fileloader-schema.go:333-339, now done by Catalyst);
  *   - one InputPartition per file → per-file task parallelism, streaming
  *     StAX parse inside each task.
  */
class XmlDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft xml source requires an explicit .schema(...) (permissive parse, declared project)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = options.getOrDefault("path", "")
    new XmlTable(schema, path, XmlDataSource.listFiles(path),
      options.getOrDefault("rowTag", "Record"))
  }
}

object XmlDataSource {

  // Hadoop's FileInputFormat hides these names from the binary and text
  // readers (`_SUCCESS`, `.crc`)
  private val visible: PathFilter =
    f => !f.getName.startsWith("_") && !f.getName.startsWith(".")

  /** The files `path` names, sorted. */
  private def listFiles(path: String): Array[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(p, visible)).getOrElse(Array.empty)
    if (matches.isEmpty) throw new FileNotFoundException(s"XML input path does not exist: $path")
    matches.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath, visible).filter(_.isFile) else Array(s)
    }.map(_.getPath.toString).sorted
  }
}

final class XmlTable(schema: StructType, path: String, files: Array[String],
    rowTag: String) extends Table with SupportsRead {

  override def name(): String = s"graft-xml($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(schema, path, files, rowTag)
}

final class XmlScanBuilder(fullSchema: StructType, path: String, files: Array[String],
    rowTag: String) extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new XmlScan(required, path, files, rowTag)
}

final class XmlScan(required: StructType, path: String, files: Array[String],
    rowTag: String) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml path=$path rowTag=$rowTag ReadSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XmlInputPartition(f): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory = XmlReaderFactory(required,
    rowTag, new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration))
}

final case class XmlInputPartition(file: String) extends InputPartition

final case class XmlReaderFactory(required: StructType, rowTag: String,
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = new Path(partition.asInstanceOf[XmlInputPartition].file)
    new PartitionReader[InternalRow] {
      private val in = file.getFileSystem(conf.value).open(file)
      private val it = graft.ingest.XmlRecordReader.internalRowIterator(in, rowTag, required)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = try in.close() catch { case _: Exception => }
    }
  }
}
