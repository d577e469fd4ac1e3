package graft.ingest.xml

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** XML as a first-class DataSource V2 (the integration SURVEY.md §4
  * prescribes for the custom XML reader):
  *
  * {{{
  *   spark.read.format("graft.ingest.xml.XmlDataSource")
  *     .schema(IngestSchema.raw)
  *     .option("rowTag", "Record")
  *     .load(path)
  * }}}
  *
  * Planner integration this buys over the RDD readers:
  *   - COLUMN PRUNING reaches the parse: `SupportsPushDownRequiredColumns`
  *     hands the required schema to each partition reader, which converts
  *     only the referenced fields (the reference's "early projection
  *     during parse", fileloader-schema.go:333-339, now done by Catalyst);
  *   - one InputPartition per file → per-file task parallelism with
  *     locality hooks, streaming StAX parse inside each task.
  */
class XmlDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft xml source requires an explicit .schema(...) (permissive parse, declared project)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XmlTable(schema, properties.asScala.toMap)
}

final class XmlTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String = s"graft-xml(${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(schema,
      options.getOrDefault("path", props.getOrElse("path", "")),
      options.getOrDefault("rowTag", props.getOrElse("rowTag", "Record")))
}

final class XmlScanBuilder(fullSchema: StructType, path: String, rowTag: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  import org.apache.spark.sql.sources.Filter

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the filters we can evaluate on parsed records, but report
    * ALL filters back as residual: the reader uses pushed filters to
    * skip records before InternalRow conversion (a throughput win), and
    * Spark still re-evaluates every predicate after the scan (a safety
    * net — pushdown here can only skip, never wrongly admit). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(XmlFilterEval.supports)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new XmlScan(required, path, rowTag, pushed)
}

final class XmlScan(required: StructType, path: String, rowTag: String,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xml path=$path rowTag=$rowTag ReadSchema=${required.simpleString} " +
      s"PushedFilters=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // skip names starting with `_` or `.` (`_SUCCESS`, `.crc`), as
    // Hadoop's FileInputFormat does for the binaryFiles readers
    val visible: PathFilter = f => !f.getName.startsWith("_") && !f.getName.startsWith(".")
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p, visible).filter(_.isFile).map(_.getPath.toString)
      else Array(path)
    files.sorted.map(f => XmlInputPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    XmlReaderFactory(required, rowTag, conf, pushed)
  }
}

final case class XmlInputPartition(file: String) extends InputPartition

final case class XmlReaderFactory(required: StructType, rowTag: String,
    conf: SerializableConfiguration,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[XmlInputPartition].file
    new PartitionReader[InternalRow] {
      private val path = new Path(file)
      private val in = path.getFileSystem(conf.value).open(path)
      private val it = graft.ingest.XmlRecordReader
        .internalRowIterator(in, rowTag, required,
          r => pushed.forall(f => XmlFilterEval(f, r, required)))
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = try in.close() catch { case _: Exception => }
    }
  }
}

/** Evaluator for the pushable subset of source filters over a converted
  * Row (top-level scalar attributes only). Conservative by design: any
  * uncertainty → keep the record (Spark re-filters after the scan). */
object XmlFilterEval {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types.StructType

  def supports(f: Filter): Boolean = f match {
    case _: EqualTo | _: IsNotNull | _: IsNull | _: In |
         _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: StringStartsWith => true
    case And(l, r) => supports(l) && supports(r)
    case _ => false
  }

  def apply(f: Filter, row: Row, schema: StructType): Boolean = {
    def value(attr: String): Option[Any] = {
      val i = schema.fieldNames.indexOf(attr)
      if (i < 0) None else if (row.isNullAt(i)) Some(null) else Some(row.get(i))
    }
    def cmp(attr: String, v: Any)(op: Int => Boolean): Boolean =
      value(attr) match {
        case Some(x: java.lang.Comparable[Any] @unchecked) if x != null &&
            x.getClass == v.getClass => op(x.compareTo(v))
        case Some(null) => false
        case _ => true // incomparable/unknown → keep, Spark re-filters
      }
    f match {
      case EqualTo(a, v) => value(a) match {
        case Some(x) => x == v
        case None => true
      }
      case IsNotNull(a) => value(a).forall(_ != null)
      case IsNull(a) => value(a).forall(_ == null)
      case In(a, vs) => value(a) match {
        case Some(x) => vs.contains(x)
        case None => true
      }
      case GreaterThan(a, v) => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v) => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v)(_ <= 0)
      case StringStartsWith(a, p) => value(a) match {
        case Some(x: String) => x.startsWith(p)
        case Some(null) => false
        case _ => true
      }
      case And(l, r) => apply(l, row, schema) && apply(r, row, schema)
      case _ => true
    }
  }
}
