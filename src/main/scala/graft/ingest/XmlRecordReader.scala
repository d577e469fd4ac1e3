package graft.ingest

import java.io.InputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ingest.xml.XmlDataSource

/** The XML reader: the one way XML enters the engine.
  *
  * Reproduces the reference's XML semantics
  * (fileloader/fileloader-schema.go:142-197, :377-510):
  *   - token-scan for `<rowTag>` start elements, parse each subtree
  *     (recursive descent, :390-444);
  *   - second occurrence of a child tag promotes the value to an array
  *     (:416-425);
  *   - leaf CharData is trimmed text (:427-433).
  *
  * `read` is the DataSource V2 source [[graft.ingest.xml.XmlDataSource]]:
  * one input partition per file, each StAX-parsed *streaming* (constant
  * memory — the same property as the reference's channel pipeline)
  * inside its task, so parallelism is per file, which is the natural
  * unit at scale (ingest drops batches of files). Each record's parse
  * tree is converted straight to a row of the required (possibly
  * pruned) schema. Typing rules mirror Spark's PERMISSIVE JSON reader
  * (unparseable or type-mismatched values → null); XmlDirectSpec asserts
  * equality with the canonical path, which emits each record as JSON and
  * re-reads it with Spark's JSON reader (`readViaJson`).
  */
object XmlRecordReader {

  def read(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.format(classOf[XmlDataSource].getName)
      .schema(schema)
      .option("rowTag", rowTag)
      .load(path)

  /** Canonical (reference) path: records re-typed by Spark's JSON reader. */
  private[ingest] def readViaJson(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(readAsJson(spark, path, rowTag))

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  /** InternalRow iterator for the DSv2 source: parse trees converted to
    * the (possibly pruned) required schema — only referenced fields are
    * materialized. */
  private[ingest] def internalRowIterator(in: InputStream, rowTag: String,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
    val ser = enc.createSerializer()
    treeIterator(in, rowTag).map(t => ser(treeToRow(t, schema)).copy())
  }

  private def treeToRow(tree: Any, schema: StructType): Row = tree match {
    case m: mutable.LinkedHashMap[String, Any] @unchecked =>
      Row.fromSeq(schema.fields.toSeq.map(f => convert(m.get(f.name).orNull, f.dataType)))
    case _ => Row.fromSeq(schema.fields.toSeq.map(_ => null))
  }

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => s
    case (s: String, LongType) => try { s.trim.toLong } catch { case _: NumberFormatException => null }
    case (s: String, IntegerType) => try { s.trim.toInt } catch { case _: NumberFormatException => null }
    case (s: String, DoubleType) => try { s.trim.toDouble } catch { case _: NumberFormatException => null }
    case (s: String, BooleanType) => s.trim.toLowerCase match {
      case "true" => true; case "false" => false; case _ => null
    }
    case (buf: mutable.ArrayBuffer[Any] @unchecked, ArrayType(et, _)) =>
      buf.map(convert(_, et)).toSeq
    case (m: mutable.LinkedHashMap[String, Any] @unchecked, st: StructType) =>
      treeToRow(m, st)
    case (s: String, ArrayType(et, _)) if s.isEmpty => null
    case _ => null // type mismatch → null (PERMISSIVE)
  }

  /** Parse XML file(s) into one canonical-JSON string per record. */
  private[ingest] def readAsJson(spark: SparkSession, path: String, rowTag: String): Dataset[String] = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (_, pds) => treeIterator(pds.open(), rowTag).map(toJson) }
      .toDS()
  }

  // XMLInputFactory.newInstance() does a service-loader lookup — far too
  // expensive per record. One factory per thread (factories aren't
  // guaranteed thread-safe; readers created from them are independent).
  private val factory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
      // harden against entity-based attacks on untrusted inputs
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      f
    }
  }

  /** Lazy iterator of parsed record trees from one XML stream. */
  private def treeIterator(in: InputStream, rowTag: String): Iterator[Any] = {
    val rd = factory.get().createXMLStreamReader(in)
    new Iterator[Any] {
      private var nextRec: Any = advance()
      private def advance(): Any = {
        while (rd.hasNext) {
          if (rd.next() == XMLStreamConstants.START_ELEMENT &&
              rd.getLocalName == rowTag) {
            return liftNestedMaps(parseElement(rd))
          }
        }
        rd.close(); in.close()
        null
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): Any = { val r = nextRec; nextRec = advance(); r }
    }
  }

  /** Recursive-descent parse of the element the reader is positioned on.
    * Returns either a trimmed String (leaf) or a LinkedHashMap of
    * children, where repeated tags have been promoted to ArrayBuffer. */
  private def parseElement(rd: XMLStreamReader): Any = {
    val children = new mutable.LinkedHashMap[String, Any]()
    val text = new StringBuilder
    while (rd.hasNext) {
      rd.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val name = rd.getLocalName
          val value = parseElement(rd)
          children.get(name) match {
            case None => children(name) = value
            case Some(buf: mutable.ArrayBuffer[Any] @unchecked) => buf += value
            case Some(prev) => children(name) = mutable.ArrayBuffer(prev, value)
          }
        case XMLStreamConstants.CHARACTERS => text.append(rd.getText)
        case XMLStreamConstants.END_ELEMENT =>
          return if (children.nonEmpty) children else text.toString.trim
        case _ =>
      }
    }
    if (children.nonEmpty) children else text.toString.trim
  }

  /** One-level nested (non-repeated) maps are flattened into the parent
    * record, nested values overwriting parent keys — the reference's
    * validation-time lift (fileloader-schema.go:488-496). Repeated groups
    * (arrays) are left for the flatten operator. */
  private def liftNestedMaps(v: Any): Any = v match {
    case m: mutable.LinkedHashMap[String, Any] @unchecked =>
      val out = new mutable.LinkedHashMap[String, Any]()
      m.foreach {
        case (_, child: mutable.LinkedHashMap[String, Any] @unchecked) =>
          child.foreach { case (ck, cv) => out(ck) = cv }
        case (k, x) => out(k) = x
      }
      out
    case other => other
  }

  /** Canonical JSON encoding. XML text is untyped; integer-looking leaves
    * are emitted as JSON numbers so the declared schema (LongType epoch
    * fields) types them — fixing the reference's float64 hazard. */
  private[ingest] def toJson(v: Any): String = v match {
    case m: mutable.LinkedHashMap[String, Any] @unchecked =>
      m.map { case (k, x) => s"${quote(k)}:${toJson(x)}" }.mkString("{", ",", "}")
    case buf: mutable.ArrayBuffer[Any] @unchecked =>
      buf.map(toJson).mkString("[", ",", "]")
    case s: String if s.matches("-?\\d{1,18}") => s
    case s: String => quote(s)
    case other => quote(String.valueOf(other))
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }
}
