package graft.ingest

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The single-pass `Flatten` against the union-of-explodes form it
  * replaced, kept here as the oracle: on seeded random records both give
  * the same multiset of rows and the same schema (names, order, types and
  * nullability). */
class FlattenEquivalenceSpec extends SparkSpec {

  /** The previous Flatten: one filtered explode per array field and a
    * filtered branch of base rows, combined by `unionByName`. */
  private def unionOracle(df: DataFrame): DataFrame = {
    val arrayFields = df.schema.fields.filter(_.dataType.isInstanceOf[ArrayType])
    if (arrayFields.isEmpty) return df
    val arrayNames = arrayFields.map(_.name).toSet
    val baseCols = df.schema.fieldNames.filterNot(arrayNames.contains)
    val expansions = arrayFields.map { f =>
      val nonEmpty = df.filter(coalesce(size(col(f.name)), lit(0)) > 0)
        .select(baseCols.map(col) :+ explode(col(f.name)).as("_elem"): _*)
      f.dataType.asInstanceOf[ArrayType].elementType match {
        case st: StructType =>
          val nested = st.fieldNames
          val kept = baseCols.filterNot(nested.contains)
          nonEmpty.select(kept.map(col) ++ nested.map(n => col(s"_elem.$n").as(n)): _*)
        case _ =>
          nonEmpty.withColumnRenamed("_elem", f.name)
      }
    }
    val allEmpty = arrayFields.map(f => coalesce(size(col(f.name)), lit(0)) <= 0)
      .reduce(_ && _)
    val baseRows = df.filter(allEmpty).select(baseCols.map(col): _*)
    (expansions :+ baseRows).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def field(name: String, dt: DataType, nullable: Boolean = true) =
    StructField(name, dt, nullable)

  /** Base columns: a non-null id, a name that element structs may
    * shadow, and a nullable number. */
  private val base = Seq(field("id", LongType, nullable = false),
    field("name", StringType), field("score", DoubleType))

  private val elemA = StructType(Seq(field("name", StringType),
    field("code", StringType, nullable = false)))
  private val elemB = StructType(Seq(field("tag", StringType), field("score", DoubleType)))

  /** The shapes under test: one and two array fields, struct and
    * primitive elements, element fields that collide with base columns
    * (`name` in A, `score` in B) and arrays whose elements may be null. */
  private val shapes: Seq[(String, StructType)] = Seq(
    "one struct array" -> StructType(base :+ field("as", ArrayType(elemA))),
    "one primitive array" -> StructType(base :+ field("ns", ArrayType(LongType))),
    "two struct arrays" -> StructType(base ++ Seq(
      field("as", ArrayType(elemA, containsNull = false)),
      field("bs", ArrayType(elemB)))),
    "struct and primitive arrays" -> StructType(base ++ Seq(
      field("ns", ArrayType(StringType, containsNull = false)),
      field("as", ArrayType(elemA)))))

  private def value(dt: DataType, nullable: Boolean, rnd: Random): Any =
    if (nullable && rnd.nextInt(6) == 0) null
    else dt match {
      case LongType => rnd.nextInt(50).toLong
      case DoubleType => rnd.nextInt(100) / 4.0
      case StringType => s"s${rnd.nextInt(30)}"
      case st: StructType => Row.fromSeq(st.fields.map(f => value(f.dataType, f.nullable, rnd)).toSeq)
      case ArrayType(et, containsNull) =>
        // null, empty, or 1-3 elements
        rnd.nextInt(5) match {
          case 0 if nullable => null
          case 0 | 1 => Seq.empty
          case _ => Seq.fill(1 + rnd.nextInt(3))(value(et, containsNull, rnd))
        }
    }

  private def records(schema: StructType, seed: Long, n: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = (1 to n).map { i =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        if (f.name == "id") i.toLong else value(f.dataType, f.nullable, rnd)
      })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  for ((shape, schema) <- shapes) {
    test(s"$shape: same rows and schema as the union oracle over random records") {
      (1 to 4).foreach { round =>
        val df = records(schema, seed = 1000L * round + schema.size, n = 60)
        val got = Flatten(df)
        val want = unionOracle(df)
        assert(got.schema == want.schema,
          s"round $round schema\n got ${got.schema.treeString}\nwant ${want.schema.treeString}")
        assert(multiset(got) == multiset(want), s"round $round rows differ")
      }
    }
  }

  test("the plan over a file source scans it once and has no Union") {
    val path = tempDir("flatten_scan").resolve("records.json")
    Files.writeString(path,
      """{"Records": [
        |  {"user": "u1", "fnumbers": [{"fnumber": "F1"}, {"fnumber": "F2"}]},
        |  {"user": "u2", "fnumbers": []},
        |  {"user": "u3"}
        |]}""".stripMargin)
    val raw = JsonIngest.read(spark, path.toString)
    val flat = Flatten(raw)
    val plan = flat.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1, plan.treeString)
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
    // the oracle needs one scan per branch
    assert(unionOracle(raw).queryExecution.optimizedPlan.collectLeaves().size == 2)
    assert(multiset(flat) == multiset(unionOracle(raw)))
    assert(flat.count() == 4)
  }

  test("a streaming drop directory flattens to the same rows as the batch read") {
    val dir = tempDir("flatten_stream")
    Files.writeString(dir.resolve("a.json"),
      """{"Records": [{"user": "u1", "fnumbers": [{"fnumber": "F1"}, {"fnumber": "F2"}]},
        |  {"user": "u2", "fnumbers": []}]}""".stripMargin)
    Files.writeString(dir.resolve("b.json"),
      """{"Records": [{"user": "u3"}, {"user": "u4", "fnumbers": [{"scan_time": "t"}]}]}""")
    val q = StreamingIngest.jsonStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("flatten_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch = JsonIngest.projectWhitelist(Flatten(JsonIngest.read(spark, dir.toString)),
        IngestSchema.sinkColumns,
        IngestSchema.flattened.fields.map(f => f.name -> f.dataType).toMap)
      val streamed = spark.table("flatten_stream")
      assert(multiset(streamed) == multiset(batch))
      assert(streamed.count() == 5)
    } finally q.stop()
  }
}
