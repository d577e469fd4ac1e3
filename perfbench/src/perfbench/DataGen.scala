package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the tables the query workload reads, in the shape of the
  * TPC-H-like star schema plus events, documents and embeddings that
  * `graft.Tables` expects: one single-file parquet table per name.
  *
  * The dataset is a constant of the benchmark (its own fixed seed), so
  * the result fingerprints of the queries can be recorded once; the
  * run seed only orders the queries. At this size a warm query costs
  * mostly fixed per-job overhead, which is what the workload measures. */
object DataGen {
  val DatasetSeed = 42L
  val Customers = 300
  val Suppliers = 20
  val Parts = 400
  val Orders = 3000
  val Events = 2000
  val Users = 60
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val words = ("the stream query row key order table scan merge part window join " +
    "slow agg column a vector fast small spark group customer line sort hash batch dup " +
    "data filter value big").split(" ")
  private val day = 86400000L
  private def ts(ms: Long) = new Timestamp(ms)
  private val t1995 = 788918400000L // 1995-01-01 UTC
  private val t2024 = 1704067200000L // 2024-01-01 UTC

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(DatasetSeed)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999, 9999), segments(r.nextInt(5)))))
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(500, 9999))))
    val adj = Array("cold", "small", "large", "shiny", "red", "blue")
    val nouns = Array("widget", "bolt", "gear", "spring", "valve")
    val types = Array("ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL", "MEDIUM")
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until Parts).map(i => Row(i.toLong, adj(r.nextInt(6)) + " " + nouns(r.nextInt(5)),
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 200) / 10.0)))

    val status = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until Orders).map { i =>
      Row(i.toLong, r.nextInt(Customers).toLong, status(r.nextInt(3)), money(1000, 400000),
        ts(t1995 + r.nextInt(2404) * day), prio(r.nextInt(5)))
    }
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders)
    val flags = Array("A", "N", "R")
    val lines = orders.flatMap { o =>
      val od = o.getTimestamp(4).getTime
      (1 to 1 + r.nextInt(7)).map { ln =>
        Row(o.getLong(0), r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln,
          (1 + r.nextInt(50)).toDouble, money(900, 100000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
          ts(od + (1 + r.nextInt(120)) * day))
      }
    }
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType), lines)

    val kinds = Array("click", "signup", "error", "view", "purchase")
    var t = t2024
    save("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until Events).map { i =>
        t += r.nextInt((2L * 30 * 86400 * 1000 / Events).toInt)
        Row(i.toLong, ts(t), r.nextInt(Users).toLong, kinds(r.nextInt(5)),
          money(0, 330), s"""{"k": ${r.nextInt(100)}}""")
      })
    val langs = Array("en", "en", "en", "es", "fr", "de", "zh")
    // one document in ten is a near copy of an earlier one (two words
    // changed), so the dedup and clustering queries have work to find
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until Documents).map { i =>
        val ws =
          if (i >= 50 && r.nextInt(10) == 0) {
            val c = texts(r.nextInt(i)).clone()
            (1 to 2).foreach(_ => c(r.nextInt(c.length)) = words(r.nextInt(words.length)))
            c
          } else Array.fill(10 + r.nextInt(90))(words(r.nextInt(words.length)))
        texts += ws
        val text = ws.mkString(" ")
        Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
          text.length.toLong)
      })
    save("embeddings", st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = false), "label" -> IntegerType),
      (0 until Embeddings).map { i =>
        val v = Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
        val norm = math.sqrt(v.map(x => x * x).sum).toFloat
        Row(i.toLong, v.map(_ / norm).toSeq, r.nextInt(10))
      })
  }
}
