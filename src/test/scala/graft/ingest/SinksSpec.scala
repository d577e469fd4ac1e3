package graft.ingest

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** File-sink edge semantics + archival lifecycle. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("csv sink: header row, empty string for missing values (reference rule)") {
    val dir = tempDir("csv_sink").resolve("out").toString
    Seq(("a", Some("x")), ("b", None)).toDF("k", "v")
      .select(col("k"), col("v")).coalesce(1).createOrReplaceTempView("t")
    Sinks.csv(spark.table("t").coalesce(1), dir)
    val lines = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.head == "k,v")
    assert(lines.contains("a,x"))
    assert(lines.contains("b,\"\"") || lines.contains("b,"), s"got: ${lines.toSeq}")
  }

  test("json sink round-trips through spark.read.json") {
    val dir = tempDir("json_sink").resolve("out").toString
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    Sinks.json(df, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.select(sum(col("v"))).collect()(0).getLong(0) == 3L)
  }

  test("archive move: creates destination dirs, removes the source") {
    val src = tempDir("arch").resolve("arch.txt")
    Files.writeString(src, "payload")
    val destRoot = tempDir("arch_dest").resolve("a/b/c")
    val moved = Archive.moveInputFile(src.toString, destRoot.toString)
    assert(!Files.exists(src))
    assert(Files.exists(moved))
    assert(Files.readString(moved) == "payload")
  }

  test("archive move replaces an existing file at the destination") {
    val src = tempDir("arch2").resolve("arch2.txt")
    Files.writeString(src, "new")
    val destRoot = tempDir("arch_dest2")
    val existing = destRoot.resolve(src.getFileName.toString)
    Files.writeString(existing, "old")
    val moved = Archive.moveInputFile(src.toString, destRoot.toString)
    assert(Files.readString(moved) == "new")
  }
}
