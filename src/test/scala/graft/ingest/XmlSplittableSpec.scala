package graft.ingest

import graft.SparkSpec

/** The splittable XML path must equal the single-stream path while
  * actually using multiple input splits. */
class XmlSplittableSpec extends SparkSpec {

  private lazy val bigXml: String = {
    val f = tempDir("split").resolve("split.xml")
    val sb = new StringBuilder("<Data>")
    (1 to 2000).foreach { i =>
      sb.append(s"""<Record><user>user$i</user><dt_created>${1698412800L + i}</dt_created>""")
      sb.append(s"""<json_hash>h$i</json_hash>""")
      (0 until i % 3).foreach { j =>
        sb.append(s"<fnumbers><fnumber>FN$i-$j</fnumber><scan_time>t$j</scan_time></fnumbers>")
      }
      sb.append("</Record>")
    }
    sb.append("</Data>")
    java.nio.file.Files.writeString(f, sb.toString)
    f.toString
  }

  test("splittable read equals streaming read on the fixture") {
    val a = XmlRecordReader.readSplittable(spark, "/root/reference/test-loader.xml",
      "Record", IngestSchema.raw)
    val b = XmlRecordReader.read(spark, "/root/reference/test-loader.xml",
      "Record", IngestSchema.raw)
    assert(a.collect().map(_.toString).sorted.toSeq ==
      b.collect().map(_.toString).sorted.toSeq)
  }

  test("one file parses across many splits with identical results") {
    val split = XmlRecordReader.readSplittable(spark, bigXml, "Record",
      IngestSchema.raw, minSplits = 8)
    assert(split.rdd.getNumPartitions > 1,
      s"expected multiple splits, got ${split.rdd.getNumPartitions}")
    val whole = XmlRecordReader.read(spark, bigXml, "Record", IngestSchema.raw)
    assert(split.count() == 2000)
    assert(split.collect().map(_.toString).sorted.toSeq ==
      whole.collect().map(_.toString).sorted.toSeq)
  }

  test("flatten over the splittable read preserves the row-count invariant") {
    val flat = Flatten(XmlRecordReader.readSplittable(spark, bigXml, "Record",
      IngestSchema.raw, minSplits = 8))
    // Σ max(1, i % 3) over i=1..2000: i%3==0 → 1, ==1 → 1, ==2 → 2
    val expected = (1 to 2000).map(i => math.max(1, i % 3)).sum
    assert(flat.count() == expected)
  }
}
