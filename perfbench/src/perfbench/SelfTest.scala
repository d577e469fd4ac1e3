package perfbench

import java.nio.file.Files

/** The benchmark's own checks, run without Spark work: corpus
  * determinism, the p90 sample rule and fingerprint canonicalization.
  * Exits non-zero on the first failure. */
object SelfTest {
  private var n = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok $n - $what")
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory(new java.io.File(args(0)).toPath, "selftest").toFile
    try {
      def bytes(seed: Long, i: Int, sub: String) = {
        val d = new java.io.File(dir, sub); d.mkdirs()
        val (f, e) = Corpus.write(seed, i, d)
        (Files.readAllBytes(f.toPath).toSeq, e)
      }
      check("same seed, same corpus files and manifest") {
        (0 until 16).forall(i => bytes(7, i, "a") == bytes(7, i, "b"))
      }
      check("another seed, other files") {
        (0 until 4).exists(i => bytes(7, i, "a")._1 != bytes(8, i, "c")._1)
      }
      check("each block of five holds every size stratum; poison only in even blocks") {
        (0 until 8).forall { b =>
          val l = (b * 5 until b * 5 + 5).map(Corpus.layout(3, _))
          l.map(_._2).toSet == (0 until 5).toSet && l.count(_._3) == (if (b % 2 == 0) 1 else 0)
        }
      }
      check("formats are even over four blocks and poisoned files alternate formats") {
        val l = (0 until 40).map(Corpus.layout(3, _))
        l.count(_._1 == "xml") == 20 && l.filter(_._3).map(_._1).distinct.size == 2
      }
      check("record counts stay in range and every block holds the same sizes") {
        val sizes = (0 until 20).map(i => Corpus.records(5, i)._3.size)
        sizes.forall(k => k >= Corpus.MinRecords && k <= Corpus.MaxRecords) &&
          sizes.grouped(Corpus.Block).map(_.sorted).toSet.size == 1
      }
      check("XML lifts a single fnumbers element; JSON keeps it") {
        val r = Corpus.Rec("u", 1, 2, null, "l", "s", "h", null, "f", IndexedSeq(Corpus.FNum("a", "b")))
        Corpus.flatten("xml", r).head(9) == null && Corpus.flatten("json", r).head(9) == "a"
      }

      check("end-to-end metrics: per-kind medians summed, rows per CPU second") {
        val e = Stats.endToEnd(Seq(("a", 1.0, 2.0), ("a", 3.0, 2.0), ("b", 5.0, 1.0), ("b", 5.0, 4.0),
          ("b", 9.0, 14.0)).map { case (k, w, c) => Sample(k, w, c, 0) }, 46).map(m => m._1 -> m._2).toMap
        e == Map("pass_cpu_s" -> 6.0, "rows_per_cpu_s" -> 2.0) &&
          Stats.pass(Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).map { case (k, w) => Sample(k, w, 0, 0) },
            _.wallS) == 7.0
      }
      check("tracing overhead: per kind traced minus untraced median, kinds with both") {
        Stats.traceOverhead(Seq(("a", 1.0, false), ("a", 3.0, false), ("a", 4.0, true),
          ("b", 5.0, true))) == 2.0
      }
      check("an ingest job's layer is its first program frame on the driver stack") {
        def site(frames: String*) = ("org.apache.spark.sql.Dataset.run(Dataset.scala:1)" +: frames)
          .mkString("\n")
        val main = "graft.Main$.run(Main.scala:82)"
        IngestWorkload.layerOf(site("graft.ingest.Sinks$.csv(Sinks.scala:20)", main)) ==
          "ingest.export.csv" &&
          IngestWorkload.layerOf(site("graft.ingest.Sinks$.xlsx(Sinks.scala:78)", main)) ==
          "ingest.export.xlsx" &&
          IngestWorkload.layerOf(site("graft.ingest.JdbcTransactionalSink$.write0(J.scala:1)",
            main)) == "ingest.jdbc" &&
          IngestWorkload.layerOf(site(main)) == "ingest.flatten"
      }
      check("quantile interpolates between order statistics") {
        Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5 &&
          Stats.quantile(Seq(1.0, 2.0), 0.9) == 1.9
      }

      check("fingerprints ignore row order") {
        val rows = Seq(Seq[Any](1L, "a", 0.5), Seq[Any](2L, null, 1.5), Seq[Any](3L, "c", -2.0))
        Fingerprint.ofValues(rows.iterator) == Fingerprint.ofValues(rows.reverse.iterator)
      }
      check("fingerprints keep duplicate rows") {
        val r = Seq[Any](1L, "a")
        Fingerprint.ofValues(Iterator(r, r)) != Fingerprint.ofValues(Iterator(r))
      }
      check("doubles are rounded to nine significant digits") {
        Fingerprint.canon(0.1 + 0.2) == Fingerprint.canon(0.3) &&
          Fingerprint.canon(1234567.891) == Fingerprint.canon(1234567.892) &&
          Fingerprint.canon(1234567.81) != Fingerprint.canon(1234567.91) &&
          Fingerprint.canon(-0.0) == Fingerprint.canon(0.0) &&
          Fingerprint.canon(1.0f) == Fingerprint.canon(1.0)
      }
      check("null, empty string and the text \"null\" differ") {
        Set(Fingerprint.canon(null), Fingerprint.canon(""), Fingerprint.canon("null")).size == 3
      }
      check("nested values are canonical: maps sorted, arrays in order") {
        Fingerprint.canon(Map("b" -> 1, "a" -> 2)) == Fingerprint.canon(Map("a" -> 2, "b" -> 1)) &&
          Fingerprint.canon(Seq(1, 2)) != Fingerprint.canon(Seq(2, 1))
      }
      check("metric names use only [A-Za-z0-9_.-] and are unique") {
        val names = Metrics.perLayer.map(_._1)
        names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")) && names.distinct.size == names.size
      }
    } finally Dirs.delete(dir)
    println(s"$n checks passed")
  }
}
