package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded corpus of reference-format envelope files for the ingest
  * workload, with the outcome each file must have.
  *
  * File i of seed s depends only on (s, i), so files can be made one at
  * a time, just before they are ingested. Every block of five files
  * holds the same mix of sizes (see [[layout]]), so runs with different
  * seeds measure the same work. One file in ten carries one over-length
  * value (the target's columns are VARCHAR(255)), which must roll the
  * whole file back. */
object Corpus {
  final case class FNum(fnumber: String, scanTime: String)
  final case class Rec(user: String, dtCreated: Long, dtSubmitted: Long,
      astName: String, location: String, status: String, jsonHash: String,
      localId: String, filename: String, fnumbers: IndexedSeq[FNum])

  /** What ingesting one file must produce. `rows` is the flattened row
    * count (what Main.run counts and the CSV export holds); `badRows`
    * the rows the JDBC load rejects; `fingerprint` covers the rows that
    * must land in the target table (none for a poisoned file). */
  final case class Expected(name: String, format: String, records: Int, rows: Long,
      poisoned: Boolean, badRows: Long, fingerprint: String, bytes: Long)

  val MinRecords = 100
  val MaxRecords = 4000
  val Block = 5
  val OverLength = 300
  private val statuses = IndexedSeq("Pending", "Approved", "Rejected")

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + salt)

  /** Format, size stratum and poison flag of file i. Each block of five
    * files is a seeded shuffle of the five strata of the log-uniform
    * size range. Formats
    * alternate over the strata, starting with XML for two blocks and
    * with JSON for the next two, so XML and JSON files are even over
    * four blocks. In even blocks the file of stratum [[PoisonStratum]]
    * is poisoned, one file in ten, XML and JSON in turn. */
  def layout(seed: Long, i: Int): (String, Int, Boolean) = {
    val block = i / Block
    val r = rng(seed, -1 - block)
    val order = Array.tabulate(Block)(k => k)
    for (k <- Block - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t
    }
    val stratum = order(i % Block)
    (if ((stratum + block / 2) % 2 == 0) "xml" else "json", stratum,
      block % 2 == 0 && stratum == PoisonStratum)
  }
  val PoisonStratum = 2

  def fileName(i: Int, format: String): String = f"f$i%04d.$format"

  /** The records of file i: the record count at the middle of its
    * stratum of the log-uniform size range (so every block holds the same
    * sizes), 0-3 fnumbers per record, sometimes-null ast_name and
    * local_id. */
  def records(seed: Long, i: Int): (String, Boolean, IndexedSeq[Rec]) = {
    val (format, stratum, poisoned) = layout(seed, i)
    val r = rng(seed, i)
    val span = math.log(MaxRecords.toDouble / MinRecords)
    val n = math.round(MinRecords * math.exp((stratum + 0.5) / Block * span)).toInt
    val name = fileName(i, format)
    val bad = if (poisoned) r.nextInt(n) else -1
    val recs = IndexedSeq.tabulate(n) { k =>
      val created = 1698412800L + r.nextInt(30000000)
      val k2 = r.nextInt(4)
      Rec(
        user = "user" + r.nextInt(5000),
        dtCreated = created,
        dtSubmitted = created + r.nextInt(86400),
        astName = if (r.nextInt(5) == 0) null else "Asset" + r.nextInt(40),
        location = if (k == bad) "L" * OverLength else "Site" + r.nextInt(12),
        status = statuses(r.nextInt(3)),
        jsonHash = f"${r.nextLong()}%016x",
        localId = if (r.nextInt(4) == 0) null else "local" + r.nextInt(100000),
        filename = name,
        fnumbers = IndexedSeq.tabulate(k2)(j => FNum(f"FN$i%04d$k%05d-$j",
          f"2024-12-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z")))
    }
    (format, poisoned, recs)
  }

  /** Flattened rows of one record, in IngestSchema.sinkColumns order.
    * One row per fnumber; a record without fnumbers keeps one row. In
    * XML a single <fnumbers> element is a nested map, not a repeated
    * group, and the reader lifts it into the record (the reference's
    * rule), so it too yields one row with null fnumber and scan_time. */
  def flatten(format: String, rec: Rec): Seq[Seq[Any]] = {
    def row(f: FNum) = Seq(rec.user, rec.dtCreated, rec.dtSubmitted, rec.astName,
      rec.location, rec.status, rec.jsonHash, rec.localId, rec.filename,
      if (f == null) null else f.fnumber, if (f == null) null else f.scanTime)
    val k = rec.fnumbers.size
    if (k == 0 || (format == "xml" && k == 1)) Seq(row(null))
    else rec.fnumbers.map(row)
  }

  /** Writes file i into `dir` and returns its expected outcome. */
  def write(seed: Long, i: Int, dir: File): (File, Expected) = {
    val (format, poisoned, recs) = records(seed, i)
    val f = new File(dir, fileName(i, format))
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try if (format == "xml") writeXml(w, recs) else writeJson(w, recs)
    finally w.close()
    val rows = recs.map(r => flatten(format, r))
    val landed = if (poisoned) Iterator.empty else rows.iterator.flatten
    val bad = if (poisoned) rows(recs.indexWhere(_.location.length > 255)).size.toLong else 0L
    (f, Expected(f.getName, format, recs.size, rows.map(_.size.toLong).sum, poisoned, bad,
      Fingerprint.ofValues(landed), f.length()))
  }

  private def writeJson(w: BufferedWriter, recs: Seq[Rec]): Unit = {
    def s(v: String) = if (v == null) "null" else Json.str(v)
    w.write("{\"Records\": [\n")
    recs.zipWithIndex.foreach { case (r, k) =>
      if (k > 0) w.write(",\n")
      w.write(s"""{"user": ${s(r.user)}, "dt_created": ${r.dtCreated}, """ +
        s""""dt_submitted": ${r.dtSubmitted}, "ast_name": ${s(r.astName)}, """ +
        s""""location": ${s(r.location)}, "status": ${s(r.status)}, """ +
        s""""json_hash": ${s(r.jsonHash)}, "local_id": ${s(r.localId)}, """ +
        s""""filename": ${s(r.filename)}, "fnumbers": [""" +
        r.fnumbers.map(f => s"""{"fnumber": ${s(f.fnumber)}, "scan_time": ${s(f.scanTime)}}""")
          .mkString(", ") + "]}")
    }
    w.write("\n]}\n")
  }

  private def writeXml(w: BufferedWriter, recs: Seq[Rec]): Unit = {
    def el(tag: String, v: Any): Unit = if (v != null) w.write(s"<$tag>$v</$tag>")
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Data>\n")
    recs.foreach { r =>
      w.write("<Record>")
      el("user", r.user); el("dt_created", r.dtCreated); el("dt_submitted", r.dtSubmitted)
      el("ast_name", r.astName); el("location", r.location); el("status", r.status)
      el("json_hash", r.jsonHash); el("local_id", r.localId); el("filename", r.filename)
      r.fnumbers.foreach { f =>
        w.write("<fnumbers>"); el("fnumber", f.fnumber); el("scan_time", f.scanTime)
        w.write("</fnumbers>")
      }
      w.write("</Record>\n")
    }
    w.write("</Data>\n")
  }
}
