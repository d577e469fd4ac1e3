package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprints of row sets.
  *
  * A row's canonical text joins its values in column-name order, with
  * doubles rounded to [[SigDigits]] significant digits (so a different
  * summation order cannot flip a fingerprint) and nested values written
  * out recursively. Each row hashes to 64 bits; the set's fingerprint
  * is the row count plus the wrapping sum of the row hashes and the
  * schema hash. Summing (not xor-ing) keeps duplicate rows visible. */
object Fingerprint {
  val SigDigits = 9
  private val mc = new MathContext(SigDigits, RoundingMode.HALF_EVEN)

  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      "ts" + (Math.floorDiv(t.getTime, 1000L) * 1000000 + t.getNanos / 1000)
    case t: java.time.Instant => "ts" + (t.getEpochSecond * 1000000 + t.getNano / 1000)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  /** 64-bit FNV-1a over the UTF-8 bytes, then the splitmix64 finalizer
    * so that sums of hashes of similar strings stay well spread. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff); h *= 0x100000001b3L; i += 1
    }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def rowHash(values: Seq[Any]): Long = hash64(values.map(canon).mkString("\u0001"))

  def format(n: Long, sum: Long): String = f"$n:$sum%016x"

  /** Fingerprint of rows given as value sequences in a fixed column order. */
  def ofValues(rows: Iterator[Seq[Any]]): String = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    format(n, sum)
  }

  /** Fingerprint of a DataFrame's full output, computed by Spark. Column
    * order does not matter; column names and types do. */
  def ofDataFrame(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val perm = fields.map(_._2)
    val schemaHash = hash64(fields.map { case (f, _) => f.name + " " + f.dataType.simpleString }
      .mkString(","))
    val (n, sum) = df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += rowHash(perm.toSeq.map(r.get)) }
      Iterator((n, s))
    }.fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    format(n, sum + schemaHash)
  }
}
