package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The recorded result fingerprints: one `name<TAB>fingerprint` line per
  * query, lines starting with `#` ignored. */
object Fingerprints {
  def load(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  def save(f: File, header: String, fps: Seq[(String, String)]): Unit =
    Files.write(f.toPath, (header.split("\n").map("# " + _) ++
      fps.sortBy(_._1).map { case (k, v) => s"$k\t$v" }).mkString("", "\n", "\n").getBytes(UTF_8))
}
