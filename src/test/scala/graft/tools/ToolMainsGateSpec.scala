package graft.tools

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: a scale check is an entry in [[Scale]]'s registry,
  * which tier-1 runs at a small size ([[ScaleGateSpec]]), not another
  * `main` in `graft.tools` that nothing runs. Only the registry runner
  * and the three non-gate tools define one. */
class ToolMainsGateSpec extends AnyFunSuite {

  private val allowed = Set("Scale", "Explain", "IndexBuild", "QProf")

  private val mainDef = """\bdef\s+main\s*\(""".r
  private val objectDef = """\bobject\s+(\w+)""".r

  /** The objects in `text` whose body defines a `main`. */
  private def mains(text: String): Seq[String] = {
    val objects = objectDef.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
    mainDef.findAllMatchIn(text).map { m =>
      objects.filter(_._1 < m.start).lastOption.fold("<top level>")(_._2)
    }.toSeq
  }

  test("the pattern recognises the shapes it gates") {
    val main = "def " + "main"
    assert(mains(s"object A {\n  $main(args: Array[String]): Unit = ()\n}") == Seq("A"))
    assert(mains(s"object A { def run() = 1 }\nobject B { $main (a: Array[String]) = () }")
      == Seq("B"))
    assert(mains("object A { def mainly(x: Int) = x }").isEmpty)
  }

  test("graft.tools defines a main only in the registry runner and the named tools") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/tools")
    val files = java.nio.file.Files.walk(root)
    val found = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => mains(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(o => s"$p: $o"))
      .toList
    finally files.close()
    val offenders = found.filterNot(f => allowed(f.substring(f.lastIndexOf(": ") + 2)))
    assert(offenders.isEmpty,
      "add a scale check as a graft.tools.Scale registry entry, not a main:\n" +
        offenders.mkString("\n"))
    assert(found.exists(_.endsWith(": Scale")), s"no Scale main found in $root")
  }
}
