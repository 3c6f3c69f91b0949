package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every stream or DSv2 module is called by a gate, an app or
  * a benchmark workload. A module under `graft.streaming` or
  * `graft.sources.v2` that only its own spec reaches demonstrates an API
  * and nothing more. A module passes when another file in `src/main` or
  * `perfbench/src` names one of its top-level types outside a comment (a
  * gate naming a DSv2 format in a string counts). */
class SurfaceLintSpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[Path] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else Using.resource(Files.walk(Paths.get(root)))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  /** Source text without line and block comments; string literals are
    * kept whole, so a comment opener inside one starts no comment. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val end =
        if (s.startsWith("\"\"\"", i)) {
          val e = s.indexOf("\"\"\"", i + 3)
          if (e < 0) s.length else e + 3
        } else if (s.charAt(i) == '"') {
          var j = i + 1
          while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\n')
            j += (if (s.charAt(j) == '\\') 2 else 1)
          math.min(j + 1, s.length)
        } else if (s.startsWith("'\"'", i)) i + 3 // a quote char opens no string
        else -1
      if (end >= 0) { out.append(s.substring(i, end)); i = end }
      else if (s.startsWith("//", i)) {
        val e = s.indexOf('\n', i)
        i = if (e < 0) s.length else e
      } else if (s.startsWith("/*", i)) { // Scala block comments nest
        var depth = 0
        do {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < s.length)
        out.append(' ')
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  test("every module under graft.streaming and graft.sources.v2 is called from src/main or perfbench/src") {
    val topLevel =
      """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:class|object|trait)\s+(\w+)""".r
    val modules = Seq("streaming", "sources/v2")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d"))
    assert(modules.nonEmpty, "src/main not found from the working directory")
    val code: Map[Path, String] = (scalaFiles("src/main") ++ scalaFiles("perfbench/src"))
      .map(p => p.toAbsolutePath.normalize -> stripComments(Files.readString(p))).toMap
    val uncalled = modules.filter { m =>
      val self = m.toAbsolutePath.normalize
      val names = topLevel.findAllMatchIn(code(self)).map(_.group(1)).toSeq
      !names.exists { n =>
        val ref = s"\\b$n\\b".r
        code.exists { case (p, text) => p != self && ref.findFirstIn(text).isDefined }
      }
    }.map(_.getFileName.toString.stripSuffix(".scala")).sorted
    assert(uncalled.isEmpty,
      s"modules no other file in src/main or perfbench/src calls: ${uncalled.mkString(", ")}")
  }
}
