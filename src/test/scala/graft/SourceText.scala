package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Source-text helpers for the lint specs. */
object SourceText {

  def scalaFiles(root: String): List[Path] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else Using.resource(Files.walk(Paths.get(root)))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  /** Source text without line and block comments; string literals are
    * kept whole, so a comment opener inside one starts no comment. Each
    * comment's newlines are kept, so line numbers stay those of the file. */
  def stripComments(s: String): String = {
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
          else { if (s.charAt(i) == '\n') out.append('\n'); i += 1 }
        } while (depth > 0 && i < s.length)
        out.append(' ')
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }
}
