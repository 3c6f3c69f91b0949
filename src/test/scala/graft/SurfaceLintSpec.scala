package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every stream or DSv2 module is called by a gate, an app or
  * a benchmark workload. A module under `graft.streaming` or
  * `graft.sources.v2` that only its own spec reaches demonstrates an API
  * and nothing more. A module passes when another file in `src/main` or
  * `perfbench/src` names one of its top-level types outside a comment (a
  * gate naming a DSv2 format in a string counts). */
class SurfaceLintSpec extends AnyFunSuite {

  import SourceText._

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
