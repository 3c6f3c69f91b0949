package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every lake commit goes through one fence loop,
  * `GraftLake.fence`, or — for a new table's version 0, which has nothing
  * to re-plan — `GraftLake.commitVersion0`. A `tryCommit(` call anywhere
  * else would bring back a second commit path, with its own retry,
  * checkpoint and cleanup rules. Comments do not count. */
class LakeCommitLintSpec extends AnyFunSuite {

  import SourceText._

  test("tryCommit( is called only by the fence loop and the version-0 helper") {
    val call = """(?<!def )\btryCommit\s*\(""".r
    val defName = """\bdef\s+(\w+)""".r
    val allowed = Set("fence", "commitVersion0")
    val sources = scalaFiles("src/main/scala/graft/sources/lake")
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val calls = sources.flatMap { p =>
      val code = stripComments(Files.readString(p))
      call.findAllMatchIn(code).map { m =>
        val before = code.substring(0, m.start)
        val enclosing = defName.findAllMatchIn(before).toSeq.lastOption
          .map(_.group(1)).getOrElse("<none>")
        (p.getFileName.toString, before.count(_ == '\n') + 1, enclosing)
      }
    }
    val stray = calls.filterNot(c => allowed(c._3)).sorted
    assert(stray.isEmpty, "tryCommit( outside the fence loop: " +
      stray.map { case (file, line, in) => s"$file:$line (in $in)" }.mkString(", "))
    assert(calls.nonEmpty, "no tryCommit( call found at all")
  }
}
