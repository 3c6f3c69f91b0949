package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the lake has one file pruner. Every comparison of a value
  * against footer stats (`cmpOpt(`) sits in `overlappingResolved`, which
  * planned reads, `scanFiltered`, DML victim selection and merge
  * candidates all call; a second comparison site would be a second
  * pruner, free to disagree with the first on how a value renders. A hit
  * is attributed to the member `def` it sits in (the last `def` at
  * two-space member indentation before it); the definition itself and
  * comments do not count. */
class LakePruneLintSpec extends AnyFunSuite {

  import SourceText._

  test("cmpOpt( occurs in src/main/scala/graft/sources/lake only in overlappingResolved") {
    val call = """(?<!def )\bcmpOpt\(""".r
    val member = """(?m)^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r
    val sources = scalaFiles("src/main/scala/graft/sources/lake")
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits = sources.flatMap { p =>
      val code = stripComments(Files.readString(p))
      call.findAllMatchIn(code).map { m =>
        val before = code.substring(0, m.start)
        val line = before.count(_ == '\n') + 1
        val in = member.findAllMatchIn(before).map(_.group(1)).toSeq.lastOption
        (s"${p.getFileName}:$line", in.getOrElse("?"))
      }
    }.sorted
    val stray = hits.filterNot(_._2 == "overlappingResolved")
    assert(stray.isEmpty, "footer-stats comparisons outside overlappingResolved: " +
      stray.map { case (at, in) => s"$at (in $in)" }.mkString(", "))
    assert(hits.nonEmpty, "no cmpOpt( call found in overlappingResolved")
  }
}
