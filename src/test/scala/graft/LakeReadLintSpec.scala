package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every lake read plans through `LakeFileIndex.scan`, over
  * the files the log names. A `DataFrameReader` chain (`spark.read...`) in
  * the lake's sources would bring back a second scan builder, one that
  * lists the table's files again through Spark's own file index. The one
  * reader allowed is `convert`'s schema inference over foreign parquet
  * files, which have no log yet. A hit is attributed to the member `def`
  * it sits in (the last `def` at two-space member indentation before it);
  * comments do not count. */
class LakeReadLintSpec extends AnyFunSuite {

  import SourceText._

  test("spark.read occurs in src/main/scala/graft/sources/lake only in convert") {
    val reader =
      """\.\s*read\s*\.\s*(?:format|parquet|schema|options?|table|load|json|csv|orc|text)\b""".r
    val member = """(?m)^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r
    val sources = scalaFiles("src/main/scala/graft/sources/lake")
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits = sources.flatMap { p =>
      val code = stripComments(Files.readString(p))
      reader.findAllMatchIn(code).map { m =>
        val before = code.substring(0, m.start)
        val line = before.count(_ == '\n') + 1
        val in = member.findAllMatchIn(before).map(_.group(1)).toSeq.lastOption
        (s"${p.getFileName}:$line", in.getOrElse("?"))
      }
    }.sorted
    val allowed: ((String, String)) => Boolean = {
      case (at, in) => at.startsWith("GraftLake.scala:") && in == "convert"
    }
    val stray = hits.filterNot(allowed)
    assert(stray.isEmpty, "DataFrameReader chains in the lake's sources outside " +
      s"convert: ${stray.map { case (at, in) => s"$at (in $in)" }.mkString(", ")}")
    assert(hits.exists(allowed), s"convert's schema inference not found; hits: $hits")
  }
}
