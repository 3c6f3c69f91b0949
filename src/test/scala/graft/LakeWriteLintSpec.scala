package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every lake data file comes from one writer,
  * `DataFileWriter`, which writes in place into the table's `data/` dir.
  * A `DataFrameWriter` chain in the lake's sources would bring back a
  * second write path (its own staging dir, output committer and per-task
  * conf shipping). Other writes (`Files.write`, `DeletionVector.write`)
  * are not DataFrame writes and do not count; neither do comments. */
class LakeWriteLintSpec extends AnyFunSuite {

  import SourceText._

  test("no DataFrameWriter chain in src/main/scala/graft/sources/lake") {
    val chain = """\.\s*write\s*\.\s*(?:mode|format|options?|parquet)\b""".r
    val sources = scalaFiles("src/main/scala/graft/sources/lake")
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits = sources.flatMap { p =>
      val code = stripComments(Files.readString(p))
      chain.findAllMatchIn(code).map { m =>
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        s"${p.getFileName}:$line"
      }
    }.sorted
    assert(hits.isEmpty, s"DataFrameWriter chains in the lake's sources: ${hits.mkString(", ")}")
  }
}
