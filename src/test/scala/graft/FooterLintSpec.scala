package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: library code opens parquet footers through one helper,
  * `ParquetFooter.open`, which builds its read options from the
  * session's Hadoop conf. The no-options overload builds a fresh default
  * Hadoop `Configuration` per call (about 20 ms of classpath scanning a
  * file) and ignores the session's conf. A conf reaches tasks one way,
  * as `ConfPairs`: `SerializableWritable` gzips every key's source list. */
class FooterLintSpec extends AnyFunSuite {

  test("ParquetFileReader.open( occurs in src/main only once, inside ParquetFooter.open") {
    val openCall = """ParquetFileReader\s*\.\s*open\s*\(""".r
    val defName = """\bdef\s+(\w+)""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.nonEmpty, "src/main not found from the working directory")
    // each call site with the name of the def it sits in
    val hits: Seq[(String, String)] = sources.flatMap { p =>
      val text = Files.readString(p)
      openCall.findAllMatchIn(text).map { m =>
        val enclosing = defName.findAllMatchIn(text.substring(0, m.start))
          .toSeq.lastOption.map(_.group(1)).getOrElse("<none>")
        p.getFileName.toString -> enclosing
      }
    }
    assert(hits == Seq("ParquetFooter.scala" -> "open"),
      s"parquet footer opens outside ParquetFooter.open: ${hits.mkString(", ")}")
  }

  test("SerializableWritable does not occur in src/main") {
    val sources = SourceText.scalaFiles("src/main")
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits = sources.filter(p =>
      SourceText.stripComments(Files.readString(p)).contains("SerializableWritable"))
    assert(hits.isEmpty,
      s"ship Hadoop confs to tasks as ConfPairs, not SerializableWritable: ${hits.map(_.getFileName).mkString(", ")}")
  }
}
