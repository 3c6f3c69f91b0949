package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the session policy has one owner, [[GraftSession]]. A
  * second session builder in the library would restate (and drift from)
  * its settings. */
class SessionLintSpec extends AnyFunSuite {

  test("SparkSession.builder() occurs in src/main only once, in GraftSession.scala") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.nonEmpty, "src/main not found from the working directory")
    val hits: Seq[(Path, Int)] = sources.flatMap { p =>
      val n = builderCall.findAllMatchIn(Files.readString(p)).size
      if (n > 0) Some(p -> n) else None
    }
    assert(hits.map { case (p, n) => p.getFileName.toString -> n } ==
      Seq("GraftSession.scala" -> 1),
      s"session builders outside GraftSession: ${hits.mkString(", ")}")
  }
}
