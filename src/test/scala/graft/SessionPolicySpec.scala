package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session policy single: `GraftSession` is the one place a
  * `SparkSession` is built, so no main or test can drift from the confs
  * `SparkEntry` depends on. */
class SessionPolicySpec extends AnyFunSuite {

  test("no SparkSession builder outside GraftSession.scala in the main " +
    "and test sources") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from the working dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def isPolicy(p: Path): Boolean =
      p.getFileName.toString == "GraftSession.scala"
    assert(sources.exists(isPolicy))
    val offenders = sources.filterNot(isPolicy).filter(p =>
      builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, "build sessions through " +
      s"GraftSession.builder: ${offenders.mkString(", ")}")
  }
}
