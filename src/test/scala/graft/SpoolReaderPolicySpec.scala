package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the spool reader single: `FlumeEventSource` is the one code path
  * that turns a spool into events, so batch and stream cannot drift apart
  * on headers, decoding or hidden files through a text-source twin. */
class SpoolReaderPolicySpec extends AnyFunSuite {

  test("no source under graft/sources reads through the text file source") {
    val textSource =
      """format\s*\(\s*"text"\s*\)|\.text(File)?\s*\(|_metadata\.file_path""".r
    val dir = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir), s"$dir not found from the working dir")
    val walk = Files.walk(dir)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.getFileName.toString == "FlumeEventSource.scala"))
    val offenders = sources.filter(p =>
      textSource.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, "read spools through FlumeEventSource: " +
      offenders.mkString(", "))
  }
}
