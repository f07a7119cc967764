package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the publish-once commit single: `BatchCommit` is the one code
  * path that makes a sink's or a streaming maintainer's output visible, so
  * no writer can drift back to its own tmp+rename, marker file or append
  * that a replayed batch would duplicate. Keeps the writer start single
  * too: `MicroBatch` is the one `foreachBatch` call and the one batch
  * interval. And keeps the index-table change single: `Bucketing` is the
  * one place that drops, renames, saves or buckets a catalogue table. */
class CommitPolicySpec extends AnyFunSuite {

  test("no writer under graft/sinks or graft/streaming renames, appends " +
    "or keeps a CURRENT marker or .inprogress/.old dir outside BatchCommit") {
    val hand = ("""\.rename\s*\(|mode\s*\(\s*"append"\s*\)|"CURRENT"|""" +
      """\.inprogress\b|\.old\b""").r
    val files = Seq("sinks", "streaming").flatMap { d =>
      val dir = Paths.get(s"src/main/scala/graft/$d")
      assert(Files.isDirectory(dir), s"$dir not found from the working dir")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "BatchCommit.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "BatchCommit.scala")
      .filter(p => hand.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, "publish through BatchCommit: " +
      offenders.mkString(", "))
  }

  test("no writer under graft/sinks or graft/streaming calls .foreachBatch " +
    "or writes a ProcessingTime( trigger outside MicroBatch") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val own = """\.foreachBatch\b|\bProcessingTime\s*\(""".r
    val files = Seq("sinks", "streaming").flatMap { d =>
      val walk = Files.walk(Paths.get(s"src/main/scala/graft/$d"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "MicroBatch.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "MicroBatch.scala")
      .filter(p => own.findFirstIn(
        comment.replaceAllIn(Files.readString(p), "")).isDefined)
    assert(offenders.isEmpty, "start through MicroBatch.start on " +
      "MicroBatch.Interval: " + offenders.mkString(", "))
  }

  test("no file under graft/operators or graft/streaming drops, renames, " +
    "saves or buckets a catalogue table outside Bucketing") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val own = """DROP TABLE|RENAME TO|\.saveAsTable\b|\.bucketBy\s*\(""".r
    val files = Seq("operators", "streaming").flatMap { d =>
      val walk = Files.walk(Paths.get(s"src/main/scala/graft/$d"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "Bucketing.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "Bucketing.scala")
      .filter(p => own.findFirstIn(
        comment.replaceAllIn(Files.readString(p), "")).isDefined)
    assert(offenders.isEmpty, "change an index table through " +
      "Bucketing.writeBucketed/writePlain/append/rewrite: " +
      offenders.mkString(", "))
  }
}
