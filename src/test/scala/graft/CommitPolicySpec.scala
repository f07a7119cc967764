package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the publish-once commit single: `BatchCommit` is the one code
  * path that makes a sink's or a streaming maintainer's output visible, so
  * no writer can drift back to its own tmp+rename, marker file or append
  * that a replayed batch would duplicate. Keeps the writer start single
  * too: `MicroBatch` is the one `foreachBatch` call, the one batch
  * interval and the one `checkpointLocation`, so every query's checkpoint
  * goes through the fork-free local FileSystem. And keeps the index-table
  * change single: `Bucketing` is the one place that drops, renames, saves
  * or buckets a catalogue table; and
  * an index's build parameters are read off the index, never passed to
  * its probes, appends and audits. */
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

  test("no probe, append or audit of a persisted index under " +
    "graft/operators or graft/streaming takes a build parameter") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val reader = ("""\bdef\s+(\w*(?:Indexed|IndexAppend|IndexAudit|""" +
      """StateAppend)|takedownStatusContent|curationAdmit|curationServe)""" +
      """\b""").r
    val built =
      """\b(minhashK|rowsPerBand|spanTokens|gram|window|buckets)\s*:""".r
    // the def's type and value parameter lists, brackets balanced
    def params(src: String, from: Int): String = {
      var i = from
      var depth = 0
      while (i < src.length &&
          (depth > 0 || "([".contains(src(i)) || src(i).isWhitespace)) {
        if ("([".contains(src(i))) depth += 1
        if (")]".contains(src(i))) depth -= 1
        i += 1
      }
      src.substring(from, i)
    }
    val files = Seq("operators", "streaming").flatMap { d =>
      val walk = Files.walk(Paths.get(s"src/main/scala/graft/$d"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = files.flatMap { p =>
      val src = comment.replaceAllIn(Files.readString(p), "")
      reader.findAllMatchIn(src).flatMap { m =>
        built.findAllMatchIn(params(src, m.end)).map(b =>
          s"${p.getFileName}: ${m.group(1)}(${b.group(1)})")
      }
    }
    assert(files.exists(_.getFileName.toString == "Dedup.scala"))
    assert(offenders.isEmpty, "read build parameters off the index " +
      "(Bucketing.tableParam, Bucketing.tableBuckets): " +
      offenders.mkString(", "))
  }

  test("no query under graft/sinks or graft/streaming sets its " +
    "checkpointLocation outside MicroBatch") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val files = Seq("sinks", "streaming").flatMap { d =>
      val walk = Files.walk(Paths.get(s"src/main/scala/graft/$d"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.getFileName.toString == "MicroBatch.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "MicroBatch.scala")
      .filter(p => comment.replaceAllIn(Files.readString(p), "")
        .contains("checkpointLocation"))
    assert(offenders.isEmpty, "checkpoint a query through " +
      "MicroBatch.writer: " + offenders.mkString(", "))
  }
}
