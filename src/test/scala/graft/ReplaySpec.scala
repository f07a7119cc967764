package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{CdrOps, TableSpec}
import graft.sinks.FtpLikeSink
import graft.sources.FlumeLikeSource
import graft.streaming._

object ReplaySpec {
  /** One writer under test, rooted in a fresh directory: `start()`
    * (re)starts its query on `checkpoint`, `feed(i)` adds input batch `i`,
    * `output()` reads everything the writer published. */
  final case class Run(checkpoint: String, start: () => StreamingQuery,
                       feed: Int => Unit, output: () => Seq[String])
}

/** Every streaming writer survives a replay of its last batch: a crash
  * after the `foreachBatch` callback (or file sink) finished and before
  * the commit log recorded the batch. The crash is simulated from outside
  * the product — run the query to completion, stop it, delete the last
  * `commits/<n>` file and its `.crc`, restart on the same checkpoint and
  * source — and the published output must be the same multiset as a run
  * without the crash. */
class ReplaySpec extends SparkTestBase {
  import ReplaySpec.Run

  private val now = Trigger.ProcessingTime(0)

  /** Deletes the newest `commits/<n>` and its `.crc` — the state a crash
    * between the callback and the commit log leaves; returns n. */
  private def dropLastCommit(checkpoint: String): Long = {
    val dir = Paths.get(checkpoint, "commits")
    val n = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+")).map(_.toLong).max
    Files.delete(dir.resolve(n.toString))
    Files.deleteIfExists(dir.resolve(s".$n.crc"))
    n
  }

  private def outputOf(batches: Int, crash: Boolean)(
      open: String => Run): Seq[String] = {
    val run = open(tmpDir("replay"))
    val q = run.start()
    try (0 until batches).foreach { i => run.feed(i); q.processAllAvailable() }
    finally q.stop()
    if (crash) {
      val n = dropLastCommit(run.checkpoint)
      val again = run.start()
      try again.processAllAvailable() finally again.stop()
      assert(again.recentProgress.exists(_.batchId == n),
        s"batch $n was not replayed")
    }
    run.output().sorted
  }

  /** The harness: output after `batches` input batches and a replay of
    * the last one ≡ output after the same batches without the crash. */
  def assertReplaySafe(batches: Int = 2)(open: String => Run): Unit = {
    val clean = outputOf(batches, crash = false)(open)
    assert(clean.nonEmpty, "the writer published nothing")
    val replayed = outputOf(batches, crash = true)(open)
    assert(replayed == clean,
      s"\nreplayed: ${replayed.mkString("\n  ")}\nclean: ${clean.mkString("\n  ")}")
  }

  /** Lines of the `part-*` files under `root`, each tagged with its
    * directory relative to `root`; hidden and `_`-prefixed trees skipped. */
  private def textUnder(root: String): Seq[String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    val files =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    files.filter { f =>
      val rel = base.relativize(f).iterator().asScala.map(_.toString).toList
      f.getFileName.toString.startsWith("part-") &&
        !rel.exists(c => c.startsWith("_") || c.startsWith("."))
    }.flatMap { f =>
      val dir = Option(base.relativize(f).getParent).fold("")(_.toString)
      Files.readAllLines(f).asScala.map(l => s"$dir:$l")
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def memoryLines(dir: String, batches: Seq[Seq[String]])(
      query: (DataFrame, String) => StreamingQuery,
      output: () => Seq[String]): Run = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = s"$dir/cp"
    Run(cp, () => query(input.toDF(), cp),
      i => { input.addData(batches(i)); () }, output)
  }

  private def spool(dir: String, batches: Seq[Seq[String]])(
      query: (DataFrame, String) => StreamingQuery,
      output: () => Seq[String]): Run = {
    val spoolDir = Files.createDirectories(Paths.get(dir, "spool"))
    val cp = s"$dir/cp"
    Run(cp, () => query(FlumeLikeSource.readStream(spark, spoolDir.toString),
        cp),
      i => {
        Files.write(spoolDir.resolve(f"20151015095407007560$i%05d.txt"),
          batches(i).mkString("\n").getBytes); ()
      }, output)
  }

  private def docs(dir: String)(query: (DataFrame, String) => StreamingQuery,
                                output: () => Seq[String]): Run = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, String, String, Long)]
    val batches = Seq(
      Seq((1L, "alpha beta beta", "en", "web", 15L),
        (2L, "gamma delta", "fr", "wiki", 11L),
        (3L, "alpha", "en", "web", 5L)),
      Seq((4L, "beta epsilon zeta", "en", "wiki", 17L),
        (5L, "alpha beta", "en", "web", 10L)))
    val cp = s"$dir/cp"
    Run(cp, () => query(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"), cp),
      i => { input.addData(batches(i)); () }, output)
  }

  private val partners = Seq("yaxin", "yiyang")
  private def sink(dir: String, ps: Seq[String] = partners) =
    new FtpLikeSink(s"$dir/target", s"$dir/dead", ps)

  test("replay: enrichToPartners delivers each batch once") {
    val s = spark
    import s.implicits._
    val dim = CdrOps.loadCodeMap(
      CdrOps.parseDelim(CdrFixtures.yaxinTsv.toDF("value"), "\t"),
      (0, 1), 2, 3)
    val lines = (0 until 6).map(i =>
      CdrFixtures.cleanLine(TableSpec.s62, i, "4527", s"1003$i"))
    assertReplaySafe() { dir =>
      memoryLines(dir, Seq(lines.take(3), lines.drop(3)))(
        (in, cp) => CdrStreaming.enrichToPartners(in, TableSpec.s62, dim,
          sink(dir), cp, now),
        () => textUnder(s"$dir/target"))
    }
  }

  test("replay: rawToPartners delivers each batch once") {
    val lines = CdrFixtures.s61Lines.filter(_.nonEmpty)
    assertReplaySafe() { dir =>
      memoryLines(dir, Seq(lines.take(5), lines.drop(5)))(
        (in, cp) => CdrStreaming.rawToPartners(in, sink(dir), cp,
          trigger = now),
        () => textUnder(s"$dir/target"))
    }
  }

  test("replay: flumeDesensitize archives and delivers each batch once") {
    val gn = (1 to 6).map(CdrFixtures.gnLine)
    assertReplaySafe() { dir =>
      spool(dir, Seq(gn.take(2), gn.drop(2)))(
        (events, cp) => CdrStreaming.flumeDesensitize(events,
          s"$dir/archive", sink(dir, Seq("partner1")), cp, now),
        () => textUnder(s"$dir/archive").map("archive/" + _) ++
          textUnder(s"$dir/target").map("partner/" + _))
    }
  }

  test("replay: routedArchive and archiveByFile are Spark-committed") {
    val lines = CdrFixtures.s61Lines.filter(_.nonEmpty)
    assertReplaySafe() { dir =>
      memoryLines(dir, Seq(lines.take(5), lines.drop(5)))(
        (in, cp) => CdrStreaming.routedArchive(in, s"$dir/out", cp, now),
        () => textUnder(s"$dir/out"))
    }
    assertReplaySafe() { dir =>
      spool(dir, Seq(Seq("x", "y"), Seq("z")))(
        (events, cp) => CdrStreaming.archiveByFile(
          FlumeLikeSource.toFileValue(events), s"$dir/out", cp, now),
        () => textUnder(s"$dir/out"))
    }
  }

  test("replay: the MergeableState maintainers apply each batch once") {
    val modules: Seq[(String,
        (DataFrame, String, String) => StreamingQuery, String => DataFrame)] =
      Seq(
        ("stats", StreamingStats.maintain(_, _, _, now),
          StreamingStats.report(spark, _)),
        ("manifest", StreamingManifest.maintain(_, _, _, now),
          StreamingManifest.report(spark, _)),
        ("cms", StreamingCms.maintain(_, _, _, trigger = now),
          d => spark.read.parquet(MergeableState.current(spark, d).get._2)),
        ("heavy", StreamingHeavy.maintain(_, _, _, trigger = now),
          StreamingHeavy.report(spark, _)),
        ("bloom", StreamingBloom.maintain(_, _, _, trigger = now),
          StreamingBloom.report(spark, _)),
        ("sample", StreamingSample.maintain(_, _, _, trigger = now),
          StreamingSample.report(spark, _)))
    modules.foreach { case (name, maintain, report) =>
      withClue(s"$name: ") {
        assertReplaySafe() { dir =>
          docs(dir)((in, cp) => maintain(in, s"$dir/state", cp),
            () => rows(report(s"$dir/state")))
        }
      }
    }
    // the rate maintainer reads events, not documents
    val h = 3600L * 1000
    def ev(ms: Long, t: String) = (new java.sql.Timestamp(ms), t)
    val events = Seq(Seq(ev(1, "a"), ev(h + 1, "a"), ev(2, "b")),
      Seq(ev(h + 2, "a"), ev(2 * h, "b")))
    assertReplaySafe() { dir =>
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(java.sql.Timestamp, String)]
      Run(s"$dir/cp", () => StreamingRate.maintain(
          input.toDF().toDF("ts", "event_type"), s"$dir/state", s"$dir/cp",
          now),
        i => { input.addData(events(i)); () },
        () => rows(StreamingRate.report(spark, s"$dir/state")))
    }
  }

  test("replay: StreamingSearch.maintain indexes each batch once") {
    assertReplaySafe() { dir =>
      docs(dir)((in, cp) => StreamingSearch.maintain(in, s"$dir/delta", cp,
          now),
        () => Files.list(Paths.get(dir, "delta")).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("batch-"))
          .flatMap(d => rows(spark.read.parquet(d.toString))
            .map(s"${d.getFileName}:" + _)))
    }
  }

  test("replay: incrementalDedupCompacted with an FtpLikeSink deliver " +
    "keeps the delivered documents") {
    assertReplaySafe() { dir =>
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(Long, String)]
      // event times stay inside one watermark delay: no no-data batch
      // follows the last data batch, so the replay hits batch 1
      val batches = Seq(Seq((1000L, "fresh a"), (1500L, "fresh b")),
        Seq((1100L, "fresh c"), (1200L, "fresh d"), (1300L, "seed")))
      val delivery = sink(dir, Seq("partner1"))
      // a known corpus seeded as flat files at the store root
      Seq("seed").toDF("text").select(md5(col("text")).as("fp"))
        .write.parquet(s"$dir/store")
      Run(s"$dir/cp", () => StreamingDedup.incrementalDedupCompacted(
            input.toDF().toDF("ts_ms", "text")
              .withColumn("ts", timestamp_millis(col("ts_ms"))),
            s"$dir/store", "ts", "10 seconds", s"$dir/cp", now) {
            (novel, id) =>
              delivery.writeBatch(novel.select(col("text").as("value")), id)
          },
        i => { input.addData(batches(i)); () },
        () => textUnder(s"$dir/target") ++
          rows(spark.read.parquet(s"$dir/store")).map("store:" + _))
    }
  }
}
