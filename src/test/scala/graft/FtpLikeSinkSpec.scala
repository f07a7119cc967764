package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sinks.FtpLikeSink

/** Companion holds test-seam state as STATICS: the rename interceptor
  * closure is serialized into every commit task (even in local mode), so an
  * instance-captured counter would be cloned per task and shared-count
  * semantics would silently break on multi-file batches. Statics are
  * re-resolved to the one JVM-wide object at closure deserialization. */
object FtpLikeSinkSpec {
  /** Per-test-key fail-N-times counters, keyed explicitly so concurrently
    * running tests never share a counter. */
  val failCounts = new ConcurrentHashMap[String, AtomicInteger]()

  /** While true, [[chaosRename]] throws on every rename. */
  val chaosArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Escapes `commitOne`'s `catch { case _: Exception }` retry net — models
    * an executor crash mid-commit (task fails, commit job aborts). */
  class CommitChaosError extends Error("injected commit crash")

  def flakyRename(key: String): (FileSystem, Path, Path) => Boolean =
    (fs: FileSystem, a: Path, b: Path) =>
      if (failCounts.get(key).getAndDecrement() > 0) false
      else fs.rename(a, b)

  val chaosRename: (FileSystem, Path, Path) => Boolean =
    (fs: FileSystem, a: Path, b: Path) =>
      if (chaosArmed.get()) throw new CommitChaosError else fs.rename(a, b)

  /** Publish seam: performs the first `okCalls` publish renames for real,
    * then throws — models a driver crash after some partners of a batch
    * are published and before the rest are. Driver-side only. */
  def crashingPublish(key: String): (FileSystem, Path, Path) => Boolean =
    (fs: FileSystem, a: Path, b: Path) =>
      if (failCounts.get(key).getAndDecrement() > 0) fs.rename(a, b)
      else throw new CommitChaosError

  /** Sleeper seam: records every backoff wait (ms) instead of sleeping.
    * Static for the same serialization reason as [[failCounts]]. */
  val sleepLog = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val recordingSleeper: Long => Unit = (ms: Long) => { sleepLog.add(ms); () }
}

class FtpLikeSinkSpec extends SparkTestBase {
  import FtpLikeSinkSpec._

  private def df(lines: Seq[String]) = {
    val s = spark
    import s.implicits._
    lines.toDF("value")
  }

  /** Visible (non-hidden) entries of a partner batch dir. */
  private def visible(dir: java.nio.file.Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).toArray.map(_.toString)
      .filter(p => { val n = p.split("/").last
        !n.startsWith(".") && !n.startsWith("_") }).toSeq

  test("retry backoff: attempt n waits retryBackoffMs << (n-2) before " +
    "retrying — the reference's sleep-between-reconnects envelope; no " +
    "wait before the first attempt, none after success") {
    val target = tmpDir("sink_bo")
    val dead = tmpDir("dl_bo")
    sleepLog.clear()
    failCounts.put("backoff", new AtomicInteger(2)) // fail twice, then ok
    val sink = new FtpLikeSink(target, dead, Seq("yaxin"),
      maxRetries = 3, renameOp = Some(flakyRename("backoff")),
      retryBackoffMs = 100L, sleeper = Some(recordingSleeper))
    sink.writeBatch(df(Seq("x")).coalesce(1), 21L)
    // delivered on the third attempt, with exponential pacing between
    assert(spark.read.textFile(s"$target/yaxin/batch=21").collect().toSeq ==
      Seq("x"))
    assert(sleepLog.toArray.toSeq == Seq(100L, 200L))
    // a clean commit never waits
    sleepLog.clear()
    sink.writeBatch(df(Seq("y")).coalesce(1), 22L)
    assert(sleepLog.isEmpty)
  }

  test("happy path: per-partner batch dirs, tmp+rename, staging cleaned") {
    val target = tmpDir("sink")
    val dead = tmpDir("dl")
    val sink = new FtpLikeSink(target, dead, Seq("yaxin", "yiyang"))
    sink.writeBatch(df(Seq("r1", "r2", "r3")), 7L)
    Seq("yaxin", "yiyang").foreach { p =>
      val lines = spark.read.textFile(s"$target/$p/batch=7").collect().sorted
      assert(lines.toSeq == Seq("r1", "r2", "r3"))
    }
    assert(!Files.exists(Paths.get(target, "_staging", "batch=7")))
    val leftovers = Files.walk(Paths.get(target)).toArray.map(_.toString)
      .filter(f => f.contains("@tmp") || f.contains(".inprogress"))
    assert(leftovers.isEmpty)
  }

  test("idempotent redelivery: rewriting the same batchId overwrites, " +
    "no duplicates") {
    val target = tmpDir("sink2")
    val sink = new FtpLikeSink(target, tmpDir("dl2"), Seq("yaxin"))
    sink.writeBatch(df(Seq("a", "b")), 1L)
    sink.writeBatch(df(Seq("a", "b")), 1L) // at-least-once redelivery
    val lines = spark.read.textFile(s"$target/yaxin/batch=1").collect()
    assert(lines.sorted.toSeq == Seq("a", "b"))
  }

  test("transient rename failures are retried to success") {
    val target = tmpDir("sink3")
    val dead = tmpDir("dl3")
    failCounts.put("transient", new AtomicInteger(2)) // fail first two
    val sink = new FtpLikeSink(target, dead, Seq("yaxin"),
      maxRetries = 3, renameOp = Some(flakyRename("transient")))
    sink.writeBatch(df(Seq("x")).coalesce(1), 2L)
    assert(spark.read.textFile(s"$target/yaxin/batch=2").collect().toSeq ==
      Seq("x"))
    assert(!Files.exists(Paths.get(dead, "batch=2")) ||
      Files.list(Paths.get(dead, "batch=2")).toArray.isEmpty)
  }

  test("multi-file batches commit executor-parallel: every staged part " +
    "reaches every partner") {
    val target = tmpDir("sink5")
    val sink = new FtpLikeSink(target, tmpDir("dl5"), Seq("yaxin", "yiyang"))
    val rows = (1 to 40).map(i => f"r$i%02d")
    // repartition(8): eight staged part files × two partners = 16 commit
    // tasks, all running as a distributed foreach (no driver copy path)
    sink.writeBatch(df(rows).repartition(8), 11L)
    Seq("yaxin", "yiyang").foreach { p =>
      val dir = Paths.get(target, p, "batch=11")
      val parts = Files.list(dir).toArray.map(_.toString)
        .filter(f => f.split("/").last.startsWith("part-"))
      assert(parts.length == 8)
      val lines = spark.read.textFile(s"$target/$p/batch=11").collect().sorted
      assert(lines.toSeq == rows)
    }
  }

  test("give-up falls back to the dead-letter dir — data never dropped") {
    val target = tmpDir("sink4")
    val dead = tmpDir("dl4")
    val alwaysFail = (_: FileSystem, _: Path, _: Path) => false
    val sink = new FtpLikeSink(target, dead, Seq("yaxin"),
      maxRetries = 2, renameOp = Some(alwaysFail))
    sink.writeBatch(df(Seq("x", "y")).coalesce(1), 3L)
    val dl = Files.list(Paths.get(dead, "batch=3")).toArray.map(_.toString)
      .filter(p => !p.split("/").last.startsWith(".")) // hadoop .crc files
    assert(dl.nonEmpty)
    val content = dl.flatMap(p =>
      new String(Files.readAllBytes(Paths.get(p))).split("\n")).sorted
    assert(content.toSeq == Seq("x", "y"))
    assert(dl.forall(_.contains("yaxin_")))
  }

  test("commitOne is idempotent under task re-execution: a rename that " +
    "lands but reports failure (HDFS rename-onto-existing semantics) is " +
    "delivered, not dead-lettered") {
    val target = tmpDir("sink6")
    val dead = tmpDir("dl6")
    // Models the ADVICE scenario: the commit happened (file is at its final
    // path) but the attempt observes rename=false — e.g. a re-executed task
    // whose predecessor already renamed, or HDFS rename onto an existing
    // target. The exists(fin) short-circuit must report success instead of
    // burning retries into the dead-letter dir.
    val landsButLies = (f: FileSystem, a: Path, b: Path) => {
      f.rename(a, b); false
    }
    val sink = new FtpLikeSink(target, dead, Seq("yaxin"), maxRetries = 2,
      renameOp = Some(landsButLies))
    sink.writeBatch(df(Seq("v1", "v2")).coalesce(1), 4L)
    assert(spark.read.textFile(s"$target/yaxin/batch=4").collect()
      .sorted.toSeq == Seq("v1", "v2"))
    assert(!Files.exists(Paths.get(dead, "batch=4")) ||
      Files.list(Paths.get(dead, "batch=4")).toArray.isEmpty)
    // no tmp residue from the lying attempts
    val residue = Files.walk(Paths.get(target)).toArray.map(_.toString)
      .filter(_.contains("@tmp"))
    assert(residue.isEmpty)
  }

  /** Name → bytes and modification time of every file of a batch dir. */
  private def snapshot(dir: java.nio.file.Path): Map[String, (Seq[Byte], Long)] =
    Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(f => f.getFileName.toString ->
        ((Files.readAllBytes(f).toSeq, Files.getLastModifiedTime(f).toMillis)))
      .toMap

  test("crashed redelivery preserves the previous delivery: no " +
    "destroy-then-fail window, staging cleaned even on failure") {
    val target = tmpDir("sink7")
    val dead = tmpDir("dl7")
    val partners = Seq("yaxin", "yiyang")
    new FtpLikeSink(target, dead, partners)
      .writeBatch(df(Seq("old1", "old2")), 9L)
    val published = partners.map(p => snapshot(Paths.get(target, p, "batch=9")))
    chaosArmed.set(true)
    val chaosSink = new FtpLikeSink(target, dead, partners,
      renameOp = Some(chaosRename))
    val sc = spark.sparkContext
    try {
      // redelivery of a published id returns without a commit: no Spark
      // job runs, so the armed crash never fires
      sc.setJobGroup("ftp_redeliver9", "redelivery of a published batch")
      try chaosSink.writeBatch(df(Seq("new1", "new2")), 9L)
      finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup("ftp_redeliver9").isEmpty)
      // a delivery of an unpublished id crashes mid-commit
      intercept[Exception] { // SparkException wrapping the task crash
        chaosSink.writeBatch(df(Seq("new1", "new2")), 10L)
      }
    } finally chaosArmed.set(false)
    // the published copy is byte-identical, the crashed id left no live
    // dir, and the staging dir did not leak despite the crash
    assert(partners.map(p => snapshot(Paths.get(target, p, "batch=9"))) ==
      published)
    partners.foreach(p =>
      assert(!Files.exists(Paths.get(target, p, "batch=10"))))
    assert(!Files.exists(Paths.get(target, "_staging", "batch=10")))
    // a clean replay of the crashed id publishes it
    new FtpLikeSink(target, dead, partners)
      .writeBatch(df(Seq("new1", "new2")), 10L)
    partners.foreach { p =>
      val lines = spark.read.textFile(s"$target/$p/batch=10").collect().sorted
      assert(lines.toSeq == Seq("new1", "new2"))
      assert(spark.read.textFile(s"$target/$p/batch=9").collect().sorted
        .toSeq == Seq("old1", "old2"))
      assert(visible(Paths.get(target, p)).map(_.split("/").last).sorted ==
        Seq("batch=10", "batch=9"))
    }
  }

  test("publish crash after partner 1 of 2: replay publishes only partner 2") {
    val target = tmpDir("sink9")
    val dead = tmpDir("dl9")
    val partners = Seq("yaxin", "yiyang")
    // publish 1 (yaxin) succeeds; publish 2 (yiyang) crashes hard
    failCounts.put("pubcrash", new AtomicInteger(1))
    val crashing = new FtpLikeSink(target, dead, partners,
      publishRenameOp = Some(crashingPublish("pubcrash")))
    intercept[CommitChaosError] {
      crashing.writeBatch(df(Seq("v1", "v2")), 5L)
    }
    val first = Paths.get(target, "yaxin", "batch=5")
    assert(Files.exists(first))
    assert(!Files.exists(Paths.get(target, "yiyang", "batch=5")))
    val published = snapshot(first)
    // checkpoint-driven replay of the same id: partner 1 untouched, only
    // partner 2 is written and published, nothing left in staging
    new FtpLikeSink(target, dead, partners)
      .writeBatch(df(Seq("v1", "v2")), 5L)
    assert(snapshot(first) == published)
    partners.foreach(p =>
      assert(spark.read.textFile(s"$target/$p/batch=5").collect()
        .sorted.toSeq == Seq("v1", "v2")))
    assert(!Files.exists(Paths.get(target, "_staging", "batch=5")))
  }

  test("failed publish rename with target absent throws, no live dir left") {
    val target = tmpDir("sink11")
    val dead = tmpDir("dl11")
    val lying = new FtpLikeSink(target, dead, Seq("yaxin"),
      publishRenameOp = Some((_: FileSystem, _: Path, _: Path) => false))
    intercept[java.io.IOException] {
      lying.writeBatch(df(Seq("new1")), 6L)
    }
    assert(!Files.exists(Paths.get(target, "yaxin", "batch=6")))
    assert(!Files.exists(Paths.get(target, "_staging", "batch=6")))
    // the replay publishes
    new FtpLikeSink(target, dead, Seq("yaxin"))
      .writeBatch(df(Seq("new1")), 6L)
    assert(spark.read.textFile(s"$target/yaxin/batch=6").collect().toSeq ==
      Seq("new1"))
  }

  test("orphaned hidden dirs of strictly-older batch ids are swept by the " +
    "next delivery; newer in-flight ids and published dirs are untouched") {
    val target = tmpDir("sink10")
    val sink = new FtpLikeSink(target, tmpDir("dl10"), Seq("yaxin"))
    sink.writeBatch(df(Seq("a")), 1L)
    // staging left by a crashed delivery of batch 2 whose query was
    // abandoned for good, and by one of batch 0
    val staging = Paths.get(target, "_staging")
    Files.createDirectories(staging.resolve("batch=2/yaxin"))
    Files.write(staging.resolve("batch=2/yaxin/part-x"), "zzz".getBytes)
    Files.createDirectories(staging.resolve("batch=0"))
    // staging of a NEWER id (still deliverable) must survive the sweep
    Files.createDirectories(staging.resolve("batch=9"))
    sink.writeBatch(df(Seq("b")), 4L)
    val left = Files.list(staging).toArray
      .map(_.toString.split("/").last).toSet
    assert(left == Set("batch=9"), s"sweep kept/dropped the wrong dirs: $left")
    // published deliveries are intact
    assert(spark.read.textFile(s"$target/yaxin/batch=1").collect().toSeq ==
      Seq("a"))
    assert(spark.read.textFile(s"$target/yaxin/batch=4").collect().toSeq ==
      Seq("b"))
  }

  test("exactly-once across a streaming crash: kill after partial commit, " +
    "restart from checkpoint — no duplicate, no loss") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val target = tmpDir("sink8")
    val dead = tmpDir("dl8")
    val cp = tmpDir("cp8")
    val input = MemoryStream[String]
    input.addData("e1", "e2", "e3")
    val sink = new FtpLikeSink(target, dead, Seq("yaxin", "yiyang"),
      renameOp = Some(chaosRename))

    // run 1: every rename throws -> the commit job aborts after staging,
    // the query dies before the batch is committed to the offsets log
    chaosArmed.set(true)
    val q1 = input.toDF().writeStream
      .option("checkpointLocation", cp)
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.writeBatch(batch, id))
      .start()
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    chaosArmed.set(false)

    // run 2: same checkpoint, same source — Structured Streaming redelivers
    // the uncommitted batch; the sink replaces whatever partial state the
    // crash left behind
    val q2 = input.toDF().writeStream
      .option("checkpointLocation", cp)
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.writeBatch(batch, id))
      .start()
    q2.processAllAvailable()
    q2.stop()

    Seq("yaxin", "yiyang").foreach { p =>
      // exactly the three records, exactly once, in exactly one batch dir
      val batchDirs = visible(Paths.get(target, p))
      assert(batchDirs.length == 1 && batchDirs.head.endsWith("batch=0"),
        s"partner $p dirs: $batchDirs")
      val lines = spark.read.textFile(s"$target/$p/batch=0").collect().sorted
      assert(lines.toSeq == Seq("e1", "e2", "e3"))
      // no half-committed residue anywhere under the partner dir
      val residue = Files.walk(Paths.get(target, p)).toArray.map(_.toString)
        .filter(f => f.contains("@tmp") || f.contains(".inprogress"))
      assert(residue.isEmpty, s"partner $p residue: $residue")
    }
    // nothing was dead-lettered: the crash aborted the job, it did not
    // spill deliverable data to the fallback path
    assert(!Files.exists(Paths.get(dead)) ||
      Files.walk(Paths.get(dead)).toArray.length <= 1)
  }
}
