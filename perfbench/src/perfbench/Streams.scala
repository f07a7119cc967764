package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.{CdrOps, TableSpec}
import graft.sources.{FlumeEventSource, FlumeLikeSource}
import graft.streaming.CdrStreaming

/** The streaming workload `cdr_stream`: the three CDR jobs of
  * `CdrStreaming`, all with `Trigger.ProcessingTime(0)`, reading two
  * `FlumeEventSource` spools with one `maxFilesPerTrigger`. The jobs start
  * once per run and see three phases:
  *
  *  - cold: one file pair, the first data the fresh jobs see (planning,
  *    codegen and JIT of the first batch);
  *  - drain (capacity): `DrainRounds` times, a backlog of `DrainFiles`
  *    files is dropped into each spool at once and the round ends when every
  *    sink has committed all of it. Full batches amortise the per-batch
  *    cost, so per-record work (split, md5, join, archive and partner bytes)
  *    dominates;
  *  - live (latency): one generator thread drops a file pair every
  *    `LiveTickMs`, on a schedule that does not wait for the jobs (open
  *    loop), for the run's seconds. Small batches: per-batch costs (offsets,
  *    planning, WAL, sink staging and commit, renames) dominate.
  */
object Streams {
  /** Files per micro-batch at most, in every phase. */
  val MaxFilesPerTrigger = 4
  /** A drain round is one full batch per job: 4 files of 1500 lines in
    * each spool, 12000 records. */
  val DrainRounds = 3
  val DrainFiles = 4
  val DrainLines = 1500
  /** Open-loop rate: one file of `LiveLines` lines per spool every
    * `LiveTickMs` ms, 300 records/s. A one-file batch takes about 1 s on
    * 3 task slots of a 4-core host, so each file finds the jobs idle and
    * its latency is one batch's fixed cost. At a file every 500 ms the
    * batches ran into `MaxFilesPerTrigger`, the queue grew, and the
    * latency quartiles of ten runs spread by 30-45 % of their median. */
  val LiveTickMs = 2000
  val LiveLines = 300
  val Partners = Seq("yaxin", "yiyang")
  val Jobs = Seq("archive", "enrich_s61", "flume_gn")
  /** Files not committed this long after they were dropped fail. */
  val CommitTimeoutMs = 60000L

  /** Spool file contents, generated on demand, and the expected outputs of
    * every file generated so far. */
  final class Inputs(seed: Long, codeMap: Seq[Gen.CodeEntry]) {
    private val areas = codeMap.map(e => (e.lac, e.ci) -> e.area).toMap
    val archive, s61, gn = new Stats.MultisetHash
    var files = 0

    var records = 0L

    /** The bytes of file `files` of spool A and spool B, `lines` each. */
    def next(lines: Int): (Array[Byte], Array[Byte]) = {
      val a = Gen.socketFile(seed, files, lines, codeMap)
      val b = Gen.gnFile(seed, files, lines)
      a.foreach { l =>
        archive.addLine(l)
        Gen.expectedS61(l, areas).foreach(s61.addLine)
      }
      b.foreach(l => gn.addLine(Gen.expectedGn(l)))
      files += 1
      records += 2L * lines
      (bytes(a), bytes(b))
    }
    private def bytes(ls: Seq[String]) =
      ls.mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  /** Spools, outputs and the three running jobs. */
  final class Pipeline(spark: SparkSession, root: Path, dim: DataFrame) {
    val spoolA = Files.createDirectories(root.resolve("spoolA"))
    val spoolB = Files.createDirectories(root.resolve("spoolB"))
    val out = root.resolve("out")
    private def source(spool: Path): DataFrame =
      spark.readStream.format(classOf[FlumeEventSource].getName)
        .option("path", spool.toString)
        .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString).load()
    private def d(n: String) = out.resolve(n).toString
    private val trigger = Trigger.ProcessingTime(0)
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "archive" -> CdrStreaming.routedArchive(
        FlumeLikeSource.toFileValue(source(spoolA)), d("archive"),
        d("cp_archive"), trigger),
      "enrich_s61" -> CdrStreaming.enrichToPartners(
        FlumeLikeSource.toFileValue(source(spoolA)), TableSpec.s61, dim,
        Trace.sink(d("s61"), d("s61_dead"), Partners), d("cp_s61"), trigger),
      "flume_gn" -> CdrStreaming.flumeDesensitize(source(spoolB),
        d("gn_archive"), Trace.sink(d("gn"), d("gn_dead"), Seq("gn_partner")),
        d("cp_gn"), trigger))

    /** Stage files as hidden names, then rename them all in, so the spool
      * listing sees whole files in index order. */
    def drop(files: Seq[(Int, (Array[Byte], Array[Byte]))]): Unit = {
      val staged = files.flatMap { case (i, (a, b)) =>
        Seq(spoolA -> (i, a), spoolB -> (i, b)) }
      staged.foreach { case (dir, (i, bytes)) =>
        Files.write(dir.resolve("." + Gen.fileName(i)), bytes) }
      staged.foreach { case (dir, (i, _)) =>
        Files.move(dir.resolve("." + Gen.fileName(i)),
          dir.resolve(Gen.fileName(i)), StandardCopyOption.ATOMIC_MOVE) }
    }

    def committed(job: String): Int = queries.toMap.apply(job).lastProgress match {
      case null => 0
      case p => Offsets.fileCount(p.sources.head.endOffset)
    }

    /** Block until every job has committed `files` files or `deadlineMs`
      * passes; false on timeout. */
    def await(files: Int, deadlineMs: Long): Boolean = {
      def done = Jobs.forall(j => committed(j) >= files)
      while (!done && System.currentTimeMillis() < deadlineMs) {
        queries.foreach { case (job, q) =>
          q.exception.foreach(e => throw new RuntimeException(s"$job: $e", e))
        }
        Thread.sleep(2)
      }
      done
    }

    def stop(): Unit = queries.foreach { case (_, q) => q.stop() }

    /** Data-carrying micro-batches, by job. */
    def progress: Seq[(String, StreamingQueryProgress)] =
      queries.flatMap { case (job, q) =>
        q.recentProgress.toSeq.filter(_.numInputRows > 0).map(job -> _)
      }
  }

  def startMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)

  def batches(progress: Seq[(String, StreamingQueryProgress)], job: String)
      : Seq[Offsets.Batch] =
    progress.collect { case (`job`, p) =>
      Offsets.Batch(p.sources.head.startOffset, p.sources.head.endOffset,
        endMs(p))
    }

  def loadCodeMap(spark: SparkSession, path: Path): DataFrame =
    CdrOps.loadCodeMap(
      CdrOps.parseDelim(spark.read.text(path.toString), "\t"),
      (0, 1), 2, 3)

  // ── output checks ─────────────────────────────────────────────────────
  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Data files below `root`: `part-*` files outside hidden and metadata
    * directories. */
  def dataFiles(root: Path): Seq[Path] =
    walk(root).filter { p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
        !root.relativize(p).iterator().asScala
          .exists(c => c.toString.startsWith(".") || c.toString.startsWith("_"))
    }

  def hashLines(files: Seq[Path]): String = {
    val h = new Stats.MultisetHash
    files.foreach(f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.foreach(h.addLine))
    h.value
  }

  /** What a clean sink never leaves: dead letters, `.inprogress` or `.old`
    * batch dirs, staged files. */
  def sinkLeftovers(out: Path, sink: String): Seq[Path] =
    walk(out.resolve(s"${sink}_dead")).filter(Files.isRegularFile(_)) ++
      walk(out.resolve(sink)).filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".inprogress") || n.endsWith(".old") ||
          (Files.isRegularFile(p) && p.toString.contains("/_staging/"))
      }

  /** Failed checks by job: archive and partner outputs against the
    * generator's expected multisets, and sink leftovers. */
  def check(out: Path, in: Inputs): Map[String, Seq[String]] = {
    def eq(what: String, dir: Path, want: Stats.MultisetHash) = {
      val got = hashLines(dataFiles(dir))
      if (got == want.value) None else Some(s"$what: got $got want ${want.value}")
    }
    Map(
      "archive" -> eq("archive", out.resolve("archive"), in.archive).toSeq,
      "enrich_s61" -> (Partners.flatMap(p =>
        eq(s"s61 partner $p", out.resolve("s61").resolve(p), in.s61)) ++
        sinkLeftovers(out, "s61").map(p => s"leftover $p")),
      "flume_gn" -> (eq("gn archive", out.resolve("gn_archive"), in.gn).toSeq ++
        eq("gn partner", out.resolve("gn").resolve("gn_partner"), in.gn) ++
        sinkLeftovers(out, "gn").map(p => s"leftover $p")))
  }

  /** Disk counters of the sinks and archive layers. */
  def diskMetrics(out: Path): Main.Metrics = {
    val mb = 1024.0 * 1024.0
    val partner = Seq("s61", "gn").flatMap(s => dataFiles(out.resolve(s)))
    val dead = Seq("s61", "gn").map(s =>
      walk(out.resolve(s"${s}_dead")).count(Files.isRegularFile(_))).sum
    val arc = Seq("archive", "gn_archive").flatMap(a => dataFiles(out.resolve(a)))
    Seq(("sink.partner_files", partner.size.toDouble, "count"),
      ("sink.partner_mb", partner.map(Files.size).sum / mb, "MB"),
      ("sink.dead_letter_files", dead.toDouble, "count"),
      ("archive.files", arc.size.toDouble, "count"),
      ("archive.mb", arc.map(Files.size).sum / mb, "MB"))
  }

  def deleteTree(root: Path): Unit =
    walk(root).reverse.foreach(Files.deleteIfExists)

  // ── the workload ──────────────────────────────────────────────────────
  final case class Measured(coldCpuS: Double, drainS: Seq[Double],
                            latencies: Seq[Double], tickS: Seq[Double],
                            failures: Seq[String], backlogMax: Double,
                            lateMsP99: Double)

  /** Drop `n` files at once and wait until every job committed them.
    * Returns the batches that carried them, their first trigger (epoch ms)
    * and whether they committed in time. */
  private def round(p: Pipeline, in: Inputs, n: Int, lines: Int)
      : (Seq[(String, StreamingQueryProgress)], Long, Boolean) = {
    val first = in.files
    p.drop((0 until n).map(_ => in.files -> in.next(lines)))
    val ok = p.await(in.files, System.currentTimeMillis() + CommitTimeoutMs)
    val prog = p.progress.filter { case (_, x) =>
      Offsets.fileCount(x.sources.head.endOffset) > first &&
        Offsets.fileCount(x.sources.head.startOffset) < in.files }
    (prog, prog.map(x => startMs(x._2)).min, ok)
  }

  private def span(r: (Seq[(String, StreamingQueryProgress)], Long, Boolean)) =
    (r._1.map(x => endMs(x._2)).max - r._2) / 1000.0

  /** Cold file pair, `DrainRounds` backlog rounds, then `seconds` of open
    * loop. */
  def run(p: Pipeline, in: Inputs, seconds: Double): Measured = {
    val failures = Seq.newBuilder[String]
    val cpu0 = Stats.processCpuS
    val cold = round(p, in, 1, LiveLines)
    val coldCpuS = Stats.processCpuS - cpu0
    if (!cold._3) failures += "cold file not committed in time"
    val drains = (1 to DrainRounds).map { k =>
      val r = round(p, in, DrainFiles, DrainLines)
      if (!r._3) failures += s"drain round $k not committed in time"
      span(r)
    }
    val n = math.max(2, (seconds * 1000 / LiveTickMs).toInt)
    val files = (0 until n).map(_ => in.files -> in.next(LiveLines))
    val base = files.head._1
    val due = new Array[Long](n)
    val dropped = new Array[Long](n)
    val gen = new Thread(() => {
      val start = System.currentTimeMillis() + LiveTickMs
      files.foreach { case f @ (i, _) =>
        val k = i - base
        due(k) = start + k.toLong * LiveTickMs
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        p.drop(Seq(f))
        dropped(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    if (!p.await(in.files, System.currentTimeMillis() + CommitTimeoutMs))
      failures += "live files not committed in time"
    val prog = p.progress.filter(x =>
      Offsets.fileCount(x._2.sources.head.endOffset) > base)
    val dueMap = due.zipWithIndex.map { case (d, k) => (base + k) -> d }.toMap
    val perJob = Jobs.map(j => Offsets.latencies(dueMap, batches(prog, j)))
    // a tick is delivered when all three jobs have committed its files
    val perTick = (base until base + n).flatMap { i =>
      val ls = perJob.flatMap(_.get(i))
      if (ls.size == Jobs.size) Some(ls.max) else None
    }
    val backlog = prog.map { case (_, x) =>
      val avail = base + dropped.count(_ <= endMs(x))
      (avail - Offsets.fileCount(x.sources.head.endOffset)).toDouble }
    Measured(coldCpuS, drains, perJob.flatMap(_.values), perTick,
      failures.result(), if (backlog.isEmpty) 0.0 else backlog.max,
      Stats.percentile(due.indices.map(k => (dropped(k) - due(k)).toDouble), 99))
  }
}
