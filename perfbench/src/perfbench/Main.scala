package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` builds it and starts it as
  * `perfbench.Main run <workload> <seed> <seconds> <trace> <cores> <work>
  * <data> <expected> <spawn-epoch-ms>` and parses the last line it prints,
  * `PERFBENCH_RESULT {...}`.
  *
  * `perfbench.Main hashes <data> <out-tsv> <query>...` writes the result
  * hashes of the named queries (how `expected_hashes.tsv` was made), and
  * `perfbench.Main hash-parquet <dir>...` prints the same hash of parquet
  * results written by `graft.Verify`, to cross-check them against the
  * DuckDB oracle.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 5

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: Path, data: Path,
                        expected: Path, spawnMs: Long)

  type Metrics = Seq[(String, Double, String)]

  def main(argv: Array[String]): Unit = argv.toList match {
    case "run" :: w :: seed :: secs :: trace :: cores :: work :: data ::
        expected :: spawn :: Nil =>
      run(Args(w, seed.toLong, secs.toDouble, trace == "1", cores.toInt,
        Paths.get(work), Paths.get(data), Paths.get(expected), spawn.toLong))
    case "hashes" :: data :: out :: queries =>
      val spark = session(4)
      val lines = queries.map(q => q + "\t" +
        Batch.resultHash(graft.SparkEntry.queries(q)(spark, data)))
      Files.write(Paths.get(out), lines.asJava, StandardCharsets.UTF_8)
      spark.stop()
    case "hash-parquet" :: dirs =>
      val spark = session(4)
      dirs.foreach { d =>
        println(Paths.get(d).getFileName.toString + "\t" +
          Batch.resultHash(spark.read.parquet(d)))
      }
      spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Main run|hashes|hash-parquet ...")
      sys.exit(2)
  }

  /** The session every workload runs in: `graft.Bench`'s settings. */
  def session(cores: Int, work: Path = Paths.get(sys.props("java.io.tmpdir")))
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `SetupRepeats` set-ups: session start until `ready` has read the
    * workload's first input. The first counts from the process spawn, so
    * it includes JVM start; the others stop the session and start a new
    * one. Returns the last session, the set-up and session-start times. */
  def setUp(a: Args, ready: SparkSession => Unit)
      : (SparkSession, Seq[Double], Seq[Double]) = {
    var spark: SparkSession = null
    val samples = (0 until SetupRepeats).map { k =>
      if (spark != null) spark.stop()
      val t0 = if (k == 0) a.spawnMs.toDouble else Trace.nowMs
      val s0 = Trace.nowMs
      spark = session(a.cores, a.work)
      val s1 = Trace.nowMs
      ready(spark)
      val t1 = Trace.nowMs
      Trace.record("", "setup", s"setup$k", t0, t1)
      ((t1 - t0) / 1000.0, (s1 - s0) / 1000.0)
    }
    (spark, samples.map(_._1), samples.map(_._2))
  }

  /** Log a phase boundary, seconds since the process spawn, to stderr
    * (the run's log file). */
  def phase(a: Args, name: String): Unit =
    System.err.println(f"perfbench phase $name%s at ${(Trace.nowMs - a.spawnMs) / 1000}%.2f s")

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  final case class Outcome(attempted: Long, failed: Long, e2e: Metrics,
                           layers: Metrics, summary: Metrics,
                           failures: Seq[String])

  def run(a: Args): Unit = {
    Trace.enabled = a.trace
    Files.createDirectories(a.work)
    val o = a.workload match {
      case "cdr_stream" => stream(a)
      case "batch_catalog" => batch(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace)
      Trace.writeSpans(a.work.getParent.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    def obj(ms: Metrics) = ms.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    println("PERFBENCH_RESULT " +
      s"""{"correct":${o.failed == 0 && o.failures.isEmpty},""" +
      s""""attempted":${o.attempted},"failed":${o.failed},""" +
      s""""e2e":${obj(o.e2e)},"layers":${obj(o.layers)},""" +
      s""""summary":${obj(o.summary)},""" +
      s""""failures":${o.failures.map(Json.str).mkString("[", ",", "]")}}""")
  }

  /** Every per-layer metric, 0 where the workload leaves the layer idle. */
  val LayerNames: Seq[(String, String)] =
    Seq("session.start_s" -> "s", "entry.build_s" -> "s") ++
      Seq("plan.analysis_s", "plan.optimizer_s", "plan.physical_s")
        .map(_ -> "s") ++
      Seq("plan.codegen_compiles" -> "count", "exec.jobs" -> "count",
        "exec.stages" -> "count", "exec.tasks" -> "count",
        "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
        "exec.busy_frac" -> "ratio", "exec.shuffle_write_mb" -> "MB",
        "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
        "exec.peak_exec_mem_mb" -> "MB", "store.rdd_blocks" -> "count",
        "store.rdd_mb" -> "MB") ++
      Batch.Queries.map(q => s"query.$q.warm_s" -> "s") ++
      Batch.Catalog.map(_._2).distinct.map(f => s"family.$f.warm_s" -> "s") ++
      Seq("source.latest_offset_ms_p50" -> "ms",
        "source.files_per_batch_p50" -> "count",
        "source.backlog_files_max" -> "count", "source.records_in" -> "count",
        "batch.count" -> "count", "batch.trigger_ms_p50" -> "ms",
        "batch.trigger_ms_p90" -> "ms", "batch.planning_ms_p50" -> "ms",
        "batch.add_batch_ms_p50" -> "ms", "batch.wal_ms_p50" -> "ms",
        "sink.write_batch_ms_p50" -> "ms", "sink.write_batch_s_total" -> "s",
        "sink.partner_files" -> "count", "sink.partner_mb" -> "MB",
        "sink.dead_letter_files" -> "count", "archive.files" -> "count",
        "archive.mb" -> "MB", "gen.late_ms_p99" -> "ms")

  /** All of `LayerNames`, taking values from `measured` and 0 elsewhere. */
  def layers(measured: Metrics): Metrics = {
    val m = measured.map(t => t._1 -> t._2).toMap
    LayerNames.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def e2e(setup: Seq[Double], coldCpu: Double, warm: Double,
          latencies: Seq[Double]): Metrics = Seq(
    ("setup_s", Stats.median(setup), "s"),
    ("peak_rss_mb", peakRssMb, "MB"),
    ("cold_cpu_s", coldCpu, "s"),
    ("warm_s", warm, "s"),
    ("latency_p50_s", Stats.percentile(latencies, 50), "s"),
    ("latency_p90_s", Stats.percentile(latencies, 90), "s"))

  private def batch(a: Args): Outcome = {
    val queries = Batch.Queries
    val dir = a.data.toString
    val tables = Files.list(a.data).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet")).sortBy(_.toString)
    require(tables.nonEmpty, s"no parquet tables in ${a.data}")
    val (spark, setup, sessionStart) = setUp(a, s =>
      s.read.parquet(tables.head.toString).schema)
    Trace.install(spark)
    val compiles0 = Trace.codegenCompiles
    val t0 = System.nanoTime()
    val r = Batch.run(spark, dir, queries, a.seconds,
      Batch.readExpected(a.expected))
    val wallS = (System.nanoTime() - t0) / 1e9
    val compiles = Trace.codegenCompiles - compiles0
    spark.stop()
    val warmMedian = r.warm.map { case (q, ts) => q -> Stats.median(ts) }
    val e = e2e(setup, r.coldCpuS, warmMedian.values.sum,
      r.warm.values.flatten.toSeq)
    val perQuery = queries.map(q => (s"query.$q.warm_s", warmMedian(q), "s"))
    val families = Batch.Catalog.groupBy(_._2).toSeq.map { case (f, qs) =>
      (s"family.$f.warm_s", qs.map(q => warmMedian(q._1)).sum, "s") }
    val l = layers(Seq(("session.start_s", Stats.median(sessionStart), "s"),
      ("entry.build_s", r.buildColdS, "s")) ++
      Trace.execMetrics(wallS, a.cores, compiles) ++ perQuery ++ families)
    val failedRuns = r.failures.size.toLong
    Outcome(r.attempted, failedRuns, e, l,
      Seq(("failed_frac", failedRuns.toDouble / r.attempted, "ratio"),
        ("queries", queries.size.toDouble, "count"),
        ("warm_passes", r.warm.values.map(_.size).min.toDouble, "count")) ++
        setup.zipWithIndex.map { case (s, i) => (s"setup_sample_$i", s, "s") },
      r.failures.toSeq.sorted.map { case (q, m) => s"$q: $m" })
  }

  // ── streaming ─────────────────────────────────────────────────────────
  private def stream(a: Args): Outcome = {
    val codeMap = Gen.codeMap(a.seed)
    val mapFile = a.work.resolve("codemap.tsv")
    Files.write(mapFile, Gen.codeMapTsv(codeMap).asJava, StandardCharsets.UTF_8)
    var dimRows = 0L
    val (spark, setup, sessionStart) = setUp(a, s =>
      dimRows = Streams.loadCodeMap(s, mapFile).count())
    require(dimRows == codeMap.size, s"code map rows $dimRows != ${codeMap.size}")
    val dim = Streams.loadCodeMap(spark, mapFile).cache()
    dim.count()
    phase(a, "set-up done")
    val in = new Streams.Inputs(a.seed, codeMap)
    Trace.install(spark)
    val compiles0 = Trace.codegenCompiles
    val t0 = System.nanoTime()
    val p = new Streams.Pipeline(spark, a.work, dim)
    phase(a, "jobs started")
    val m = try {
      Streams.run(p, in, a.seconds)
    } finally p.stop()
    phase(a, "jobs stopped")
    val wallS = (System.nanoTime() - t0) / 1e9
    val compiles = Trace.codegenCompiles - compiles0
    val progress = p.progress
    spark.stop()

    val bad = Streams.check(p.out, in)
    val failures = m.failures ++ Streams.Jobs.flatMap(j =>
      bad(j).map(msg => s"$j: $msg"))
    // a job that fails a check fails every file it was given
    val failed = Streams.Jobs.count(j => bad(j).nonEmpty).toLong *
      in.files + (if (m.failures.nonEmpty) in.files.toLong else 0L)
    val disk = Streams.diskMetrics(p.out)
    phase(a, "checked")
    Streams.deleteTree(a.work)
    phase(a, "deleted")

    val ps = progress.map(_._2)
    def dur(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)
    val filesPerBatch = ps.map(x =>
      (Offsets.fileCount(x.sources.head.endOffset) -
        Offsets.fileCount(x.sources.head.startOffset)).toDouble)
    val sinkMs = Trace.spansOf("sink").map(s => s.endMs - s.startMs)
    if (a.trace) progress.foreach { case (job, x) =>
      Trace.record(s"stream:$job", "batch", x.batchId.toString,
        Streams.startMs(x).toDouble, Streams.endMs(x).toDouble,
        x.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
    }
    val l = layers(Seq(
      ("session.start_s", Stats.median(sessionStart), "s"),
      ("source.latest_offset_ms_p50", Stats.median(dur("latestOffset")), "ms"),
      ("source.files_per_batch_p50", Stats.median(filesPerBatch), "count"),
      ("source.backlog_files_max", m.backlogMax, "count"),
      ("source.records_in", ps.map(_.numInputRows.toDouble).sum, "count"),
      ("batch.count", ps.size.toDouble, "count"),
      ("batch.trigger_ms_p50", Stats.median(dur("triggerExecution")), "ms"),
      ("batch.trigger_ms_p90", Stats.percentile(dur("triggerExecution"), 90), "ms"),
      ("batch.planning_ms_p50", Stats.median(dur("queryPlanning")), "ms"),
      ("batch.add_batch_ms_p50", Stats.median(dur("addBatch")), "ms"),
      ("batch.wal_ms_p50", Stats.median(dur("walCommit").zip(dur("commitOffsets"))
        .map { case (x, y) => x + y }), "ms"),
      ("sink.write_batch_ms_p50", Stats.median(sinkMs), "ms"),
      ("sink.write_batch_s_total", sinkMs.sum / 1000.0, "s"),
      ("gen.late_ms_p99", m.lateMsP99, "ms")) ++ disk ++
      Trace.execMetrics(wallS, a.cores, compiles))
    val attempted = Streams.Jobs.size.toLong * in.files
    val drainRecords = 2.0 * Streams.DrainFiles * Streams.DrainLines
    Outcome(attempted, failed,
      e2e(setup, m.coldCpuS, Stats.median(m.drainS), m.latencies), l,
      Seq(("failed_frac", failed.toDouble / attempted, "ratio"),
        ("drain_records_per_s", drainRecords / Stats.median(m.drainS), "1/s"),
        ("live_offered_records_per_s",
          2000.0 * Streams.LiveLines / Streams.LiveTickMs, "1/s"),
        ("live_tick_delivered_p50_s", Stats.median(m.tickS), "s"),
        ("latency_samples", m.latencies.size.toDouble, "count")) ++
        setup.zipWithIndex.map { case (s, i) => (s"setup_sample_$i", s, "s") },
      failures)
  }
}
