package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.FtpLikeSink

/** The traced mode: spans at each call into a layer, kept in memory and
  * written out when the run ends, plus the per-layer counters.
  *
  * Everything here observes the program from outside: a `SparkListener`
  * (exec and store), a `QueryExecutionListener` (planner phases from
  * `QueryExecution.tracker`), Spark's codegen compile counter, timers
  * around the harness's own calls (session, SparkEntry, queries) and a
  * `FtpLikeSink` subclass that times `super.writeBatch`. With tracing off
  * none of it is installed.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: String, kind: String, name: String,
                        startMs: Double, endMs: Double,
                        attrs: Map[String, Double] = Map.empty)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Epoch-aligned monotonic clock in ms, shared by every span. */
  private val epoch0 = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = epoch0 + System.nanoTime() / 1e6

  def record(parent: String, kind: String, name: String, startMs: Double,
             endMs: Double, attrs: Map[String, Double] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, kind, name, startMs, endMs, attrs))
    id
  }

  /** Time `body` as a span of `kind` when tracing; always returns its
    * result and its duration in seconds. */
  def timed[T](kind: String, name: String, parent: String = "")
              (body: => T): (T, Double) = {
    val t0 = nowMs
    val r = body
    val t1 = nowMs
    record(parent, kind, name, t0, t1)
    (r, (t1 - t0) / 1000.0)
  }

  def spansOf(kind: String): Seq[Span] =
    spans.asScala.filter(_.kind == kind).toSeq

  def writeSpans(path: Path): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + num(v) }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${Json.str(s.parent)},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${num(s.startMs)},""" +
        s""""end_ms":${num(s.endMs)},"attrs":$attrs}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }

  // ── exec + store: one SparkListener ───────────────────────────────────
  object Exec extends SparkListener {
    val jobs, stages, tasks = new LongAdder
    val runMs, gcMs, rddBlocks = new LongAdder
    val cpuNs, shuffleWrite, shuffleRead, spill, rddBytes = new LongAdder
    val peakExecMem = new AtomicLong(0)
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
    private val seenBlocks = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    private def parentOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty("perfbench.parent"))
        .orElse(Option(p.getProperty("sql.streaming.queryId"))
          .map(q => s"stream:$q:" + p.getProperty("streaming.sql.batchId"))))
        .getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      jobStart.put(e.jobId, (nowMs, parentOf(e.properties)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        record(parent, "job", e.jobId.toString, t0, nowMs)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.increment()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        record("", "stage", i.stageId.toString, s.toDouble, c.toDouble,
          Map("tasks" -> i.numTasks.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid &&
          seenBlocks.add(b.blockId.name)) {
        rddBlocks.increment()
        rddBytes.add(b.memSize + b.diskSize)
      }
    }
  }

  // ── planner: QueryExecution.tracker phases ────────────────────────────
  object Planner extends QueryExecutionListener {
    val analysisMs, optimizerMs, physicalMs = new DoubleAdder
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def add(phase: String, acc: DoubleAdder, kind: String): Unit =
        phases.get(phase).foreach { p =>
          acc.add(p.durationMs.toDouble)
          record("", kind, funcName, p.startTimeMs.toDouble,
            p.endTimeMs.toDouble)
        }
      add("analysis", analysisMs, "plan.analysis")
      add("optimization", optimizerMs, "plan.optimizer")
      add("planning", physicalMs, "plan.physical")
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(Exec)
    spark.listenerManager.register(Planner)
  }

  /** Per-layer exec/store/planner metrics over a window of `wallS` seconds
    * on `cores` cores. Call after the session has stopped, so the listener
    * bus has delivered every event. */
  def execMetrics(wallS: Double, cores: Int, compiles: Long)
      : Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      ("plan.analysis_s", Planner.analysisMs.sum / 1000.0, "s"),
      ("plan.optimizer_s", Planner.optimizerMs.sum / 1000.0, "s"),
      ("plan.physical_s", Planner.physicalMs.sum / 1000.0, "s"),
      ("plan.codegen_compiles", compiles.toDouble, "count"),
      ("exec.jobs", Exec.jobs.sum.toDouble, "count"),
      ("exec.stages", Exec.stages.sum.toDouble, "count"),
      ("exec.tasks", Exec.tasks.sum.toDouble, "count"),
      ("exec.task_run_s", Exec.runMs.sum / 1000.0, "s"),
      ("exec.task_cpu_s", Exec.cpuNs.sum / 1e9, "s"),
      ("exec.gc_s", Exec.gcMs.sum / 1000.0, "s"),
      ("exec.busy_frac", Exec.runMs.sum / 1000.0 / (wallS * cores), "ratio"),
      ("exec.shuffle_write_mb", Exec.shuffleWrite.sum / mb, "MB"),
      ("exec.shuffle_read_mb", Exec.shuffleRead.sum / mb, "MB"),
      ("exec.spill_mb", Exec.spill.sum / mb, "MB"),
      ("exec.peak_exec_mem_mb", Exec.peakExecMem.get / mb, "MB"),
      ("store.rdd_blocks", Exec.rddBlocks.sum.toDouble, "count"),
      ("store.rdd_mb", Exec.rddBytes.sum / mb, "MB"))
  }

  /** `FtpLikeSink` whose `writeBatch` is timed; the sink's own code runs
    * unchanged through `super`. */
  final class TimedSink(targetRoot: String, deadLetterRoot: String,
                        partners: Seq[String])
      extends FtpLikeSink(targetRoot, deadLetterRoot, partners) {
    override def writeBatch(df: DataFrame, batchId: Long): Unit = {
      val t0 = nowMs
      super.writeBatch(df, batchId)
      record(s"sink:$targetRoot", "sink", batchId.toString, t0, nowMs)
    }
  }

  def sink(targetRoot: String, deadLetterRoot: String,
           partners: Seq[String]): FtpLikeSink =
    if (enabled) new TimedSink(targetRoot, deadLetterRoot, partners)
    else new FtpLikeSink(targetRoot, deadLetterRoot, partners)
}

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
