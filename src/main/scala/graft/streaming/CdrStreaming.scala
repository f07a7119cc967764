package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{CdrOps, TableSpec}
import graft.sinks.{BatchCommit, FtpLikeSink, LocalFs}

/** Structured Streaming shell: the reference's DStream jobs re-expressed as
  * streaming queries over the same operator library used in batch.
  *
  * Reference → here:
  *  - 11 per-prefix `filter` legs + 11 `saveAsTextFiles` sinks over one
  *    cached socket stream (src/StreamingSocketProcess.scala:124-159) →
  *    ONE pass deriving `record_type` + ONE partitioned file sink
  *    (`partitionBy(dt, record_type)`) — no re-scan, no per-leg cache;
  *  - driver-clock day partition computed once at graph build (the stale-date
  *    bug, SURVEY §2.9.5) → `dt` derived from data/batch event time;
  *  - `concurrentJobs` job overlap → independent streaming queries;
  *  - checkpoint + `getOrCreate` driver recovery (at-least-once) →
  *    a checkpoint (exactly-once source offsets, [[MicroBatch.writer]]);
  *  - 200 s window re-archive duplication (SURVEY §2.9.6) → tumbling window
  *    aggregation with a watermark: each record counted exactly once.
  */
object CdrStreaming {

  /** Socket source (dev parity with the reference's `socketTextStream`,
    * src/StreamingSocketProcess.scala:124); tests use MemoryStream. */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Single-pass routed archive (replaces K1/K3 + P1/P2): derive
    * `record_type` from the prefix and `dt` from the record's start-time
    * field when parseable, else the batch processing date. Unknown prefixes
    * land in their own partitions — nothing is dropped from the archive. */
  def routedArchive(lines: DataFrame, outDir: String, checkpointDir: String,
                    trigger: Trigger = MicroBatch.Interval,
                    maxRecordsPerFile: Int = 100000)
      : StreamingQuery = {
    // try_element_at: archive-only prefixes are free-form — a short or empty
    // line must fall back to the batch date, not error (ANSI mode throws on
    // plain element_at out-of-bounds). Only a yyyyMMdd-shaped start-time
    // field may drive the partition; anything else takes the batch date —
    // a free-form field must not mint arbitrary partition values.
    val startField =
      substring(try_element_at(split(col("value"), ","), lit(2)), 1, 8)
    val routed = CdrOps.withRecordType(lines)
      .withColumn("dt",
        coalesce(
          when(startField.rlike("^[0-9]{8}$"), startField),
          date_format(current_timestamp(), "yyyyMMdd")))
    // maxRecordsPerFile = the reference's size-based flush granularity
    // (`cache` records per file append, src/ProcessSums.scala:286-311) —
    // bounds file sizes without its repartition(1) single-writer bottleneck.
    MicroBatch.writer(routed.select("value", "dt", "record_type"),
        checkpointDir, trigger)
      .format(LocalFs.TextFormat)
      .partitionBy("dt", "record_type")
      .option("path", outDir)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .start()
  }

  /** Flagship streaming enrichment: the s61-style parse → arity → mask →
    * broadcast join pipeline running per micro-batch, dual-written to two
    * partner directories through the transactional [[FtpLikeSink]]
    * (replaces K7; the join is against a static dim — Catalyst re-plans a
    * broadcast hash join inside every batch). */
  def enrichToPartners(lines: DataFrame, spec: TableSpec, dim: DataFrame,
                       sink: FtpLikeSink, checkpointDir: String,
                       trigger: Trigger = MicroBatch.Interval)
      : StreamingQuery =
    MicroBatch.start(
      CdrOps.enrichPipeline(lines, spec, dim)
        .select(concat_ws(",", col("*")).as("value")),
      checkpointDir, trigger)(sink.writeBatch)

  /** Raw pass-through partner delivery — the reference's LIVE behavior: its
    * enrichment legs are commented out and every raw record is shipped
    * verbatim to BOTH partner buffers (src/ProcessSums.scala:368-382 —
    * `sum1`/`sum2` accumulate `record` directly, `processTable` disabled at
    * :370-371; SURVEY §2.9.1 keeps this as a sink mode distinct from
    * [[enrichToPartners]]). Optional `prefix` restricts delivery to one
    * logical table's records; `None` ships everything. */
  def rawToPartners(lines: DataFrame, sink: FtpLikeSink, checkpointDir: String,
                    prefix: Option[String] = None,
                    trigger: Trigger = MicroBatch.Interval)
      : StreamingQuery = {
    val routed = prefix.fold(lines)(p => CdrOps.routeTo(lines, p))
    MicroBatch.start(routed.select(col("value")), checkpointDir, trigger)(
      sink.writeBatch)
  }

  /** The Flume-path lifecycle end-to-end (reference
    * StreamingFlumeProcess, src/StreamingFlumeProcess.scala:34-239):
    * events(body, headers) → (file, value) → MD5-mask GN identifier columns
    * 0,1,2,7 (src/StreamingFlumeProcess.scala:146-149) → dual write: a
    * date-partitioned text archive (day derived from the record's own
    * timestamp field 17, not the driver clock — fixing SURVEY §2.9.5) and a
    * partner delivery through the transactional [[FtpLikeSink]].
    * `project` additionally applies the 44→10 projection
    * (src/DesenPross.scala:167-176). */
  def flumeDesensitize(events: DataFrame, archiveDir: String,
                       sink: FtpLikeSink, checkpointDir: String,
                       trigger: Trigger = MicroBatch.Interval,
                       project: Boolean = false): StreamingQuery = {
    import graft.sources.FlumeLikeSource
    val spec = TableSpec.gn44
    val parsed = CdrOps.parseDelim(FlumeLikeSource.toFileValue(events), "|")
    val masked = CdrOps.maskFields(parsed, spec.maskCols)
    // day partition from the record's own event timestamp (field 17,
    // 'yyyy-MM-dd HH:mm:ss.SSSSSS'), resolved BEFORE any projection;
    // free-form rows fall back to the batch date
    val ts17 = substring(
      try_element_at(col("f"), lit(spec.starttimeCol + 1)), 1, 10)
    val withDtCol = masked.withColumn("dt", coalesce(
      when(ts17.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
        regexp_replace(ts17, "-", "")),
      date_format(current_timestamp(), "yyyyMMdd")))
    val shaped =
      if (project) CdrOps.projectFields(withDtCol, TableSpec.gn44Projection)
      else withDtCol
    val withDt = CdrOps.rejoin(shaped, "|").select("value", "dt")
    MicroBatch.start(withDt, checkpointDir, trigger) { (batch, batchId) =>
      val b = batch.persist()
      try {
        archiveBatch(b, archiveDir, batchId)
        sink.writeBatch(b.select("value"), batchId)
      } finally { b.unpersist(); () }
    }
  }

  /** One batch into the archive: its lines of day `d` sit in
    * `dt=<d>/batch-<id>/`, published once by [[BatchCommit]] (a replay
    * adds no line twice), all through the fork-free local FileSystem. */
  private def archiveBatch(b: DataFrame, archiveDir: String,
                           batchId: Long): Unit = {
    val root = new Path(archiveDir)
    val fs = root.getFileSystem(LocalFs.install(
      new Configuration(b.sparkSession.sparkContext.hadoopConfiguration)))
    BatchCommit(fs, root, batchId) { staging =>
      b.write.partitionBy("dt").format(LocalFs.TextFormat)
        .save(staging.toString)
      fs.listStatus(staging).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("dt="))
        .map(day => day -> new Path(root, s"${day.getName}/batch-$batchId"))
    }
    ()
  }

  /** Group-by-source-file archive (replaces K8, the Flume-side
    * group-adjacent-by-filename writers, reference:
    * src/ProcessSum1.scala:244-324,372-530): one output partition per
    * originating file via `partitionBy(file)` — a true group-by, strict
    * superset of the reference's adjacency-run grouping (SURVEY §2.9.3).
    * Input: (file, value) rows from [[graft.sources.FlumeLikeSource]]. */
  def archiveByFile(fileValue: DataFrame, outDir: String,
                    checkpointDir: String,
                    trigger: Trigger = MicroBatch.Interval,
                    maxRecordsPerFile: Int = 100000): StreamingQuery =
    MicroBatch.writer(fileValue, checkpointDir, trigger)
      .format(LocalFs.TextFormat)
      .partitionBy("file")
      .option("path", outDir)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .start()

  /** Tumbling-window per-type counts with a watermark (the correct-once
    * replacement for the reference's overlapping 200 s window archive,
    * src/StreamingSocketProcess60.scala:121): requires a `ts` timestamp
    * column on `lines`. */
  def windowedCounts(lines: DataFrame, window_ : String = "200 seconds",
                     watermark: String = "60 seconds"): DataFrame =
    CdrOps.withRecordType(lines)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("record_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"),
        col("record_type"), col("n"))
}
