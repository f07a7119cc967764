package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flume-event-shaped source: rows of `body: binary` + `headers:
  * map<string,string>` where `headers['flieName']` [sic — the reference's
  * typo'd header key] carries the originating filename.
  *
  * The reference pulls these events from Flume agents over Avro RPC
  * (`FlumeUtils.createPollingStream`, reference:
  * src/StreamingFlumeProcess.scala:89-101) and unions the per-agent streams
  * (:102). Here the connector boundary is a spool DIRECTORY (fed by files
  * dropped there or by [[FlumeAvroReceiver]]), read for batch and stream
  * alike by [[FlumeEventSource]]: one event per line, `body` = line bytes,
  * filename in the header (src/StreamingFlumeProcess.scala:117-121).
  */
object FlumeLikeSource {

  val HeaderFileName = "flieName" // [sic] reference key

  /** Streaming read with exactly-once file tracking through the query's
    * checkpoint — stronger than the reference's receiver replication.
    * `maxFilesPerTrigger` caps the spool files one micro-batch ingests,
    * the reference's per-poll `maxBatchSize` knob (:92-101), so a
    * backlogged spool does not turn the first batch after a restart into
    * an unbounded catch-up job. `None` = unthrottled. */
  def readStream(spark: SparkSession, spoolDir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = spark.readStream.format(classOf[FlumeEventSource].getName)
      .option("path", spoolDir)
    maxFilesPerTrigger
      .fold(base)(n => base.option("maxFilesPerTrigger", n.toString))
      .load()
  }

  /** Union of several spool directories into one event stream — the
    * reference's per-agent stream union (`ssc.union(buf)`, reference:
    * src/StreamingFlumeProcess.scala:89-102): bag semantics, no dedup, no
    * shuffle. `maxFilesPerTrigger` applies PER SOURCE, like the
    * reference's per-agent `maxBatchSize`. */
  def readStreamUnion(spark: SparkSession, spoolDirs: Seq[String],
                      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    spoolDirs.map(readStream(spark, _, maxFilesPerTrigger)).reduce(_.union(_))

  /** Batch read of the same spool, for tests and backfill. */
  def read(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.format(classOf[FlumeEventSource].getName)
      .option("path", spoolDir).load()

  /** The reference's event→(file, value) projection
    * (src/StreamingFlumeProcess.scala:117-121). */
  def toFileValue(events: DataFrame): DataFrame =
    events.select(
      element_at(col("headers"), HeaderFileName).as("file"),
      decode(col("body"), "UTF-8").as("value"))
}
