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
  * (:102). With no Flume/Avro dependency available, the connector boundary is
  * re-drawn at a spool DIRECTORY: each file dropped there becomes a stream of
  * events (one per line), `body` = line bytes, filename in the header — the
  * same contract the downstream pipeline consumes
  * (src/StreamingFlumeProcess.scala:117-121).
  *
  * Batch twin reads the same layout for tests/backfill.
  */
object FlumeLikeSource {

  val HeaderFileName = "flieName" // [sic] reference key

  /** Per-poll rate control — the adapter equivalent of the reference's
    * polling-receiver knobs (`maxBatchSize` events per poll and
    * `parallelism` receivers per agent, reference:
    * src/StreamingFlumeProcess.scala:92-101): `maxFilesPerTrigger` caps
    * how many spool files one micro-batch ingests, which keeps a
    * backlogged spool from turning the first batch after a restart into an
    * unbounded catch-up job. `None` = unthrottled. There is no byte cap:
    * Spark's file source rejects `maxBytesPerTrigger` together with
    * `maxFilesPerTrigger`. */
  case class RateControl(maxFilesPerTrigger: Option[Int] = None)

  /** Streaming read: Structured Streaming file source (exactly-once file
    * tracking via the query's checkpoint — stronger than the reference's
    * receiver replication) → (body, headers). */
  def readStream(spark: SparkSession, spoolDir: String,
                 rate: RateControl = RateControl()): DataFrame = {
    val base = spark.readStream.format("text")
    val withFiles = rate.maxFilesPerTrigger
      .fold(base)(n => base.option("maxFilesPerTrigger", n.toString))
    project(
      withFiles
        .load(spoolDir)
        .select(col("value"), col("_metadata.file_path").as("path")))
  }

  /** Union of several spool directories into one event stream — the
    * reference's per-agent stream union (`ssc.union(buf)`, reference:
    * src/StreamingFlumeProcess.scala:89-102): bag semantics, no dedup, no
    * shuffle (a union is a plan-level concat of sources). `rate` applies
    * PER SOURCE, like the reference's per-agent `maxBatchSize`. */
  def readStreamUnion(spark: SparkSession, spoolDirs: Seq[String],
                      rate: RateControl = RateControl()): DataFrame =
    spoolDirs.map(readStream(spark, _, rate)).reduce(_.union(_))

  /** Batch twin over the same spool layout. */
  def read(spark: SparkSession, spoolDir: String): DataFrame =
    project(
      spark.read
        .format("text")
        .load(spoolDir)
        .select(col("value"), col("_metadata.file_path").as("path")))

  private def project(df: DataFrame): DataFrame =
    df.select(
      encode(col("value"), "UTF-8").as("body"),
      map(
        lit(HeaderFileName),
        element_at(split(col("path"), "/"), -1)).as("headers"))

  /** The reference's event→(file, value) projection
    * (src/StreamingFlumeProcess.scala:117-121). */
  def toFileValue(events: DataFrame): DataFrame =
    events.select(
      element_at(col("headers"), HeaderFileName).as("file"),
      decode(col("body"), "UTF-8").as("value"))
}
