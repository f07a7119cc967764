package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}

import graft.sinks.LocalFs

/** How every streaming query in this package starts: offsets committed
  * through a checkpoint written by the fork-free local FileSystem, and one
  * batch interval for all `foreachBatch` writers, each called once per
  * micro-batch. */
object MicroBatch {

  /** The reference's `spark.streaming.batchInterval` (20,000 ms,
    * src/StreamingSocketProcess64.scala:83). */
  val Interval: Trigger = Trigger.ProcessingTime("20 seconds")

  /** `stream.writeStream` on `trigger`, checkpointed at `checkpointDir`.
    * Its offset and commit logs, `metadata` file, file-sink log and state
    * stores go through [[LocalFs.installCheckpoints]] on `file:`: the same
    * bytes, modes and `.crc` sidecars as stock Hadoop, without a `chmod`
    * or `readlink` child process per write. */
  def writer(stream: DataFrame, checkpointDir: String,
             trigger: Trigger): DataStreamWriter[Row] = {
    LocalFs.installCheckpoints(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
  }

  /** Start `stream`, calling `each(batch, batchId)` once per micro-batch. */
  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    writer(stream, checkpointDir, trigger).foreachBatch(each).start()
}
