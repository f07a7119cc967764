package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** How every `foreachBatch` writer in this package starts: one
  * callback per micro-batch, offsets committed through the checkpoint,
  * and one batch interval for all of them. */
object MicroBatch {

  /** The reference's `spark.streaming.batchInterval` (20,000 ms,
    * src/StreamingSocketProcess64.scala:83). */
  val Interval: Trigger = Trigger.ProcessingTime("20 seconds")

  /** Start `stream`, calling `each(batch, batchId)` once per micro-batch. */
  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(each)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
