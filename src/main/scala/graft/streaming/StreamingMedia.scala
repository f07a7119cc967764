package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Multimodal

/** The perceptual index maintained and served ONLINE — the media side
  * of the [[StreamingTakedown]] story. Two independent queries a
  * production media library runs continuously:
  *
  *  - INGEST: new assets arrive as a stream of (doc_id, payload);
  *    each micro-batch is hashed inside the codec boundary ONCE and
  *    appended to the persisted sketch index
  *    ([[Multimodal.phashIndexAppend]] / [[Multimodal.videoIndexAppend]]
  *    — O(batch), bucket layout preserved), so the library's serving
  *    index is always as fresh as the last committed batch. Offsets
  *    commit through `checkpointLocation`; a replayed batch re-appends
  *    the same deterministic rows (dedupe on (doc_id) downstream or
  *    key deliveries by batchId — the FtpLikeSink discipline).
  *
  *  - TAKEDOWN: requests arrive as a stream of (doc_id, payload);
  *    each batch resolves against the CURRENT index via
  *    [[Multimodal.mediaTakedownStatus]] /
  *    [[Multimodal.videoTakedownStatus]] — request payloads are the
  *    only codec work, the library's media bytes are never re-read,
  *    and ingest appends land transparently (the next batch's
  *    `spark.table` resolves the grown index), so a takedown filed
  *    today matches copies ingested tomorrow.
  *
  * `foreachBatch` rather than a continuous join, for the
  * [[StreamingTakedown]] reasons: catalog-table probes and
  * candidate-bounded popcounts are shapes the streaming planner can't
  * run incrementally, and the delivery target is caller-supplied. */
object StreamingMedia {

  /** Append each batch's image sketches to the persisted index. */
  def ingestImages(assets: DataFrame, table: String, checkpointDir: String,
                   trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(assets, checkpointDir, trigger) { (batch, _) =>
      Multimodal.phashIndexAppend(batch, table)
    }

  /** Append each batch's video keyframe sketches to the persisted
    * index. */
  def ingestVideos(assets: DataFrame, table: String, checkpointDir: String,
                   trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(assets, checkpointDir, trigger) { (batch, _) =>
      Multimodal.videoIndexAppend(batch, table)
    }

  /** Serve a stream of image takedown requests (doc_id, payload)
    * against the persisted sketch index; `deliver` receives each
    * batch's (req_id, doc_id, hamming) frame and the batch id. */
  def serveImageTakedowns(requests: DataFrame, table: String,
                          checkpointDir: String, maxHamming: Int = 3,
                          trigger: Trigger = MicroBatch.Interval)
                         (deliver: (DataFrame, Long) => Unit)
      : StreamingQuery =
    MicroBatch.start(requests, checkpointDir, trigger) { (batch, batchId) =>
      deliver(Multimodal.mediaTakedownStatus(batch.sparkSession,
        table, batch, maxHamming), batchId)
    }

  /** Serve a stream of video takedown requests (doc_id, payload)
    * against the persisted keyframe index; `deliver` receives each
    * batch's (req_id, doc_id, n_votes, ham_sum) frame and the batch
    * id. */
  def serveVideoTakedowns(requests: DataFrame, table: String,
                          checkpointDir: String, maxHamming: Int = 3,
                          minVotes: Int = 2,
                          trigger: Trigger = MicroBatch.Interval)
                         (deliver: (DataFrame, Long) => Unit)
      : StreamingQuery =
    MicroBatch.start(requests, checkpointDir, trigger) { (batch, batchId) =>
      deliver(Multimodal.videoTakedownStatus(batch.sparkSession,
        table, batch, maxHamming, minVotes), batchId)
    }
}
