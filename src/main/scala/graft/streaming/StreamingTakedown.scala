package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, Multimodal}

/** Takedown served ONLINE — the compliance op a production pipeline runs
  * continuously, not quarterly: takedown / right-to-be-forgotten requests
  * arrive as a stream of doc_ids, and each micro-batch is resolved
  * against the PERSISTED near-dup band index
  * ([[Dedup.nearDupWriteIndex]]'s bands + sets tables) via
  * [[Dedup.takedownStatusIndexed]] — the request's own signatures are
  * LOOKED UP, never recomputed, and the corpus probes the same stored
  * relations, so per-batch work is index-probe-bounded exactly like the
  * batch op (row-identical to it on the same request set, spec-proven in
  * StreamingSpec — the [[StreamingKnn.serve]] parity pattern).
  *
  * `foreachBatch` rather than a continuous join, for the
  * [[StreamingKnn]] reasons: the probe is joins against CATALOG tables
  * plus candidate-bounded scoring — shapes the streaming planner can't
  * run incrementally — and the delivery target (the deletion queue, the
  * audit log, the partner notification) is caller-supplied. Source
  * offsets commit through `checkpointLocation`: each request batch is
  * resolved exactly once, and a replayed batch re-emits the same
  * deterministic status frame (safe to deliver idempotently by batchId,
  * the [[graft.sinks.FtpLikeSink]] discipline).
  *
  * Index APPENDS land transparently — the next batch's `spark.table`
  * resolves the grown index ([[Dedup.nearDupIndexAppend]]) — so a
  * takedown filed today scrubs copies ingested tomorrow as long as the
  * maintenance path keeps appending. */
object StreamingTakedown {

  /** Serve a stream of takedown requests (`doc_id`) against the persisted
    * band/sets index over `docs`. `deliver` receives each batch's full
    * (doc_id, source, status) frame and the batch id. */
  def serve(requests: DataFrame, docs: DataFrame, bandsTable: String,
            setsTable: String, checkpointDir: String,
            jaccardThreshold: Double = 0.8,
            trigger: Trigger = MicroBatch.Interval)
           (deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(requests, checkpointDir, trigger) { (batch, batchId) =>
      deliver(Dedup.takedownStatusIndexed(batch.sparkSession, docs,
        batch, bandsTable, setsTable, jaccardThreshold), batchId)
    }

  /** UNIFIED takedown served online — ONE request stream against
    * EVERYTHING: each micro-batch of doc_ids is fanned across the text
    * band/sets index and the image/audio/video sketch indexes via
    * [[Multimodal.takedownUnified]], and `deliver` receives the batch's
    * full (doc_id, modality, status) frame — row-identical to the batch
    * operator per request batch (spec-proven, the [[serve]] parity
    * pattern). All [[serve]] contracts carry over: foreachBatch because
    * the probes are catalog-table joins, exactly-once offsets through
    * the checkpoint, deterministic re-emission on replay, index appends
    * picked up by the next batch. */
  def serveUnified(requests: DataFrame, docs: DataFrame,
                   bandsTable: String, setsTable: String,
                   imageTable: String, audioTable: String,
                   videoTable: String, checkpointDir: String,
                   jaccardThreshold: Double = 0.8, maxHamming: Int = 3,
                   minVotes: Int = 2,
                   trigger: Trigger = MicroBatch.Interval)
                  (deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(requests, checkpointDir, trigger) { (batch, batchId) =>
      deliver(Multimodal.takedownUnified(batch.sparkSession, docs,
        batch, bandsTable, setsTable, imageTable, audioTable,
        videoTable, jaccardThreshold, maxHamming, minVotes), batchId)
    }

  /** CONTENT-ADDRESSED unified takedown served online — the intake a
    * compliance desk actually runs: tickets stream in as
    * (req_id, text, payload) rows, the quoted text plus ONE media
    * attachment whose format is whatever the requester sent. Each
    * micro-batch fans through [[Multimodal.takedownUnifiedContent]] with
    * the SAME payload frame offered to all three media serves — each
    * sketcher keeps only payloads of its own container format (a WAV
    * attachment is invalid to the image hasher and silently drops
    * there), so modality routing is format sniffing, not a caller-
    * supplied tag — and `deliver` receives the batch's full
    * (doc_id, modality, removed_copy|kept) frame, row-identical to the
    * batch operator on the same ticket content (spec-proven, the
    * [[serve]] parity pattern). The batch is checkpointed once per
    * trigger so the ticket text/bytes are evaluated once, fanned four
    * ways. All [[serve]] contracts carry over. */
  def serveUnifiedContent(requests: DataFrame, docs: DataFrame,
                          bandsTable: String, setsTable: String,
                          imageTable: String, audioTable: String,
                          videoTable: String, checkpointDir: String,
                          jaccardThreshold: Double = 0.8,
                          maxHamming: Int = 3, minVotes: Int = 2,
                          trigger: Trigger = MicroBatch.Interval)
                         (deliver: (DataFrame, Long) => Unit)
      : StreamingQuery =
    MicroBatch.start(requests, checkpointDir, trigger) { (batch, batchId) =>
      val b = batch.localCheckpoint() // tickets evaluated once, read 4x
      // A text-only ticket ships a NULL payload; the media sketchers
      // (phashOne / audioFingerprintRaw / decodeOne) dereference
      // bytes.length and would NPE — and a foreachBatch failure replays
      // the micro-batch from the checkpoint forever, so one attachment-
      // less ticket would poison-pill the whole compliance stream.
      // Filter nulls here: such tickets flow through the text leg only.
      val payload = b
        .filter(org.apache.spark.sql.functions.col("payload").isNotNull)
        .select(
          org.apache.spark.sql.functions.col("req_id").as("doc_id"),
          org.apache.spark.sql.functions.col("payload"))
      deliver(Multimodal.takedownUnifiedContent(batch.sparkSession,
        docs, b.select("req_id", "text"), payload, payload, payload,
        bandsTable, setsTable, imageTable, audioTable, videoTable,
        jaccardThreshold, maxHamming, minVotes), batchId)
    }
}
