package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CorpusOps

/** The mergeable corpus-stats state ([[CorpusOps.statsState]]) maintained
  * ONLINE — the materialized-view-maintenance pattern
  * (`corpus_stats_incremental`) served as a stream: each micro-batch of
  * documents reduces to its additive (source, lang) counters and merges
  * into a persisted state table by ADDITION, so the running corpus report
  * ([[CorpusOps.statsFinalize]] over the state) is always current without
  * any rescan of prior batches. At 100 TB the state table is
  * |sources×langs| rows regardless of corpus size — this is the report a
  * feed-health dashboard reads while the crawl is still arriving.
  *
  * Exactly-once by IDEMPOTENT APPLY, not by luck: `foreachBatch` can
  * replay a batch after a failure (offsets commit after user code), so
  * each apply writes the state with the applied batch id in the directory
  * name and a retry of batch N observes N already applied and no-ops.
  * Each version is published by one rename
  * ([[graft.sinks.BatchCommit]]) — a reader never sees a half-written
  * state.
  */
object StreamingStats {

  /** The [[CorpusOps.statsState]] columns. */
  val State = "source STRING, lang STRING, n_docs BIGINT, n_tokens BIGINT"

  /** Apply one batch to the persisted state under `stateDir`; returns
    * false when `batchId` was already applied (replay no-op). Factored
    * from the stream so the idempotence contract is directly testable;
    * the commit/idempotence protocol itself lives in [[MergeableState]]. */
  def applyBatch(spark: SparkSession, stateDir: String,
                 batch: DataFrame, batchId: Long): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      CorpusOps.statsState(batch),
      (cur, inc) => CorpusOps.statsMerge(Seq(cur, inc)))

  /** The live [[CorpusOps.corpusStats]] report from the maintained state. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    CorpusOps.statsFinalize(MergeableState.read(spark, stateDir, State))

  /** Maintain the state from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId)
    }
}
