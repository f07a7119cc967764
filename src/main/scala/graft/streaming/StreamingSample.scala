package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CorpusOps

/** The A-ES weighted reservoir ([[CorpusOps.weightedSample]]) maintained
  * ONLINE — weighted sampling without replacement over a stream, the
  * original reservoir setting of Efraimidis & Spirakis: each micro-batch
  * reduces to its own per-source top-k by the ln(u)/w key, and merging
  * that reservoir into the persisted one is just re-taking the top-k of
  * the union (topk(A ∪ B) = topk(topk(A) ∪ topk(B))), so the maintained
  * sample over everything ever seen is row-identical to a batch
  * [[CorpusOps.weightedSample]] over the concatenated stream — no
  * approximation enters anywhere (spec-proven, the StreamingStats parity
  * pattern). At 100 TB the state table is k·|sources| rows regardless of
  * how much has streamed past, and because the key is a pure function of
  * the document's own id hash, replays and reorderings of the input
  * cannot change what the sample converges to.
  *
  * Exactly-once by idempotent apply via [[MergeableState]]: replayed
  * batch ids refuse (critical here — a double-applied batch is harmless
  * to this particular merge since re-top-k of the same rows is a no-op,
  * but the refusal keeps the contract uniform with the additive states
  * where replay WOULD corrupt).
  */
object StreamingSample {

  /** The [[CorpusOps.weightedSample]] columns. */
  val State = "doc_id BIGINT, source STRING, w BIGINT, skey DOUBLE"

  /** Apply one batch of documents to the reservoir under `stateDir`;
    * returns false when `batchId` was already applied (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                 batchId: Long, kPerSource: Int = 5): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      CorpusOps.weightedSample(batch, kPerSource),
      (cur, inc) => CorpusOps.weightedSampleMerge(Seq(cur, inc),
        kPerSource))

  /** The live sample from the maintained reservoir — the state IS the
    * report. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    MergeableState.read(spark, stateDir, State)

  /** Maintain the reservoir from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               kPerSource: Int = 5,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId, kPerSource)
    }
}
