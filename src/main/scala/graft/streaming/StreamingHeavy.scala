package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TextAnalysis

/** Misra–Gries heavy hitters maintained ONLINE — the sketch was chosen
  * for exactly this: [[TextAnalysis.mgCombine]] is a true mergeable-
  * summary merge (Agarwal et al., PODS 2012 — the bound composes over
  * ANY merge tree), so per-micro-batch partial summaries fold into a
  * persisted ≤(k+1)-row state via [[MergeableState]]'s publish-once
  * commit, and the running summary ALWAYS satisfies the MG
  * contract over everything ingested so far: every token with true
  * frequency > N/(k+1) is present, every estimate sits in
  * [true − N/(k+1), true]. The state never grows with the stream — k
  * counter rows plus one marker row carrying N, whatever the traffic.
  *
  * Unlike the count/manifest/bloom twins in this package the online
  * summary is NOT row-identical to the batch op (merge order moves
  * which BORDERLINE tokens survive — the same reason the batch op is
  * rows-only), so the spec pins the GUARANTEE against exact counts over
  * the full ingested feed, not row equality. */
object StreamingHeavy {

  /** The [[TextAnalysis.mgCombine]] columns: counters plus the N marker. */
  val State = "token STRING, cnt BIGINT"

  /** Apply one batch of raw documents to the persisted MG state under
    * `stateDir`; returns false when `batchId` was already applied
    * (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                 batchId: Long, k: Int = 16): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      TextAnalysis.mgCombine(TextAnalysis.mgPartials(batch, k), k),
      (cur, inc) => TextAnalysis.mgCombine(cur.unionByName(inc), k))

  /** The live summary off the maintained state — [[TextAnalysis
    * .mgFinalize]] over the stored counters. */
  def report(spark: SparkSession, stateDir: String,
             k: Int = 16): DataFrame =
    TextAnalysis.mgFinalize(MergeableState.read(spark, stateDir, State), k)

  /** Maintain the MG state from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               k: Int = 16,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId, k)
    }
}
