package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TextAnalysis

/** The count-min sketch ([[TextAnalysis.cmsState]]) maintained ONLINE —
  * the token-frequency monitor a 100 TB ingest keeps while the crawl is
  * still arriving: each micro-batch of documents reduces to its own
  * depth×width counter table and merges into the persisted sketch by
  * COUNTER ADDITION, so point-frequency estimates
  * ([[TextAnalysis.cmsEstimate]] over the state) are always current
  * without any rescan of prior batches and without ever materializing a
  * vocabulary table. Because CMS counters are plain sums,
  * merge(sketch(A), sketch(Δ)) ≡ sketch(A ∪ Δ) exactly — the maintained
  * state is bit-identical to a batch-built sketch over everything seen
  * (spec-proven), so the stream pays no accuracy cost beyond the
  * sketch's own ε·N overestimate.
  *
  * Exactly-once via [[MergeableState]]'s idempotent-apply protocol: a
  * `foreachBatch` replay of an applied batch no-ops instead of
  * double-counting — double-counting is the CMS failure mode (counters
  * only add, so a replayed batch would silently inflate every estimate
  * it touched).
  */
object StreamingCms {

  /** The [[TextAnalysis.cmsState]] columns. */
  val State = "d INT, bucket BIGINT, bsum BIGINT"

  /** Apply one batch's sketch to the persisted state under `stateDir`;
    * false = `batchId` already applied (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                 batchId: Long, depth: Int = 4, width: Int = 128): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      TextAnalysis.cmsState(batch, depth, width),
      (cur, inc) => TextAnalysis.cmsMerge(Seq(cur, inc)))

  /** Live point-frequency estimates for `probes` (a `token` column) from
    * the maintained sketch; all-zero estimates when nothing has arrived. */
  def estimate(spark: SparkSession, stateDir: String, probes: DataFrame,
               depth: Int = 4, width: Int = 128): DataFrame =
    TextAnalysis.cmsEstimate(MergeableState.read(spark, stateDir, State),
      probes, depth, width)

  /** Maintain the sketch from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               depth: Int = 4, width: Int = 128,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId, depth, width)
    }
}
