package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Streaming ANN SERVE path over the persisted cell-bucketed IVF index —
  * the half of the index lifecycle the batch work
  * (build → append → drift → refit) left open: queries arrive as a stream,
  * results leave per micro-batch.
  *
  * Each batch of query vectors runs the SAME probe kernel as the
  * registered batch queries ([[Similarity.knnIvfProbe]] /
  * [[Similarity.knnIvfPqProbe]] — same nprobe cell selection, same
  * exact-or-ADC rescore, same co-located scan of the bucketed index
  * table), so streamed results are row-identical to what a batch probe of
  * the same vectors returns (spec-proven in StreamingSpec, the
  * StreamingDedup parity pattern).
  *
  * `foreachBatch` rather than a continuous join: the probe is a join
  * against a CATALOG table plus a per-query top-k window — shapes the
  * streaming planner can't run incrementally — and the delivery target
  * (upsert store, alert topic, partner sink) is caller-supplied. Source
  * offsets commit through `checkpointLocation`, so each query batch is
  * served exactly once per the usual foreachBatch contract.
  *
  * Scale posture: per batch the index side stays a bucket-co-located scan
  * of the probed cells' files, the probe frame is |batch|-bounded and
  * broadcast — the corpus never shuffles per request batch, which is what
  * makes this a serve path and not a per-query index rebuild. Index
  * APPENDS land transparently: the next batch's `spark.table` resolves
  * the grown index ([[Similarity.ivfIndexAppend]]). */
object StreamingKnn {

  /** Serve a stream of query vectors (`vec_id`, `embedding`) against
    * `indexTable`. `pq = Some((m, ksub, codebook))` switches the rescore
    * from exact cosine to ADC over PQ-decoded codes; `deliver` receives
    * each batch's (q_id, c_id, score) top-k frame and the batch id. */
  def serve(queries: DataFrame, indexTable: String, centroids: DataFrame,
            checkpointDir: String, k: Int = 3, nprobe: Int = 4,
            pq: Option[(Int, Int, Option[DataFrame])] = None,
            trigger: Trigger = MicroBatch.Interval)
           (deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(queries, checkpointDir, trigger) { (batch, batchId) =>
      val res = pq match {
        case Some((m, ksub, cb)) =>
          Similarity.knnIvfPqProbe(batch.sparkSession, indexTable,
            centroids, batch, k, nprobe, m, ksub, cb)
        case None =>
          Similarity.knnIvfProbe(batch.sparkSession, indexTable,
            centroids, batch, k, nprobe)
      }
      deliver(res, batchId)
    }
}
