package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CorpusOps

/** The per-source content manifest ([[CorpusOps.manifest]]) maintained
  * ONLINE — the [[StreamingRate]] pattern applied to provenance: every
  * counter in the manifest is additive BY CONSTRUCTION (doc count, byte
  * sum, and the order-independent checksum, which is a plain sum mod
  * 1e18 — modular addition is associative-commutative, so merging two
  * slices' manifests mod-adds their checksums), which makes the batch
  * manifest its own mergeable state: applyBatch reduces the incoming
  * micro-batch to ITS manifest and merges counter-wise into the
  * persisted state via [[MergeableState]]'s publish-once
  * commit.
  *
  * The operational point at 100 TB: the manifest a drop validation
  * compares ([[CorpusOps.manifestDiff]]) no longer needs a corpus
  * rescan at publish time — the ingest stream has been maintaining it
  * all along, sources-sized, and [[report]] is row-identical to the
  * batch operator over everything ingested (the batch-parity contract
  * every streaming twin in this package honors, spec-proven including
  * a mid-source batch split and replay). */
object StreamingManifest {

  /** The [[CorpusOps.manifest]] columns. */
  val State = "source STRING, n_docs BIGINT, n_bytes BIGINT, checksum BIGINT"

  private val Mod = 1000000000000000000L
  private val d38 = "decimal(38,0)"

  /** Apply one batch of raw documents to the persisted manifest state
    * under `stateDir`; returns false when `batchId` was already applied
    * (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String,
                 batch: DataFrame, batchId: Long): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      CorpusOps.manifest(batch),
      (cur, inc) => cur.unionByName(inc)
        .groupBy("source")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_bytes")).as("n_bytes"),
          // each side's checksum is already < 1e18; the mod-add keeps
          // the merged value identical to a single-pass fold
          pmod(sum(col("checksum").cast(d38)), lit(Mod).cast(d38))
            .cast("long").as("checksum")))

  /** The live manifest off the maintained state — the state IS the
    * report. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    MergeableState.read(spark, stateDir, State)

  /** Maintain the manifest state from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId)
    }
}
