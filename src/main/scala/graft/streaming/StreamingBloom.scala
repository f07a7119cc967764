package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.MetadataBuilder

import graft.operators.Dedup

/** The portable bloom export ([[Dedup.bloomExport]]) maintained ONLINE —
  * the missing half of the serving-layer story: the exported filter is
  * only useful at the ingest door if it stays CURRENT as the corpus
  * grows, and a bloom filter is the textbook mergeable state (set bits
  * only ever turn on; per-word OR is associative, commutative,
  * idempotent). Each micro-batch of documents reduces to ITS word table
  * and ORs into the persisted state via [[MergeableState]]'s publish-once
  * commit; [[report]] is bit-for-bit the batch export over
  * everything ingested (spec-proven, including a duplicate fp appearing
  * in two different batches — idempotent OR makes re-insertion
  * invisible).
  *
  * At 100 TB the state is mBits/64 rows forever — corpus-size-
  * independent — and shipping the current filter to the admission proxy
  * is a full-table read of ≤ mBits/8 bytes, any time, no corpus scan. */
object StreamingBloom {

  /** The [[Dedup.bloomExport]] word table. */
  val State = "word_idx BIGINT, bits BIGINT"

  /** Apply one batch of raw documents to the persisted word-table state
    * under `stateDir`; returns false when `batchId` was already applied
    * (replay no-op).
    *
    * The filter geometry (mBits, k) travels inside the state it describes
    * — as metadata of its `bits` column, published by the same rename —
    * and is ENFORCED on every apply: two filters with different geometries
    * live in different bit-position spaces, so a caller who changed either
    * dial between batches would silently OR incompatible word tables into
    * a filter with FALSE NEGATIVES — the one failure mode a bloom filter
    * must never have. */
  def applyBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
                 batchId: Long, mBits: Long = 1L << 16,
                 k: Int = 4): Boolean = {
    val geom = new MetadataBuilder()
      .putLong("mBits", mBits).putLong("k", k.toLong).build()
    MergeableState.current(spark, stateDir).foreach { case (_, dir) =>
      val existing = spark.read.parquet(dir).schema("bits").metadata
      require(existing == geom,
        s"bloom geometry mismatch at $stateDir: state built with " +
          s"${existing.json}, caller passed ${geom.json} — merging " +
          "would corrupt the filter with false negatives")
    }
    def stamped(words: DataFrame) =
      words.withColumn("bits", col("bits").as("bits", geom))
    MergeableState.applyBatch(spark, stateDir, batchId,
      stamped(Dedup.bloomExport(
        batch.select(md5(col("text")).as("fp")).distinct(), mBits, k)),
      (cur, inc) => stamped(Dedup.bloomMergeWords(Seq(cur, inc))))
  }

  /** The live word table off the maintained state — the state IS the
    * export. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    MergeableState.read(spark, stateDir, State)

  /** Maintain the filter state from a streaming `documents` frame. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               mBits: Long = 1L << 16, k: Int = 4,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId, mBits, k)
    }
}
