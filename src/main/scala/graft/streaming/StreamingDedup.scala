package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.BatchCommit

/** Incremental deduplication for a DOCUMENT STREAM — the streaming twin of
  * `operators.Dedup.exact`: a training-data pipeline doesn't re-scan its
  * 100 TB corpus when new crawl batches arrive; it streams the new docs,
  * drops what the corpus already contains, and drops within-stream repeats
  * across micro-batches. No reference counterpart (SURVEY §2.8 north-star).
  */
object StreamingDedup {

  /** New-docs stream → md5 fingerprint → anti-join the static known-corpus
    * fingerprints (stream-static anti join: the static side is re-broadcast
    * per micro-batch, the stream is never shuffled against the corpus) →
    * `dropDuplicates(fp)` for exactly-once emission of each novel
    * fingerprint ACROSS batches (state-store backed, so a crash/restart
    * from the checkpoint keeps the guarantee).
    *
    * State note: dropDuplicates keys state by fp with NO eviction — right
    * for a bounded backfill, wrong for an unbounded stream. For unbounded
    * use, [[incrementalDedupWatermarked]] bounds state by event-time
    * watermark (a repeat arriving later than the watermark delay is then
    * emitted again — dedup across an unbounded window needs an external
    * fingerprint store, e.g. periodically folding emitted fps back into the
    * static side). */
  def incrementalDedup(newDocs: DataFrame, knownFps: DataFrame): DataFrame =
    newDocs
      .withColumn("fp", md5(col("text")))
      .join(knownFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .dropDuplicates("fp")

  /** [[incrementalDedup]] with state BOUNDED by an event-time watermark on
    * `tsCol`: duplicate fingerprints arriving within `delay` of the stream's
    * max event time are dropped; state for older fingerprints is evicted.
    * The production configuration for an unbounded crawl stream. */
  def incrementalDedupWatermarked(newDocs: DataFrame, knownFps: DataFrame,
                                  tsCol: String, delay: String): DataFrame =
    newDocs
      .withColumn("fp", md5(col("text")))
      .withWatermark(tsCol, delay)
      .join(knownFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .dropDuplicatesWithinWatermark("fp")

  /** Per-micro-batch NEAR-dedup of a document stream against a static
    * corpus — the streaming face of
    * [[graft.operators.Dedup.incrementalNearDedup]]. Runs inside
    * `foreachBatch` because the LSH chain aggregates (minhash, banding),
    * which is natural over a completed micro-batch and unsupported
    * mid-stream in append mode; each batch's survivors go to `deliver`
    * (idempotent delivery expected, standard foreachBatch contract). At
    * scale the corpus side reads a PERSISTED (band, bucket)-bucketed
    * [[graft.operators.Dedup.bandTable]] rather than re-signing the corpus
    * per batch — same production note as the batch operator. */
  def incrementalNearDedupBatched(newDocs: DataFrame, knownDocs: DataFrame,
      checkpointDir: String, jaccardThreshold: Double = 0.8,
      trigger: Trigger = MicroBatch.Interval)(
      deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(newDocs, checkpointDir, trigger) { (batch, batchId) =>
      deliver(graft.operators.Dedup.incrementalNearDedup(
        batch, knownDocs, jaccardThreshold), batchId)
    }

  /** Per-micro-batch SPAN SCRUB of a document stream against a static
    * corpus — the streaming face of [[graft.operators.Dedup.spanScrub]]:
    * each arriving batch is REWRITTEN, not filtered — its docs lose every
    * span the corpus already contains and keep their novel prose. Runs in
    * `foreachBatch` (the scrub aggregates: window census, coverage pass,
    * reassembly). At scale the corpus side is the DISTINCT window-fp set,
    * which the operator recomputes from `knownDocs` per batch here —
    * production persists that fp table once per corpus version and passes
    * a read of it, the same note as the near-dedup band index. Delivery
    * contract is the standard foreachBatch at-least-once: deliver
    * idempotently. */
  def spanScrubBatched(newDocs: DataFrame, knownDocs: DataFrame,
      checkpointDir: String, spanTokens: Int = 8,
      trigger: Trigger = MicroBatch.Interval)(
      deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(newDocs, checkpointDir, trigger) { (batch, batchId) =>
      deliver(graft.operators.Dedup.spanScrub(batch, knownDocs, spanTokens),
        batchId)
    }

  /** The unbounded-stream answer the watermarked variant's scaladoc names:
    * watermark-bounded state catches SHORT-window repeats cheaply, and a
    * per-batch fp-store COMPACTION catches the long tail — every delivered
    * batch's fingerprints are published to the store at `fpStorePath`, and
    * each batch anti-joins the store read FRESH (so a duplicate arriving
    * AFTER the watermark delay, when its dropDuplicates state is long
    * evicted, is still dropped by the store probe). State is bounded by the
    * watermark; the store is bounded by the number of DISTINCT documents
    * ever seen — the right asymptote for an unbounded crawl stream.
    *
    * Delivery is `deliver(novelDocs, batchId)` BEFORE the store commit:
    * a crash between the two replays the batch and delivers again
    * (at-least-once, the standard foreachBatch contract — deliver
    * idempotently, e.g. [[graft.sinks.FtpLikeSink]]); the reverse order
    * would LOSE the batch on replay. Each batch's fps are published once
    * ([[graft.sinks.BatchCommit]]) as `batch-<id>.parquet` at the store
    * root — still a flat parquet dir, read together with a seeded corpus —
    * so a replay adds no fp rows and re-delivers exactly the docs its
    * published fps name instead of anti-joining them away.
    *
    * Scale shape per batch: one fresh store scan, prefiltered by a bloom
    * over the BATCH's fingerprints ([[graft.operators.Dedup.bloomAntiJoinFp]]
    * — the store scan is a map-only codegen'd `might_contain` probe that
    * emits only fps colliding with the batch, so the store is never
    * shuffled and never broadcast whole; the exact anti-join against the
    * ≤|batch|+FP survivors settles it), one batch-local dedup, one file of
    * ≤|batch| fp rows. The stream is never shuffled against the corpus
    * text — only 32-char fingerprints ever cross stages. */
  def incrementalDedupCompacted(newDocs: DataFrame, fpStorePath: String,
      tsCol: String, delay: String, checkpointDir: String,
      trigger: Trigger = MicroBatch.Interval)(
      deliver: (DataFrame, Long) => Unit): StreamingQuery = {
    val deduped = newDocs
      .withColumn("fp", md5(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")
    MicroBatch.start(deduped, checkpointDir, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      val store = new Path(fpStorePath)
      val fs = store.getFileSystem(s.sparkContext.hadoopConfiguration)
      val committed = new Path(store, s"batch-$batchId.parquet")
      val replayed = fs.exists(committed)
      val novel = (
        if (replayed) batch.dropDuplicates("fp").join(
          s.read.parquet(committed.toString), Seq("fp"), "left_semi")
        else {
          fs.mkdirs(store)
          graft.operators.Dedup.bloomAntiJoinFp(batch.dropDuplicates("fp"),
            s.read.schema("fp STRING").parquet(fpStorePath).distinct())
        }).persist()
      try {
        deliver(novel, batchId)
        // a replay writes nothing, but Spark requires the stateful dedup
        // to run over every partition of the batch all the same
        if (replayed) novel.count()
        else BatchCommit(fs, store, batchId) { staging =>
          novel.select(col("fp")).coalesce(1).write.parquet(staging.toString)
          fs.listStatus(staging).toSeq.map(_.getPath)
            .filter(_.getName.startsWith("part-")).map(_ -> committed)
        }
      } finally novel.unpersist()
    }
  }
}
