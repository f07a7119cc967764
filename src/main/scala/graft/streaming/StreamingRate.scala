package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Timeseries

/** The hourly rate monitor ([[Timeseries.rateAnomaly]]) maintained
  * ONLINE — the [[StreamingStats]] pattern applied to throughput
  * monitoring: each micro-batch of events reduces to its additive
  * (event_type, hour) counts ([[Timeseries.hourlyCounts]] — two slices of
  * a feed merge by summing per cell, so batch boundaries and late
  * arrivals within an hour are invisible to the result) and merges into
  * the persisted state via [[MergeableState]]'s publish-once
  * commit. The anomaly report is computed FROM the state on demand by
  * the IDENTICAL grid+test code the batch operator runs, so the online
  * report is row-identical to `rateAnomaly` over the full feed — the
  * batch-parity contract every streaming twin in this package honors,
  * spec-proven including a mid-feed batch split and replay.
  *
  * At 100 TB/day the state table is (types × hours) rows — bounded by
  * time, not traffic — and the report is histogram-cheap; this is the
  * live "did a feed go quiet / spike" dashboard, with every flag decided
  * by the same all-BIGINT z-test as the batch op. */
object StreamingRate {

  /** The [[Timeseries.hourlyCounts]] columns. */
  val State = "event_type STRING, hour_ms BIGINT, n BIGINT"

  private def grid(spark: SparkSession, stateDir: String): DataFrame =
    Timeseries.gapfillFromCounts(MergeableState.read(spark, stateDir, State))

  /** Apply one batch of raw events to the persisted count state under
    * `stateDir`; returns false when `batchId` was already applied
    * (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String,
                 batch: DataFrame, batchId: Long): Boolean =
    MergeableState.applyBatch(spark, stateDir, batchId,
      Timeseries.hourlyCounts(batch),
      (cur, inc) => cur.unionByName(inc)
        .groupBy("event_type", "hour_ms")
        .agg(sum(col("n")).as("n")))

  /** The live anomaly report off the maintained state — the exact
    * [[Timeseries.anomalyOnGrid]]∘[[Timeseries.gapfillFromCounts]] chain
    * the batch operator composes. */
  def report(spark: SparkSession, stateDir: String, window: Int = 24,
             z: Int = 3, minWindow: Int = 12): DataFrame =
    Timeseries.anomalyOnGrid(grid(spark, stateDir), window, z, minWindow)

  /** Page's CUSUM drift scan off the SAME maintained state —
    * [[Timeseries.cusumOnGrid]] over the identical gap-filled grid, so
    * one state table serves both the point z-test ([[report]]) and the
    * sequential drift detector, row-identical to the batch
    * [[Timeseries.cusum]] over the full feed (the batch-parity
    * contract, spec-proven alongside [[report]]'s). */
  def cusumReport(spark: SparkSession, stateDir: String,
                  slackDenom: Int = 20, threshMul: Int = 2): DataFrame =
    Timeseries.cusumOnGrid(grid(spark, stateDir), slackDenom, threshMul)

  /** The hour-of-week seasonal baseline off the SAME maintained state —
    * [[Timeseries.seasonalProfileOnGrid]] over the identical gap-filled
    * grid: one (type, hour) count table now serves the point z-test,
    * the sequential CUSUM, AND the seasonal profile, each row-identical
    * to its batch twin over the full feed. */
  def seasonalReport(spark: SparkSession, stateDir: String): DataFrame =
    Timeseries.seasonalProfileOnGrid(grid(spark, stateDir))

  /** Maintain the count state from a streaming `events` frame. */
  def maintain(events: DataFrame, stateDir: String, checkpointDir: String,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(events, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, stateDir, batch, batchId)
    }
}
