package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TextAnalysis
import graft.sinks.BatchCommit

/** The inverted index maintained ONLINE — the LSM shape: a bucketed BASE
  * table (built by [[TextAnalysis.searchWriteIndex]], the batch compaction
  * job) plus a DELTA directory of per-batch postings, each published once
  * by [[graft.sinks.BatchCommit]] keyed on batchId — a replayed batch
  * finds its directory already present and no-ops, so restarts never
  * double-index.
  *
  * The probe serves base ∪ delta through the IDENTICAL scoring core as the
  * batch op, with the delta's corpus stats derived from its own postings —
  * so a query sees every indexed document the moment its batch commits,
  * and the result is row-identical to an inline scan of the full corpus
  * (spec-proven, including a replay and a mid-batch split).
  *
  * The trade, stated: delta directories are NOT bucketed (catalog
  * bucketing can't atomically rename), so the delta side of a probe pays
  * a shuffle the base side doesn't. That is the standard LSM bargain —
  * cheap atomic appends, periodic compaction (re-run `searchWriteIndex`
  * over the full corpus) to fold the delta back into the pruned, bucketed
  * base. At 100 TB the delta holds hours of data, the base holds the
  * corpus. */
object StreamingSearch {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit one batch's postings into the delta as `batch-<id>` through
    * [[BatchCommit]]: returns false (no-op, no job) on a replayed batchId.
    * A kill before the publish rename leaves only staging, which the next
    * attempt clears; a rename that fails while the target is still absent
    * throws, so the stream replays the batch instead of advancing its
    * checkpoint past an unindexed batch. */
  def applyBatch(spark: SparkSession, deltaDir: String, batch: DataFrame,
                 batchId: Long): Boolean = {
    val root = new Path(deltaDir)
    val f = fs(spark, deltaDir)
    val target = new Path(root, s"batch-$batchId")
    !f.exists(target) && BatchCommit(f, root, batchId) { staging =>
      val dir = new Path(staging, target.getName)
      TextAnalysis.searchPostings(batch).write.parquet(dir.toString)
      Seq(dir -> target)
    }.nonEmpty
  }

  /** Serve BM25 over base ∪ delta. Delta stats are derived from the delta
    * postings' distinct (doc_id, dl) pairs — additive with the base's
    * one-row stats, so no separate stats bookkeeping rides the streaming
    * path (fewer moving parts under crash/replay). Empty delta = pure
    * base probe. One stated divergence: a ZERO-TOKEN document in the
    * delta has no postings and therefore doesn't enter n_docs/avgdl until
    * compaction (the batch stats count it); it can never score either
    * way, and indexing empty documents is a bug upstream of here. */
  def probe(spark: SparkSession, postingsTable: String, statsTable: String,
            deltaDir: String, terms: Seq[String], k: Int = 10): DataFrame = {
    val base = spark.table(postingsTable)
    val baseStats = spark.table(statsTable)
    val f = fs(spark, deltaDir)
    val batchDirs =
      if (!f.exists(new Path(deltaDir))) Seq.empty
      else f.listStatus(new Path(deltaDir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
        .map(_.getPath.toString)
    if (batchDirs.isEmpty)
      TextAnalysis.bm25OnPostings(base, baseStats, terms, k)
    else {
      val delta = spark.read.parquet(batchDirs: _*)
      val deltaStats = delta.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val stats = baseStats.unionByName(deltaStats)
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      TextAnalysis.bm25OnPostings(base.unionByName(delta), stats, terms, k)
    }
  }

  /** Maintain the delta from a streaming `documents` frame. */
  def maintain(docs: DataFrame, deltaDir: String, checkpointDir: String,
               trigger: Trigger = MicroBatch.Interval): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      applyBatch(batch.sparkSession, deltaDir, batch, batchId)
    }
}
