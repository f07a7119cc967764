package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sinks.BatchCommit

/** The persisted-mergeable-state commit protocol shared by every online
  * materialized-view maintainer ([[StreamingStats]], [[StreamingCms]], …):
  * the current state is the newest `state-<batch id>` parquet table. Apply
  * = merge the batch's additive increment into it and publish the result
  * as `state-<batch id>` with one [[BatchCommit]] rename — never a
  * half-written or a missing current state. A `foreachBatch` REPLAY finds
  * a version `>= batchId` and no-ops: the at-least-once callback is
  * exactly-once in effect. A state directory belongs to one checkpoint.
  *
  * The state semantics (what an increment is, how two states merge) stay
  * with the caller as functions — this object owns the idempotence and
  * atomicity of the apply, and how the state is read: [[read]] returns
  * the current state, or, before the first batch, an empty frame of the
  * caller's declared state schema. A report is its finalize over
  * [[read]] in both cases, so an empty report has the columns and types
  * of a full one.
  */
object MergeableState {

  private val Version = """state-(\d+)""".r

  /** Merge `increment` (the batch already reduced to its additive state
    * form) into the state under `stateDir` with `merge`; returns false
    * when `batchId` was already applied (replay no-op). */
  def applyBatch(spark: SparkSession, stateDir: String, batchId: Long,
                 increment: => DataFrame,
                 merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = versions(fs, root).lastOption
    if (cur.exists(_._1 >= batchId)) return false // replayed batch
    val inc = increment
    val merged = cur match {
      case Some((_, dir)) => merge(spark.read.parquet(dir.toString), inc)
      case None => inc
    }
    val next = new Path(root, s"state-$batchId")
    BatchCommit(fs, root, batchId) { staging =>
      val dir = new Path(staging, next.getName)
      merged.coalesce(1).write.parquet(dir.toString)
      Seq(dir -> next)
    }
    // Retain exactly ONE superseded version: a reader that resolved
    // `current()` just before this commit may still be mid-read on the
    // previous state parquet — deleting it here would yank the files out
    // from under that read. Keep {new, just-superseded}, delete anything
    // older; the dir never holds more than two versions.
    val keep = cur.map(_._1).toSet + batchId
    versions(fs, root).filterNot(v => keep(v._1))
      .foreach(v => fs.delete(v._2, true))
    true
  }

  /** (applied batch id, state parquet path) of the current state, if any. */
  def current(spark: SparkSession,
              stateDir: String): Option[(Long, String)] = {
    val root = new Path(stateDir)
    versions(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root).lastOption.map { case (id, dir) => (id, dir.toString) }
  }

  /** The current state under `stateDir`; an empty frame of `schema` (a
    * DDL string) when no batch has been applied yet. */
  def read(spark: SparkSession, stateDir: String,
           schema: String): DataFrame =
    current(spark, stateDir).fold(spark.createDataFrame(
      java.util.List.of[Row](), StructType.fromDDL(schema))) {
      case (_, dir) => spark.read.parquet(dir)
    }

  /** The published versions under `root`, oldest first. */
  private def versions(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case Version(id) => Some((id.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
}
