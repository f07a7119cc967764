package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration

/** Transactional "FTP-style" file sink: publish-once delivery, bounded
  * retry, and a dead-letter fallback directory — the reference's
  * partner-delivery protocol re-expressed over a Hadoop FileSystem (local
  * `file://` in tests, `hdfs://`/object stores in prod):
  *
  *  - upload as `<name>@tmp<attempt>`, then rename to the final name
  *    (reference `FTPWrite`, src/ProcessSum1.scala:114-182 — tmp suffix at
  *    :122, rename at :152-158);
  *  - retry each file up to `maxRetries` times (reference retry loop w/
  *    reconnect, src/ProcessSums.scala:153-200);
  *  - on give-up, persist the payload to a dead-letter directory instead of
  *    dropping it (reference `FTPErrorWriteToHDFS`,
  *    src/ProcessSum1.scala:187-239);
  *  - dual-partner fan-out: one upstream write, N partner commits
  *    (reference dual-write, src/ProcessSums.scala:334-418).
  *
  * Publish-once through [[BatchCommit]]: each partner's `batch=<id>` is
  * assembled under `_staging/batch=<id>/<partner>` and published by one
  * rename. A delivery whose partners are all live runs no Spark job (so a
  * stateful caller must evaluate its batch itself, as
  * [[graft.streaming.StreamingDedup.incrementalDedupCompacted]] does); a
  * replay after a partial publish writes only the missing partners. What
  * a poller saw is never replaced or duplicated. The target root belongs
  * to one checkpoint, as with Spark's file sink. `commitOne` is idempotent
  * under task re-execution: an existing final file is success (HDFS
  * `rename` onto an existing target returns false), and tmp names carry
  * the task attempt id.
  *
  * Scale posture: the Spark job writes the batch ONCE (executors, in
  * parallel) into staging; the (partner × staged-file) copy fan-out then
  * runs as a distributed Spark job — each copy+tmp+rename executes on an
  * executor, so no batch byte ever funnels through the driver JVM (the
  * reference's `repartition(1)`-plus-driver-FTP bottleneck is the
  * anti-pattern this replaces). The driver only performs metadata
  * operations: listing the staged files and the publish renames.
  */
class FtpLikeSink(
    targetRoot: String,
    deadLetterRoot: String,
    partners: Seq[String],
    maxRetries: Int = 3,
    /** Test seam: per-file rename interceptor — returns true on success.
      * Defaults to the real FileSystem rename. Must be serializable: it is
      * shipped to executors inside the commit tasks. */
    renameOp: Option[(FileSystem, Path, Path) => Boolean] = None,
    /** Test seam: driver-side PUBLISH rename interceptor (staged partner
      * dir → live `batch=<id>`). Lets specs crash or fail a publish part
      * way through a batch's partners. */
    publishRenameOp: Option[(FileSystem, Path, Path) => Boolean] = None,
    /** Pacing between commit retry attempts: attempt n waits
      * `retryBackoffMs << (n−1)` ms (capped at 64×) before retrying — the
      * reference's sleep-between-reconnects envelope
      * (src/ProcessSums.scala:153-200) re-expressed without the live
      * socket; a flaky target gets breathing room instead of three
      * back-to-back hammer hits. 0 disables. */
    retryBackoffMs: Long = 100L,
    /** Test seam: the waiter (ms). Serializable — runs inside commit
      * tasks. Defaults to Thread.sleep. */
    sleeper: Option[Long => Unit] = None)
    extends Serializable {

  private def liveDir(partner: String, batchId: Long) =
    new Path(s"$targetRoot/$partner/batch=$batchId")

  /** `foreachBatch` handler: write `df` (single string column `value`) once,
    * copy it to every partner not yet delivered (failed files fall back to
    * the dead-letter dir) and publish each partner's batch dir. Copies are
    * a distributed `foreach` over the (partner × staged-file) work list —
    * executor-parallel, driver-free. */
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val sc = df.sparkSession.sparkContext
    // driver metadata ops, the staging write and the executor commit
    // copies all resolve `file:` to the fork-free FileSystem
    val conf = LocalFs.install(new Configuration(sc.hadoopConfiguration))
    val filesystem = new Path(targetRoot).getFileSystem(conf)
    val todo = partners.filterNot(p => filesystem.exists(liveDir(p, batchId)))
    if (todo.nonEmpty)
      BatchCommit(filesystem, new Path(targetRoot), batchId,
          publishRenameOp.getOrElse(BatchCommit.rename)) { staging =>
        val written = new Path(staging, "_written")
        df.write.mode("overwrite").format(LocalFs.TextFormat)
          .save(written.toString)
        val staged = filesystem.listStatus(written)
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(_.getPath.toString)
        todo.foreach(p => filesystem.mkdirs(new Path(staging, p)))
        // Executors: the data plane. One task per (partner, staged file).
        val work = for (p <- todo; s <- staged) yield (p, s)
        if (work.nonEmpty) {
          val serConf = new SerializableConfiguration(conf)
          val stagingDir = staging.toString
          val slices = math.min(work.length, sc.defaultParallelism).max(1)
          sc.parallelize(work, slices).foreach { case (partner, srcStr) =>
            val src = new Path(srcStr)
            commitOne(src.getFileSystem(serConf.value), src,
              new Path(stagingDir, partner), batchId)
          }
        }
        todo.map(p => new Path(staging, p) -> liveDir(p, batchId))
      }
  }

  /** Copy `src` into `dstDir` as `<name>@tmp<attempt>`, then rename to
    * `<name>`; retry up to `maxRetries`; dead-letter on give-up. Runs inside
    * an executor task (one invocation per staged file per partner) and is
    * idempotent under task re-execution: an already-present final file is
    * success, never a retry burn. */
  private def commitOne(filesystem: FileSystem, src: Path, dstDir: Path,
                        batchId: Long): Unit = {
    val fin = new Path(dstDir, src.getName)
    // Attempt-unique tmp path: a speculative/re-executed attempt must never
    // delete or rename a concurrent attempt's half-copied tmp file.
    val attemptTag =
      Option(TaskContext.get()).map(_.taskAttemptId().toString).getOrElse("0")
    val tmp = new Path(dstDir, s"${src.getName}@tmp$attemptTag")
    val rename = renameOp.getOrElse(BatchCommit.rename)
    val wait = sleeper.getOrElse((ms: Long) => Thread.sleep(ms))
    var attempt = 0
    var done = filesystem.exists(fin) // re-run of an already-committed task
    while (!done && attempt < maxRetries) {
      attempt += 1
      // backoff before every RETRY (never before the first attempt)
      if (attempt > 1 && retryBackoffMs > 0)
        wait(retryBackoffMs << math.min(attempt - 2, 6))
      try {
        if (filesystem.exists(tmp)) filesystem.delete(tmp, false)
        FileUtil.copy(filesystem, src, filesystem, tmp, false, true,
          filesystem.getConf)
        // rename onto an existing target returns false on HDFS: if the
        // final file exists, a concurrent attempt delivered it — success.
        done = rename(filesystem, tmp, fin) || filesystem.exists(fin)
      } catch { case _: Exception => done = filesystem.exists(fin) }
    }
    try { // drop our tmp if the rename lost the race but fin exists
      if (filesystem.exists(tmp)) filesystem.delete(tmp, false)
    } catch { case _: Exception => () }
    if (!done) {
      // Data preserved on the fallback path, never dropped
      // (reference logs 数据丢失…写入HDFS and writes to HDFS instead).
      val partner = dstDir.getName
      val dl = new Path(
        s"$deadLetterRoot/batch=$batchId/${partner}_${src.getName}")
      filesystem.mkdirs(dl.getParent)
      FileUtil.copy(filesystem, src, filesystem, dl, false, true,
        filesystem.getConf)
    }
  }
}
