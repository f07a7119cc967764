package graft.sinks

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration

/** Transactional "FTP-style" file sink: visibility-atomic commit via
  * tmp+rename, bounded retry, and a dead-letter fallback directory — the
  * reference's partner-delivery protocol re-expressed over a Hadoop
  * FileSystem (local `file://` in tests, `hdfs://`/object stores in prod):
  *
  *  - upload as `<name>@tmp<attempt>`, then rename to the final name so
  *    downstream pollers never observe partial files (reference `FTPWrite`,
  *    src/ProcessSum1.scala:114-182 — tmp suffix at :122, rename at
  *    :152-158);
  *  - retry each commit up to `maxRetries` times (reference retry loop w/
  *    reconnect, src/ProcessSums.scala:153-200);
  *  - on give-up, persist the payload to a dead-letter directory instead of
  *    dropping it (reference `FTPErrorWriteToHDFS`,
  *    src/ProcessSum1.scala:187-239);
  *  - dual-partner fan-out: one upstream write, N partner commits
  *    (reference dual-write, src/ProcessSums.scala:334-418).
  *
  * Idempotence & crash safety:
  *  - every batch lands under `batch=<id>/`, so Structured Streaming's
  *    at-least-once `foreachBatch` redelivery REPLACES rather than
  *    duplicates (SURVEY §7.4 "At-least-once → exactly-once");
  *  - each delivery commits into a fresh hidden `.batch=<id>.inprogress`
  *    dir and publishes it only AFTER the whole commit job succeeded — a
  *    crash mid-redelivery leaves the previous delivery untouched. Publish
  *    is rename-aside (live → `.batch=<id>.old`), rename-in
  *    (`.inprogress` → live), delete-old: the window where no live dir is
  *    visible is a single metadata rename (not a recursive delete), a
  *    failed rename-in restores the previous delivery from `.old`, and a
  *    crash anywhere leaves at least one complete copy on disk (healed by
  *    checkpoint-driven redelivery of the same batch id);
  *  - hidden dirs orphaned by crashed deliveries of OLDER batch ids
  *    (`.batch=<id'>.inprogress` / `.old` with id' < current id) are swept
  *    at the start of every delivery: Structured Streaming hands
  *    `foreachBatch` monotonically increasing ids, so a strictly-older
  *    hidden dir can never be redelivered and is garbage;
  *  - `commitOne` is idempotent under Spark task re-execution/speculation:
  *    an existing final file short-circuits to success (HDFS `rename` onto
  *    an existing target returns false — without the check, a re-run of an
  *    already-committed task would burn its retries and dead-letter a file
  *    that was in fact delivered), and tmp names carry the task attempt id
  *    so concurrent attempts never interleave on the same tmp path;
  *  - staging is cleaned in try/finally, so no failure mode leaks it.
  *
  * Scale posture: the Spark job writes the batch ONCE (executors, in
  * parallel) into a staging dir; the (partner × staged-file) commit fan-out
  * then runs as a distributed Spark job — each copy+tmp+rename executes on an
  * executor, so no batch byte ever funnels through the driver JVM (the
  * reference's `repartition(1)`-plus-driver-FTP bottleneck is the
  * anti-pattern this replaces). The driver only performs metadata operations:
  * listing the staged files, preparing in-progress directories, and the
  * final publish renames.
  */
class FtpLikeSink(
    targetRoot: String,
    deadLetterRoot: String,
    partners: Seq[String],
    maxRetries: Int = 3,
    /** Test seam: rename interceptor — returns true on success. Defaults to
      * the real FileSystem rename. Must be serializable: it is shipped to
      * executors inside the commit tasks. */
    renameOp: Option[(FileSystem, Path, Path) => Boolean] = None,
    /** Test seam: driver-side PUBLISH rename interceptor (rename-aside and
      * rename-in). Lets specs crash between the two publish renames to prove
      * the previous delivery survives in `.old`. Driver-only, so it need not
      * be serializable-friendly beyond the class itself. */
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

  private def fs(conf: Configuration, p: String): FileSystem =
    new Path(p).getFileSystem(conf)

  private def liveDir(partner: String, batchId: Long) =
    new Path(s"$targetRoot/$partner/batch=$batchId")

  /** Hidden (dot-prefixed: Spark/Hadoop readers skip it) per-delivery
    * commit dir; published by rename once the commit job has succeeded. */
  private def inProgressDir(partner: String, batchId: Long) =
    new Path(s"$targetRoot/$partner/.batch=$batchId.inprogress")

  /** Hidden parking spot for the previous delivery of `batchId` during
    * publish: rename-aside target, deleted once the new delivery is live. */
  private def oldDir(partner: String, batchId: Long) =
    new Path(s"$targetRoot/$partner/.batch=$batchId.old")

  private val HiddenBatchDir = """\.batch=(\d+)\.(inprogress|old)""".r

  /** Sweep hidden dirs left by crashed deliveries of STRICTLY OLDER batch
    * ids. `foreachBatch` ids are monotonic per query, so once `currentId`
    * is being delivered, no id' < currentId can ever be redelivered — its
    * `.inprogress`/`.old` leftovers are unreachable garbage (a query
    * abandoned mid-delivery would otherwise leak them forever). The current
    * id's own hidden dirs are NOT touched here: `.old` for the current id is
    * recovered (see prep below), not dropped. Driver metadata-only. */
  private def sweepOrphans(filesystem: FileSystem, currentId: Long): Unit =
    partners.foreach { partner =>
      val pd = new Path(s"$targetRoot/$partner")
      if (filesystem.exists(pd)) {
        filesystem.listStatus(pd).foreach { st =>
          st.getPath.getName match {
            case HiddenBatchDir(id, _) if id.toLong < currentId =>
              filesystem.delete(st.getPath, true)
            case _ => ()
          }
        }
      }
    }

  /** `foreachBatch` handler: write `df` (single string column `value`) once,
    * then commit to every partner with tmp+rename; failed partners fall back
    * to the dead-letter dir. Commits are a distributed `foreach` over the
    * (partner × staged-file) work list — executor-parallel, driver-free. */
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val sc = df.sparkSession.sparkContext
    // driver metadata ops, the staging write and the executor commit
    // copies all resolve `file:` to the fork-free FileSystem
    val conf = LocalFs.install(new Configuration(sc.hadoopConfiguration))
    val staging = s"$targetRoot/_staging/batch=$batchId"
    val filesystem = fs(conf, targetRoot)
    try {
      sweepOrphans(filesystem, batchId)
      df.write.mode("overwrite").format(LocalFs.TextFormat).save(staging)
      val staged = filesystem.listStatus(new Path(staging))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
      // Driver: metadata-only prep. Commits land in a FRESH in-progress dir
      // per partner — the currently-published batch dir (a previous
      // delivery of this id, if any) stays visible and intact until the
      // commit job has fully succeeded.
      partners.foreach { partner =>
        val inprog = inProgressDir(partner, batchId)
        filesystem.delete(inprog, true) // leftover from a crashed delivery
        filesystem.mkdirs(inprog)
      }
      // Executors: the data plane. One task per (partner, staged file).
      val work = for (p <- partners; s <- staged) yield (p, s)
      if (work.nonEmpty) {
        val serConf = new SerializableConfiguration(conf)
        val root = targetRoot
        val slices = math.min(work.length, sc.defaultParallelism).max(1)
        sc.parallelize(work, slices).foreach { case (partner, srcStr) =>
          val src = new Path(srcStr)
          val taskFs = src.getFileSystem(serConf.value)
          commitOne(taskFs, src,
            new Path(s"$root/$partner/.batch=$batchId.inprogress"), batchId)
        }
      }
      // Publish: only now that every commit task succeeded does the old
      // delivery get replaced. Rename-aside → rename-in → delete-old, all
      // metadata ops: the only instant with no visible live dir is between
      // the two renames (a previous delete-then-rename scheme held the gap
      // open for a whole recursive delete, and a crash inside it destroyed
      // the old delivery before the new one was visible). A failed or
      // crashed rename-in restores/retains the previous delivery via
      // `.old`; redelivery of the same batch id heals the rest. (Redelivery
      // REPLACES: part-file names carry fresh UUIDs per delivery, so an
      // append would duplicate.)
      val pubRename = publishRenameOp.getOrElse(
        (f: FileSystem, a: Path, b: Path) => f.rename(a, b))
      partners.foreach { partner =>
        val live = liveDir(partner, batchId)
        val old = oldDir(partner, batchId)
        val movedAside = filesystem.exists(live) && {
          // a parked copy from a crashed publish is superseded by `live`
          filesystem.delete(old, true)
          pubRename(filesystem, live, old)
        }
        def restore(): Unit =
          if (movedAside) { filesystem.rename(old, live); () }
        val renamedIn =
          try pubRename(filesystem, inProgressDir(partner, batchId), live)
          catch { case e: Exception => restore(); throw e }
        if (!renamedIn) {
          restore()
          throw new IOException(
            s"FtpLikeSink: failed to publish $live for batch $batchId")
        }
        filesystem.delete(old, true)
      }
    } finally {
      // No failure mode leaks staged bytes; hidden in-progress/.old dirs
      // are cleared by a redelivery of the same id or by the next
      // delivery's orphan sweep (they are invisible to readers meanwhile).
      filesystem.delete(new Path(staging), true)
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
    val rename = renameOp.getOrElse(
      (f: FileSystem, a: Path, b: Path) => f.rename(a, b))
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
      val partner = dstDir.getParent.getName
      val dl = new Path(
        s"$deadLetterRoot/batch=$batchId/${partner}_${src.getName}")
      filesystem.mkdirs(dl.getParent)
      FileUtil.copy(filesystem, src, filesystem, dl, false, true,
        filesystem.getConf)
    }
  }
}
