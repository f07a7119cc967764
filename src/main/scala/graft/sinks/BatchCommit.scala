package graft.sinks

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The publish-once commit of every `foreachBatch` writer: the only code
  * that makes a batch's output visible. The output is a set of live paths
  * under the writer's root, each written in full under
  * `<root>/_staging/batch=<id>/` and published with ONE rename. A live
  * path that exists is published: a replay leaves it alone and publishes
  * only what is missing (first delivery wins, as in Spark's
  * `FileStreamSink`). A rename that fails with its target still absent
  * throws, so the batch is replayed. Staging of older ids is swept by the
  * next delivery; this batch's is deleted however its commit ends. A root
  * belongs to one checkpoint, as with Spark's file sink. */
object BatchCommit {

  type Rename = (FileSystem, Path, Path) => Boolean

  /** The FileSystem rename; serializable (captures nothing), so it is
    * also [[FtpLikeSink]]'s executor-side per-file rename. */
  val rename: Rename = (fs: FileSystem, from: Path, to: Path) =>
    fs.rename(from, to)

  private val StagedBatch = """batch=(\d+)""".r

  /** Commit batch `batchId` of the writer rooted at `root`. `stage` gets
    * the batch's (empty) staging directory, writes the output beneath it
    * and returns (staged, live) pairs; each pair whose live path is absent
    * is published with `publishRename`. Returns the paths published. */
  def apply(fs: FileSystem, root: Path, batchId: Long,
            publishRename: Rename = rename)(
      stage: Path => Seq[(Path, Path)]): Seq[Path] = {
    val staging = new Path(root, s"_staging/batch=$batchId")
    sweep(fs, staging.getParent, batchId)
    fs.delete(staging, true) // left by a crashed delivery of this id
    try {
      stage(staging).filterNot(p => fs.exists(p._2)).map {
        case (staged, live) =>
          fs.mkdirs(live.getParent)
          if (!publishRename(fs, staged, live) && !fs.exists(live))
            throw new IOException(s"BatchCommit: failed to publish $live " +
              s"for batch $batchId (target absent; the batch is replayed)")
          live
      }
    } finally fs.delete(staging, true)
  }

  /** Drop the staging dirs of batch ids older than `batchId`. */
  private def sweep(fs: FileSystem, dir: Path, batchId: Long): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case StagedBatch(id) if id.toLong < batchId =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
}
