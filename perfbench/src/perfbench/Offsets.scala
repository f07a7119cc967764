package perfbench

/** From `FlumeEventSource` progress to per-file commit times.
  *
  * The source's offset is `{"n":N}`: the first N spool files in name order
  * are done. Spool files are named by drop index, so a micro-batch whose
  * offsets go from `{"n":s}` to `{"n":e}` carries files s until e-1, and
  * each of them is committed when that batch ends.
  */
object Offsets {
  private val N = "\"n\"\\s*:\\s*(\\d+)".r

  /** The N of a `{"n":N}` offset; a missing (null) start offset is 0. */
  def fileCount(json: String): Int =
    if (json == null) 0
    else N.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))

  /** One micro-batch as the progress reports it: offsets and the epoch
    * millisecond at which the batch (and with it its sink commit) ended. */
  final case class Batch(startOffset: String, endOffset: String, endMs: Long)

  /** File index → commit time (epoch ms) of the batch that carried it. A
    * file that appears in two batches keeps the earlier commit. */
  def commitTimes(batches: Seq[Batch]): Map[Int, Long] = {
    val out = scala.collection.mutable.Map.empty[Int, Long]
    batches.sortBy(_.endMs).foreach { b =>
      (fileCount(b.startOffset) until fileCount(b.endOffset)).foreach { i =>
        if (!out.contains(i)) out(i) = b.endMs
      }
    }
    out.toMap
  }

  /** Latency in seconds of each file in `due` (index → epoch ms it was due)
    * that has committed; files not yet committed are absent. */
  def latencies(due: Map[Int, Long], batches: Seq[Batch]): Map[Int, Double] = {
    val done = commitTimes(batches)
    due.collect { case (i, d) if done.contains(i) =>
      i -> (done(i) - d) / 1000.0
    }
  }
}
