package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Monitoring parity with the reference's hand-rolled instrumentation:
  *
  *  - per-batch record counts logged via an extra `rdd.count()` job
  *    (reference F11, src/StreamingSocketProcess.scala:126-132) → `observe`
  *    metrics, collected for free on the rows the query already processes
  *    (no second job over the data);
  *  - per-sink wall-clock timing (`competeTime`, reference F10,
  *    src/StreamingSocketProcess.scala:27-31) → Structured Streaming's
  *    progress events (`batchDuration`, per-source `numInputRows`) surfaced
  *    through a listener.
  */
object Monitoring {

  val MetricsName = "graft_metrics"

  /** Attach observed metrics (row count, null-free count of a key column if
    * given) to any batch or streaming DataFrame. */
  def observed(df: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val metrics = count(lit(1)).as("n_records") +:
      keyCol.map(c => count(col(c)).as("n_keyed")).toSeq
    df.observe(MetricsName, metrics.head, metrics.tail: _*)
  }

  /** Streaming listener capturing the last progress per query: batch
    * duration ms (F10), input rows (F11), any observed metrics, and the
    * batch's per-phase durations as Spark reports them (`phaseMs`:
    * `triggerExecution`, `addBatch`, `walCommit`, `commitOffsets`,
    * `queryPlanning`, `latestOffset`, … in ms) — the sink-vs-WAL split of
    * a deployed pipeline without a tracer. */
  final class ProgressCapture extends StreamingQueryListener {
    case class Snapshot(batchId: Long, durationMs: Long, numInputRows: Long,
                        observed: Map[String, Any],
                        phaseMs: Map[String, Long])
    private val last = new ConcurrentHashMap[String, Snapshot]()

    def snapshot(queryName: String): Option[Snapshot] =
      Option(last.get(queryName))

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val obs = Option(p.observedMetrics.get(MetricsName)) match {
        case Some(row) => row.schema.fieldNames.zipWithIndex
          .map { case (f, i) => f -> row.get(i) }.toMap
        case None => Map.empty[String, Any]
      }
      val name = Option(p.name).getOrElse(p.id.toString)
      val phases = p.durationMs.asScala.view.mapValues(_.longValue).toMap
      last.put(name, Snapshot(p.batchId, p.batchDuration, p.numInputRows,
        obs, phases))
    }
  }
}
