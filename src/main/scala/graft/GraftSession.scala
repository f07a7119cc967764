package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The session policy of every graft main and of the test base: the one
  * place a `SparkSession` is built. `SparkEntry`'s results are correct only
  * under a UTC session time zone and `spark.sql.legacy.parquet.nanosAsLong`,
  * and its table catalogue reads the latter only when a table is first
  * resolved, so both are fixed here, when the session is built.
  * Callers add only what is really theirs with `.config(...)`. */
object GraftSession {

  /** `local[cores]` with `shufflePartitions` shuffle partitions, adaptive
    * query execution on, UTC session time zone, TIMESTAMP(NANOS) parquet
    * columns read as BIGINT nanos, UI off. */
  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Silence the "No Partition Defined for Window" WARNs of WindowExec,
    * keeping every other WARN. The bounded-window queries (TextAnalysis
    * histogram cumsum, RRF top-pool ranks, doc_quality_buckets) emit them
    * by design — their scaladoc proves each window input bounded — and in a
    * bench session each WARN lands on stdout next to the artifact line. */
  def quietBoundedWindowWarnings(): Unit =
    Configurator.setLevel("org.apache.spark.sql.execution.window",
      Level.ERROR)
}
