package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The batch workload `batch_catalog`: a frozen list of `SparkEntry`
  * queries, each run as a `noop` write as `graft.Bench` does, over the
  * seed-42 testdata copy kept with the benchmark (sf0.001).
  *
  * A run is one cold pass in the fresh session, then warm passes until the
  * run's seconds are used (at least `MinWarmPasses`), then one untimed pass
  * that checks each query's order-independent result hash against
  * `expected_hashes.tsv`.
  */
object Batch {
  val MinWarmPasses = 3

  /** Three families. `rel` and `cdr`: short queries where job and stage
    * floors plus planning dominate (`enrich_s62` also materialises its
    * memoised input). `corpus`: multi-stage plans where the text-analysis
    * operators and their shuffles do the work. The streaming layers stay
    * idle. */
  val Catalog: Seq[(String, String)] = Seq(
    "q1_agg" -> "rel", "q5_window" -> "rel",
    "cdr_mask" -> "cdr", "enrich_s62" -> "cdr",
    "doc_tfidf_topk" -> "corpus", "doc_rolling_fp" -> "corpus")
  val Queries: Seq[String] = Catalog.map(_._1)

  /** Build the query through `SparkEntry` and force every output column
    * with a `noop` write. Returns (build seconds, total seconds). */
  def runOnce(spark: SparkSession, dir: String, q: String,
              parent: String): (Double, Double) = {
    spark.sparkContext.setLocalProperty("perfbench.parent", parent)
    val t0 = Trace.nowMs
    val (df, buildS) = Trace.timed("entry", q, parent) {
      SparkEntry.queries(q)(spark, dir)
    }
    df.write.format("noop").mode("overwrite").save()
    val t1 = Trace.nowMs
    Trace.record("", "query", q, t0, t1)
    spark.sparkContext.setLocalProperty("perfbench.parent", null)
    (buildS, (t1 - t0) / 1000.0)
  }

  /** Order-independent hash of a result: each row rendered as JSON with its
    * columns in name order, hashed, and summed into a multiset hash. */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.toSeq
    val renamed = df.toDF(cols.indices.map(i => s"c$i"): _*)
    val ordered = cols.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => col(s"c$i").as(n) }
    val h = new Stats.MultisetHash
    renamed.select(to_json(struct(ordered: _*)).as("j")).collect()
      .foreach(r => h.addLine(r.getString(0)))
    h.value
  }

  def readExpected(path: Path): Map[String, String] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap

  final case class Result(coldCpuS: Double,
                          warm: Map[String, Seq[Double]],
                          buildColdS: Double,
                          failures: Map[String, String],
                          attempted: Int)

  def run(spark: SparkSession, dir: String, queries: Seq[String],
          seconds: Double, expected: Map[String, String]): Result = {
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    def attempt(q: String, parent: String): Option[(Double, Double)] = {
      attempted += 1
      try Some(runOnce(spark, dir, q, parent))
      catch { case e: Exception =>
        failures.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }
    val cpu0 = Stats.processCpuS
    val cold = queries.flatMap(q => attempt(q, "cold").map(q -> _))
    val coldCpuS = Stats.processCpuS - cpu0
    val warm = queries.map(_ -> Seq.newBuilder[Double]).toMap
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinWarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += 1
      queries.foreach(q => attempt(q, s"warm$passes").foreach(r => warm(q) += r._2))
    }
    queries.foreach { q =>
      attempted += 1
      val got = try resultHash(SparkEntry.queries(q)(spark, dir))
        catch { case e: Exception => s"error ${e.getClass.getSimpleName}" }
      if (!expected.get(q).contains(got))
        failures(q + ":hash") = s"result hash $got, expected ${expected.getOrElse(q, "none")}"
    }
    Result(coldCpuS,
      warm.map { case (q, b) => q -> b.result() },
      cold.map(_._2._1).sum, failures.toMap, attempted)
  }
}
