package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The table catalogue behind `SparkEntry`'s table reads: a table is
  * resolved (listed, schema inferred) once per session, reused while its
  * path is unchanged, and every read is a fresh frame. Each spec writes its
  * own tables to a temp dir, so no other suite has warmed the catalogue for
  * them. */
class CatalogueSpec extends SparkTestBase {

  /** Spark jobs started while `body` runs, counted by job group. Listener
    * events arrive asynchronously but in order, so once a marker job run
    * after `body` is seen, every job of `body` has been counted. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"catalogue-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "catalogue spec")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "catalogue spec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("q1_agg built twice in one session: the second build reuses the " +
    "resolved table, starts exactly one Spark job fewer, same rows") {
    val dir = tmpDir("catalogue-reuse")
    spark.range(300).select(
      (col("id") % 50 + 1).cast("decimal(15,2)").as("l_quantity"),
      (col("id") * 7 % 1000 + 0.5).cast("decimal(15,2)")
        .as("l_extendedprice"),
      (col("id") % 10 / 100).cast("decimal(15,2)").as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (col("id") % 3 + 1).cast("int")).as("l_returnflag"),
      when(col("id") % 2 === 0, "O").otherwise("F").as("l_linestatus"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    def run(): (Seq[String], Int) = {
      val (df, jobs) = jobsDuring {
        val df = SparkEntry.queries("q1_agg")(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      (sortedRows(df), jobs)
    }
    val (cold, coldJobs) = run()
    val (warm, warmJobs) = run()
    assert(warmJobs == coldJobs - 1,
      s"cold build+write ran $coldJobs jobs, warm $warmJobs")
    assert(warm == cold)
    assert(cold.size == 6)
  }

  test("a table overwritten in place is resolved again: the next read " +
    "returns the new rows") {
    val path = s"${tmpDir("catalogue-stale")}/t.parquet"
    spark.range(1).toDF("v").write.parquet(path)
    assert(sortedRows(SparkEntry.read(spark, path)) == Seq("[0]"))
    spark.range(5, 8).toDF("v").write.mode("overwrite").parquet(path)
    assert(sortedRows(SparkEntry.read(spark, path)) ==
      Seq("[5]", "[6]", "[7]"))
  }

  test("enrich_s62 after events.parquet is overwritten in place returns " +
    "the new events' rows, not the memoized synthetic lines of the old") {
    val events = spark.range(1, 601).select(col("id").as("event_id"),
      (col("id") % 97).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 37).as("ts"))
    val evenEvents = events.filter(col("event_id") % 2 === 0)
    // one dimension row per (LAC, CI) key the synthetic lines can carry
    val nation = spark.range(150).select((col("id") / 5).cast("long")
      .as("n_nationkey"), (col("id") % 5).as("n_regionkey"),
      concat(lit("area"), col("id").cast("string")).as("n_name"))
    val (stale, fresh) = (tmpDir("speclines-stale"), tmpDir("speclines-fresh"))
    for ((dir, ev) <- Seq(stale -> events, fresh -> evenEvents)) {
      ev.write.parquet(s"$dir/events.parquet")
      nation.write.parquet(s"$dir/nation.parquet")
    }
    def enrich(dir: String): Seq[String] =
      sortedRows(SparkEntry.queries("enrich_s62")(spark, dir))
    val before = enrich(stale)
    evenEvents.write.mode("overwrite").parquet(s"$stale/events.parquet")
    val after = enrich(stale)
    assert(after.nonEmpty && after.size < before.size)
    assert(after == enrich(fresh))
  }

  test("two catalogue reads of one table join through Dataset column " +
    "refs exactly as two plain reads do") {
    val path = s"${tmpDir("catalogue-identity")}/orders.parquet"
    spark.range(1, 301).select(col("id").as("o_orderkey"),
      (col("id") % 40).as("o_custkey"))
      .coalesce(1).write.parquet(path)
    def joined(a: DataFrame, b: DataFrame): Long =
      a.filter(a("o_orderkey") % 2 === 0)
        .join(b, a("o_custkey") === b("o_custkey") &&
          a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey")).count()
    val plain = joined(spark.read.parquet(path), spark.read.parquet(path))
    assert(plain > 0)
    assert(joined(SparkEntry.read(spark, path),
      SparkEntry.read(spark, path)) == plain)
  }
}
