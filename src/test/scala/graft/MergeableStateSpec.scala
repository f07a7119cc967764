package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

import graft.streaming._

/** Every online view reads its state through [[MergeableState.read]], so
  * a report before the first batch is the same finalize over an empty
  * state of the declared schema as a report after one. */
class MergeableStateSpec extends SparkTestBase {

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, "alpha beta beta", "en", "web", 15L),
      (2L, "gamma delta", "fr", "wiki", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def events: DataFrame = {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    Seq(1L -> "a", (h + 1) -> "a", 2L -> "b")
      .map { case (ms, t) => (new java.sql.Timestamp(ms), t) }
      .toDF("ts", "event_type")
  }

  private def columns(schema: StructType): Seq[(String, DataType)] =
    schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("StreamingCms.estimate before the first batch: one n_est = 0 row " +
    "per distinct probe") {
    val s = spark
    import s.implicits._
    val est = StreamingCms.estimate(spark, tmpDir("cms_empty"),
      Seq("a", "b", "a").toDF("token"))
    assert(est.collect().map(r => r.getString(0) -> r.getLong(1))
      .sorted.toSeq == Seq("a" -> 0L, "b" -> 0L))
  }

  test("report-schema parity: each of the 9 reports has the same columns " +
    "before the first batch as after one, and each declared state schema " +
    "is the one applyBatch publishes") {
    val s = spark
    import s.implicits._
    val probes = Seq("alpha", "zzz").toDF("token")
    // (report, declared state, apply batch 0 under a dir, report of a dir)
    val reports: Seq[(String, String, String => Boolean, String => DataFrame)] =
      Seq(
        ("StreamingStats.report", StreamingStats.State,
          StreamingStats.applyBatch(spark, _, docs, 0L),
          StreamingStats.report(spark, _)),
        ("StreamingCms.estimate", StreamingCms.State,
          StreamingCms.applyBatch(spark, _, docs, 0L),
          StreamingCms.estimate(spark, _, probes)),
        ("StreamingHeavy.report", StreamingHeavy.State,
          StreamingHeavy.applyBatch(spark, _, docs, 0L),
          StreamingHeavy.report(spark, _)),
        ("StreamingRate.report", StreamingRate.State,
          StreamingRate.applyBatch(spark, _, events, 0L),
          StreamingRate.report(spark, _)),
        ("StreamingRate.cusumReport", StreamingRate.State,
          StreamingRate.applyBatch(spark, _, events, 0L),
          StreamingRate.cusumReport(spark, _)),
        ("StreamingRate.seasonalReport", StreamingRate.State,
          StreamingRate.applyBatch(spark, _, events, 0L),
          StreamingRate.seasonalReport(spark, _)),
        ("StreamingSample.report", StreamingSample.State,
          StreamingSample.applyBatch(spark, _, docs, 0L),
          StreamingSample.report(spark, _)),
        ("StreamingManifest.report", StreamingManifest.State,
          StreamingManifest.applyBatch(spark, _, docs, 0L),
          StreamingManifest.report(spark, _)),
        ("StreamingBloom.report", StreamingBloom.State,
          StreamingBloom.applyBatch(spark, _, docs, 0L),
          StreamingBloom.report(spark, _)))
    val drift = reports.flatMap { case (name, state, apply, report) =>
      val dir = tmpDir("parity")
      val before = columns(report(dir).schema)
      assert(apply(dir), s"$name: batch 0 not applied")
      val after = columns(report(dir).schema)
      val published = columns(spark.read
        .parquet(MergeableState.current(spark, dir).get._2).schema)
      val declared = columns(StructType.fromDDL(state))
      Option.when(before != after)(
        s"$name report: before $before, after $after").toSeq ++
        Option.when(declared != published)(
          s"$name state: declared $declared, published $published")
    }
    assert(drift.isEmpty, drift.mkString("\n", "\n", ""))
  }
}
