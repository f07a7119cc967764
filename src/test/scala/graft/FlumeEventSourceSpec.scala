package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{FlumeEventSource, FlumeLikeSource}

/** The DataSource V2 MicroBatchStream (SURVEY §4 custom-work item 1):
  * event shape, admission control, and checkpoint restart recovery. */
class FlumeEventSourceSpec extends SparkTestBase {

  private def drop(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  test("V2 source: lines become (body, headers[flieName]) events; " +
    "hidden/temp files are invisible") {
    val dir = tmpDir("v2spool")
    drop(dir, "a-001.log", Seq("r1", "r2"))
    drop(dir, "b-002.log", Seq("r3"))
    drop(dir, ".inflight", Seq("nope"))
    drop(dir, "_tmp_upload", Seq("nope"))
    val q = FlumeLikeSource.readStream(spark, dir)
      .select(decode(col("body"), "UTF-8").as("value"),
        element_at(col("headers"), FlumeLikeSource.HeaderFileName)
          .as("file"))
      .writeStream.format("memory").queryName("v2_events")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT value, file FROM v2_events")
        .collect().map(r => r.getString(0) -> r.getString(1)).sorted
      assert(rows.toSeq == Seq("r1" -> "a-001.log", "r2" -> "a-001.log",
        "r3" -> "b-002.log"))
    } finally q.stop()
  }

  test("V2 source admission control: a 3-file backlog drains one file " +
    "per micro-batch under maxFilesPerTrigger=1, nothing dropped") {
    val dir = tmpDir("v2rate")
    (1 to 3).foreach(i => drop(dir, f"f-$i%03d.log", Seq(s"line$i")))
    val q = FlumeLikeSource.readStream(spark, dir, Some(1))
      .select(decode(col("body"), "UTF-8").as("value"))
      .writeStream.format("memory").queryName("v2_rate")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT value FROM v2_rate").collect()
        .map(_.getString(0)).sorted.toSeq ==
        Seq("line1", "line2", "line3"))
      // every completed batch admitted at most one file's single line
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.nonEmpty && sizes.forall(_ == 1L),
        s"expected 1 row per batch, got ${sizes.mkString(",")}")
    } finally q.stop()
  }

  test("V2 source: a maxFilesPerTrigger that is not a positive integer " +
    "is rejected at query start, naming the option and the value") {
    val dir = tmpDir("v2badrate")
    drop(dir, "f-001.log", Seq("line1"))
    Seq("0", "-1", "abc").foreach { v =>
      var q: StreamingQuery = null
      try {
        val e = intercept[IllegalArgumentException] {
          q = spark.readStream.format(classOf[FlumeEventSource].getName)
            .option("path", dir).option("maxFilesPerTrigger", v).load()
            .writeStream.format("noop")
            .trigger(Trigger.ProcessingTime(0)).start()
        }
        assert(e.getMessage.contains("'maxFilesPerTrigger'") &&
          e.getMessage.contains(s"'$v'"), e.getMessage)
      } finally if (q != null) q.stop()
    }
  }

  test("V2 source: a malformed UTF-8 byte reads as U+FFFD; every line " +
    "arrives and the query stays up") {
    val dir = tmpDir("v2bad")
    Files.write(Paths.get(dir, "m-001.log"),
      "ok1\nbad".getBytes(StandardCharsets.UTF_8) ++ Array(0xFF.toByte) ++
        "byte\nok3".getBytes(StandardCharsets.UTF_8))
    val q = FlumeLikeSource.toFileValue(FlumeLikeSource.readStream(spark, dir))
      .writeStream.format("memory").queryName("v2_bad")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      drop(dir, "m-002.log", Seq("next"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT value FROM v2_bad").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(rows == Seq("bad\uFFFDbyte", "next", "ok1", "ok3"))
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
  }

  test("V2 source restart recovery: a NEW query on the same checkpoint " +
    "resumes from the committed file offset — no dupes, no gaps") {
    val dir = tmpDir("v2restart")
    val cp = tmpDir("v2cp")
    val out = tmpDir("v2out")
    def start() = FlumeLikeSource.readStream(spark, dir)
      .select(decode(col("body"), "UTF-8").as("value"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime(0)).start()
    drop(dir, "r-001.log", Seq("a1", "a2"))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // arrives while the query is DOWN; must be picked up after restart
    drop(dir, "r-002.log", Seq("b1"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val vals = spark.read.parquet(out).collect()
        .map(_.getString(0)).sorted.toSeq
      assert(vals == Seq("a1", "a2", "b1"),
        s"exactly-once across restart, got $vals")
    } finally q2.stop()
  }
}
