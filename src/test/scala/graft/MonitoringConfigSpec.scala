package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class MonitoringConfigSpec extends SparkTestBase {

  test("observe metrics + progress listener: per-batch counts and timing " +
    "without a second job (F10/F11 parity)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val listener = new Monitoring.ProgressCapture
    s.streams.addListener(listener)
    try {
      val input = MemoryStream[String]
      val observed = Monitoring.observed(input.toDF(), keyCol = Some("value"))
      val q = observed.writeStream.format("memory").queryName("mon")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      input.addData(Seq("a", "b", "c"))
      q.processAllAvailable()
      q.stop()
      // listener events are async — give the bus a moment
      var snap = listener.snapshot("mon")
      val deadline = System.currentTimeMillis() + 5000
      while ((snap.isEmpty || snap.get.observed.isEmpty) &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(100); snap = listener.snapshot("mon")
      }
      assert(snap.nonEmpty)
      assert(snap.get.observed.get("n_records").contains(3L) ||
        snap.get.observed.get("n_records").exists(_ == 3L))
      assert(snap.get.durationMs >= 0)
      // per-phase durations of the batch, as Spark reports them
      val phases = snap.get.phaseMs
      Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
        "queryPlanning", "latestOffset").foreach(k =>
        assert(phases.contains(k), s"$k missing from $phases"))
      assert(phases("addBatch") <= phases("triggerExecution"))
    } finally s.streams.removeListener(listener)
  }

  test("GraftConfig: properties load with defaults and overrides") {
    val d = GraftConfig.fromProperties(new java.util.Properties())
    assert(d == GraftConfig())
    val f = Files.createTempFile("graft", ".properties")
    Files.writeString(f,
      """spark.streaming.batchInterval=5000
        |spark.streaming.write-cache=42
        |retryTime=7
        |partners= p1 , p2
        |socket.port=1234
        |""".stripMargin)
    val c = GraftConfig.load(f.toString)
    assert(c.batchIntervalMs == 5000L)
    assert(c.writeCacheRecords == 42)
    assert(c.sinkRetries == 7)
    assert(c.partners == Seq("p1", "p2"))
    assert(c.socketPort == 1234)
    assert(c.socketHost == "localhost") // default preserved
  }

  test("readStreamUnion merges spool dirs with bag semantics (S3)") {
    val s = spark
    val d1 = tmpDir("u1"); val d2 = tmpDir("u2")
    Files.write(Paths.get(d1, "a.txt"), "l1\nl2".getBytes)
    Files.write(Paths.get(d2, "b.txt"), "l2\nl3".getBytes)
    val stream = graft.sources.FlumeLikeSource.toFileValue(
      graft.sources.FlumeLikeSource.readStreamUnion(s, Seq(d1, d2)))
    val q = stream.writeStream.format("memory").queryName("uni")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT file, value FROM uni").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.length == 4) // duplicates kept (bag union)
    assert(rows.toSet ==
      Set(("a.txt", "l1"), ("a.txt", "l2"), ("b.txt", "l2"),
        ("b.txt", "l3")))
  }

  test("archiveByFile: one partition per source file (K8)") {
    val s = spark
    val spool = tmpDir("k8"); val out = tmpDir("k8out")
    val cp = tmpDir("k8cp")
    Files.write(Paths.get(spool, "fileA.txt"), "x\ny".getBytes)
    Files.write(Paths.get(spool, "fileB.txt"), "z".getBytes)
    val q = graft.streaming.CdrStreaming.archiveByFile(
      graft.sources.FlumeLikeSource.toFileValue(
        graft.sources.FlumeLikeSource.readStream(s, spool)),
      out, cp, Trigger.ProcessingTime(0))
    q.processAllAvailable()
    q.stop()
    val back = s.read.format("text").load(out)
    val byFile = back.groupBy("file").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(byFile == Map("fileA.txt" -> 2L, "fileB.txt" -> 1L))
  }
}
