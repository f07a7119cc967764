package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{FlumeAvroReceiver, FlumeEventSource, FlumeLikeSource}
import graft.sources.FlumeAvroReceiver.Event

/** The live Avro-RPC receiver speaking Flume's AvroSourceProtocol
  * (SURVEY §7.4 — the RPC-semantics half of the connector boundary,
  * now real): wire round-trips over an actual socket RPC session,
  * spool hand-off into the spool reader, spool names in commit order,
  * and the Status contract. */
class FlumeAvroReceiverSpec extends SparkTestBase {

  private def ev(name: Option[String], body: String): Event =
    Event(name.map(FlumeLikeSource.HeaderFileName -> _).toMap,
      body.getBytes(StandardCharsets.UTF_8))

  test("AvroSourceProtocol live over RPC: append + appendBatch answer OK, " +
    "events land as tmp+rename spool files grouped by flieName, and the " +
    "existing adapter reads them back body- and header-identical") {
    val spool = tmpDir("avrospool")
    val server = FlumeAvroReceiver.serve(spool)
    try {
      val c = new FlumeAvroReceiver.Client(server.getPort)
      try {
        assert(c.append(ev(Some("cdr-a.log"), "61|r1")) == "OK")
        assert(c.appendBatch(Seq(
          ev(Some("cdr-a.log"), "61|r2"),
          ev(Some("cdr-b.log"), "62|r3"),
          ev(None, "63|r4"))) == "OK")
      } finally c.close()
      val files = Files.list(Paths.get(spool)).iterator().asScala
        .filterNot(Files.isDirectory(_)).map(_.getFileName.toString)
        .toSeq.sorted
      assert(files.count(_.endsWith("-cdr-a.log")) == 2,
        s"spool files: $files")
      assert(files.count(_.endsWith("-cdr-b.log")) == 1)
      assert(files.count(_.endsWith("-events")) == 1,
        "a header-less event falls back to the 'events' stem")
      assert(files.forall(_.matches("[0-9]{19}-.*")), s"spool files: $files")
      val got = FlumeLikeSource.toFileValue(FlumeLikeSource.read(spark, spool))
        .select(regexp_replace(col("file"), "^[0-9]+-", "").as("stem"),
          col("value"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("cdr-a.log", "61|r1"), ("cdr-a.log", "61|r2"),
        ("cdr-b.log", "62|r3"), ("events", "63|r4")))
    } finally server.close()
  }

  test("live RPC feeds a RUNNING streaming query: events pushed over the " +
    "socket mid-stream surface in the next micro-batch via the spool " +
    "hand-off (network -> durable spool -> exactly-once file source)") {
    val spool = tmpDir("avrospool_live")
    val server = FlumeAvroReceiver.serve(spool)
    try {
      val q = FlumeLikeSource.toFileValue(
          FlumeLikeSource.readStream(spark, spool))
        .writeStream.format("memory").queryName("avro_rpc_live")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        val c = new FlumeAvroReceiver.Client(server.getPort)
        try {
          assert(c.append(ev(Some("s1.log"), "one")) == "OK")
          q.processAllAvailable()
          assert(c.appendBatch(Seq(ev(Some("s1.log"), "two"),
            ev(Some("s2.log"), "three"))) == "OK")
          q.processAllAvailable()
        } finally c.close()
        val vals = spark.table("avro_rpc_live").select("value")
          .collect().map(_.getString(0)).toSet
        assert(vals == Set("one", "two", "three"))
      } finally q.stop()
    } finally server.close()
  }

  test("spool names sort in commit order past a two-digit sequence, " +
    "under an earlier-sorting stem and across a receiver restart: the " +
    "V2 source's file-count offset reads every line exactly once") {
    val spool = tmpDir("avrospool_order")
    val q = spark.readStream.format(classOf[FlumeEventSource].getName)
      .option("path", spool).load()
      .select(decode(col("body"), "UTF-8").as("value"))
      .writeStream.format("memory").queryName("avro_rpc_order")
      .trigger(Trigger.ProcessingTime(0)).start()
    def receive(pushes: Seq[(String, String)]): Unit = {
      val server = FlumeAvroReceiver.serve(spool)
      try {
        val c = new FlumeAvroReceiver.Client(server.getPort)
        try pushes.foreach { case (name, body) =>
          assert(c.append(ev(Some(name), body)) == "OK")
          q.processAllAvailable()
        } finally c.close()
      } finally server.close()
    }
    try {
      receive((1 to 11).map(i => "b.log" -> s"b$i") :+ ("a.log" -> "a1"))
      receive(Seq("b.log" -> "b12")) // restarted receiver, same spool
      val vals = spark.table("avro_rpc_order").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(vals == ((1 to 12).map(i => s"b$i") :+ "a1").sorted)
    } finally q.stop()
  }

  test("an unwritable spool answers FAILED per the Flume contract and the " +
    "RPC session SURVIVES for a retry — no connection teardown") {
    val parent = Paths.get(tmpDir("avrobad"), "occupied")
    Files.write(parent, "x".getBytes(StandardCharsets.UTF_8))
    // spoolDir's parent is a regular file: createDirectories must throw
    val server = FlumeAvroReceiver.serve(s"$parent/sub")
    try {
      val c = new FlumeAvroReceiver.Client(server.getPort)
      try {
        assert(c.append(ev(Some("a.log"), "r1")) == "FAILED")
        // same session, second call still answered — session not torn down
        assert(c.append(ev(Some("a.log"), "r2")) == "FAILED")
      } finally c.close()
    } finally server.close()
  }
}
