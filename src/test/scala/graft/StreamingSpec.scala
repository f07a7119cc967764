package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{CdrOps, TableSpec}
import graft.sinks.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem, FtpLikeSink}
import graft.sources.FlumeLikeSource
import graft.streaming.{CdrStreaming, MicroBatch}

class StreamingSpec extends SparkTestBase {

  test("routedArchive: one-pass partitionBy(dt, record_type) layout, " +
    "data-derived day partition, nothing dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[String]
    val out = tmpDir("archive")
    val cp = tmpDir("cp")
    val q = CdrStreaming.routedArchive(input.toDF(), out, cp,
      Trigger.ProcessingTime(0))
    input.addData(CdrFixtures.s61Lines.filter(_.nonEmpty))
    q.processAllAvailable()
    q.stop()
    val archived = s.read.format("text").load(out)
    // every non-empty line archived exactly once
    assert(archived.count() ==
      CdrFixtures.s61Lines.count(_.nonEmpty))
    // partition values are type-inferred on read-back (dt → int)
    val parts = archived.select(col("dt"), col("record_type")).distinct()
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    // s61 rows partition under their data-derived start date
    assert(parts.contains(("20160114", "61")))
    // unknown prefix still archived under its own record_type
    assert(parts.exists(_._2 == "99"))
  }

  test("enrichToPartners: flagship pipeline per micro-batch, dual-partner " +
    "tmp+rename commit, idempotent batch dirs") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[String]
    val target = tmpDir("partners")
    val dead = tmpDir("dead")
    val cp = tmpDir("cp2")
    val dim = CdrOps.loadCodeMap(
      CdrOps.parseDelim(CdrFixtures.yaxinTsv.toDF("value"), "\t"),
      (0, 1), 2, 3)
    val sink = new FtpLikeSink(target, dead, Seq("yaxin", "yiyang"))
    val q = CdrStreaming.enrichToPartners(input.toDF(), TableSpec.s61, dim,
      sink, cp, Trigger.ProcessingTime(0))
    input.addData(CdrFixtures.s61Lines)
    q.processAllAvailable()
    q.stop()
    def partnerLines(p: String): Seq[String] = {
      val dirs = Files.list(Paths.get(target, p)).toArray.map(_.toString)
      dirs.flatMap(d => s.read.textFile(d).collect()).toSeq
    }
    val yaxin = partnerLines("yaxin")
    val yiyang = partnerLines("yiyang")
    assert(yaxin.nonEmpty && yaxin.sorted == yiyang.sorted)
    assert(yaxin.forall(_.endsWith(",2g_call")))
    // no uncommitted @tmp files left anywhere
    val leftovers = Files.walk(Paths.get(target)).toArray
      .map(_.toString).filter(_.endsWith("@tmp"))
    assert(leftovers.isEmpty)
  }

  test("concurrent queries: s62 + s65 enrich legs AND the routed archive " +
    "run simultaneously against ONE source — per-partner rows match the " +
    "batch twin, no checkpoint/temp-dir collision (the reference's " +
    "19-output-op, concurrentJobs=10 batch, " +
    "src/StreamingSocketProcess.scala:102,178-266)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[String]
    val lines = input.toDF()
    // one mixed feed: s62 records, s65 records, an unknown prefix
    val lines62 = (0 until 6).map(i =>
      CdrFixtures.cleanLine(TableSpec.s62, i, "4527", s"1003$i"))
    val lines65 = (0 until 4).map(i =>
      CdrFixtures.cleanLine(TableSpec.s65, i, "4527", s"1003$i"))
    val all = lines62 ++ lines65 ++ Seq("99unknown,prefix,line")
    val dim = CdrOps.loadCodeMap(
      CdrOps.parseDelim(CdrFixtures.yaxinTsv.toDF("value"), "\t"),
      (0, 1), 2, 3)
    val (t62, t65, arch) = (tmpDir("c62"), tmpDir("c65"), tmpDir("carc"))
    val sink62 = new FtpLikeSink(t62, tmpDir("cd62"), Seq("yaxin", "yiyang"))
    val sink65 = new FtpLikeSink(t65, tmpDir("cd65"), Seq("yaxin", "yiyang"))
    // all three queries START before any data arrives, each with its own
    // checkpoint — then process the same micro-batch concurrently
    val q62 = CdrStreaming.enrichToPartners(lines, TableSpec.s62, dim,
      sink62, tmpDir("ccp62"), Trigger.ProcessingTime(0))
    val q65 = CdrStreaming.enrichToPartners(lines, TableSpec.s65, dim,
      sink65, tmpDir("ccp65"), Trigger.ProcessingTime(0))
    val qArc = CdrStreaming.routedArchive(lines, arch, tmpDir("ccparc"),
      Trigger.ProcessingTime(0))
    input.addData(all)
    val queries = Seq(q62, q65, qArc)
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
    // per-table oracle = the batch twin of the same operator pipeline
    def expected(spec: TableSpec): Seq[String] =
      CdrOps.enrichPipeline(all.toDF("value"), spec, dim)
        .select(concat_ws(",", col("*")))
        .collect().map(_.getString(0)).sorted.toSeq
    def delivered(root: String, partner: String): Seq[String] = {
      val dirs = Files.list(Paths.get(root, partner)).toArray
        .map(_.toString).filter(!_.split("/").last.startsWith("."))
      dirs.flatMap(d => s.read.textFile(d).collect()).sorted.toSeq
    }
    val exp62 = expected(TableSpec.s62)
    val exp65 = expected(TableSpec.s65)
    assert(exp62.nonEmpty && exp62.forall(_.endsWith(",3g_call")))
    assert(exp65.nonEmpty && exp65.forall(_.endsWith(",2g_sms")))
    Seq("yaxin", "yiyang").foreach { p =>
      assert(delivered(t62, p) == exp62, s"s62 leg, partner $p")
      assert(delivered(t65, p) == exp65, s"s65 leg, partner $p")
    }
    // the archive saw EVERY record of the shared batch exactly once,
    // routed into per-type partitions — no cross-query interference
    val archived = s.read.format("text").load(arch)
    assert(archived.count() == all.size)
    assert(archived.select("record_type").distinct().collect()
      .map(_.get(0).toString).toSet == Set("62", "65", "99"))
  }

  test("rawToPartners: unenriched records reach both partner dirs " +
    "byte-identical (the reference's live pass-through mode)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[String]
    val target = tmpDir("rawpartners")
    val sink = new FtpLikeSink(target, tmpDir("rawdead"),
      Seq("yaxin", "yiyang"))
    val q = CdrStreaming.rawToPartners(input.toDF(), sink, tmpDir("rawcp"),
      prefix = Some("61"), trigger = Trigger.ProcessingTime(0))
    input.addData(CdrFixtures.s61Lines)
    q.processAllAvailable()
    q.stop()
    val expected = CdrFixtures.s61Lines.filter(_.startsWith("61")).sorted
    Seq("yaxin", "yiyang").foreach { p =>
      val dirs = Files.list(Paths.get(target, p)).toArray.map(_.toString)
      val got = dirs.flatMap(d => s.read.textFile(d).collect()).toSeq.sorted
      // raw bytes, not the enriched projection
      assert(got == expected)
    }
  }

  test("windowedCounts: tumbling window + watermark counts each record " +
    "exactly once (vs the reference's overlapping-window duplication)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val lines = input.toDF().toDF("ts", "value")
    val agg = CdrStreaming.windowedCounts(lines, "200 seconds", "60 seconds")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wc").trigger(Trigger.ProcessingTime(0))
      .start()
    def t(sec: Int) = java.sql.Timestamp.valueOf(
      s"2024-01-01 00:0${sec / 60}:${"%02d".format(sec % 60)}")
    input.addData(Seq(
      (t(10), "61,a"), (t(20), "61,b"), (t(30), "62,c"),
      (t(210), "61,d")))
    q.processAllAvailable()
    val rows = s.sql("SELECT record_type, n FROM wc ORDER BY record_type, n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    q.stop()
    // 4 input records → total n of 4, no window overlap duplication
    assert(rows.map(_._2).sum == 4)
    assert(rows.toSet == Set(("61", 2L), ("61", 1L), ("62", 1L)))
  }

  test("flumeDesensitize: full Flume lifecycle — mask 0,1,2,7, archive by " +
    "record-derived date, partner delivery; field 17 intact") {
    val s = spark
    import s.implicits._
    val spool = tmpDir("gnspool")
    val archive = tmpDir("gnarch")
    val target = tmpDir("gntgt")
    val cp = tmpDir("gncp")
    Files.write(Paths.get(spool, "2015101509540700756011117.txt"),
      (1 to 3).map(CdrFixtures.gnLine).mkString("\n").getBytes)
    val sink = new FtpLikeSink(target, tmpDir("gndead"), Seq("partner1"))
    val q = CdrStreaming.flumeDesensitize(
      graft.sources.FlumeLikeSource.readStream(s, spool),
      archive, sink, cp, Trigger.ProcessingTime(0))
    q.processAllAvailable()
    q.stop()
    val archived = s.read.format("text").load(archive)
    assert(archived.count() == 3)
    // date partition derived from the record's field 17 (2015-12-09)
    assert(archived.select("dt").distinct().head.get(0).toString ==
      "20151209")
    val lines = archived.select("value").collect().map(_.getString(0))
    lines.foreach { l =>
      val f = l.split("\\|", -1)
      assert(f.length == 44)
      assert(f(0).matches("[0-9a-f]{32}")) // MSISDN masked
      assert(f(7).matches("[0-9a-f]{32}")) // IMEI masked
      assert(f(17) == "2015-12-09 16:45:21.208811") // timestamp intact
    }
    // partner got the identical masked payload
    val partner = s.read.textFile(s"$target/partner1/batch=0")
      .collect().sorted
    assert(partner.toSeq == lines.sorted.toSeq)
  }

  test("CDR writers create their files through the fork-free local " +
    "FileSystem: routedArchive, FtpLikeSink.writeBatch and the " +
    "flumeDesensitize archive") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    @annotation.nowarn("cat=deprecation")
    def bytesWritten(): Long = FileSystem.getStatistics("file",
      classOf[ForkFreeRawLocalFileSystem]).getBytesWritten
    def rises(what: String)(body: => Unit): Unit = {
      val before = bytesWritten()
      body
      assert(bytesWritten() > before, what)
    }
    rises("routedArchive") {
      val input = MemoryStream[String]
      val q = CdrStreaming.routedArchive(input.toDF(), tmpDir("ffarc"),
        tmpDir("ffarccp"), Trigger.ProcessingTime(0))
      input.addData(CdrFixtures.s61Lines.filter(_.nonEmpty))
      q.processAllAvailable()
      q.stop()
    }
    rises("FtpLikeSink.writeBatch") {
      new FtpLikeSink(tmpDir("fftgt"), tmpDir("ffdead"), Seq("p1"))
        .writeBatch(Seq("r1", "r2").toDF("value"), 0L)
    }
    // a sink that delivers nothing: every counted write is the archive's
    val idle = new FtpLikeSink(tmpDir("ffgntgt"), tmpDir("ffgndead"),
        Seq("p1")) {
      override def writeBatch(df: DataFrame, batchId: Long): Unit = ()
    }
    rises("flumeDesensitize archive") {
      val spool = tmpDir("ffgnspool")
      Files.write(Paths.get(spool, "2015101509540700756011117.txt"),
        (1 to 3).map(CdrFixtures.gnLine).mkString("\n").getBytes)
      val q = CdrStreaming.flumeDesensitize(
        FlumeLikeSource.readStream(s, spool), tmpDir("ffgnarch"), idle,
        tmpDir("ffgncp"), Trigger.ProcessingTime(0))
      q.processAllAvailable()
      q.stop()
    }
  }

  test("Sessionize: flatMapGroupsWithState emits sessions on gap close " +
    "and event-time timeout; state is per-user") {
    val s = spark
    import s.implicits._
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[Evt]
    // offset from epoch 0: the initial watermark is 0 and an event AT the
    // watermark is treated as late by stateful ops
    def ts(sec: Long) = new java.sql.Timestamp((100000 + sec) * 1000)
    val sess = Sessionize.sessions(
      input.toDS().withWatermark("ts", "0 seconds"), gapSeconds = 600)
    val q = sess.writeStream.outputMode("append").format("memory")
      .queryName("sess").trigger(Trigger.ProcessingTime(0)).start()
    // one batch: two sessions for user 1 (gap 0→10 vs 2000), user 2 active
    input.addData(Seq(
      Evt(1L, ts(0), 1.0), Evt(1L, ts(10), 2.0), Evt(1L, ts(2000), 4.0),
      Evt(2L, ts(1990), 8.0)))
    q.processAllAvailable()
    // second batch advances the watermark far past all timeouts
    input.addData(Seq(Evt(3L, ts(10000), 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT user_id, n_events, sum_value FROM sess ORDER BY user_id, " +
        "n_events DESC").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // user1: closed-in-batch session (2 events) + timed-out tail (1 event);
    // user2: timed-out single-event session
    assert(rows.contains((1L, 2L, 3.0)))
    assert(rows.contains((1L, 1L, 4.0)))
    assert(rows.contains((2L, 1L, 8.0)))
  }

  test("FlumeLikeSource: spool dir → (body, headers[flieName]); " +
    "batch and streaming agree") {
    val s = spark
    val spool = tmpDir("spool")
    Files.write(Paths.get(spool, "2015101509540700756011117.txt"),
      s"${CdrFixtures.gnLine(1)}\n${CdrFixtures.gnLine(2)}".getBytes)
    Files.write(Paths.get(spool, "f2.txt"), CdrFixtures.gnLine(3).getBytes)
    // the header carries the literal name, not a URL-encoded path segment
    Files.write(Paths.get(spool, "cdr a#1.log"),
      CdrFixtures.gnLine(4).getBytes)
    val batch = FlumeLikeSource.toFileValue(FlumeLikeSource.read(s, spool))
    val got = batch.collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length == 4)
    assert(got.count(_._1 == "2015101509540700756011117.txt") == 2)
    assert(got.exists(r => r._1 == "f2.txt" &&
      r._2 == CdrFixtures.gnLine(3)))
    assert(got.exists(r => r._1 == "cdr a#1.log" &&
      r._2 == CdrFixtures.gnLine(4)), got.map(_._1).distinct.mkString(", "))

    implicit val ctx = s.sqlContext
    val stream = FlumeLikeSource.toFileValue(
      FlumeLikeSource.readStream(s, spool))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("flume").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    val streamed = s.sql("SELECT file, value FROM flume").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(streamed == got.toSet)
  }

  test("FlumeLikeSource rate control: maxFilesPerTrigger=1 bounds every " +
    "micro-batch to one spool file's rows — the reference's per-agent " +
    "maxBatchSize knob — while nothing is dropped") {
    val s = spark
    import s.implicits._
    val spool = tmpDir("spool_rate")
    val perFile = Seq(4, 2, 3)
    perFile.zipWithIndex.foreach { case (n, fi) =>
      Files.write(Paths.get(spool, s"f$fi.txt"),
        ((0 until n).map(i => CdrFixtures.gnLine(10 * fi + i))
          .mkString("\n") + "\n").getBytes)
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = FlumeLikeSource.toFileValue(
      FlumeLikeSource.readStream(s, spool, maxFilesPerTrigger = Some(1)))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("value").as[String].collect()
        if (rows.nonEmpty) { batchSizes += rows.length.toLong }
        seen ++= rows; ()
      }
      .option("checkpointLocation", tmpDir("spool_rate_cp"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    q.stop()
    // throttled: one file per batch — each non-empty batch is exactly one
    // file's row count, so the backlog drains across ≥3 batches
    assert(batchSizes.size == perFile.size)
    assert(batchSizes.sorted == perFile.map(_.toLong).sorted)
    // and complete: every line of every file arrived exactly once
    assert(seen.size == perFile.sum && seen.distinct.size == perFile.sum)
  }

  test("per-row text ops lift to Structured Streaming unchanged: piiScrub " +
    "+ quality filter on a doc stream match their batch twins") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = Seq(
      (1L, "mail me at a@b.co " + Seq.fill(20)("the quick fox").mkString(" ")),
      (2L, "short"),
      (3L, Seq.fill(30)("clean text with the a of and to in is").mkString(" ")))
    val mkDocs = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val input = MemoryStream[(Long, String)]
    val streamed = graft.operators.TextAnalysis.piiScrub(
      mkDocs(input.toDF().toDF("doc_id", "text")))
    val q = streamed.writeStream.outputMode("append").format("memory")
      .queryName("spii").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("SELECT * FROM spii").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    val batch = graft.operators.TextAnalysis.piiScrub(
      mkDocs(rows.toDF("doc_id", "text"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    assert(got == batch)
    assert(got.exists(_._2 == 1L)) // the email was counted and scrubbed
  }

  test("gopherFilter lifts to Structured Streaming unchanged: the " +
    "composite quality gate is per-row, so the streamed verdicts match " +
    "the batch twin exactly") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = Seq(
      (1L, "the a of and to in is spark catalyst tungsten shuffle " +
        "broadcast partition executor codegen parquet predicate pushdown " +
        "vector column"), // passes every rule
      (2L, "way too short"), // fails token window
      (3L, "the a of and to in is " +
        Seq.fill(7)("dup gram").mkString(" "))) // fails repetition bound
    val mkDocs = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.gopherFilter(
        mkDocs(input.toDF().toDF("doc_id", "text")))
      .writeStream.outputMode("append").format("memory")
      .queryName("sgopher").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("SELECT doc_id, keep FROM sgopher").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batch = graft.operators.TextAnalysis.gopherFilter(
        mkDocs(rows.toDF("doc_id", "text"))).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(got == batch)
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("StreamingDedup.spanScrubBatched: each micro-batch is rewritten " +
    "minus corpus-known spans, row-identical to the batch operator on " +
    "the same data") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val known = Seq((1L, s"c1 c2 $span c3", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val input = MemoryStream[(Long, String, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "source")
    val got = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val q = graft.streaming.StreamingDedup
      .spanScrubBatched(docs, known, tmpDir("sspanscrub_cp"),
        trigger = Trigger.ProcessingTime(0)) { (scrubbed, _) =>
        got.synchronized {
          scrubbed.collect().foreach(r => got(r.getLong(0)) =
            ((r.getString(1), r.getLong(2), r.getLong(3))))
        }
      }
    val b1 = Seq((10L, s"n1 $span n2", "en", "srcA"),
      (11L, "entirely novel words beyond any known overlap at all",
        "en", "srcA"))
    val b2 = Seq((12L, span, "en", "srcA"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // batch parity: the same rows the batch operator produces per batch
    val expect = (b1 ++ b2).grouped(2).flatMap { chunk =>
      graft.operators.Dedup.spanScrub(
        chunk.toDF("doc_id", "text", "lang", "source"), known)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3))))
    }.toMap
    assert(got.toMap == expect)
    assert(got(10L) == (("n1 n2", 10L, 8L)))
    assert(got(11L)._3 == 0L)
    assert(got(12L) == (("", 8L, 8L)))
  }

  test("StreamingDedup.incrementalNearDedupBatched: per-batch LSH probe " +
    "vs the static corpus — near-dups of corpus docs never delivered, " +
    "novel docs delivered") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again"
    val known = Seq((1L, base, "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val input = MemoryStream[(Long, String, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "source")
    val delivered = scala.collection.mutable.ArrayBuffer[Long]()
    val q = graft.streaming.StreamingDedup
      .incrementalNearDedupBatched(docs, known, tmpDir("sneardedup_cp"),
        trigger = Trigger.ProcessingTime(0)) { (novel, _) =>
        delivered.synchronized {
          delivered ++= novel.collect().map(_.getLong(0))
        }
      }
    input.addData((10L, base, "en", "srcA"), // exact dup of corpus doc
      (11L, base + " slightly", "en", "srcA"), // near-dup (J ≈ 0.89)
      (12L, "totally novel content words nothing shared here at all",
        "en", "srcA"))
    q.processAllAvailable()
    input.addData(
      (13L, "another batch of fresh unrelated material entirely",
        "en", "srcA"))
    q.processAllAvailable()
    q.stop()
    assert(delivered.sorted.toSeq == Seq(12L, 13L))
  }

  test("StreamingDedup.incrementalDedup: known-corpus docs dropped; " +
    "within-stream repeats emitted once ACROSS micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val known = Seq("old doc one", "old doc two").toDF("text")
      .select(md5(col("text")).as("fp"))
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDedup.incrementalDedup(docs, known)
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup").option("checkpointLocation", tmpDir("sdedup_cp"))
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData((1L, "old doc one"), (2L, "fresh a"), (3L, "fresh a"),
      (4L, "fresh b"))
    q.processAllAvailable()
    input.addData((5L, "fresh a"), (6L, "fresh c"), (7L, "old doc two"))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT text FROM sdedup").collect()
      .map(_.getString(0))
    // known-corpus texts never emitted; each novel text exactly once even
    // when the repeat arrives in a LATER batch (state-store cross-batch)
    assert(rows.sorted.toSeq == Seq("fresh a", "fresh b", "fresh c"))
  }

  test("StreamingDedup.incrementalDedupCompacted: duplicate arriving AFTER " +
    "the watermark delay (state evicted) is still dropped via the " +
    "compacted fp store; known-corpus docs never delivered") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val store = tmpDir("sdedup_fp_store")
    // seed the store with the known corpus's fingerprint
    Seq("old doc one").toDF("text").select(md5(col("text")).as("fp"))
      .write.mode("overwrite").parquet(store)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("ts_ms", "text")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = graft.streaming.StreamingDedup
      .incrementalDedupCompacted(docs, store, "ts", "10 seconds",
        tmpDir("sdedup_cpt_cp"), Trigger.ProcessingTime(0)) {
        (novel, _) => delivered.synchronized {
          delivered ++= novel.collect().map(_.getAs[String]("text"))
        }
      }
    // batch 1: novel doc at t=1s + a known-corpus doc (store-probed away)
    input.addData((1000L, "fresh a"), (1500L, "old doc one"))
    q.processAllAvailable()
    // batch 2: advance the watermark far past 1s + 10s so "fresh a"'s
    // dropDuplicates state is EVICTED
    input.addData((50000L, "advance"))
    q.processAllAvailable()
    // batch 3: "fresh a" again at t=100s — watermark state is long gone;
    // only the compacted store can drop it now
    input.addData((100000L, "fresh a"))
    q.processAllAvailable()
    q.stop()
    val got = delivered.synchronized(delivered.sorted.toSeq)
    assert(got == Seq("advance", "fresh a"),
      s"expected exactly-once delivery via store compaction, got $got")
    // the store accumulated every delivered fp (plus the seed)
    val storeFps = s.read.parquet(store).select("fp").distinct().count()
    assert(storeFps == 3L) // old doc one, fresh a, advance
  }

  test("StreamingDedup.incrementalDedupWatermarked: dup within the " +
    "watermark dropped, state bounded by event time") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val known = Seq("old doc one").toDF("text")
      .select(md5(col("text")).as("fp"))
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("ts_ms", "text")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = graft.streaming.StreamingDedup
      .incrementalDedupWatermarked(docs, known, "ts", "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_wm")
      .option("checkpointLocation", tmpDir("sdedup_wm_cp"))
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData((1000L, "fresh a"), (2000L, "fresh a"),
      (3000L, "old doc one"), (4000L, "fresh b"))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT text FROM sdedup_wm").collect()
      .map(_.getString(0))
    assert(rows.sorted.toSeq == Seq("fresh a", "fresh b"))
  }

  test("StreamingFunnel: per-user step tracker matches the batch funnel " +
    "on in-order input, windowed and unwindowed; emits steps as they " +
    "happen") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FEvt
    implicit val ctx = s.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((100000 + sec) * 1000)
    val steps = Seq("view", "click", "purchase")
    // u1 converts fully inside the 60s windows; u2's click and u3's
    // purchase are too late for the window but fine without one; u9 only
    // views (and advances the watermark past every timeout)
    val batch1 = Seq(
      FEvt(1L, ts(100), "view"), FEvt(2L, ts(100), "view"),
      FEvt(3L, ts(100), "view"),
      FEvt(1L, ts(110), "click"), FEvt(3L, ts(130), "click"))
    val batch2 = Seq(
      FEvt(1L, ts(140), "purchase"), FEvt(2L, ts(220), "click"),
      FEvt(3L, ts(250), "purchase"))
    val batch3 = Seq(FEvt(9L, ts(10000), "view"))
    def run(name: String, within: Option[Long]): Map[Long, Long] = {
      val input = MemoryStream[FEvt]
      val q = StreamingFunnel.funnelSteps(
        input.toDS().withWatermark("ts", "0 seconds"), steps, within)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", tmpDir(s"${name}_cp"))
        .trigger(Trigger.ProcessingTime(0)).start()
      Seq(batch1, batch2, batch3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      q.stop()
      s.sql(s"SELECT step_idx, count(*) FROM $name GROUP BY 1").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def batchCounts(within: Option[org.apache.spark.sql.Column]) =
      graft.operators.Funnels.funnel(
        (batch1 ++ batch2 ++ batch3).toDS().toDF(), steps, within = within)
        .collect().filter(_.getLong(2) > 0)
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val windowed = run("sfunnel_w", Some(60L))
    assert(windowed == Map(1L -> 4L, 2L -> 2L, 3L -> 1L))
    assert(windowed == batchCounts(
      Some(org.apache.spark.sql.functions.expr("INTERVAL 60 SECONDS"))))
    val open = run("sfunnel_o", None)
    assert(open == Map(1L -> 4L, 2L -> 3L, 3L -> 2L))
    assert(open == batchCounts(None))
  }

  test("StreamingFunnel: restart-after-reap counts a fresh ATTEMPT (the " +
    "documented divergence from the batch twin's first-attempt-only count)") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FEvt
    implicit val ctx = s.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((100000 + sec) * 1000)
    val steps = Seq("view", "click", "purchase")
    // b1: u1 enters and reaches step 2 (timeout armed at 130+60=190).
    // b2: u9 pushes the watermark to 10000 (u1 not yet reaped — the batch
    //     runs under the PREVIOUS watermark, 130).
    // b3: no u1 data; watermark 10000 > 190 reaps u1's expired state.
    // b4: u1 returns — a FRESH attempt re-emits step 1 and step 2.
    val b1 = Seq(FEvt(1L, ts(100), "view"), FEvt(1L, ts(130), "click"))
    val b2 = Seq(FEvt(9L, ts(10000), "view"))
    val b3 = Seq(FEvt(8L, ts(10001), "view"))
    val b4 = Seq(FEvt(1L, ts(10010), "view"), FEvt(1L, ts(10020), "click"))
    val input = MemoryStream[FEvt]
    val q = StreamingFunnel.funnelSteps(
      input.toDS().withWatermark("ts", "0 seconds"), steps, Some(60L))
      .writeStream.outputMode("append").format("memory")
      .queryName("sfunnel_reap")
      .option("checkpointLocation", tmpDir("sfunnel_reap_cp"))
      .trigger(Trigger.ProcessingTime(0)).start()
    Seq(b1, b2, b3, b4).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    val streamed = s
      .sql("SELECT step_idx, count(*) FROM sfunnel_reap GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // attempts: step1 = u1 twice + u8 + u9; step2 = u1 twice
    assert(streamed == Map(1L -> 4L, 2L -> 2L), s"streamed: $streamed")
    // the batch twin counts u1 once per step (first attempt only) — the
    // stream's attempt count strictly dominates it after a reap
    val batch = graft.operators.Funnels.funnel(
      (b1 ++ b2 ++ b3 ++ b4).toDS().toDF(), steps,
      within = Some(org.apache.spark.sql.functions
        .expr("INTERVAL 60 SECONDS")))
      .collect().filter(_.getLong(2) > 0)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch == Map(1L -> 3L, 2L -> 1L), s"batch: $batch")
    // per-user uniqueness is recoverable downstream, as documented
    val uniq = s
      .sql("SELECT step_idx, count(DISTINCT user_id) FROM sfunnel_reap " +
        "GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uniq == Map(1L -> 3L, 2L -> 1L), s"dedup'd: $uniq")
  }

  test("StreamingTransitions: per-user last-event handoffs match the " +
    "batch transition matrix on in-order input, across batch boundaries; " +
    "idle timeout reaps the chain") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.TEvt
    implicit val ctx = s.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((100000 + sec) * 1000)
    // u1's click->purchase handoff SPANS the batch boundary; u2 has a
    // same-ts tie ordered by event_id; u9 advances the watermark far
    // past every idle timeout before u2's late return
    val batch1 = Seq(
      TEvt(1L, ts(0), 10L, "view"), TEvt(1L, ts(5), 11L, "click"),
      TEvt(2L, ts(0), 20L, "view"), TEvt(2L, ts(0), 21L, "click"))
    val batch2 = Seq(TEvt(1L, ts(9), 12L, "purchase"))
    val batch3 = Seq(TEvt(9L, ts(100000), 90L, "view"))
    val batch4 = Seq(TEvt(2L, ts(100001), 22L, "purchase"))
    def run(name: String, idle: Option[Long]): Map[(String, String), Long] = {
      val input = MemoryStream[TEvt]
      val q = StreamingTransitions.transitions(
        input.toDS().withWatermark("ts", "0 seconds"), idle)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", tmpDir(s"${name}_cp"))
        .trigger(Trigger.ProcessingTime(0)).start()
      Seq(batch1, batch2, batch3, batch4).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      q.stop()
      s.sql(s"SELECT from_type, to_type, count(*) FROM $name GROUP BY 1, 2")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val open = run("stransit_o", None)
    val batchM = graft.operators.Funnels.transitionMatrix(
      (batch1 ++ batch2 ++ batch3 ++ batch4).toDS().toDF())
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(open == batchM, s"open-ended twin must match batch: $open")
    assert(open == Map(("view", "click") -> 2L,
      ("click", "purchase") -> 2L))
    // with a 60s idle bound, u2's return after the long gap starts a
    // FRESH chain: the cross-gap click->purchase handoff is not counted
    val reaped = run("stransit_r", Some(60L))
    assert(reaped == Map(("view", "click") -> 2L,
      ("click", "purchase") -> 1L))
  }

  test("restart recovery: a NEW routedArchive query on the SAME checkpoint " +
    "resumes exactly-once after a mid-feed stop — no dupes, no gaps " +
    "(the reference's getOrCreate driver-recovery story, end-to-end)") {
    val s = spark
    import s.implicits._
    val src = tmpDir("rec_src")
    val out = tmpDir("rec_out")
    val cp = tmpDir("rec_cp")
    def mk(a: Int, b: Int): Seq[String] =
      (a until b).map(i => s"61,20160114080000,x$i")
    val first = mk(0, 25)
    val second = mk(25, 40)
    Files.write(Paths.get(src, "a.txt"),
      (first.mkString("\n") + "\n").getBytes("UTF-8"))
    // run 1: durable file source (offsets + processed-file log live in the
    // checkpoint), archive the first file, then STOP the query
    val q1 = CdrStreaming.routedArchive(
      s.readStream.format("text").load(src), out, cp,
      Trigger.ProcessingTime(0))
    q1.processAllAvailable()
    q1.stop()
    // mid-feed: the rest of the data lands while NO query is running
    Files.write(Paths.get(src, "b.txt"),
      (second.mkString("\n") + "\n").getBytes("UTF-8"))
    // run 2: a brand-new query object on the same checkpoint — the
    // restarted driver. It must pick up ONLY the unprocessed file.
    val q2 = CdrStreaming.routedArchive(
      s.readStream.format("text").load(src), out, cp,
      Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    q2.stop()
    val got = s.read.format("text").load(out)
      .select("value").as[String].collect().sorted.toSeq
    // exactly-once across the restart: a.txt not re-archived (no dupes),
    // b.txt not missed (no gaps)
    assert(got == (first ++ second).sorted)
    // and the recovered batch landed under the same data-derived layout
    val parts = s.read.format("text").load(out)
      .select(col("dt"), col("record_type")).distinct().collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    assert(parts == Set(("20160114", "61")))
  }

  test("checkpoint compatibility: MicroBatch restarts a query on a " +
    "checkpoint a stock-conf writeStream wrote, at the next batch, with " +
    "no replay and no duplicate output") {
    val key = "fs.AbstractFileSystem.file.impl"
    val src = tmpDir("compat_src")
    val cp = tmpDir("compat_cp")
    val seen = new ConcurrentLinkedQueue[(Long, String)]()
    val record: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.collect().foreach(r => seen.add(batchId -> r.getString(0)))
    Files.write(Paths.get(src, "a.txt"), "a1\na2\n".getBytes("UTF-8"))
    // run 1: a fresh session, untouched by any MicroBatch start, writes
    // the checkpoint through Hadoop's stock file: AbstractFileSystem
    val stock = spark.newSession()
    assert(stock.sessionState.newHadoopConf().get(key) ==
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val q1 = stock.readStream.format("text").load(src).writeStream
      .foreachBatch(record).option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime(0)).start()
    q1.processAllAvailable()
    q1.stop()
    Files.write(Paths.get(src, "b.txt"), "b1\n".getBytes("UTF-8"))
    // run 2: the same checkpoint, restarted through MicroBatch
    val restarted = spark.newSession()
    val q2 = MicroBatch.start(restarted.readStream.format("text").load(src),
      cp, Trigger.ProcessingTime(0))(record)
    q2.processAllAvailable()
    q2.stop()
    assert(restarted.sessionState.newHadoopConf().get(key) ==
      classOf[ForkFreeLocalFs].getName)
    assert(seen.asScala.toSeq.sorted ==
      Seq(0L -> "a1", 0L -> "a2", 1L -> "b1"))
    // batch 1's offsets and commit, with their .crc, on the old checkpoint
    Seq("offsets", "commits").foreach { log =>
      Seq("1", ".1.crc").foreach(f =>
        assert(Files.isRegularFile(Paths.get(cp, log, f)), s"$log/$f"))
    }
  }

  test("StreamingKnn.serve: streamed probes against the persisted " +
    "cell-bucketed IVF index are row-identical to the batch probe, " +
    "exact and ADC variants (the StreamingDedup parity pattern)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.Similarity
    import graft.streaming.StreamingKnn
    // deterministic corpus: 40 vectors, dim 8
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val table = "graft_knn_serve_idx"
    s.sql(s"DROP TABLE IF EXISTS $table")
    val cents = Similarity.ivfSeedCentroids(corpus, 4)
    Similarity.ivfWriteIndex(corpus, cents, table, buckets = 4)
    try {
      val probeVecs = (0L until 8L).map(i =>
        (i + 100L, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "c_id", "score").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sorted.toSeq
      def streamed(name: String,
                   pq: Option[(Int, Int, Option[org.apache.spark.sql.DataFrame])])
          : Seq[(Long, Long, Double)] = {
        val input = MemoryStream[(Long, Seq[Float])]
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)]
        val q = StreamingKnn.serve(
          input.toDF().toDF("vec_id", "embedding"), table, cents,
          tmpDir(name), k = 3, nprobe = 2, pq = pq,
          trigger = Trigger.ProcessingTime(0)) { (res, _) =>
          buf ++= rows(res); ()
        }
        // two request batches — per-batch probing, not one big frame
        input.addData(probeVecs.take(4))
        q.processAllAvailable()
        input.addData(probeVecs.drop(4))
        q.processAllAvailable()
        q.stop()
        buf.sorted.toSeq
      }
      val queriesDf = probeVecs.toDF("vec_id", "embedding")
      // exact rescore parity
      assert(streamed("knn_cp_exact", None) ==
        rows(Similarity.knnIvfProbe(s, table, cents, queriesDf,
          k = 3, nprobe = 2)))
      // ADC-over-PQ parity (m=2 subspaces of 4, ksub=8 seeded from the
      // index rows vec_id < 8)
      assert(streamed("knn_cp_pq", Some((2, 8, None))) ==
        rows(Similarity.knnIvfPqProbe(s, table, cents, queriesDf,
          k = 3, nprobe = 2, m = 2, ksub = 8)))
      // and the serve path actually returned top-k for every probe
      assert(streamed("knn_cp_exact2", None).map(_._1).distinct.size == 8)
    } finally s.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("StreamingTakedown.serve: streamed takedown requests resolved " +
    "against the persisted band/sets index are row-identical to the " +
    "batch operator per request batch; offsets commit through the " +
    "checkpoint (the StreamingKnn parity pattern)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.Dedup
    import graft.streaming.StreamingTakedown
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared, "en", "src1", 0L),
      (2L, shared, "en", "src1", 0L),              // exact re-post of 1
      (3L, shared + " tail", "en", "src2", 0L),    // near-dup mirror of 1
      (4L, "completely different words here entirely", "en", "src2", 0L),
      (5L, "another unrelated body of words", "en", "src1", 0L),
      (11L, shared, "en", "src1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val (bands, sets) = ("graft_takedown_serve_b", "graft_takedown_serve_s")
    s.sql(s"DROP TABLE IF EXISTS $bands")
    s.sql(s"DROP TABLE IF EXISTS $sets")
    try {
      Dedup.nearDupWriteIndex(docs, bands, sets, buckets = 4)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      val input = MemoryStream[Long]
      val perBatch = scala.collection.mutable.Map
        .empty[Long, Seq[(Long, String, String)]]
      val q = StreamingTakedown.serve(
        input.toDF().toDF("doc_id"), docs, bands, sets,
        tmpDir("takedown_serve"),
        trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
        perBatch(bid) = rows(res); ()
      }
      input.addData(1L)          // batch 0: tombstone doc 1
      q.processAllAvailable()
      input.addData(11L)         // batch 1: a different request set
      q.processAllAvailable()
      q.stop()
      assert(perBatch(0L) ==
        rows(Dedup.takedownStatus(docs, Seq(1L).toDF("doc_id"))))
      assert(perBatch(1L) ==
        rows(Dedup.takedownStatus(docs, Seq(11L).toDF("doc_id"))))
      // the near-dup propagation really fired through the index path
      assert(perBatch(0L).count(_._3 != "kept") == 4,
        "1 direct + exact re-posts 2,11 + mirror 3")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $bands")
      s.sql(s"DROP TABLE IF EXISTS $sets")
    }
  }

  test("StreamingTakedown.serveUnified: one streamed id list fans " +
    "across the text + image/audio/video indexes, per-batch frames " +
    "row-identical to the batch unified operator; cross-modal reposts " +
    "surface in exactly the modality that copied") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.StreamingTakedown
    val shared = (1 to 30).map(i => s"word$i xx").mkString(" ")
    val docs = Seq(
      (8L, shared),                                   // the tombstone
      (2L, shared),                                   // text+audio repost
      (456L, (1 to 30).map(i => s"img$i yy").mkString(" ")), // 456 ≡ 8
                        // mod lcm(32,64,7): image-identical, text fresh
      (5L, (1 to 30).map(i => s"other$i zz").mkString(" ")))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tbls = Seq("graft_uni_b", "graft_uni_s", "graft_uni_img",
      "graft_uni_aud", "graft_uni_vid")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.nearDupWriteIndex(docs, tbls(0), tbls(1), buckets = 4)
      Multimodal.phashWriteIndex(Multimodal.synthBmpPayload(docs),
        tbls(2), buckets = 4)
      Multimodal.audioWriteIndex(Multimodal.synthWavPayload(docs),
        tbls(3), buckets = 4)
      Multimodal.videoWriteIndex(Multimodal.synthVideoPayload(docs),
        tbls(4), buckets = 4)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      def batchOp(ids: Seq[Long]) = rows(Multimodal.takedownUnified(s,
        docs, ids.toDF("doc_id"), tbls(0), tbls(1), tbls(2), tbls(3),
        tbls(4)))
      val input = MemoryStream[Long]
      val perBatch = scala.collection.mutable.Map
        .empty[Long, Seq[(Long, String, String)]]
      val q = StreamingTakedown.serveUnified(
        input.toDF().toDF("doc_id"), docs, tbls(0), tbls(1), tbls(2),
        tbls(3), tbls(4), tmpDir("unified_serve"),
        trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
        perBatch(bid) = rows(res); ()
      }
      input.addData(8L)
      q.processAllAvailable()
      input.addData(5L)
      q.processAllAvailable()
      q.stop()
      assert(perBatch(0L) === batchOp(Seq(8L)))
      assert(perBatch(1L) === batchOp(Seq(5L)))
      // the cross-modal story really fired: the text repost leaves via
      // text AND audio (the fingerprint is text-derived), the id-456
      // mirror leaves via image ONLY, the bystander keeps everything
      val st0 = perBatch(0L).map(t => (t._1, t._2) -> t._3).toMap
      assert(st0((8L, "text")) === "removed_direct")
      assert(st0((8L, "image")) === "removed_direct")
      assert(st0((2L, "text")) === "removed_copy")
      assert(st0((2L, "audio")) === "removed_copy")
      assert(st0((2L, "image")) === "kept")
      assert(st0((456L, "image")) === "removed_copy")
      assert(st0((456L, "text")) === "kept")
      assert(st0((5L, "text")) === "kept")
      assert(perBatch(1L).count(_._3 != "kept") === 4,
        "request 5 has no copies anywhere: 4 direct rows only")
    } finally tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("StreamingTakedown.serveUnifiedContent: streamed tickets " +
    "(quoted text + ONE attachment, no ids) resolve per batch " +
    "row-identical to the batch content operator; modality routing is " +
    "format sniffing — a BMP attachment scrubs images, a WAV scrubs " +
    "audio, and neither leaks into the other modality") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.StreamingTakedown
    val shared = (1 to 30).map(i => s"word$i xx").mkString(" ")
    val docs = Seq(
      (8L, shared),                                        // the original
      (2L, shared),                                        // text+audio twin
      (456L, (1 to 30).map(i => s"img$i yy").mkString(" ")), // 456 ≡ 8
                        // under the image synth moduli: image-identical
      (5L, (1 to 30).map(i => s"other$i zz").mkString(" ")))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tbls = Seq("graft_unic_sv_b", "graft_unic_sv_s", "graft_unic_sv_i",
      "graft_unic_sv_a", "graft_unic_sv_v")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.nearDupWriteIndex(docs, tbls(0), tbls(1), buckets = 4)
      Multimodal.phashWriteIndex(Multimodal.synthBmpPayload(docs),
        tbls(2), buckets = 4)
      Multimodal.audioWriteIndex(Multimodal.synthWavPayload(docs),
        tbls(3), buckets = 4)
      Multimodal.videoWriteIndex(Multimodal.synthVideoPayload(docs),
        tbls(4), buckets = 4)
      def payloadOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
        df.collect().head.getAs[Array[Byte]]("payload")
      // ticket A: near-dup text of docs 8/2 + a BMP attachment whose
      // synth id 2248 ≡ 8 under every image modulus (an off-library
      // exact image copy under a fresh id)
      val tickA = (2248L, shared + " tail",
        payloadOf(Multimodal.synthBmpPayload(Seq((2248L, "x"))
          .toDF("doc_id", "text"))))
      // ticket B: unrelated text + a WAV attachment carrying docs 8/2's
      // text-derived audio signal
      val tickB = (950L, (1 to 30).map(i => s"fresh$i qq").mkString(" "),
        payloadOf(Multimodal.synthWavPayload(Seq((950L, shared))
          .toDF("doc_id", "text"))))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      def batchOp(t: (Long, String, Array[Byte])) = {
        val pay = Seq((t._1, t._3)).toDF("doc_id", "payload")
        rows(Multimodal.takedownUnifiedContent(s, docs,
          Seq((t._1, t._2)).toDF("req_id", "text"), pay, pay, pay,
          tbls(0), tbls(1), tbls(2), tbls(3), tbls(4)))
      }
      val input = MemoryStream[(Long, String, Array[Byte])]
      val perBatch = scala.collection.mutable.Map
        .empty[Long, Seq[(Long, String, String)]]
      val q = StreamingTakedown.serveUnifiedContent(
        input.toDF().toDF("req_id", "text", "payload"), docs, tbls(0),
        tbls(1), tbls(2), tbls(3), tbls(4),
        tmpDir("unified_content_serve"),
        trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
        perBatch(bid) = rows(res); ()
      }
      input.addData(tickA)
      q.processAllAvailable()
      input.addData(tickB)
      q.processAllAvailable()
      // ticket C (r17, advisor fix): TEXT-ONLY — a NULL attachment. The
      // pre-fix serve fanned the null payload into the byte-dereferencing
      // sketchers, NPE'd, and the checkpoint replayed the failed batch
      // forever — one attachment-less ticket poison-pilled the whole
      // compliance stream. Now it flows through the text leg only.
      val tickC = (951L, shared + " tail2", null: Array[Byte])
      input.addData(tickC)
      q.processAllAvailable()
      q.stop()
      assert(perBatch(0L) === batchOp(tickA))
      assert(perBatch(1L) === batchOp(tickB))
      // the text-only batch equals the batch op offered NO media payloads
      val st2 = {
        val noPay = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
        rows(Multimodal.takedownUnifiedContent(s, docs,
          Seq((tickC._1, tickC._2)).toDF("req_id", "text"), noPay, noPay,
          noPay, tbls(0), tbls(1), tbls(2), tbls(3), tbls(4)))
      }
      assert(perBatch(2L) === st2,
        "a null-attachment ticket must serve through the text leg only")
      val st2m = perBatch(2L).map(t => (t._1, t._2) -> t._3).toMap
      assert(st2m((8L, "text")) === "removed_copy")
      assert(st2m((8L, "image")) === "kept")
      assert(st2m((8L, "audio")) === "kept")
      val st0 = perBatch(0L).map(t => (t._1, t._2) -> t._3).toMap
      assert(st0((8L, "text")) === "removed_copy")
      assert(st0((2L, "text")) === "removed_copy")
      assert(st0((8L, "image")) === "removed_copy")
      assert(st0((456L, "image")) === "removed_copy")
      assert(st0((8L, "audio")) === "kept",
        "a BMP attachment must not leak into the audio modality")
      assert(st0((8L, "video")) === "kept")
      val st1 = perBatch(1L).map(t => (t._1, t._2) -> t._3).toMap
      assert(st1((8L, "audio")) === "removed_copy")
      assert(st1((2L, "audio")) === "removed_copy")
      assert(st1((8L, "text")) === "kept")
      assert(st1((8L, "image")) === "kept",
        "a WAV attachment must not leak into the image modality")
      assert((perBatch(0L) ++ perBatch(1L)).map(_._3).toSet
        .subsetOf(Set("removed_copy", "kept")))
    } finally tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("StreamingFunnel.curationServe: each micro-batch's 4-row " +
    "attrition frame off the persisted corpus state is row-identical " +
    "to the batch incremental funnel on the same increment; offsets " +
    "commit through the checkpoint (the StreamingTakedown parity " +
    "pattern)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.CorpusOps
    import graft.streaming.StreamingFunnel
    def tx(toks: Seq[String]) = (Seq("the", "of") ++ toks).mkString(" ")
    val kTxt = tx((1 to 18).map(i => f"kappa$i%02d"))
    val cTxt = tx((1 to 17).map(i => f"charl$i%02d"))
    val corpus = Seq((101L, kTxt), (103L, cTxt))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch 0: one exact corpus dup + one clean doc; batch 1: one
    // near-dup of corpus C + one gate-failing doc
    val b0 = Seq(
      (1L, kTxt),
      (2L, tx((1 to 18).map(i => f"uniq$i%02d"))))
    val b1 = Seq(
      (3L, cTxt + " charl18x"),
      (4L, tx((1 to 15).map(i => f"short$i%02d")))) // 17 tokens
    val tbls = Seq("graft_serve_fun_fps", "graft_serve_fun_bands",
      "graft_serve_fun_sets", "graft_serve_fun_spans")
    val tblsAll = tbls :+ (tbls(0) + "_dead")
    tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      CorpusOps.funnelWriteState(corpus, tbls(0), tbls(1), tbls(2),
        tbls(3), buckets = 4)
      def df(rows: Seq[(Long, String)]) = rows
        .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def rows(dfm: org.apache.spark.sql.DataFrame) = dfm.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
      val input = MemoryStream[(Long, String, String, String, Long)]
      val perBatch = scala.collection.mutable.Map
        .empty[Long, Seq[(Int, String, Long, Long, Long, String)]]
      val q = StreamingFunnel.curationServe(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        tbls(0), tbls(1), tbls(2), tbls(3), tmpDir("curation_serve"),
        trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
        perBatch(bid) = rows(res); ()
      }
      input.addData(b0.map { case (i, t) =>
        (i, t, "en", "srcA", t.length.toLong) })
      q.processAllAvailable()
      input.addData(b1.map { case (i, t) =>
        (i, t, "en", "srcA", t.length.toLong) })
      q.processAllAvailable()
      q.stop()
      assert(perBatch(0L) === rows(
        CorpusOps.curationFunnelIncrementalIndexed(s, df(b0), tbls(0),
          tbls(1), tbls(2), tbls(3))))
      assert(perBatch(1L) === rows(
        CorpusOps.curationFunnelIncrementalIndexed(s, df(b1), tbls(0),
          tbls(1), tbls(2), tbls(3))))
      // the stages really fired through the serve path
      assert(perBatch(0L).map(t => (t._3, t._4)) ===
        Seq((2L, 0L), (2L, 1L), (1L, 0L), (1L, 0L)),
        "batch 0: the exact corpus dup drops at stage 2")
      assert(perBatch(1L).map(t => (t._3, t._4)) ===
        Seq((2L, 1L), (1L, 0L), (1L, 1L), (0L, 0L)),
        "batch 1: one gate drop, then the near-dup mirror drops")
    } finally tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("StreamingFunnel.curationAdmit: survivors enter the corpus state " +
    "per batch — a later batch's exact copy, near-copy, and " +
    "span-recycle of EARLIER-BATCH admitted docs all drop at their " +
    "stages, each vs state that grew through the stream") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.operators.CorpusOps
    import graft.streaming.StreamingFunnel
    def tx(toks: Seq[String]) = (Seq("the", "of") ++ toks).mkString(" ")
    val corpus = Seq(
      (900L, tx((1 to 18).map(i => f"corp$i%02d"))))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val uToks = (1 to 30).map(i => f"ubase$i%02d")
    val uTxt = tx(uToks)                                  // 32 tokens
    val vTxt = tx((1 to 18).map(i => f"vbase$i%02d"))     // 20 tokens
    val b0 = Seq((10L, uTxt), (11L, vTxt))
    val b1 = Seq(
      (20L, uTxt),                       // exact copy of ADMITTED 10
      (21L, vTxt + " vbase19x"),         // near-copy of ADMITTED 11
      (22L, tx(uToks.slice(2, 22) ++     // 20 tokens recycled from 10
        (1 to 10).map(i => f"nvl$i%02d"))), // + 12 novel < 20 → drop
      (23L, tx((1 to 18).map(i => f"fresh$i%02d")))) // clean
    val tbls = Seq("graft_admit_fps", "graft_admit_bands",
      "graft_admit_sets", "graft_admit_spans")
    val tblsAll = tbls :+ (tbls(0) + "_dead")
    tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      CorpusOps.funnelWriteState(corpus, tbls(0), tbls(1), tbls(2),
        tbls(3), buckets = 4)
      val input = MemoryStream[(Long, String, String, String, Long)]
      val perBatch = scala.collection.mutable.Map
        .empty[Long, Map[String, (Long, Long, Long)]]
      val q = StreamingFunnel.curationAdmit(
        input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        tbls(0), tbls(1), tbls(2), tbls(3), tmpDir("curation_admit"),
        trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
        perBatch(bid) = res.collect().map(r => r.getString(1) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        ()
      }
      input.addData(b0.map { case (i, t) =>
        (i, t, "en", "srcA", t.length.toLong) })
      q.processAllAvailable()
      input.addData(b1.map { case (i, t) =>
        (i, t, "en", "srcA", t.length.toLong) })
      q.processAllAvailable()
      q.stop()
      // batch 0: nothing collides with the initial corpus — all admitted
      assert(perBatch(0L)("quality_gate") === ((2L, 0L, 2L)))
      assert(perBatch(0L)("span_scrub") === ((2L, 0L, 2L)))
      // batch 1: every drop is against state ADMITTED by batch 0
      assert(perBatch(1L)("quality_gate") === ((4L, 0L, 4L)))
      assert(perBatch(1L)("exact_dedup") === ((4L, 1L, 3L)),
        "the exact copy of admitted doc 10 must drop")
      assert(perBatch(1L)("near_dedup") === ((3L, 1L, 2L)),
        "the near-copy of admitted doc 11 must drop")
      assert(perBatch(1L)("span_scrub") === ((2L, 1L, 1L)),
        "the span-recycle of admitted doc 10 must drop")
      // the state really grew: the fp universe holds corpus + admitted
      // batch-0 survivors + the one batch-1 survivor
      assert(s.table(tbls(0)).count() === 4L)
    } finally tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Sessionize.sessionsNative: session_window merges INCLUSIVELY — " +
    "an exact-gap event joins its session, matching the lag twin's " +
    "`>` split on the boundary; a wider gap splits both") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1800)), (1L, ts(1900)), // exact gap: merges
      (1L, ts(4000)),                              // 2100 s gap: splits
      (2L, ts(0)))
      .toDF("user_id", "ts")
    val native = graft.streaming.Sessionize.sessionsNative(ev, 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    val lag = graft.streaming.Sessionize.sessionsBatch(ev, 1800)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    assert(native == lag) // same contract, boundary included
    assert(native.count(_._1 == 1L) == 2) // [0..1900] | [4000]
    assert(native.exists(t => t._1 == 1L && t._2 == 3L))
  }

  test("StreamingAttribution: per-conversion last-touch rows match the " +
    "batch attribution incl. a touch crossing the batch boundary; a " +
    "conversion is never a touch; aged-out touches read 'none'") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.streaming.StreamingAttribution.AEvt
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val in = MemoryStream[AEvt]
    val out = graft.streaming.StreamingAttribution.attributions(
      in.toDS().withWatermark("ts", "10 seconds"),
      conversionType = "purchase", windowMs = 60_000L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sattr").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: u1 clicks; u2 converts with no touch
    in.addData(AEvt(1L, ts(0), 10L, "click"),
      AEvt(2L, ts(0), 20L, "purchase"))
    q.processAllAvailable()
    // batch 2: u1 converts — the click touch CROSSED the batch boundary;
    // then converts again — the first purchase must NOT be the touch
    in.addData(AEvt(1L, ts(30), 11L, "purchase"),
      AEvt(1L, ts(40), 12L, "purchase"))
    q.processAllAvailable()
    // batch 3: u3's touch ages out (conversion 61 s later, window 60 s)
    in.addData(AEvt(3L, ts(100), 30L, "view"),
      AEvt(3L, ts(161), 31L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = s.table("sattr")
      .select("conv_id", "attributed_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(20L -> "none", 11L -> "click", 12L -> "click",
      31L -> "none"))
    // and the batch op agrees on the same rows, channel for channel
    val batch = operators.Funnels.attribution(
      Seq((1L, 10L, ts(0), "click"), (2L, 20L, ts(0), "purchase"),
        (1L, 11L, ts(30), "purchase"), (1L, 12L, ts(40), "purchase"),
        (3L, 30L, ts(100), "view"), (3L, 31L, ts(161), "purchase"))
        .toDF("user_id", "event_id", "ts", "event_type"),
      windowMs = 60_000L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = got.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(batch == streamCounts)
  }

  test("session_window STREAMING: the native merging-sessions operator " +
    "under a watermark emits a session only once the watermark closes " +
    "it, and late-merged events extend it before that") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val sessions = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "5 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), "60 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("native_sess").trigger(Trigger.ProcessingTime(0)).start()
    // two events 30 s apart merge into one open session
    in.addData((1L, ts(0)), (1L, ts(30)))
    q.processAllAvailable()
    assert(s.table("native_sess").count() == 0) // session still open
    // an event far ahead advances the watermark past the session's end
    in.addData((2L, ts(600)))
    q.processAllAvailable()
    in.addData((2L, ts(700)))
    q.processAllAvailable()
    q.stop()
    val got = s.table("native_sess").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"closed session missing: $got")
  }

  test("StreamingJoin.withinOuter: an abandoned trigger emits its " +
    "null-padded row only AFTER the watermark proves no in-window " +
    "conversion can arrive; matched pairs emit normally") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val trig = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val conv = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "ts")
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val joined = graft.streaming.StreamingJoin.withinOuter(
      df(trig), df(conv), windowSeconds = 60, delayThreshold = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjo").trigger(Trigger.ProcessingTime(0)).start()
    // u1 converts in-window; u2's click never converts
    trig.addData((1L, 100L, ts(0)), (2L, 200L, ts(0)))
    conv.addData((1L, 900L, ts(30)))
    q.processAllAvailable()
    def got() = s.table("ssjo")
      .select("trig_id", "conv_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    // watermark has NOT yet cleared u2's window: no null row yet
    assert(got() == Set((100L, 900L)))
    // advance both watermarks far past t0+60, over two batches so the
    // eviction-driven null emission gets a batch to land in
    trig.addData((9L, 999L, ts(600)))
    conv.addData((9L, 998L, ts(600)))
    q.processAllAvailable()
    trig.addData((9L, 997L, ts(700)))
    conv.addData((9L, 996L, ts(700)))
    q.processAllAvailable()
    q.stop()
    // u2's abandoned click is now visible with a null conversion; u9's
    // same-instant pair also matched (0 <= delta <= window)
    assert(got().contains((200L, -1L)), s"missing null row: ${got()}")
    assert(got().contains((100L, 900L)))
  }

  test("StreamingJoin.within: stream-stream matches equal the batch " +
    "join on the in-watermark feed; a conversion arriving after the " +
    "watermark passed its window finds the trigger evicted") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val trig = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val conv = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "ts")
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val joined = graft.streaming.StreamingJoin.within(
      df(trig), df(conv), windowSeconds = 60, delayThreshold = "5 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: u1 and u2 click; u1 converts inside the 60 s window
    trig.addData((1L, 100L, ts(0)), (2L, 200L, ts(0)))
    conv.addData((1L, 900L, ts(30)))
    q.processAllAvailable()
    // batch 2: u9's conversion lands 100 s after its trigger — outside
    // the window — while both watermarks advance past t=600
    trig.addData((9L, 999L, ts(600)))
    conv.addData((9L, 998L, ts(700)))
    q.processAllAvailable()
    def got() = s.table("ssj").select("trig_id", "conv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // parity with the batch join over everything fed so far
    val batchRows = Seq((1L, 100L, ts(0)), (2L, 200L, ts(0)),
      (9L, 999L, ts(600))).toDF("user_id", "event_id", "ts")
      .join(Seq((1L, 900L, ts(30)), (9L, 998L, ts(700)))
          .toDF("c_user", "conv_id", "conv_ts"),
        col("user_id") === col("c_user") &&
          col("conv_ts") >= col("ts") &&
          col("conv_ts") <= col("ts") + expr("INTERVAL 60 SECONDS"))
      .select("event_id", "conv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got() == batchRows && batchRows == Set((100L, 900L)))
    // batch 3: u2's conversion at t=30 is in-window by EVENT time, but
    // the watermark (≈695 s) long passed — the u2 trigger state was
    // evicted and the late row is dropped: no new output. The batch
    // join WOULD match it; the divergence is exactly the bounded-state
    // contract.
    conv.addData((2L, 901L, ts(30)))
    q.processAllAvailable()
    assert(got() == Set((100L, 900L)))
    q.stop()
  }

  test("StreamingJoin.withinOuter watermark-delay sweep: the lateness " +
    "dial trades abandonment-alert latency for retained join state — " +
    "null emission needs the feed to advance past window + delay, and " +
    "end-of-feed state rows grow with the delay") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // one sweep cell: trigger u2 at t=0 is never converted; marker pairs
    // advance both sides through `steps`; record (1) the first step at
    // which u2's null row is visible and (2) state rows at end of feed
    val steps = Seq(60, 90, 150, 240, 360, 480, 600, 720)
    def cell(delay: String, window: Long = 60): (Int, Long) = {
      val trig = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val conv = MemoryStream[(Long, Long, java.sql.Timestamp)]
      def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
        m.toDF().toDF("user_id", "event_id", "ts")
      val q = graft.streaming.StreamingJoin
        .withinOuter(df(trig), df(conv), window, delay)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"sweep_${delay.replaceAll("\\W", "_")}")
        .trigger(Trigger.ProcessingTime(0)).start()
      trig.addData((2L, 200L, ts(0)))
      q.processAllAvailable()
      var firstNull = -1
      steps.zipWithIndex.foreach { case (t, i) =>
        trig.addData((100L + i, 1000L + i, ts(t)))
        conv.addData((100L + i, 2000L + i, ts(t)))
        q.processAllAvailable()
        val nullSeen = s.table(q.name)
          .filter(col("trig_id") === 200L && col("conv_id").isNull)
          .count() > 0
        if (nullSeen && firstNull < 0) firstNull = i
      }
      val state = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
      q.stop()
      (firstNull, state)
    }
    val (i0, st0) = cell("0 seconds")
    val (i30, st30) = cell("30 seconds")
    val (i300, st300) = cell("5 minutes")
    // never-before-provable: a null at step i means the PREVIOUS step's
    // event time already exceeded window + delay (watermark is applied
    // one batch behind the max event time that raised it)
    def neverEarly(idx: Int, delaySec: Int): Unit = if (idx > 0)
      assert(steps(idx - 1) > 60 + delaySec - 30, // -30: step granularity
        s"null at step ${steps(idx)} with delay $delaySec: too early")
    assert(i0 >= 0 && i30 >= 0 && i300 >= 0,
      s"every delay must eventually emit: $i0 $i30 $i300")
    neverEarly(i0, 0); neverEarly(i30, 30); neverEarly(i300, 300)
    // the latency dial: bigger lateness bound => later abandonment alert
    assert(i0 <= i30 && i30 < i300,
      s"emission step must grow with delay: $i0 $i30 $i300")
    // the state dial: bigger lateness bound => more rows the store must
    // retain at the same feed point (watermark trails further behind)
    assert(st0 <= st30 && st30 < st300,
      s"state rows must grow with delay: $st0 $st30 $st300")
    info(s"delay sweep: 0s -> null@step ${steps.lift(i0)}, state $st0; " +
      s"30s -> null@step ${steps.lift(i30)}, state $st30; " +
      s"5m -> null@step ${steps.lift(i300)}, state $st300")
  }
}
