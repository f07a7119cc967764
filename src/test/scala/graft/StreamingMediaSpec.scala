package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Multimodal
import graft.streaming.StreamingMedia

/** Online media library: streamed asset batches grow the persisted
  * perceptual index O(batch), and streamed takedown requests resolve
  * against the LIVE index — so a takedown filed now matches copies
  * ingested a batch ago, and the streamed answer is row-identical to
  * the batch operator (the StreamingTakedown parity pattern). */
class StreamingMediaSpec extends SparkTestBase {

  test("StreamingMedia: image ingest appends land in the index; " +
    "streamed takedowns equal the batch op and see stream-ingested " +
    "copies (448-periodic byte-identical payloads)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val table = "graft_test_smedia"
    val base = (0L until 30L).map(i => (i, "unused"))
      .toDF("doc_id", "text")
    Multimodal.phashWriteIndex(Multimodal.synthBmpPayload(base), table,
      buckets = 4)
    def payloadOf(ids: org.apache.spark.sql.DataFrame) =
      Multimodal.synthBmpPayload(ids)
    val ingestIn = MemoryStream[Long]
    val ingest = StreamingMedia.ingestImages(
      payloadOf(ingestIn.toDF().toDF("doc_id")), table,
      tmpDir("smedia_ing"), Trigger.ProcessingTime(0))
    // batch 0 of ingest: 448 is a byte-identical copy of doc 0
    ingestIn.addData(448L)
    ingest.processAllAvailable()
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Long)]]
    val reqIn = MemoryStream[Long]
    val serve = StreamingMedia.serveImageTakedowns(
      payloadOf(reqIn.toDF().toDF("doc_id")),
      table, tmpDir("smedia_srv"),
      trigger = Trigger.ProcessingTime(0)) { (res, bid) =>
      got(bid) = res.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      ()
    }
    reqIn.addData(0L)
    serve.processAllAvailable()
    // parity with the batch operator on the SAME grown index
    val batchRes = Multimodal.mediaTakedownStatus(s, table,
        payloadOf(Seq((0L, "unused")).toDF("doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got(0L) === batchRes, "streamed serve must equal the batch op")
    assert(got(0L).contains((0L, 448L, 0L)),
      "freshness: the stream-ingested copy must match at hamming 0")
    assert(got(0L).contains((0L, 0L, 0L)), "self-match present")
    // a second ingested copy becomes visible to the NEXT request batch
    ingestIn.addData(896L)
    ingest.processAllAvailable()
    reqIn.addData(0L)
    serve.processAllAvailable()
    assert(got(1L).contains((0L, 896L, 0L)),
      "an append between request batches is served transparently")
    serve.stop(); ingest.stop()
  }
}
