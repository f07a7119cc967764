package graft.sources

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.Protocol
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.ipc.{SaslSocketServer, SaslSocketTransceiver, Server}
import org.apache.avro.ipc.generic.{GenericRequestor, GenericResponder}

/** A LIVE Avro-RPC receiver speaking Flume's `AvroSourceProtocol` — the
  * protocol the reference's polling stream consumes from Flume agents
  * (`FlumeUtils.createPollingStream`, reference:
  * src/StreamingFlumeProcess.scala:89-101). The protocol definition
  * (record `AvroFlumeEvent {headers: map<string>, body: bytes}`, messages
  * `append`/`appendBatch` returning `Status {OK, FAILED, UNKNOWN}`,
  * namespace `org.apache.flume.source.avro`) is public Flume API, declared
  * here verbatim as Avro protocol JSON and served by a
  * [[org.apache.avro.ipc.generic.GenericResponder]] — no Flume jars
  * involved.
  *
  * This closes the RPC-semantics half of the documented connector
  * boundary (SURVEY §7.4): the schema, message set, and Status handshake
  * are real and E2E-proven over avro-ipc's SASL socket transport
  * (anonymous mechanism — the stock plain-socket framing avro-ipc ships).
  * The ONE remaining delta to a stock Flume agent is the wire framing:
  * Flume's default RPC client frames over Netty, and the Netty transport
  * lives in a separate artifact (`avro-ipc-netty`) not present in this
  * environment. Protocol-compatible, transport-pluggable.
  *
  * Received events land as spool files read by [[FlumeEventSource]]
  * (one event body per line, originating filename in the [sic]
  * `flieName` header): network RPC → durable spool → streaming query,
  * with the spool as the replayable hand-off point (a receiver that feeds
  * memory instead would re-introduce the receiver-loss semantics the
  * SURVEY's redesign removed). Commits keep the spool contract stated in
  * [[FlumeEventSource]]: tmp+rename, one at a time, into
  * `<sequence>-<stem>` names whose 19-digit sequence continues from the
  * spool's highest after a restart, so name order is commit order. The
  * stem is the sanitized `flieName`.
  *
  * Bodies are treated as UTF-8 single-line records (the reference
  * pipeline's own assumption — its events are delimited CDR lines); a
  * body containing '\n' would split into multiple events downstream and
  * is the caller's contract violation, matching the line-oriented spool.
  */
object FlumeAvroReceiver {

  /** Flume's `AvroSourceProtocol`, from the public Flume API
    * (flume-ng-sdk's avro/flume.avdl), as Avro protocol JSON. */
  val ProtocolJson: String =
    """{
      |  "protocol": "AvroSourceProtocol",
      |  "namespace": "org.apache.flume.source.avro",
      |  "types": [
      |    {"type": "enum", "name": "Status",
      |     "symbols": ["OK", "FAILED", "UNKNOWN"]},
      |    {"type": "record", "name": "AvroFlumeEvent", "fields": [
      |      {"name": "headers", "type": {"type": "map", "values": "string"}},
      |      {"name": "body", "type": "bytes"}
      |    ]}
      |  ],
      |  "messages": {
      |    "append": {
      |      "request": [{"name": "event", "type": "AvroFlumeEvent"}],
      |      "response": "Status"
      |    },
      |    "appendBatch": {
      |      "request": [{"name": "events",
      |        "type": {"type": "array", "items": "AvroFlumeEvent"}}],
      |      "response": "Status"
      |    }
      |  }
      |}""".stripMargin

  val protocol: Protocol = Protocol.parse(ProtocolJson)
  private val StatusSchema =
    protocol.getType("org.apache.flume.source.avro.Status")
  private val EventSchema =
    protocol.getType("org.apache.flume.source.avro.AvroFlumeEvent")

  /** One Flume event, Scala-side. */
  final case class Event(headers: Map[String, String], body: Array[Byte])

  /** The responder: decode append/appendBatch, group the batch's events
    * by their `flieName` header, commit one spool file per group. Any
    * failure (unwritable spool, malformed request) answers `FAILED` —
    * Flume's own contract, letting a well-behaved client retry — rather
    * than tearing down the connection. */
  final class SpoolingResponder(spoolDir: String)
      extends GenericResponder(protocol) {
    // highest sequence committed; guarded by `this`
    private var seq: Long = lastSequence(Paths.get(spoolDir))

    override def respond(message: Protocol#Message,
                         request: AnyRef): AnyRef =
      try {
        val req = request.asInstanceOf[GenericRecord]
        val events: Seq[GenericRecord] = message.getName match {
          case "append" =>
            Seq(req.get("event").asInstanceOf[GenericRecord])
          case "appendBatch" =>
            req.get("events").asInstanceOf[java.lang.Iterable[AnyRef]]
              .asScala.toSeq.map(_.asInstanceOf[GenericRecord])
          case _ =>
            return new GenericData.EnumSymbol(StatusSchema, "UNKNOWN")
        }
        spool(events)
        new GenericData.EnumSymbol(StatusSchema, "OK")
      } catch {
        case NonFatal(_) =>
          new GenericData.EnumSymbol(StatusSchema, "FAILED")
      }

    private def headerMap(ev: GenericRecord): Map[String, String] =
      ev.get("headers").asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        .asScala.map { case (k, v) => k.toString -> v.toString }.toMap

    private def bodyLine(ev: GenericRecord): String = {
      val buf = ev.get("body").asInstanceOf[ByteBuffer]
      val bytes = new Array[Byte](buf.remaining())
      buf.duplicate().get(bytes)
      new String(bytes, StandardCharsets.UTF_8)
    }

    private def spool(events: Seq[GenericRecord]): Unit = {
      val dir = Paths.get(spoolDir)
      Files.createDirectories(dir)
      val byName: Map[String, Seq[GenericRecord]] = events.groupBy(ev =>
        headerMap(ev).getOrElse(FlumeLikeSource.HeaderFileName, "events"))
      byName.foreach { case (name, evs) =>
        val stem = name.replaceAll("[^A-Za-z0-9._-]", "_")
        val content = evs.map(bodyLine).mkString("", "\n", "\n")
        commit(dir, stem, content.getBytes(StandardCharsets.UTF_8))
      }
    }

    /** tmp+rename into the next `<sequence>-<stem>` name; synchronized,
      * as avro-ipc serves each connection on its own thread. */
    private def commit(dir: Path, stem: String,
                       bytes: Array[Byte]): Unit = synchronized {
      val tmpDir = dir.resolve(".tmp")
      Files.createDirectories(tmpDir)
      seq += 1
      val target = dir.resolve(f"$seq%019d-$stem")
      val tmp = tmpDir.resolve(target.getFileName.toString)
      Files.write(tmp, bytes)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target) }
    }
  }

  private val SpoolName = """(\d{19})-.*""".r

  /** The highest sequence among the spool's committed files, 0 if none. */
  private def lastSequence(dir: Path): Long =
    Option(dir.toFile.list()).toSeq.flatten
      .collect { case SpoolName(n) => n.toLong }.maxOption.getOrElse(0L)

  /** Start a receiver on `port` (0 = ephemeral; read it back from
    * [[org.apache.avro.ipc.Server#getPort]]), spooling into `spoolDir`.
    * Caller owns the returned server's lifecycle (`close()`). */
  def serve(spoolDir: String, port: Int = 0): Server = {
    val server = new SaslSocketServer(new SpoolingResponder(spoolDir),
      new InetSocketAddress("127.0.0.1", port))
    server.start()
    server
  }

  /** A protocol-exact client (what a Flume agent's sink would be, minus
    * the Netty framing) — drives the receiver in specs and serves as the
    * reference emitter for anything wanting to push events in-process. */
  final class Client(port: Int, host: String = "127.0.0.1")
      extends AutoCloseable {
    private val transceiver =
      new SaslSocketTransceiver(new InetSocketAddress(host, port))
    private val requestor = new GenericRequestor(protocol, transceiver)

    private def toRecord(e: Event): GenericRecord = {
      val r = new GenericData.Record(EventSchema)
      val headers = new java.util.HashMap[CharSequence, CharSequence]()
      e.headers.foreach { case (k, v) => headers.put(k, v) }
      r.put("headers", headers)
      r.put("body", ByteBuffer.wrap(e.body))
      r
    }

    /** Send one event; returns the wire Status symbol ("OK"/"FAILED"). */
    def append(e: Event): String = {
      val msg = protocol.getMessages.get("append")
      val req = new GenericData.Record(msg.getRequest)
      req.put("event", toRecord(e))
      requestor.request("append", req).toString
    }

    /** Send a batch; one Status for the whole batch, per the protocol. */
    def appendBatch(es: Seq[Event]): String = {
      val msg = protocol.getMessages.get("appendBatch")
      val req = new GenericData.Record(msg.getRequest)
      val arr = new java.util.ArrayList[GenericRecord](es.size)
      es.foreach(e => arr.add(toRecord(e)))
      req.put("events", arr)
      requestor.request("appendBatch", req).toString
    }

    override def close(): Unit = transceiver.close()
  }
}
