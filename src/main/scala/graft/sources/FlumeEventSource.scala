package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.{BinaryType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one spool reader: a DataSource V2 source (`TableProvider` →
  * `Batch` + `MicroBatchStream`, SURVEY §4 item 1) that turns a spool
  * directory into Flume-event-shaped rows for [[FlumeLikeSource.read]]
  * and [[FlumeLikeSource.readStream]] alike.
  *
  * Semantics mirror the reference's polling receiver
  * (reference: src/StreamingFlumeProcess.scala:89-101): each line of each
  * spool file becomes one event `(body: binary, headers: map)` with the
  * literal originating filename under the reference's [sic] `flieName`
  * header key (:117-121). `maxFilesPerTrigger` (a positive integer) is the
  * `maxBatchSize` analogue, enforced through Spark's own admission-control
  * hook ([[SupportsAdmissionControl]], as the built-in file source does).
  *
  * Offset model: `{"n":N}` in the checkpoint means "the first N files in
  * name order are processed"; recovery replans from file N without
  * rescanning content. Listing is O(files), reading is partitioned per
  * file, and no state grows with file CONTENT. The count is a complete,
  * restart-safe offset only under the spool contract (Flume's spooldir
  * convention): a file is renamed in whole and never changed or removed
  * after; names starting with `.` or `_` (in-flight uploads) are
  * invisible; and each file renamed in sorts after every visible one, so
  * name order is arrival order (`<stem>.<n>` names break it: `x.10` sorts
  * before `x.9`; see [[FlumeAvroReceiver]]'s sequence-first names).
  *
  * Usage:
  * {{{
  *   spark.readStream.format(classOf[FlumeEventSource].getName)
  *     .option("path", spoolDir).option("maxFilesPerTrigger", "1").load()
  * }}}
  */
class FlumeEventSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FlumeEventSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // option keys arrive in whatever case the caller used — normalize
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty,
      "FlumeEventSource requires a 'path' option (the spool directory)")
    new FlumeEventTable(path,
      Option(opts.get("maxFilesPerTrigger")).map(FlumeEventSource.positive))
  }
}

object FlumeEventSource {
  /** The Flume event shape (SURVEY §1.1): body bytes + string headers. */
  val Schema: StructType = StructType(Seq(
    StructField("body", BinaryType, nullable = false),
    StructField("headers", MapType(StringType, StringType),
      nullable = false)))

  /** The spool's files, one partition each, in name order — the
    * offset's file order. Regular files only; hidden/temp files (dot or
    * `_` prefix) are invisible until renamed in. */
  private[sources] def listSpool(dir: String): Array[InputPartition] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName)
      .map(f =>
        FlumeFilePartition(f.getAbsolutePath, f.getName): InputPartition)

  /** `maxFilesPerTrigger` must be positive: 0 would never advance the
    * stream (the end offset is `start + n`), and a negative value would
    * end a batch before it starts. */
  private[sources] def positive(raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"Invalid value '$raw' for option 'maxFilesPerTrigger': " +
          "it must be a positive integer"))
}

private[sources] class FlumeEventTable(path: String, maxFiles: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"flume-events($path)"
  override def schema(): StructType = FlumeEventSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FlumeEventSource.Schema
        override def toBatch(): Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            FlumeEventSource.listSpool(path)
          override def createReaderFactory(): PartitionReaderFactory =
            new FlumeEventReaderFactory
        }
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new FlumeEventMicroBatchStream(path, maxFiles)
      }
    }
}

/** Offset = number of (sorted) spool files fully processed. */
private[sources] case class FileCountOffset(n: Int) extends Offset {
  override def json(): String = s"""{"n":$n}"""
}

private[sources] class FlumeEventMicroBatchStream(path: String,
                                                  maxFiles: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = FileCountOffset(0)

  override def deserializeOffset(json: String): Offset =
    FileCountOffset("\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"bad FlumeEventSource offset: $json")))

  override def getDefaultReadLimit: ReadLimit =
    maxFiles.map(n => ReadLimit.maxFiles(n)).getOrElse(
      ReadLimit.allAvailable())

  /** Admission-controlled latest offset: at most `maxFiles` new files per
    * micro-batch past the start — the reference's per-poll `maxBatchSize`
    * through Spark's own rate-limit hook. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FileCountOffset].n
    val total = FlumeEventSource.listSpool(path).length
    limit match {
      case m: ReadMaxFiles => FileCountOffset(
        math.min(total, s + m.maxFiles()))
      case _ => FileCountOffset(math.max(total, s))
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead " +
        "(SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    FlumeEventSource.listSpool(path).slice(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FlumeEventReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One spool file = one partition: files are the reference's unit of
  * arrival, and per-file readers parallelize across executors. */
private[sources] case class FlumeFilePartition(absolutePath: String,
                                               fileName: String)
    extends InputPartition

private[sources] class FlumeEventReaderFactory
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FlumeFilePartition]
    new PartitionReader[InternalRow] {
      // Malformed bytes decode to U+FFFD, as the reference's
      // `new String(body)` does: a strict decoder would throw, and the
      // file-count offset would replay the same file into the same throw
      // on every restart. `readLine` splits lines as `readAllLines` does.
      private val lines = new BufferedReader(new InputStreamReader(
        Files.newInputStream(Paths.get(p.absolutePath)),
        StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(CodingErrorAction.REPLACE)
          .onUnmappableCharacter(CodingErrorAction.REPLACE)))
      private var current: InternalRow = _

      override def next(): Boolean = {
        val line = lines.readLine()
        if (line != null) {
          current = InternalRow(
            line.getBytes(StandardCharsets.UTF_8),
            new ArrayBasedMapData(
              new GenericArrayData(Array[Any](
                UTF8String.fromString(FlumeLikeSource.HeaderFileName))),
              new GenericArrayData(Array[Any](
                UTF8String.fromString(p.fileName)))))
          true
        } else false
      }

      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}
