package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.{BinaryType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A REAL DataSource V2 streaming source for Flume-event-shaped input —
  * the custom-source work SURVEY §4 item 1 calls for (`TableProvider` +
  * `MicroBatchStream`), replacing nothing in [[FlumeLikeSource]] (the
  * thin file-source adapter remains the simple path) but proving the
  * full connector surface: schema inference, capability declaration,
  * offset tracking, admission control, and executor-side partition
  * readers.
  *
  * Semantics mirror the reference's polling receiver
  * (reference: src/StreamingFlumeProcess.scala:89-101): each line of each
  * spool file becomes one event `(body: binary, headers: map)` with the
  * originating filename under the reference's [sic] `flieName` header key
  * (:117-121). `maxFilesPerTrigger` is the `maxBatchSize` analogue,
  * enforced through Spark's own admission-control hook
  * ([[SupportsAdmissionControl]], the same mechanism the built-in file
  * source uses) rather than ad-hoc state.
  *
  * Offset model: the spool contract (Flume's own spooldir convention) is
  * that files are immutable once dropped and their names sort
  * monotonically (timestamped names) — so "the first N sorted files are
  * processed" is a complete, restart-safe offset. The offset serializes
  * as `{"n":N}` into the checkpoint; recovery replans from file N without
  * rescanning content. At 100 TB the same model holds: listing is
  * O(files), reading is partitioned per file across executors, and no
  * state grows with file CONTENT.
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
      Option(opts.get("maxFilesPerTrigger")).map(_.trim.toInt))
  }
}

object FlumeEventSource {
  /** The Flume event shape (SURVEY §1.1): body bytes + string headers. */
  val Schema: StructType = StructType(Seq(
    StructField("body", BinaryType, nullable = false),
    StructField("headers", MapType(StringType, StringType),
      nullable = false)))

  /** Sorted spool listing — the offset's file order. Regular files only;
    * hidden/temp files (dot or `_` prefix, the in-flight upload
    * convention) are invisible until renamed in, which is what makes
    * count-of-sorted-files a stable offset under concurrent drops. */
  private[sources] def listSpool(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName).toSeq
  }
}

private[sources] class FlumeEventTable(path: String, maxFiles: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"flume-events($path)"
  override def schema(): StructType = FlumeEventSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FlumeEventSource.Schema
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
    val total = FlumeEventSource.listSpool(path).size
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
      .map(f => FlumeFilePartition(f.getAbsolutePath, f.getName)
        : InputPartition).toArray
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
