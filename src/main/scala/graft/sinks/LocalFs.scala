package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.StructType

/** Local (`file:`) writes without a `chmod` child process per file.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` — and it is called for every file it creates, every `.crc`
  * sidecar and every new directory: 7–9 ms per `create`+`close` of a
  * one-byte file (data plus `.crc`) on a 4-vCPU VM, against 0.2 ms with the
  * modes set through `java.nio`. A micro-batch sink pays that on every file
  * of every trigger.
  * [[ForkFreeLocalFileSystem]] sets the same umask-applied mode bits with
  * `java.nio`, so files, `.crc` sidecars and modes on disk stay as they are.
  * Other schemes (`hdfs://`, object stores) are untouched.
  */
object LocalFs {

  /** Resolve `file:` paths of `conf` to [[ForkFreeLocalFileSystem]]. The
    * FileSystem cache is JVM-wide and keyed by scheme, authority and user
    * only, so it is switched off for `file:`: otherwise the stock instance
    * cached at session start would be returned. Mutates and returns `conf`. */
  def install(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** `format(...)` name of the text format whose writes use it. */
  val TextFormat: String = classOf[ForkFreeTextFileFormat].getName
}

/** `RawLocalFileSystem` that sets permissions with `java.nio`. Modes NIO
  * cannot express take the stock (forking) path: the sticky bit, and a
  * directory's setuid/setgid bits, which `chmod` with a four-digit octal
  * mode keeps but `chmod(2)` would clear. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    // S_IFMT 0170000, S_IFDIR 0040000, S_ISUID|S_ISGID 06000
    val keepsSetId = (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0
    if (permission.getStickyBit || keepsSetId)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(path, posix(permission.toShort))
  }

  /** The rwx bits of `mode` (octal 0777) as NIO permissions. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }
}

/** The checksummed local FileSystem over [[ForkFreeRawLocalFileSystem]]:
  * `.crc` sidecars and file bytes as `LocalFileSystem` writes them. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Spark's text format with [[LocalFs.install]] applied to the write job's
  * Hadoop conf. `FileFormatWriter` calls `prepareWrite` before it ships the
  * conf to tasks and before the committer's `setupJob`, so task-side
  * creates and the driver-side commit (`_temporary`, `_SUCCESS`, renames)
  * both resolve `file:` to the fork-free FileSystem. A format hook rather
  * than a writer option: the streaming file sink builds its Hadoop conf
  * from the session and never sees writer options. */
class ForkFreeTextFileFormat extends TextFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    LocalFs.install(job.getConfiguration)
    super.prepareWrite(sparkSession, job, options, dataSchema)
  }
}
