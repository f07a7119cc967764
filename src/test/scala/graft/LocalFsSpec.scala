package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, LocalFs}

/** The fork-free local FileSystem leaves the same modes, bytes and `.crc`
  * sidecars on disk as Hadoop's stock `LocalFileSystem`, through the
  * `FileSystem` API and through the `FileContext` API that streaming
  * checkpoints write with. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** A stock and a fork-free FileSystem, each initialised on `c`. */
  private def pair(c: Configuration): Seq[FileSystem] =
    Seq(new LocalFileSystem, new ForkFreeLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), c); fs
    }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Full mode bits (setuid/setgid/sticky included) and the NIO view. */
  private def mode(p: String) = {
    val path = Paths.get(p)
    (Integer.toOctalString(
      Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xFFF),
      Files.getPosixFilePermissions(path))
  }

  /** Create, through `fs` under `root`, a nested dir and a file with its
    * `.crc`; return the mode of each, and the bytes of each file. */
  private def layout(fs: FileSystem, root: String) = {
    fs.mkdirs(new Path(s"$root/a/b"))
    val out = fs.create(new Path(s"$root/a/b/part-0.txt"))
    out.write(("payload-" * 200).getBytes("UTF-8")); out.close()
    Seq("a", "a/b", "a/b/part-0.txt", "a/b/.part-0.txt.crc").map { rel =>
      val p = s"$root/$rel"
      val bytes =
        if (rel.contains(".txt")) Files.readAllBytes(Paths.get(p)).toSeq
        else Seq.empty
      (rel, mode(p), bytes)
    }
  }

  test("files, dirs and .crc sidecars get the stock modes and bytes " +
    "under umask 022 and 077") {
    Seq("022", "077").foreach { umask =>
      val Seq(stock, forkFree) = pair(conf(umask))
      val want = layout(stock, tmp("stock"))
      assert(layout(forkFree, tmp("forkfree")) == want, s"umask $umask")
    }
    // the two umasks really give different modes
    assert(layout(pair(conf("022")).head, tmp("u22")) !=
      layout(pair(conf("077")).head, tmp("u77")))
  }

  test("explicit setPermission 0600, 0755 and 01777 (the sticky bit " +
    "through the stock path) match on files and dirs") {
    val Seq(stock, forkFree) = pair(conf("022"))
    Seq("600", "755", "1777").foreach { octal =>
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val got = Seq(stock, forkFree).map { fs =>
        val root = tmp("setperm")
        fs.create(new Path(s"$root/f")).close()
        fs.mkdirs(new Path(s"$root/d"))
        Seq("f", "d").map { rel =>
          fs.setPermission(new Path(s"$root/$rel"), perm)
          mode(s"$root/$rel")
        }
      }
      assert(got(0) == got(1), s"mode $octal")
      assert(got(1).forall(_._1 == octal), s"mode $octal: ${got(1)}")
    }
  }

  test("a new dir under a setgid parent keeps the inherited setgid bit, " +
    "as `chmod` leaves it") {
    val Seq(stock, forkFree) = pair(conf("022"))
    val got = Seq(stock, forkFree).map { fs =>
      val root = tmp("setgid")
      Files.setAttribute(Paths.get(root), "unix:mode",
        Integer.parseInt("2775", 8))
      fs.mkdirs(new Path(s"$root/child"))
      mode(s"$root/child")
    }
    assert(got(0) == got(1))
    assert(got(1)._1 == "2755")
  }

  test("after install(conf), file: paths resolve to the fork-free class " +
    "although a stock instance is already cached") {
    val uri = new Path(s"file://${tmp("install")}/x")
    val cached = uri.getFileSystem(new Configuration())
    assert(!cached.isInstanceOf[ForkFreeLocalFileSystem])
    val c = LocalFs.install(new Configuration())
    val fs = uri.getFileSystem(c)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    // the cache still serves the stock instance to a conf without it
    assert(uri.getFileSystem(new Configuration()) eq cached)
  }

  /** Through a checkpoint file manager on `abstractFs` (the `file:`
    * `AbstractFileSystem` class) under `root`: `mkdirs` a nested dir, then
    * an atomic write and an atomic overwrite of a log file. Returns the
    * listing and the mode and bytes of everything in it. */
  private def checkpointLayout(umask: String, abstractFs: String,
                               root: String) = {
    val c = conf(umask)
    c.set("fs.AbstractFileSystem.file.impl", abstractFs)
    assert(AbstractFileSystem.createFileSystem(URI.create("file:///"), c)
      .getClass.getName == abstractFs)
    val dir = new Path(s"file://$root/offsets/n")
    val fm = CheckpointFileManager.create(dir, c)
    fm.mkdirs(dir)
    Seq(("0", false, "v1\n{}"), ("1", false, "v1\n{\"n\":1}"),
      ("1", true, "v1\n{\"n\":2}")).foreach { case (name, over, text) =>
      val out = fm.createAtomic(new Path(dir, name), over)
      out.write(text.getBytes("UTF-8")); out.close()
    }
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.toSeq.map { p =>
      val rel = Paths.get(root).relativize(p).toString
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq
        else Seq.empty
      (rel, mode(p.toString), bytes)
    }.sortBy(_._1) finally walk.close()
  }

  test("checkpoint writes through CheckpointFileManager: ForkFreeLocalFs " +
    "leaves the stock LocalFs files, .crc sidecars, dirs and modes " +
    "under umask 022 and 077") {
    val stockFs = classOf[org.apache.hadoop.fs.local.LocalFs].getName
    Seq("022", "077").foreach { umask =>
      val want = checkpointLayout(umask, stockFs, tmp("cpstock"))
      assert(want.map(_._1).contains("offsets/n/.1.crc"), want.map(_._1))
      val got = checkpointLayout(umask, classOf[ForkFreeLocalFs].getName,
        tmp("cpforkfree"))
      assert(got == want, s"umask $umask")
    }
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem on a file, a " +
    "dir, a missing path, a live and a dangling symlink") {
    val Seq(stock, forkFree) = Seq(new RawLocalFileSystem,
      new ForkFreeRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf("022")); fs
    }
    val root = tmp("links")
    Files.createDirectory(Paths.get(root, "dir"))
    Files.write(Paths.get(root, "file"), "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(root, "live"), Paths.get(root, "file"))
    Files.createSymbolicLink(Paths.get(root, "dangling"),
      Paths.get(root, "gone"))
    // FileStatus.equals compares paths only; toString has every field
    def status(fs: FileSystem, p: Path) =
      Try(fs.getFileLinkStatus(p)).map(_.toString)
    Seq("file", "dir", "missing", "live", "dangling").foreach { name =>
      // stock Hadoop reads a qualified path's link as the file it points
      // at, an unqualified one as a link: both forms
      Seq(new Path(s"$root/$name"), new Path(s"file://$root/$name"))
        .foreach { p =>
          val want = status(stock, p)
          assert(status(forkFree, p).toString == want.toString, p)
        }
    }
    assert(Try(forkFree.getFileLinkStatus(new Path(s"$root/missing")))
      .failed.get.isInstanceOf[FileNotFoundException])
    Seq("live", "dangling").foreach { name =>
      assert(forkFree.getFileLinkStatus(new Path(s"$root/$name")).isSymlink,
        name)
    }
  }
}
