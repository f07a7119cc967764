package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem,
  LocalFs}

/** The fork-free local FileSystem leaves the same modes, bytes and `.crc`
  * sidecars on disk as Hadoop's stock `LocalFileSystem`. */
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
}
