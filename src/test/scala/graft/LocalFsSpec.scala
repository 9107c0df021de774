package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.LocalFs

/** The fork-free local file system makes the files, `.crc` sidecars,
  * directories and permissions the stock one makes, reports symlinks
  * as it does, renames over a file with its checksum — and starts no
  * OS process doing so. [[LocalFs.install]] puts it in Hadoop's
  * `FileSystem` cache unless a deployment named its own class. */
class LocalFsSpec extends AnyFunSuite {

  private val LocalUri = URI.create("file:///")
  private val FileImpl = "fs.file.impl"
  private val AfsImpl = "fs.AbstractFileSystem.file.impl"

  private def tmp(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def opened(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(LocalUri, c)
    fs
  }

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** permissions of a file, its `.crc`, its parent made by the create,
    * and a directory made by `mkdirs`, all made through `fs`. */
  private def made(fs: FileSystem): Seq[String] = {
    val dir = tmp("localfs-perms")
    val file = dir.resolve("sub/part-0")
    val out = fs.create(new Path(file.toString), true)
    out.write("rows".getBytes(StandardCharsets.UTF_8))
    out.close()
    assert(fs.mkdirs(new Path(dir.resolve("made/deep").toString)))
    Seq(file, dir.resolve("sub/.part-0.crc"), dir.resolve("sub"),
      dir.resolve("made"), dir.resolve("made/deep")).map(perms)
  }

  test("files, .crc files and directories get the stock class's permissions under the same umask, with no process started") {
    for (umask <- Seq("022", "027")) {
      val c = conf(umask)
      var stock = Seq.empty[String]
      val stockStarts = ProcessStarts.during {
        stock = made(opened(new LocalFileSystem(), c))
      }
      var mine = Seq.empty[String]
      val started = ProcessStarts.during {
        mine = made(opened(new LocalFs.Checked(), c))
      }
      info(s"umask $umask: $mine; the stock class started " +
        s"${stockStarts.size} processes")
      assert(mine == stock)
      val (f, d) = if (umask == "022") ("rw-r--r--", "rwxr-xr-x")
        else ("rw-r-----", "rwxr-x---")
      assert(mine == Seq(f, f, d, d, d))
      // the probe sees the stock class's forks
      assert(stockStarts.exists(_.contains("chmod")), stockStarts)
      assert(started.isEmpty, started)
    }
  }

  test("an explicit setPermission applies to the file and its .crc") {
    val fs = opened(new LocalFs.Checked(), conf("022"))
    val dir = tmp("localfs-chmod")
    val p = new Path(dir.resolve("f").toString)
    fs.create(p, true).close()
    val started = ProcessStarts.during(
      fs.setPermission(p, new FsPermission("640")))
    assert(perms(dir.resolve("f")) == "rw-r-----")
    assert(perms(dir.resolve(".f.crc")) == "rw-r-----")
    assert(started.isEmpty, started)
  }

  test("a symlink made with java.nio still reports isSymlink with its target") {
    val c = conf("022")
    LocalFs.install(c)
    val dir = tmp("localfs-link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val fs = opened(new LocalFs.Checked(), c)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    val fc = FileContext.getFileContext(c)
    val viaFc = fc.getFileLinkStatus(new Path(link.toString))
    assert(viaFc.isSymlink)
    assert(viaFc.getSymlink.toUri.getPath == target.toString)
    // a plain file is not a link, and answers as getFileStatus does
    val plain = new Path(target.toString)
    val started = ProcessStarts.during {
      val ls = fs.getFileLinkStatus(plain)
      assert(!ls.isSymlink)
      assert(ls == fs.getFileStatus(plain))
      assert(ls.getLen == 1L)
    }
    assert(started.isEmpty, started)
  }

  test("FileContext.rename(OVERWRITE) over an existing file replaces it and its .crc") {
    val c = conf("022")
    LocalFs.install(c)
    val fc = FileContext.getFileContext(c)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.CheckedAfs])
    val dir = tmp("localfs-rename")
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    val src = new Path(dir.resolve("src").toString)
    val dst = new Path(dir.resolve("dst").toString)
    val started = ProcessStarts.during {
      write(dst, "old")
      write(src, "the new contents")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    // the read verifies the checksum: a stale .crc would throw
    val in = fc.open(dst)
    val got = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    assert(got == "the new contents")
    assert(Files.exists(dir.resolve(".dst.crc")))
    assert(!Files.exists(dir.resolve("src")))
    assert(!Files.exists(dir.resolve(".src.crc")))
    assert(started.isEmpty, started)
  }

  test("rename answers as the stock class: onto an absent path, an existing file, a directory") {
    val c = conf("022")
    // the class this classpath registers for file:, uncached
    val stockClass = FileSystem.getFileSystemClass("file", new Configuration())
    info(s"stock file: class ${stockClass.getName}")
    def outcomes(fs: FileSystem): Seq[Any] = {
      val dir = tmp("localfs-mv")
      def p(n: String) = new Path(dir.resolve(n).toString)
      def write(n: String, s: String): Unit = {
        val out = fs.create(p(n), true)
        try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      write("a", "1"); write("b", "22"); write("c", "333")
      assert(fs.mkdirs(p("d")))
      Seq(fs.rename(p("a"), p("a2")), fs.rename(p("b"), p("c")),
        fs.rename(p("a2"), p("d")), fs.getFileStatus(p("c")).getLen,
        Files.exists(dir.resolve(".c.crc")), fs.exists(p("d/a2")),
        fs.exists(p("b")))
    }
    val stock = opened(stockClass.getDeclaredConstructor().newInstance(), c)
    assert(outcomes(opened(new LocalFs.Checked(), c)) == outcomes(stock))
  }

  test("install leaves a user-set fs.file.impl alone and is idempotent") {
    val user = new Configuration()
    user.set(FileImpl, classOf[LocalFileSystem].getName)
    val afs = user.get(AfsImpl)
    LocalFs.install(user)
    assert(user.get(FileImpl) == classOf[LocalFileSystem].getName)
    assert(user.get(AfsImpl) == afs)

    val c = new Configuration()
    LocalFs.install(c)
    val once = (c.get(FileImpl), c.get(AfsImpl), FileSystem.get(LocalUri, c))
    LocalFs.install(c)
    assert(once._1 == classOf[LocalFs.Checked].getName)
    assert(once._2 == classOf[LocalFs.CheckedAfs].getName)
    assert((c.get(FileImpl), c.get(AfsImpl)) == (once._1, once._2))
    // the second install keeps the cached instance
    assert(FileSystem.get(LocalUri, c) eq once._3)
  }

  test("after install, FileSystem.get(file:///) is the fork-free class even when a stock instance was cached first") {
    val plain = new Configuration()
    FileSystem.get(LocalUri, plain).close()
    val stock = FileSystem.get(LocalUri, plain)
    assert(stock.getClass == FileSystem.getFileSystemClass("file", plain))
    assert(!stock.isInstanceOf[LocalFs.Checked])
    val c = new Configuration()
    LocalFs.install(c)
    val fs = FileSystem.get(LocalUri, c)
    assert(fs.isInstanceOf[LocalFs.Checked])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFs])
    // the cache serves it to a conf that names no class, too
    assert(FileSystem.get(LocalUri, plain) eq fs)
    assert(FileSystem.getLocal(plain) eq fs)
    assert(new Path(Paths.get("/tmp").toString).getFileSystem(plain) eq fs)
  }
}
