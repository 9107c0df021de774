package graft.fs

import java.io.File
import java.lang.ref.WeakReference
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The local file system without process starts.
  *
  * Without `libhadoop` (Spark's bundled Hadoop client ships none),
  * the stock `RawLocalFileSystem` starts an OS process for two calls
  * that every local write makes:
  *  - `setPermission` runs `chmod`, once per file created, per `.crc`
  *    sidecar and per directory made;
  *  - `getFileLinkStatus` runs `readlink`, which `FileContext.rename`
  *    calls on both ends of every rename (the streaming offset and
  *    commit logs publish each entry that way).
  *
  * Here `setPermission` sets the same bits through `java.nio`, and
  * `getFileLinkStatus` answers a path that is not a symlink from
  * `getFileStatus`, which is what the stock call returns for one. A
  * sticky bit, a file store without POSIX attributes, and a real
  * symlink take the stock path. Files, directories and permissions
  * are the same as the stock class makes.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit)
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        LocalFs.posix(permission.toShort))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  // the stock call probes the same name for a link
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: the checksummed local file system over
    * [[LocalFs]]. Its rename never replaces an existing file, as in
    * HDFS and in the class it stands in for: the `file:` class Spark's
    * Hive jar registers (`ProxyLocalFileSystem`) refuses one too. */
  final class Checked extends LocalFileSystem(new LocalFs) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile =
        try getFileStatus(dst).isFile
        catch { case _: java.io.FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: what `FileContext` opens, and
    * with it the streaming checkpoint logs — `ChecksumFs` over
    * [[LocalFs]], as the stock `LocalFs` is over `RawLocalFileSystem`. */
  final class CheckedAfs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawAfs(conf)) {
    override def getUriDefaultPort: Int = -1
  }

  private[fs] final class RawAfs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new LocalFs,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    // as the stock one: the OS validates local names
    override def isValidName(src: String): Boolean = true
  }

  private val FileImpl = "fs.file.impl"
  private val AfsImpl = "fs.AbstractFileSystem.file.impl"
  private val StockAfs = "org.apache.hadoop.fs.local.LocalFs"

  // bit i of a mode is values(8 - i): OWNER_READ is 0400
  private val Bits = PosixFilePermission.values()

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    (0 until 9).foreach(i => if ((mode & (1 << i)) != 0) out.add(Bits(8 - i)))
    out
  }

  @volatile private var installed = new WeakReference[SparkContext](null)

  /** Make `file:` paths of `spark`'s context use [[LocalFs]], once per
    * context: entry points that create local files or start a
    * streaming query call this first; the `Configuration` overload
    * below does the work. */
  def install(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (installed.get ne sc) synchronized {
      if (installed.get ne sc) {
        install(sc.hadoopConfiguration)
        installed = new WeakReference(sc)
      }
    }
  }

  /** Name [[Checked]] and [[CheckedAfs]] for `file:` in `conf`, and
    * close a stock `file:` instance held in Hadoop's `FileSystem`
    * cache, so the cache holds the new class. A no-op when `libhadoop`
    * is loaded (the stock class then starts no process) and when
    * `conf` already names another implementation for either key: a
    * deployment's choice wins. */
  private[graft] def install(conf: Configuration): Unit = {
    val checked = classOf[Checked].getName
    val afs = classOf[CheckedAfs].getName
    val mine = Option(conf.get(FileImpl)).forall(_ == checked) &&
      Option(conf.get(AfsImpl)).forall(a => a == StockAfs || a == afs)
    if (!NativeIO.isAvailable && mine) {
      conf.set(FileImpl, checked)
      conf.set(AfsImpl, afs)
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[Checked]) {
        cached.close()
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      }
    }
  }
}
