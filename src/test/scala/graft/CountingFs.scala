package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under a private scheme (`cfs:`) that counts
  * the namenode-style calls made through it — status probes,
  * listings, opens, creates, deletes, renames, mkdirs — driver and
  * local executors alike. Specs bind it through their own Hadoop conf
  * ([[CountingFs.bind]]) and address a root as [[CountingFs.root]];
  * the cache is off, so every instance counts into the one shared
  * counter. A call counts once, like one namenode request: the calls
  * the local implementation makes inside it (a listing's status per
  * child, a create's parent mkdirs) are not counted again. */
class CountingFs extends RawLocalFileSystem {
  import CountingFs.counted

  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def getFileStatus(p: Path): FileStatus =
    counted(super.getFileStatus(p))
  // the local implementation answers without getFileStatus
  override def exists(p: Path): Boolean = counted(super.exists(p))
  override def listStatus(p: Path): Array[FileStatus] =
    counted(super.listStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted(super.open(p, bufferSize))
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = counted(
    super.create(p, overwrite, bufferSize, replication, blockSize, progress))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted(super.delete(p, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    counted(super.rename(src, dst))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    counted(super.mkdirs(p, permission))
}

object CountingFs {
  val Scheme = "cfs"
  private val Uri = URI.create(s"$Scheme:///")
  private val calls = new AtomicLong
  // calls in progress on this thread: only the outermost one counts
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def counted[T](call: => T): T = {
    val d = depth.get
    if (d == 0) calls.incrementAndGet()
    depth.set(d + 1)
    try call finally depth.set(d)
  }

  /** route `cfs:` paths of `conf` to the counting file system. */
  def bind(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** a local directory as a `cfs:` root. */
  def root(localDir: String): String = s"$Scheme://$localDir"

  /** runs `body` and returns its result with the calls it made. */
  def counting[T](body: => T): (T, Long) = {
    val before = calls.get()
    val out = body
    (out, calls.get() - before)
  }
}
