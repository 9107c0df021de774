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
  * counter. */
class CountingFs extends RawLocalFileSystem {
  import CountingFs.calls

  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def getFileStatus(p: Path): FileStatus = {
    calls.incrementAndGet(); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    calls.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    calls.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    calls.incrementAndGet()
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    calls.incrementAndGet(); super.delete(p, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls.incrementAndGet(); super.rename(src, dst)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    calls.incrementAndGet(); super.mkdirs(p, permission)
  }
}

object CountingFs {
  val Scheme = "cfs"
  private val Uri = URI.create(s"$Scheme:///")
  private val calls = new AtomicLong

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
