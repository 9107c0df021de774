package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.fs.LocalFs

/** The local file system under a private scheme (`cfs:`) that counts
  * the namenode-style calls made through it — status probes,
  * listings, opens, creates, deletes, renames, mkdirs — driver and
  * local executors alike — and logs the paths they name
  * ([[CountingFs.paths]]). It extends the fork-free [[LocalFs]];
  * permission calls are not counted. Specs bind it through their own
  * Hadoop conf ([[CountingFs.bind]]) and address a root as
  * [[CountingFs.root]];
  * a spec can make listings fail ([[CountingFs.failingListings]]);
  * the cache is off, so every instance counts into the one shared
  * counter. A call counts once, like one namenode request: the calls
  * the local implementation makes inside it (a listing's status per
  * child, a create's parent mkdirs) are not counted again. */
class CountingFs extends LocalFs {
  import CountingFs.counted

  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def getFileStatus(p: Path): FileStatus =
    counted(p)(super.getFileStatus(p))
  // the local implementation answers without getFileStatus
  override def exists(p: Path): Boolean = counted(p)(super.exists(p))
  override def listStatus(p: Path): Array[FileStatus] =
    counted(p) {
      if (CountingFs.failing(p.toString))
        throw new java.io.IOException(s"listing of $p failed on purpose")
      super.listStatus(p)
    }
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted(p)(super.open(p, bufferSize))
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = counted(p)(
    super.create(p, overwrite, bufferSize, replication, blockSize, progress))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted(p)(super.delete(p, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    counted(src)(super.rename(src, dst))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    counted(p)(super.mkdirs(p, permission))
}

object CountingFs {
  val Scheme = "cfs"
  private val Uri = URI.create(s"$Scheme:///")
  private val calls = new AtomicLong
  // calls in progress on this thread: only the outermost one counts
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  // the paths of counted calls, while a `paths` block runs
  @volatile private var log: Option[ConcurrentLinkedQueue[String]] = None
  // the paths whose listings fail, while a `failingListings` block runs
  @volatile private var failing: String => Boolean = _ => false

  private def counted[T](p: Path)(call: => T): T = {
    val d = depth.get
    if (d == 0) {
      calls.incrementAndGet()
      log.foreach(_.add(p.toString))
    }
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

  /** runs `body` with every listing of a path that `matches` failing
    * with an IOException — a fault injected at one step of a write. */
  def failingListings[T](matches: String => Boolean)(body: => T): T = {
    failing = matches
    try body finally failing = _ => false
  }

  /** runs `body` and returns its result with the path of every call
    * it made, in call order. */
  def paths[T](body: => T): (T, Seq[String]) = {
    val q = new ConcurrentLinkedQueue[String]()
    log = Some(q)
    try {
      val out = body
      (out, q.asScala.toSeq)
    } finally log = None
  }
}
