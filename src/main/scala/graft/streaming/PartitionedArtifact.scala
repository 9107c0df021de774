package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.slf4j.LoggerFactory

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.fs.LocalFs

/** Batch-id-versioned standing artifact with PARTITION-SCOPED
  * versions — the one layer under every foreachBatch maintenance loop
  * (the `Standing*` objects): a disk artifact whose version directory
  * is the micro-batch id, which converts foreachBatch's at-least-once
  * delivery into exactly-once state. A version writes only the
  * partitions its batch TOUCHED plus a small manifest, and untouched
  * partitions carry forward by REFERENCE to the version directory
  * that last wrote them, so per-batch I/O is O(delta), not
  * O(standing).
  *
  * The exactly-once contract, shared by every loop:
  *  - a version is COMMITTED iff its `_COMMIT` marker exists; the
  *    marker is written after every table, the manifest and the
  *    stats, so an aborted write is invisible;
  *  - a replayed batch whose version is already COMMITTED is a
  *    reader-safe NO-OP (the id's offset range was pinned in the WAL
  *    before processing, so the rows are the same and the
  *    deterministic absorb would rewrite identical bytes — but the
  *    rewrite would first delete files a concurrent reader may be
  *    scanning);
  *  - an absorb whose version is absent or UNCOMMITTED crash debris
  *    reads the newest committed version STRICTLY BELOW its id —
  *    never its own failed attempt — deletes the debris and writes
  *    `v=N` afresh (the absorb must be a deterministic function of
  *    (predecessor state, batch rows, batch id) — every loop's is);
  *  - `v=-1` is the bootstrap slot: a batch-built artifact handed
  *    into the loop sorts before every real batch id;
  *  - pruning keeps the newest [[keepBehind]]+1 manifests at or below
  *    the batch just written plus every directory they reference,
  *    never touches state ahead of a replayed batch, and deletes a
  *    dereferenced directory only after the [[pruneLeaseMs]] read
  *    lease;
  *  - a stream starting at batch 0 over a root with later history
  *    fails ([[guardCheckpointReset]]), and so does a run whose first
  *    batch is neither the root's high-water mark nor its successor
  *    ([[guardFirstBatch]]) — either mismatch would otherwise turn
  *    arriving rows into silent replay no-ops.
  *
  * Layout per version:
  * {{{
  * root/v=<id>/<table>/<partCol>=<p>/  touched partitions only
  * root/v=<id>/<table>/                Whole-layout tables
  * root/v=<id>/_MANIFEST    "table\tpart\tversion" per live partition
  * root/v=<id>/_STATS       "table\trowsWritten" per table (this
  *                          version's own writes — the machine-checked
  *                          delta-boundedness counter)
  * root/v=<id>/_COMMIT      version-level commit marker
  * }}}
  *
  * A committed version is readable from ITS manifest alone (no
  * transitive chase): each live (table, partition) names the version
  * directory holding its current bytes. Pruning therefore keeps the
  * newest [[keepBehind]]+1 manifests at or below the batch just
  * written plus every version directory any kept manifest references
  * — an old directory lives exactly as long as some current partition
  * still points into it, which is what lets a never-touched base
  * partition (bootstrap epoch, cold corpus shard) survive forever
  * WITHOUT ever being rewritten.
  *
  * Table layouts:
  *  - [[Whole]]: rewritten whole every version — for small state
  *    (label vectors, codebooks) where versioned snapshots are
  *    cheaper than manifest indirection;
  *  - [[ByPart]]: partitioned by a LONG column; the absorb returns a
  *    [[PartsDelta]] naming the touched partition values, and rows
  *    only for those — partitions in `touched` are REPLACED by the
  *    delta's rows for them (zero rows = partition dropped), all
  *    others carry forward untouched.
  *
  * Job budget — the Spark jobs of one absorb are bounded like its
  * I/O: [[absorbBatch]] persists the micro-batch, so the source slice
  * is read and parsed once however many plans consume it; every read
  * of the standing state carries the declared storage schema, so
  * planning one runs no schema-inference job (a committed version is
  * planned with zero jobs); `_STATS` row counts are observed on the
  * writes themselves; a partitioned channel the optimizer proves
  * empty is not written (a Whole table always is, one empty file at
  * least, so every version holds it); and a channel whose rows are
  * already on the driver — an analyzed `LocalRelation` in the spec's
  * column order — is written on the driver by Spark's own parquet
  * writer, one file per partition value, with no job
  * ([[writeOnDriver]]). An absorb costs its loop's own delta-sized
  * jobs plus one write job per written channel whose rows are not on
  * the driver.
  *
  * Driver cost — between batches the root's handle keeps what the
  * last absorb listed, read and wrote: the committed head and its
  * `_COMMIT` stamp, the committed list, the head manifest, the keep
  * window's references, the `_EXPIRE`-marked versions with their mark
  * times, and one payload slot for the loop ([[Standing.resident]],
  * [[Standing.keep]]). The successor batch of an unchanged head then
  * costs one `_COMMIT` probe instead of a listing, and its prune
  * touches only versions whose status changes, so file-system calls
  * per absorb stay flat however many versions the read lease holds
  * (StandingGraphSpec counts them over 100 batches). Readers keep the
  * same per root: a read view of the committed head whose tables
  * resolve once per version, trusted after one listing and one
  * `_COMMIT` probe ([[readLatestStanding]]); the loops' `readLatest`
  * maps resolve each table on first access ([[readLatestViews]]), so
  * a reader of one table plans no other after a new head. After its
  * `_COMMIT`, an absorb moves every view of the root read since the
  * previous commit to the new head and resolves the tables that view
  * had resolved ([[publish]]), so a reader of a busy root rebuilds
  * nothing; a view left idle is not republished, and a crash before
  * the publish leaves a view that the next read rebuilds.
  *
  * Local roots — and the streaming checkpoint of [[maintain]] — go
  * through [[graft.fs.LocalFs]], which every file-system lookup here
  * installs first: a version's files, `.crc` sidecars and directories,
  * and the checkpoint logs' renames, start no OS process (the stock
  * local file system runs `chmod` per file and `readlink` per rename
  * without `libhadoop`).
  *
  * CLUSTER CONTRACT: like SideTables, `root` must be storage the
  * driver and every executor see at one path; all probes go through
  * the Hadoop FileSystem of the root's scheme.
  */
object PartitionedArtifact {

  /** how a table's bytes are laid out inside a version. */
  sealed trait Layout
  /** rewritten whole every version (small state). */
  case object Whole extends Layout
  /** partitioned by a LONG column; versions write touched partitions
    * only. `schema` of the table INCLUDES this column. */
  final case class ByPart(partCol: String) extends Layout

  /** one table's declaration: storage schema (including the partition
    * column for [[ByPart]]) plus its layout. */
  final case class TableSpec(schema: StructType, layout: Layout)

  /** one table's per-batch output from the absorb. */
  sealed trait Delta
  /** full replacement rows for a [[Whole]] table. */
  final case class WholeDelta(rows: DataFrame) extends Delta
  /** per-partition delta for a [[ByPart]] table, two channels:
    *  - `replace`: full replacement rows for the `replaced`
    *    partitions (their prior bytes are dereferenced; a replaced
    *    value with zero rows is DROPPED) — for partitions whose
    *    existing rows changed (splits, relabels, deletions);
    *  - `append`: rows ADDED to partitions whose existing bytes are
    *    untouched — the partition accumulates one more file set per
    *    appending version, and a read unions them. This is what
    *    keeps a pure-insert batch O(delta) even when every insert
    *    lands in one giant partition.
    * Both must carry the partition column; `append` values must not
    * overlap `replaced` semantics-wise (an append to a partition
    * replaced in the SAME version lands on top of the replacement,
    * which is well-defined but usually a caller bug). */
  final case class PartsDelta(replace: DataFrame, replaced: Seq[Long],
      append: Option[DataFrame] = None) extends Delta

  /** one manifest reference: the version directory holding bytes for
    * a partition, and whether it was an append (bytes live under
    * `<table>.app`) or a replacement (`<table>`). */
  private final case class Ref(version: Long, appended: Boolean) {
    def token: String = s"$version${if (appended) "a" else "r"}"
    def sub: String = if (appended) ".app" else ""
  }
  private object Ref {
    def parse(t: String): Ref =
      Ref(t.dropRight(1).toLong, t.last == 'a')
  }

  /** the predecessor state handed to an absorb: full views, the live
    * partition list, and PARTITION-PRUNED reads — `readParts` opens
    * only the manifest entries asked for, so a delta-bounded absorb
    * never scans untouched partitions. */
  final class Standing private[PartitionedArtifact] (
      s: SparkSession, root: String,
      specs: Map[String, TableSpec],
      /** the committed version this state is; None for an empty root */
      val version: Option[Long],
      manifest: Map[(String, Long), Seq[Ref]],
      /** the loop's payload for THIS version, as the absorb that wrote
        * it passed it to [[keep]]; None whenever the root's handle did
        * not hold (first absorb of a run, replay, debris, restart) */
      val resident: Option[AnyRef] = None,
      /** a read view's state: [[table]] resolves each table once */
      shared: Boolean = false) {

    private var kept: Option[AnyRef] = None
    /** hand `payload` — describing the version this absorb writes — to
      * the next absorb of the root. It survives only if the version
      * commits; the absorb may have mutated [[resident]] to build it,
      * since a failed absorb drops the handle that holds it. */
    def keep(payload: AnyRef): Unit = kept = Some(payload)
    private[PartitionedArtifact] def keptPayload: Option[AnyRef] = kept

    // partition values this handle's readParts calls have OPENED per
    // ByPart table — the read-side twin of the `_STATS` write counter:
    // absorbBatch snapshots it into `_READS` so specs can machine-check
    // that a delta-bounded absorb also READS only delta-many partitions
    private val opened =
      collection.mutable.Map.empty[String, collection.mutable.Set[Long]]
    private[PartitionedArtifact] def readsSnapshot: Map[String, Long] =
      opened.synchronized(
        specs.collect { case (n, TableSpec(_, ByPart(_))) =>
          n -> opened.get(n).map(_.size.toLong).getOrElse(0L) }.toMap)

    /** live partition values of a [[ByPart]] table, ascending. */
    def parts(table: String): Seq[Long] =
      manifest.keys.collect { case (t, p) if t == table => p }
        .toSeq.sorted

    /** the partitions of a [[ByPart]] table this version compacts,
      * ascending: those whose reference list reached [[maxPartRefs]].
      * An absorb that holds such a partition's full rows may declare
      * it in `replaced` and write them; the commit folds the rest
      * ([[compactFragmented]]). */
    def fragmented(table: String): Seq[Long] =
      fragmentedParts.getOrElse(table, Seq.empty)

    private lazy val fragmentedParts: Map[String, Seq[Long]] =
      manifest.toSeq.collect { case ((t, p), refs)
        if refs.size >= maxPartRefs => (t, p) }
        .groupMap(_._1)(_._2).map { case (t, ps) => t -> ps.sorted }

    // a read view's tables, resolved once per version: file index,
    // schema and analyzed plan. Each call gets its own projection of
    // the resolved plan, so concurrent readers share no QueryExecution
    private val resolved = collection.mutable.Map.empty[String, DataFrame]

    /** the full current view of a table (all live partitions / the
      * newest whole copy). Zero-row table of the spec schema when
      * nothing is live. */
    def table(name: String): DataFrame =
      if (!shared) resolve(name)
      else resolvedTable(name)
        .select(specs(name).schema.fieldNames.toSeq.map(col): _*)

    private[PartitionedArtifact] def resolvedTable(name: String): DataFrame =
      resolved.synchronized(resolved.getOrElseUpdate(name, resolve(name)))

    /** the tables this read view has resolved. */
    private[PartitionedArtifact] def resolvedNames: Seq[String] =
      resolved.synchronized(resolved.keys.toSeq)

    private def resolve(name: String): DataFrame = specs(name).layout match {
      case Whole => version match {
        case Some(v) =>
          val dir = s"$root/v=$v/$name"
          scan(name, dir, Seq(dir))
        case None => empty(name)
      }
      case ByPart(_) => readParts(name, parts(name))
    }

    /** partition-pruned read of a [[ByPart]] table: only the named
      * partitions' directories are opened. Unknown values are simply
      * absent (a manifest miss, not an error). */
    def readParts(name: String, ps: Seq[Long]): DataFrame = {
      val partCol = specs(name).layout match {
        case ByPart(c) => c
        case Whole => throw new IllegalArgumentException(
          s"table $name is Whole-layout; use table()")
      }
      val want = ps.toSet
      // flatten to (ref, part) pairs via a Seq — collecting pairs
      // straight off the manifest Map would build a Map keyed by ref
      // and silently drop all but one partition per ref
      val byDir = manifest.toSeq.flatMap {
        case ((t, p), refs) if t == name && want(p) =>
          refs.map(r => (r, p))
        case _ => Seq.empty
      }.groupBy { case (r, _) => (r.version, r.sub) }
      // only partitions that resolved to bytes count as opened —
      // a requested-but-absent value is a manifest miss, not a read
      opened.synchronized(
        opened.getOrElseUpdate(name, collection.mutable.Set.empty) ++=
          byDir.values.flatten.map { case (_, p) => p })
      if (byDir.isEmpty) empty(name)
      else byDir.map { case ((v, sub), vps) =>
        val base = s"$root/v=$v/$name$sub"
        scan(name, base, vps.map { case (_, p) => s"$base/$partCol=$p" }
          .distinct.sorted)
      }.reduce(_ unionByName _)
    }

    // an empty LocalRelation, so the optimizer prunes what consumes it
    private def empty(name: String): DataFrame = s.createDataFrame(
      java.util.Collections.emptyList[Row](), specs(name).schema)

    // every read carries the declared storage schema — a ByPart column
    // resolves from the path under its declared type — so planning a
    // read runs no schema-inference job
    private def scan(name: String, base: String,
        paths: Seq[String]): DataFrame = {
      val schema = specs(name).schema
      s.read.schema(schema).option("basePath", base).parquet(paths: _*)
        .select(schema.fieldNames.toSeq.map(col): _*)
    }
  }

  private val keepBehind = 2

  private def fsFor(s: SparkSession, p: Path): FileSystem = {
    LocalFs.install(s)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
  }

  private def commitMarker(root: String, v: Long) =
    new Path(s"$root/v=$v", "_COMMIT")

  /** A FRESH stream (batch id 0) over a root that already has
    * committed post-bootstrap history is a checkpoint/root mismatch —
    * the operator reset or relocated the offset checkpoint but kept
    * the artifact root. Under the committed-version no-op rule every
    * replayed-looking batch up to the old high-water mark would be
    * SILENTLY SKIPPED (arriving rows discarded with no error), so the
    * mismatch must fail loudly at the first batch instead. Batch ids
    * only advance after the previous offset commit, so a legitimate
    * batch-0 replay can coexist with at most version 0 (plus the
    * bootstrap's -1) — anything newer proves the WAL and the root
    * disagree. */
  private def guardCheckpointReset(batchId: Long,
      committed: Seq[Long], root: String): Unit =
    if (batchId == 0L && committed.exists(_ > 0L))
      throw new IllegalStateException(
        s"artifact root $root has committed versions up to " +
          s"${committed.max} but the stream is starting at batch 0 — " +
          "its checkpoint was reset or points elsewhere. Reprocessing " +
          "into this root needs a fresh (or deliberately emptied) root; " +
          "resuming needs the original checkpointLocation.")

  /** The FIRST batch after a (re)start must line up with the root's
    * committed high-water mark — [[guardCheckpointReset]] only
    * catches a reset to batch 0, but a WRONG-BUT-NONZERO checkpoint
    * (copied from another stream, or a root swapped under a live
    * checkpoint) whose next batch id is at or below the high-water
    * mark would hit the committed-version no-op rule and silently
    * discard arriving rows. Structured Streaming pins a batch's
    * offsets in the WAL before processing and its commit log lags the
    * WAL by at most one batch, while the artifact version commits
    * INSIDE the batch — so a legitimate first batch is either
    * `hi` (crash between artifact commit and the stream's commit log;
    * replays as a no-op) or `hi + 1` (normal advance). Anything else
    * proves the WAL and the root disagree. A root with no real
    * versions (fresh, or bootstrap-only `v=-1`) can only legitimately
    * meet batch 0. Enforced on the first batch of every [[maintain]]
    * run; direct [[absorbBatch]] calls check it only when passed
    * `firstOfRun`. */
  private def guardFirstBatch(batchId: Long, committed: Seq[Long],
      root: String): Unit = {
    val hi = committed.filter(_ >= 0L).lastOption
    val ok = hi match {
      case Some(h) => batchId == h || batchId == h + 1
      case None => batchId == 0L
    }
    if (!ok)
      throw new IllegalStateException(
        s"artifact root $root has committed high-water mark " +
          s"${hi.getOrElse(-1L)} but this run's first batch id is " +
          s"$batchId — the offset checkpoint belongs to a different " +
          "stream or the root was swapped under a live checkpoint. " +
          "Resuming needs the matching (root, checkpointLocation) pair.")
  }

  /** the `v=` directory ids under `root` (one listing), ascending;
    * none when the root is absent. */
  private def versionDirs(fs: FileSystem, root: String): Seq[Long] =
    try fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** committed version ids under `root`, ascending. */
  private[graft] def committedVersions(s: SparkSession,
      root: String): Seq[Long] = {
    val fs = fsFor(s, new Path(root))
    versionDirs(fs, root).filter(v => fs.exists(commitMarker(root, v)))
  }

  /** the committed head of `root` and its `_COMMIT` stamp: one
    * listing, then `_COMMIT` probes from the newest `v=` downward,
    * stopping at the first hit — a probe per uncommitted directory
    * above the head, however many versions the read lease keeps. */
  private def committedHead(fs: FileSystem,
      root: String): Option[(Long, Long)] =
    versionDirs(fs, root).reverseIterator
      .flatMap(v => commitStamp(fs, root, v).map(v -> _)).nextOption()

  // ---------------------------------------------------------------
  // manifest + stats files: tiny tab-separated UTF-8, written through
  // the Hadoop FileSystem so every scheme SideTables supports works
  // ---------------------------------------------------------------

  private def writeLines(fs: FileSystem, p: Path,
      lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def readManifest(s: SparkSession, root: String,
      v: Long): Map[(String, Long), Seq[Ref]] =
    readLines(fsFor(s, new Path(root)), new Path(s"$root/v=$v", "_MANIFEST"))
      .map { line =>
        val Array(t, p, refs) = line.split('\t')
        (t, p.toLong) -> refs.split(',').toSeq.map(Ref.parse)
      }.toMap

  /** the newest committed manifest's reference-list sizes per
    * partition of `table` — the fragmentation probe specs assert the
    * [[maxPartRefs]] compaction ceiling on. */
  private[graft] def partRefCounts(s: SparkSession, root: String,
      table: String): Map[Long, Int] =
    committedHead(fsFor(s, new Path(root)), root) match {
      case Some((v, _)) => readManifest(s, root, v).collect {
        case ((t, p), refs) if t == table => p -> refs.size
      }.toMap
      case None => Map.empty
    }

  /** this version's own written-row counts per table — the
    * machine-checked delta-boundedness counter specs assert on. */
  def writeStats(s: SparkSession, root: String,
      v: Long): Map[String, Long] =
    readLines(fsFor(s, new Path(root)), new Path(s"$root/v=$v", "_STATS"))
      .map { line =>
        val Array(t, n) = line.split('\t')
        t -> n.toLong
      }.toMap

  /** this version's absorb-time READ fan-in: distinct partitions the
    * absorb opened per [[ByPart]] table (via `Standing.readParts` /
    * `Standing.table`, including the inline compaction's folds) —
    * the read-side twin of [[writeStats]], letting specs assert that
    * a delta-bounded absorb is partition-PRUNED on its reads too,
    * not just its writes. Absent for bootstrap versions (no
    * predecessor to read). */
  def readStats(s: SparkSession, root: String,
      v: Long): Map[String, Long] = {
    val p = new Path(s"$root/v=$v", "_READS")
    val fs = fsFor(s, new Path(root))
    if (!fs.exists(p)) Map.empty
    else readLines(fs, p).map { line =>
      val Array(t, n) = line.split('\t')
      t -> n.toLong
    }.toMap
  }

  /** What a (session, root, specs) reader keeps between reads: the
    * committed head, its `_COMMIT` stamp, and the [[Standing]] built
    * for it, whose tables resolve once — the read-side twin of the
    * absorb's [[Handle]]. Only the head is held. */
  private final class View(val head: Long, val stamp: Long,
      val standing: Standing) {
    /** read since it was built or published: only such a view is
      * published to the next head */
    @volatile var read = false
  }

  private final case class ViewKey(s: SparkSession, root: String,
      specs: Map[String, TableSpec])

  private val views = new ConcurrentHashMap[ViewKey, View]()

  private val viewCounts = new ConcurrentHashMap[String, LongAdder]()
  private val log =
    LoggerFactory.getLogger("graft.streaming.PartitionedArtifact")

  /** read-view outcomes since the JVM started: `hit`, and
    * `miss.<reason>` for each rebuild — `first_read` (no view of the
    * root), `session` (the root has views, none for this session and
    * specs), `new_head` (a newer version committed) and `stamp` (the
    * head's `_COMMIT` is gone or rewritten). */
  private[graft] def readViewCounts: Map[String, Long] =
    viewCounts.asScala.map { case (k, n) => k -> n.sum }.toMap

  private def tally(outcome: String): Unit =
    viewCounts.computeIfAbsent(outcome, _ => new LongAdder).increment()

  /** read views held for `s` — for specs of the release rules. */
  private[graft] def readViews(s: SparkSession): Int =
    views.keySet.asScala.count(_.s eq s)

  /** the newest committed state as a [[Standing]] handle.
    *
    * Served from the root's read view when one listing finds no
    * committed version above the view's head (crash debris and an
    * in-flight absorb have no `_COMMIT`) and one probe finds the
    * head's `_COMMIT` stamp unchanged — the absorb handle's check for
    * a root rewritten at the same path. Anything else rebuilds the
    * view for the head the listing found. Every lookup drops the views
    * of stopped sessions, like [[graft.queries.Memo]]. */
  def readLatestStanding(s: SparkSession, root: String,
      specs: Map[String, TableSpec]): Standing = {
    views.keySet.removeIf(_.s.sparkContext.isStopped)
    val fs = fsFor(s, new Path(root))
    val key = ViewKey(s, handleKey(s, root), specs)
    val held = Option(views.get(key))
    val head = committedHead(fs, root)
    held match {
      case Some(w) if head.contains((w.head, w.stamp)) =>
        tally("hit")
        w.read = true
        w.standing
      case _ =>
        val reason = held match {
          case Some(w) =>
            if (head.exists(_._1 > w.head)) "new_head" else "stamp"
          case None =>
            if (views.keySet.asScala.exists(_.root == key.root)) "session"
            else "first_read"
        }
        tally(s"miss.$reason")
        log.debug(s"read view miss root=${key.root} reason=$reason " +
          s"held=${held.map(_.head)} head=${head.map(_._1)}")
        head match {
          case Some((v, stamp)) =>
            val st = new Standing(s, root, specs, Some(v),
              readManifest(s, root, v), shared = true)
            val w = new View(v, stamp, st)
            w.read = true
            views.put(key, w)
            st
          case None =>
            views.remove(key)
            new Standing(s, root, specs, None, Map.empty)
        }
    }
  }

  /** a loop's reader views of the newest committed state, each
    * resolved on first access — a reader that touches one view plans
    * no other. Every view reads the [[Standing]] of this call, never a
    * head committed later. */
  def readLatestViews(s: SparkSession, root: String,
      specs: Map[String, TableSpec])
      (views: (String, Standing => DataFrame)*): Map[String, DataFrame] = {
    val st = readLatestStanding(s, root, specs)
    new LazyViews(views.map { case (n, view) => n -> new LazyView(view(st)) }
      .toMap)
  }

  private final class LazyView(view: => DataFrame) {
    lazy val df: DataFrame = view
  }

  // the map's own keys and size answer without resolving a view
  private final class LazyViews(views: Map[String, LazyView])
      extends collection.immutable.AbstractMap[String, DataFrame] {
    def get(k: String): Option[DataFrame] = views.get(k).map(_.df)
    def iterator: Iterator[(String, DataFrame)] =
      views.iterator.map { case (k, v) => k -> v.df }
    override def contains(k: String): Boolean = views.contains(k)
    override def keysIterator: Iterator[String] = views.keysIterator
    override def size: Int = views.size
    def removed(k: String): Map[String, DataFrame] = iterator.toMap - k
    def updated[V >: DataFrame](k: String, v: V): Map[String, V] =
      iterator.toMap.updated(k, v)
  }

  /** seed the loop from batch-built tables (version -1); ByPart
    * tables land as their initial partition set. */
  def bootstrap(tables: Map[String, DataFrame], root: String,
      specs: Map[String, TableSpec]): Unit = {
    require(tables.keySet == specs.keySet,
      s"bootstrap tables ${tables.keySet}, expected ${specs.keySet}")
    val s = tables.head._2.sparkSession
    dropHandle(s, root)
    require(committedHead(fsFor(s, new Path(root)), root).isEmpty,
      s"partitioned-artifact root $root already has committed versions")
    writeVersion(s, root, -1L, specs, Map.empty,
      specs.map { case (n, spec) =>
        n -> (spec.layout match {
          case Whole => WholeDelta(tables(n))
          case ByPart(_) => PartsDelta(tables(n), Seq.empty)
        })
      })
  }

  /** one version write's accounting for the per-batch record: the new
    * manifest, one entry per channel written, and the ms spent on the
    * table writes and on the manifest, stats and `_COMMIT` files. */
  private final case class VersionLog(
      manifest: Map[(String, Long), Seq[Ref]], channels: Seq[String],
      writeMs: Long, manifestMs: Long)

  /** write one version: touched partitions + whole tables, then the
    * manifest, stats, and finally the commit marker. For bootstrap
    * ([[PartsDelta]] with empty `touched`), every partition present
    * in the rows is simply (re)registered to this version. */
  private def writeVersion(s: SparkSession, root: String, v: Long,
      specs: Map[String, TableSpec],
      prevManifest: Map[(String, Long), Seq[Ref]],
      deltas: Map[String, Delta],
      reads: Map[String, Long] = Map.empty): VersionLog = {
    require(deltas.keySet == specs.keySet,
      s"absorb returned tables ${deltas.keySet}, expected ${specs.keySet}")
    val t0 = System.nanoTime
    val fs = fsFor(s, new Path(root))
    val verDir = new Path(root, s"v=$v")
    // crash debris from a failed attempt at this id: nothing can have
    // read it (no _COMMIT), overwrite whole
    if (fs.exists(verDir)) fs.delete(verDir, true)
    var manifest = prevManifest
    val stats = collection.mutable.ArrayBuffer.empty[(String, Long)]
    val channels = collection.mutable.ArrayBuffer.empty[String]
    // write one channel in storage order, return the partition values
    // it produced bytes for (none for a Whole table) plus its row
    // count. Rows already on the driver are written there and counted
    // from the rows; others by a job whose `_STATS` count is observed
    // on the write itself (no re-read, no extra job). A partitioned
    // channel the optimizer proves empty is not written at all: it
    // produces no partition, exactly as an executed empty write would.
    // A Whole table is always written, so its directory exists in
    // every version the readers resolve
    def writeChannel(rows: DataFrame, schema: StructType,
        partCol: Option[String], tdir: String): (Seq[Long], Long) =
      driverRows(rows, schema, partCol) match {
        case Some(local) =>
          val written = writeOnDriver(s, local, schema, tdir, partCol)
          channels += s"${tdir.split('/').last} ${local.size} rows " +
            s"${math.max(written.size, 1)} files driver"
          (written, local.size.toLong)
        case None if partCol.nonEmpty && provablyEmpty(rows) => (Seq.empty, 0L)
        case None =>
          val obs = Observation()
          val w = rows.select(schema.fieldNames.toSeq.map(col): _*)
            .observe(obs, count(lit(1)).as("n")).write.mode("overwrite")
          partCol.fold(w)(c => w.partitionBy(c)).parquet(tdir)
          val n = obs.get("n").asInstanceOf[Long]
          val written = partCol.toSeq.flatMap(c =>
            fs.listStatus(new Path(tdir)).toSeq
              .filter(_.isDirectory)
              .map(_.getPath.getName)
              .filter(_.startsWith(c + "="))
              .map(_.stripPrefix(c + "=").toLong))
          // a job's file count takes a listing: paid for the record only
          if (log.isDebugEnabled)
            channels += s"${tdir.split('/').last} $n rows " +
              s"${partFiles(fs, tdir)} files job"
          (written, n)
      }
    specs.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      val tdir = s"$root/v=$v/$name"
      (spec.layout, deltas(name)) match {
        case (Whole, WholeDelta(rows)) =>
          stats += name -> writeChannel(rows, spec.schema, None, tdir)._2
        case (ByPart(partCol), PartsDelta(replace, replaced, append)) =>
          val (written, nRep) =
            writeChannel(replace, spec.schema, Some(partCol), tdir)
          val replacedSet = replaced.toSet
          val writtenSet = written.toSet
          // replace rows for a partition not DECLARED in `replaced`
          // would silently diverge from compactFragmented (which folds
          // standing rows back by the declared list) — duplicate data.
          // Bootstrap (empty predecessor) legitimately registers every
          // written partition; any other caller must declare them.
          require(prevManifest.isEmpty || writtenSet.subsetOf(replacedSet),
            s"table $name: replace rows written for partitions " +
              s"${(writtenSet -- replacedSet).toSeq.sorted.mkString(",")} " +
              "not declared in PartsDelta.replaced")
          manifest = manifest.filterNot { case ((t, p), _) =>
            t == name && (replacedSet(p) || writtenSet(p)) } ++
            written.map(p => (name, p) -> Seq(Ref(v, appended = false)))
          val nApp = append.map { ap =>
            val (appWritten, n) =
              writeChannel(ap, spec.schema, Some(partCol), s"$tdir.app")
            appWritten.foreach { p =>
              manifest = manifest.updated((name, p),
                manifest.getOrElse((name, p), Seq.empty) :+
                  Ref(v, appended = true))
            }
            n
          }.getOrElse(0L)
          stats += name -> (nRep + nApp)
        case (l, d) => throw new IllegalArgumentException(
          s"table $name declared ${l.getClass.getSimpleName} but absorb " +
            s"returned ${d.getClass.getSimpleName}")
      }
    }
    val t1 = System.nanoTime
    writeLines(fs, new Path(verDir, "_MANIFEST"),
      manifest.toSeq.sortBy { case ((t, p), _) => (t, p) }
        .map { case ((t, p), refs) =>
          s"$t\t$p\t${refs.map(_.token).mkString(",")}" })
    writeLines(fs, new Path(verDir, "_STATS"),
      stats.toSeq.map { case (t, n) => s"$t\t$n" })
    if (reads.nonEmpty)
      writeLines(fs, new Path(verDir, "_READS"),
        reads.toSeq.sortBy(_._1).map { case (t, n) => s"$t\t$n" })
    fs.create(commitMarker(root, v), true).close()
    VersionLog(manifest, channels.toSeq, (t1 - t0) / 1000000L,
      (System.nanoTime - t1) / 1000000L)
  }

  /** `part-` files under `dir`, at any depth. */
  private def partFiles(fs: FileSystem, dir: String): Int = {
    val it = fs.listFiles(new Path(dir), true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
    n
  }

  /** true when the optimizer proves `df` empty (its optimized plan
    * is an empty LocalRelation) — decided without running a job. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** `df`'s rows when they are already on the driver — its analyzed
    * plan is a LocalRelation with `schema`'s columns in order and no
    * null partition value, non-empty unless the table is Whole — the
    * sibling case of [[provablyEmpty]], decided without a job. */
  private def driverRows(df: DataFrame, schema: StructType,
      partCol: Option[String]): Option[Seq[InternalRow]] =
    df.queryExecution.analyzed match {
      case l: LocalRelation if (l.data.nonEmpty || partCol.isEmpty) &&
          l.output.map(a => (a.name, a.dataType)) ==
            schema.fields.toSeq.map(f => (f.name, f.dataType)) &&
          partCol.map(schema.fieldIndex)
            .forall(i => l.data.forall(!_.isNullAt(i))) =>
        Some(l.data)
      case _ => None
    }

  /** Write driver-held `rows` (in `schema`'s column order) under
    * `tdir` with Spark's own parquet writer — the
    * `ParquetFileFormat.prepareWrite` factory and `OutputWriter` a
    * write task runs, so the files are the ones a job would write: one
    * file per partition value, the partition column dropped into the
    * directory name as `partitionBy` does. No job runs, and no
    * `_temporary` or `_SUCCESS` is made: the version's `_COMMIT` is
    * the atomic publish, and an uncommitted version's files are
    * deleted when its id is absorbed again. A Whole table is one
    * file, with no rows if `rows` is empty. Returns the partition
    * values written, ascending (none for a Whole table). */
  private def writeOnDriver(s: SparkSession, rows: Seq[InternalRow],
      schema: StructType, tdir: String, partCol: Option[String]): Seq[Long] = {
    val pi = partCol.map(schema.fieldIndex)
    val keep = schema.fields.indices.filterNot(pi.contains).toArray
    val types = keep.map(schema.fields(_).dataType)
    val dataSchema = StructType(keep.map(schema.fields(_)).toSeq)
    val job = Job.getInstance(s.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(s, job, Map.empty, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = s"part-00000-${java.util.UUID.randomUUID}.c000" +
      factory.getFileExtension(ctx)
    def write(dir: String, part: Seq[InternalRow]): Unit = {
      val w = factory.newInstance(s"$dir/$file", dataSchema, ctx)
      try part.foreach(r => w.write(
        if (pi.isEmpty) r
        else new GenericInternalRow(Array.tabulate[Any](keep.length)(j =>
          r.get(keep(j), types(j))))))
      finally w.close()
    }
    pi match {
      case None =>
        write(tdir, rows)
        Seq.empty
      case Some(i) =>
        rows.groupBy(_.getLong(i)).toSeq.sortBy(_._1).map { case (p, ps) =>
          write(s"$tdir/${partCol.get}=$p", ps)
          p
        }
    }
  }

  /** What one root's last absorb leaves on the driver for the next:
    * the state a listing would re-derive, keyed on the committed head
    * — Structured Streaming's in-memory state-store version, with the
    * root on disk as the fallback. */
  private final class Handle(
      val head: Long,
      /** `head`'s `_COMMIT` modification time */
      val stamp: Long,
      val manifest: Map[(String, Long), Seq[Ref]],
      val ledger: Ledger,
      val payload: Option[AnyRef])

  /** The root's versions as [[prune]] sees them: every committed
    * version (ascending), the version directories each manifest of the
    * keep window references, the live set (kept or referenced), and
    * the versions marked `_EXPIRE` with their mark times. */
  private final case class Ledger(committed: Vector[Long],
      keptRefs: Map[Long, Set[Long]], live: Set[Long],
      pending: Map[Long, Long])

  private val handles = new ConcurrentHashMap[String, Handle]()

  private def handleKey(s: SparkSession, root: String): String = {
    val p = new Path(root)
    fsFor(s, p).makeQualified(p).toString
  }

  /** drop `root`'s handle and read views: its next absorb lists the
    * root, as after a restart, and its next read rebuilds. */
  private[graft] def dropHandle(s: SparkSession, root: String): Unit = {
    val key = handleKey(s, root)
    handles.remove(key)
    views.keySet.removeIf(_.root == key)
  }

  private def commitStamp(fs: FileSystem, root: String,
      v: Long): Option[Long] =
    try Some(fs.getFileStatus(commitMarker(root, v)).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** one absorb step — the foreachBatch body, under the replay
    * contract above (committed id → reader-safe no-op; uncommitted
    * debris → recompute from the predecessor). The micro-batch stays
    * persisted for the whole absorb (see the job budget above).
    *
    * The root's [[Handle]] stands in for the listing when the batch
    * is its head's successor, one probe finds the head's `_COMMIT`
    * unchanged, and the call is not `firstOfRun`. Anything else — a
    * replay, crash debris, a restart, an id mismatch, a root rewritten
    * at the same path — lists the root as before, and the handle is
    * rebuilt from what that absorb read and wrote. The handle is taken
    * before the absorb runs, so one that throws leaves none. A version
    * that becomes the head is published to the root's read views.
    *
    * Each batch logs one DEBUG record on
    * `graft.streaming.PartitionedArtifact`: whether the handle held or
    * the root was listed, each channel written (rows, files, on the
    * driver or by a job), the partitions compacted and those the
    * commit folded by a job, the views published, and the write,
    * manifest, prune and publish ms. */
  def absorbBatch(batch: DataFrame, batchId: Long, root: String,
      specs: Map[String, TableSpec], firstOfRun: Boolean = false)
      (absorb: (Standing, DataFrame, Long) => Map[String, Delta]): Unit = {
    val s = batch.sparkSession
    val fs = fsFor(s, new Path(root))
    val key = handleKey(s, root)
    val held = Option(handles.remove(key)).filter(h => !firstOfRun &&
      batchId == h.head + 1 && commitStamp(fs, root, h.head).contains(h.stamp))
    val committed = held.fold(committedVersions(s, root).toVector)(
      _.ledger.committed)
    guardCheckpointReset(batchId, committed, root)
    if (firstOfRun) guardFirstBatch(batchId, committed, root)
    val manifests = collection.mutable.Map.empty[Long,
      Map[(String, Long), Seq[Ref]]]
    def manifestOf(v: Long) =
      manifests.getOrElseUpdate(v, readManifest(s, root, v))
    held.foreach(h => manifests(h.head) = h.manifest)
    var payload: Option[AnyRef] = None
    // the write's part of the per-batch record; None for a replay no-op
    var written: Option[String] = None
    if (!committed.contains(batchId)) {
      val prevV = committed.filter(_ < batchId).lastOption
      val prevManifest = prevV.map(manifestOf).getOrElse(Map.empty)
      val standing = new Standing(s, root, specs, prevV, prevManifest,
        held.flatMap(_.payload))
      batch.persist()
      try {
        val (deltas, folded) = compactFragmented(standing, specs,
          absorb(standing, batch, batchId))
        // the absorb and the compaction have built every plan by now,
        // so the handle's opened-partition log is complete
        val vlog = writeVersion(s, root, batchId, specs,
          prevManifest, deltas, reads = standing.readsSnapshot)
        manifests(batchId) = vlog.manifest
        val compacted = specs.keys.toSeq.sorted.flatMap(t =>
          standing.fragmented(t).filter(p => vlog.manifest.get((t, p))
            .contains(Seq(Ref(batchId, appended = false)))).map(p => s"$t:$p"))
        written = Some(s"wrote=${vlog.channels.mkString("[", "; ", "]")} " +
          s"compacted=${compacted.mkString("[", ",", "]")} " +
          s"folded=${folded.mkString("[", ",", "]")} " +
          s"write_ms=${vlog.writeMs} manifest_ms=${vlog.manifestMs}")
        payload = standing.keptPayload
      } finally { batch.unpersist(); () }
    }
    val t0 = System.nanoTime
    val all = (committed :+ batchId).distinct.sorted
    val ledger = prune(fs, root, batchId, held.fold(listLedger(fs, root,
      batchId, all))(_.ledger.copy(committed = all)),
      v => manifestOf(v).values.flatten.map(_.version).toSet)
    val t1 = System.nanoTime
    val stamp =
      if (batchId == ledger.committed.last) commitStamp(fs, root, batchId)
      else None
    stamp.foreach(st => handles.put(key,
      new Handle(batchId, st, manifestOf(batchId), ledger, payload)))
    val published = (for (st <- stamp; _ <- written)
      yield publish(root, key, batchId, st, manifestOf(batchId))).getOrElse(0)
    if (log.isDebugEnabled) {
      val t2 = System.nanoTime
      log.debug(s"absorb root=$key v=$batchId " +
        s"handle=${if (held.isDefined) "held" else "listed"} " +
        written.getOrElse("wrote=none (committed: replay no-op)") +
        s" prune_ms=${(t1 - t0) / 1000000L} views=$published " +
        s"publish_ms=${(t2 - t1) / 1000000L}")
    }
  }

  /** Move every read view of the root `key` that was read since its
    * version was built or published to the new head `v`, and resolve
    * in it the tables the view had resolved — on the writer, so a
    * reader of a busy root serves each new head without rebuilding it.
    * A view left idle is not republished: the writer does no work for
    * readers that are not reading. A view a reader rebuilt meanwhile is
    * kept, and a publish that fails leaves the old view, which the
    * next read rebuilds. Returns the views published. */
  private def publish(root: String, key: String, v: Long, stamp: Long,
      manifest: Map[(String, Long), Seq[Ref]]): Int =
    views.asScala.toSeq.count { case (k, w) =>
      k.root == key && w.read && w.head < v && !k.s.sparkContext.isStopped &&
      (try {
        val st = new Standing(k.s, root, k.specs, Some(v), manifest,
          shared = true)
        w.standing.resolvedNames.foreach(st.resolvedTable)
        views.replace(k, w, new View(v, stamp, st))
      } catch {
        case NonFatal(e) =>
          log.warn(s"read view of $key not published to v=$v; " +
            s"its next read rebuilds it: $e")
          false
      })
    }

  /** live-epoch ceiling of an epoch-partitioned table before its
    * oldest epochs fold into the `-1` base. Env
    * `GRAFT_ARTIFACT_MAX_EPOCHS` / sysprop `graft.artifact.max.epochs`;
    * floor 2 (base + newest). */
  private[graft] def maxLiveEpochs: Int =
    math.max(2, sys.env.get("GRAFT_ARTIFACT_MAX_EPOCHS")
      .orElse(sys.props.get("graft.artifact.max.epochs"))
      .map(_.toInt).getOrElse(64))

  /** The epochs of `parts` that fold into the `-1` base partition
    * when adding one more would exceed [[maxLiveEpochs]] — the
    * horizon compaction every epoch-append loop shares
    * ([[graft.streaming.StandingBandIndex]], StandingPq,
    * StandingTriangles): deterministic from the PREDECESSOR partition
    * list, keeps the newest `maxLiveEpochs/2` epochs individually
    * live, so the manifest, version listing, and reader fan-in stay
    * bounded on an unbounded stream. Amortized fold cost is
    * O(standing / (maxLiveEpochs/2)) rows per batch — the LSM
    * trade. */
  private[streaming] def epochFoldSet(parts: Seq[Long]): Seq[Long] = {
    val maxLive = maxLiveEpochs
    if (parts.size + 1 <= maxLive) Seq.empty
    else {
      val keepRecent = math.max(1, maxLive / 2)
      parts.filter(_ >= 0L).sorted.dropRight(keepRecent)
    }
  }

  /** ref-list ceiling above which a partition compacts — each append
    * adds one file set per version, so unbounded appends fragment a
    * hot partition into unbounded reader fan-in. Env
    * `GRAFT_ARTIFACT_MAX_PART_REFS` / sysprop
    * `graft.artifact.max.part.refs`; floor 1. */
  private[graft] def maxPartRefs: Int =
    math.max(1, sys.env.get("GRAFT_ARTIFACT_MAX_PART_REFS")
      .orElse(sys.props.get("graft.artifact.max.part.refs"))
      .map(_.toInt).getOrElse(8))

  /** INLINE COMPACTION — the fragmentation sweep the append channel
    * needs, folded into the absorb exactly like the epoch-horizon
    * folds ([[epochFoldSet]]) so it stays a
    * deterministic function of (predecessor manifest, batch deltas)
    * and therefore replay-safe: any partition whose reference list
    * has reached [[maxPartRefs]] ([[Standing.fragmented]]) is
    * rewritten as one file set this version, and the manifest
    * collapses to a single reference. An absorb that holds such a
    * partition's full rows declares it in `replaced` and writes them
    * itself (on the driver, for [[StandingGraph]]'s resident graph);
    * every other one is PROMOTED here from the append channel into the
    * replace set — its accumulated file sets are read once and
    * rewritten by a job. Compaction work per batch is bounded by the
    * partitions that HIT the ceiling (a partition needs maxPartRefs
    * appends to qualify again), so steady-state overhead is amortized
    * O(partition size / maxPartRefs) per append — the classic LSM
    * trade, chosen by the knob. Returns the deltas and, per table,
    * the partitions folded here. */
  private def compactFragmented(standing: Standing,
      specs: Map[String, TableSpec],
      deltas: Map[String, Delta]): (Map[String, Delta], Seq[String]) = {
    val out = deltas.map {
      case (name, PartsDelta(replace, replaced, append)) =>
        val partCol = specs(name).layout match {
          case ByPart(c) => c
          case Whole => null
        }
        val replacedSet = replaced.toSet
        val frag =
          if (partCol == null) Seq.empty
          else standing.fragmented(name).filterNot(replacedSet)
        if (frag.isEmpty) (name -> PartsDelta(replace, replaced, append), Seq.empty)
        else {
          val spark = replace.sparkSession
          val fragDf = broadcast(spark.createDataset(frag)(
            org.apache.spark.sql.Encoders.scalaLong).toDF(partCol))
          // fragmented partitions' accumulated rows + any of this
          // batch's appends aimed at them fold into the replace
          // channel; remaining appends pass through
          val folded = standing.readParts(name, frag)
            .unionByName(append.map(_
              .join(fragDf, Seq(partCol), "left_semi")
              .select(specs(name).schema.fieldNames.toSeq.map(col): _*))
              .getOrElse(standing.readParts(name, Seq.empty)))
          (name -> PartsDelta(
            replace.select(specs(name).schema.fieldNames.toSeq
              .map(col): _*).unionByName(folded),
            (replaced ++ frag).distinct,
            append.map(_.join(fragDf, Seq(partCol), "left_anti"))),
            frag.map(p => s"$name:$p"))
        }
      case other => (other, Seq.empty)
    }
    (out.map(_._1).toMap, out.toSeq.flatMap(_._2).sorted)
  }

  /** read-lease floor before a dereferenced version directory is
    * physically deleted — the loop-root twin of
    * [[graft.queries.SideTables.VacuumMinAgeMs]]: a reader that
    * planned a [[Standing]] handle before an absorb dereferenced a
    * directory is still mid-scan over its files. Env
    * `GRAFT_ARTIFACT_PRUNE_LEASE_MS` / sysprop
    * `graft.artifact.prune.lease.ms` (specs set 0 to exercise
    * immediate deletion); default 6 h. */
  private[graft] def pruneLeaseMs: Long =
    sys.env.get("GRAFT_ARTIFACT_PRUNE_LEASE_MS")
      .orElse(sys.props.get("graft.artifact.prune.lease.ms"))
      .map(_.toLong).getOrElse(6L * 60 * 60 * 1000)

  /** Reference-aware pruning: keep the newest [[keepBehind]]+1
    * manifests at or below the batch just written, plus every version
    * directory a kept manifest references (old directories live
    * exactly as long as a current partition points into them).
    * Versions AHEAD of a replayed batch are never touched.
    *
    * TWO-PHASE under the read-lease: a newly dereferenced directory
    * is first MARKED (`_EXPIRE`) and only deleted once the mark is at
    * least [[pruneLeaseMs]] old — a reader whose plan predates the
    * dereference has the whole lease window to finish scanning, which
    * is the concurrent-reader guarantee `keepBehind` alone cannot
    * give across more than [[keepBehind]] absorbs. A version that
    * re-enters the kept/referenced set (a replay at a lower batch id)
    * has any stale mark removed.
    *
    * Incremental: the file system is touched only for versions whose
    * live status changed (leaving `before.live`, re-entering it) or
    * whose lease ended, so with a [[Handle]]'s ledger a prune costs
    * O(changes), however many marked versions the lease holds.
    * `refsOf` reads a manifest the ledger does not hold. */
  private def prune(fs: FileSystem, root: String, batchId: Long,
      before: Ledger, refsOf: Long => Set[Long]): Ledger = {
    val keep = before.committed.filter(_ <= batchId).takeRight(keepBehind + 1)
    val keptRefs = keep.map(v =>
      v -> before.keptRefs.getOrElse(v, refsOf(v))).toMap
    val live = keep.toSet ++ keptRefs.values.flatten
    val lease = pruneLeaseMs
    val now = System.currentTimeMillis
    def marker(v: Long) = new Path(s"$root/v=$v", "_EXPIRE")
    var (committed, pending) = (before.committed, before.pending)
    def delete(v: Long): Unit = {
      fs.delete(new Path(root, s"v=$v"), true)
      committed = committed.filterNot(_ == v)
      pending -= v
    }
    pending.keys.filter(live).foreach { v =>
      fs.delete(marker(v), false)
      pending -= v
    }
    before.live.filter(v => v <= batchId && !live(v) && !pending.contains(v))
      .foreach { v =>
        if (lease <= 0L) delete(v)
        else {
          fs.create(marker(v), true).close()
          pending += v -> now
        }
      }
    pending.collect { case (v, t) if v <= batchId && !live(v) &&
      now - t >= lease => v }.foreach(delete)
    Ledger(committed, keptRefs, live, pending)
  }

  /** the ledger a listing gives: every committed version at or below
    * `batchId` not marked `_EXPIRE` is a candidate for dereference,
    * and each marked one carries its mark's modification time. */
  private def listLedger(fs: FileSystem, root: String, batchId: Long,
      committed: Vector[Long]): Ledger = {
    val eligible = committed.filter(_ <= batchId)
    val pending = eligible.flatMap { v =>
      try Some(v -> fs.getFileStatus(new Path(s"$root/v=$v", "_EXPIRE"))
        .getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    }.toMap
    Ledger(committed, Map.empty, eligible.toSet -- pending.keys, pending)
  }

  /** start a maintenance loop with partition-scoped versions. */
  def maintain(stream: DataFrame, root: String, checkpoint: String,
      specs: Map[String, TableSpec])
      (absorb: (Standing, DataFrame, Long) => Map[String, Delta])
      : StreamingQuery = {
    LocalFs.install(stream.sparkSession)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) =>
        absorbBatch(b, id, root, specs,
          firstOfRun = first.getAndSet(false))(absorb))
      .start()
  }
}
